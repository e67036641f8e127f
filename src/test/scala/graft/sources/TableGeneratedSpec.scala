package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.SparkSpec

/** GENERATED columns ([[VersionedTable.addGeneratedColumnCommit]]):
  * `ADD COLUMN ... GENERATED ALWAYS AS (expr)` as metadata-only
  * evolution on the nc-era machinery — old files COMPUTE the
  * expression at read, appends materialize it, and explicit values
  * that disagree with the declaration are rejected at commit time. */
class TableGeneratedSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("vgen").toString + "/t"

  test("the evolve is zero-job metadata; pre-era rows compute, " +
    "appends materialize (omitted) or validate (explicit)") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      (1L to 40L).map(i => (i, i * 100)).toDF("k", "cents"),
      append = false)
    val sc0 = spark.sparkContext
    sc0.setJobGroup("add-gen", "metadata-only evolve", false)
    val v = try VersionedTable.addGeneratedColumnCommit(spark, t,
      "dollars", LongType, "cents DIV 100")
    finally sc0.clearJobGroup()
    assert(sc0.statusTracker.getJobIdsForGroup("add-gen").isEmpty,
      "ADD GENERATED COLUMN must be pure metadata — zero Spark jobs")
    assert(v == 2)
    // pre-era rows compute the expression at read
    val got0 = VersionedTable.read(spark, t)
      .select("k", "dollars").as[(Long, Long)].collect().toMap
    assert((1L to 40L).forall(k => got0(k) == k),
      s"pre-era rows must compute: ${got0.take(5)}")
    // an append OMITTING the column materializes it
    VersionedTable.commit(spark, t,
      Seq((100L, 5500L)).toDF("k", "cents"), append = true)
    // an append with the CORRECT explicit value passes
    VersionedTable.commit(spark, t,
      Seq((101L, 700L, 7L)).toDF("k", "cents", "dollars"),
      append = true)
    val got = VersionedTable.read(spark, t)
      .select("k", "dollars").as[(Long, Long)].collect().toMap
    assert(got(100L) == 55L && got(101L) == 7L, got.toString)
    // a MISMATCHING explicit value is rejected atomically
    val head = VersionedTable.versions(spark, t).last
    val e = intercept[IllegalStateException] {
      VersionedTable.commit(spark, t,
        Seq((102L, 900L, 42L)).toDF("k", "cents", "dollars"),
        append = true)
    }
    assert(e.getMessage.contains("GENERATED"), e.getMessage)
    assert(VersionedTable.versions(spark, t).last == head,
      "a rejected commit must not advance the version")
    assert(VersionedTable.cleanOrphans(spark, t,
      olderThanMs = -600000L).isEmpty,
      "a rejected commit must unstage its files")
    // protocol gate: an old build must refuse rather than serve nulls
    assert(VersionedTable.protocolOf(spark, t)._1
      .contains("generated-columns"))
    // time travel BEFORE the evolution shows the old shape
    assert(!VersionedTable.read(spark, t, Some(1))
      .columns.contains("dollars"))
  }

  test("aggregates across eras are exact; compaction materializes " +
    "and retires the era tags losslessly") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      (1L to 30L).map(i => (i, i * 7)).toDF("k", "cents"),
      append = false, statCols = Seq("k"))
    VersionedTable.addGeneratedColumnCommit(spark, t,
      "bucket", LongType, "cents % 5")
    VersionedTable.commit(spark, t,
      (31L to 60L).map(i => (i, i * 7)).toDF("k", "cents"),
      append = true)
    def agg(): Map[Long, Long] = VersionedTable.read(spark, t)
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    val before = agg()
    assert(before.values.sum == 60L)
    assert(before == (1L to 60L).map(_ * 7 % 5)
      .groupBy(identity).map { case (b, xs) => b -> xs.size.toLong },
      before.toString)
    VersionedTable.compactCommit(spark, t, targetRows = 1000000L)
    assert(agg() == before,
      "compaction must materialize generated values losslessly")
    val lines = VersionedTable.manifest(spark, t,
      VersionedTable.versions(spark, t).last)
    assert(!lines.exists(_.startsWith("nc\t")),
      "rewritten files must not keep era tags")
  }

  test("row-level DML keyed on the GENERATED column reaches pre-era " +
    "rows (the tagged doomed-row scan computes the expression too)") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      (1L to 40L).map(i => (i, i * 100)).toDF("k", "cents"),
      append = false, statCols = Seq("k"))
    VersionedTable.addGeneratedColumnCommit(spark, t,
      "dollars", LongType, "cents DIV 100")
    VersionedTable.commit(spark, t,
      Seq((100L, 700L)).toDF("k", "cents"), append = true)
    // COW delete keyed on the computed column: pre-era rows 30..40
    // exist only as nc-era computations — they must still match
    VersionedTable.deleteCommit(spark, t,
      col("dollars") >= 30L)
    val got = VersionedTable.read(spark, t)
      .select("k", "dollars").as[(Long, Long)].collect().toMap
    assert(got.keySet == (1L to 29L).toSet + 100L,
      s"pre-era rows 30..40 must delete (their dollars only exist as " +
        s"nc-era computations); post-era 100 (dollars=7) survives: " +
        s"${got.keySet.toSeq.sorted}")
    // and a positional MOR delete on the same shape
    val t2 = freshTable()
    VersionedTable.commit(spark, t2,
      (1L to 20L).map(i => (i, i * 100)).toDF("k", "cents"),
      append = false)
    VersionedTable.addGeneratedColumnCommit(spark, t2,
      "dollars", LongType, "cents DIV 100")
    VersionedTable.deleteCommit(spark, t2,
      col("dollars") <= 5L)
    assert(VersionedTable.read(spark, t2).count() == 15L)
    assert(VersionedTable.read(spark, t2)
      .agg(min(col("dollars"))).as[Long].head() == 6L)
  }

  test("SQL UPDATE, MERGE and DELETE keyed on a GENERATED column " +
    "reach pre-era rows in every write mode") {
    val w = Files.createTempDirectory("vgen_dml").toString
    spark.conf.set("spark.sql.catalog.ggdml", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.ggdml.warehouse", w)
    var n = 0
    // a fresh table per statement: its 40 pre-era rows carry `dollars`
    // only as an nc-era computation (dollars == k) until a DML
    // rewrites them; one post-era row (k 100, dollars 7) follows
    def table(mode: Option[String]): String = {
      n += 1
      val path = s"$w/g$n"
      VersionedTable.commit(spark, path,
        (1L to 40L).map(i => (i, i * 100)).toDF("k", "cents"),
        append = false)
      mode.foreach(m => Seq(VersionedTable.DeleteModeProp,
        VersionedTable.UpdateModeProp, VersionedTable.MergeModeProp)
        .foreach(VersionedTable.setTableProperty(spark, path, _, m)))
      spark.sql(s"CALL ggdml.system.add_generated_column('g$n', " +
        "'dollars', 'BIGINT', 'cents DIV 100')")
      VersionedTable.commit(spark, path,
        Seq((100L, 700L)).toDF("k", "cents"), append = true)
      s"ggdml.g$n"
    }
    def keys(t: String, where: String): Set[Long] =
      spark.sql(s"SELECT k FROM $t WHERE $where").as[Long].collect().toSet
    for (mode <- Seq(Some("copy-on-write"), Some("merge-on-read"), None)) {
      val t1 = table(mode)
      assert(keys(t1, "dollars >= 30") == (30L to 40L).toSet, s"$mode read")
      spark.sql(s"UPDATE $t1 SET cents = cents + 1 WHERE dollars >= 30")
      assert(keys(t1, "cents % 100 = 1") == (30L to 40L).toSet,
        s"$mode UPDATE")
      val t2 = table(mode)
      spark.sql(s"MERGE INTO $t2 t USING (SELECT 35L AS d) s " +
        "ON t.dollars = s.d WHEN MATCHED THEN UPDATE SET cents = t.cents + 1")
      assert(keys(t2, "cents % 100 = 1") == Set(35L), s"$mode MERGE")
      val t3 = table(mode)
      spark.sql(s"DELETE FROM $t3 WHERE dollars >= 30 AND k % 2 = 0")
      assert(keys(t3, "true") == (1L to 40L).filterNot(k =>
        k >= 30 && k % 2 == 0).toSet + 100L, s"$mode DELETE (residual)")
      val t4 = table(mode)
      spark.sql(s"DELETE FROM $t4 WHERE dollars >= 38")
      assert(keys(t4, "true") == (1L to 37L).toSet + 100L, s"$mode DELETE")
    }
  }

  test("declaration guards: unknown refs, derived refs, and " +
    "non-determinism refuse; referenced columns lock rename/drop") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      (1L to 10L).map(i => (i, i)).toDF("k", "x"), append = false)
    intercept[IllegalArgumentException] {
      VersionedTable.addGeneratedColumnCommit(spark, t, "g1",
        LongType, "nope + 1")
    }
    intercept[Exception] {
      VersionedTable.addGeneratedColumnCommit(spark, t, "g2",
        LongType, "CAST(rand() * 10 AS BIGINT)")
    }
    VersionedTable.addGeneratedColumnCommit(spark, t, "gx",
      LongType, "x * 2")
    intercept[IllegalArgumentException] {
      VersionedTable.addGeneratedColumnCommit(spark, t, "g3",
        LongType, "gx + 1") // derived-on-derived
    }
    intercept[Exception] {
      VersionedTable.renameColumnCommit(spark, t, "x", "y")
    }
    intercept[Exception] {
      VersionedTable.dropColumnCommit(spark, t, "x")
    }
    // dropping the generated column itself unlocks everything
    VersionedTable.dropColumnCommit(spark, t, "gx")
    VersionedTable.renameColumnCommit(spark, t, "x", "y")
    assert(VersionedTable.read(spark, t).columns.toSet ==
      Set("k", "y"))
  }

  test("CALL gt.system.add_generated_column drives the evolve from " +
    "SQL; reads compose through the catalog") {
    val w = Files.createTempDirectory("vgen_cat").toString
    spark.conf.set("spark.sql.catalog.ggen", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.ggen.warehouse", w)
    (1L to 20L).map(i => (i, i * 3)).toDF("k", "v")
      .createOrReplaceTempView("gen_src")
    spark.sql("CREATE TABLE ggen.t AS SELECT * FROM gen_src")
    spark.sql("CALL ggen.system.add_generated_column(" +
      "'t', 'v2', 'BIGINT', 'v * 10')")
    assert(spark.sql("SELECT sum(v2) FROM ggen.t").as[Long].head() ==
      (1L to 20L).map(_ * 30).sum)
  }
}
