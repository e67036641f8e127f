package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** ADD COLUMN ... DEFAULT ([[VersionedTable.addColumnCommit]] with a
  * default): metadata-only evolution where PRE-EXISTING files serve
  * the declared default and post-evolution writes serve their real
  * values (nulls included) — Iceberg v3 initial-default semantics via
  * per-file `nc` era tags. */
class TableDefaultsSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("vdefault").toString + "/t"

  test("default serves for pre-era rows, real values after; the " +
    "evolution launches ZERO Spark jobs") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      (1L to 40L).map(i => (i, i * 2)).toDF("k", "x"), append = false)
    val sc0 = spark.sparkContext
    sc0.setJobGroup("add-default", "metadata-only evolve", false)
    val v = try VersionedTable.addColumnCommit(spark, t, "score",
      org.apache.spark.sql.types.LongType, Some("7"))
    finally sc0.clearJobGroup()
    assert(sc0.statusTracker.getJobIdsForGroup("add-default").isEmpty,
      "ADD COLUMN DEFAULT must be pure metadata — zero Spark jobs")
    assert(v == 2)
    // post-era rows: one real value, one real NULL — both must
    // surface as written, never as the default
    VersionedTable.commit(spark, t,
      Seq((100L, 1L, Some(55L)), (101L, 2L, None))
        .toDF("k", "x", "score"), append = true)
    val got = VersionedTable.read(spark, t)
      .select("k", "score").as[(Long, Option[Long])]
      .collect().toMap
    assert((1L to 40L).forall(k => got(k).contains(7L)),
      s"pre-era rows must serve the default: ${got.filter(_._1 <= 40)}")
    assert(got(100L).contains(55L) && got(101L).isEmpty,
      "post-era rows keep their written values, NULL included")
    // protocol: an old build must refuse rather than serve nulls
    assert(VersionedTable.protocolOf(spark, t)._1
      .contains("column-defaults"))
    // time travel BEFORE the evolution still shows the old shape
    assert(!VersionedTable.read(spark, t, Some(1))
      .columns.contains("score"))
  }

  test("defaults survive COW rewrites of OTHER files, materialize in " +
    "rewritten ones, and compaction retires the era tags losslessly") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      (1L to 30L).map(i => (i, i)).toDF("k", "x"),
      append = false, statCols = Seq("k"))
    VersionedTable.commit(spark, t,
      (31L to 60L).map(i => (i, i)).toDF("k", "x"),
      append = true, statCols = Seq("k"))
    VersionedTable.addColumnCommit(spark, t, "w",
      org.apache.spark.sql.types.LongType, Some("9"))
    // COW-delete touches only the first file's range: that file is
    // rewritten (defaults materialize), the second carries its tag
    VersionedTable.deleteCommitWhere(spark, t, col("k") <= 5)
    val afterCow = VersionedTable.read(spark, t)
      .select("k", "w").as[(Long, Long)].collect().toMap
    assert(afterCow.size == 55 && afterCow.values.forall(_ == 9L),
      s"every surviving row serves 9: ${afterCow.filter(_._2 != 9L)}")
    val lines = VersionedTable.manifest(spark, t,
      VersionedTable.versions(spark, t).last)
    assert(VersionedTable.ncTagsOf(lines).nonEmpty,
      "the untouched pre-era file must keep its era tag")
    // full compaction rewrites everything: tags retire, values hold
    VersionedTable.compactCommit(spark, t, 1000000L)
    val lines2 = VersionedTable.manifest(spark, t,
      VersionedTable.versions(spark, t).last)
    assert(VersionedTable.ncTagsOf(lines2).isEmpty,
      "a full rewrite materializes defaults and retires every tag")
    val afterCompact = VersionedTable.read(spark, t)
      .select("k", "w").as[(Long, Long)].collect().toMap
    assert(afterCompact == afterCow, "compaction is value-lossless")
  }

  test("defaults compose with MOR tombstones and column rename; " +
    "DROP COLUMN retires the declaration") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      (1L to 20L).map(i => (i, i)).toDF("k", "x"), append = false)
    VersionedTable.addColumnCommit(spark, t, "tag",
      org.apache.spark.sql.types.StringType, Some("'legacy'"))
    VersionedTable.deleteCommit(spark, t, col("k") <= 3)
    val got = VersionedTable.read(spark, t)
      .select("k", "tag").as[(Long, String)].collect().toMap
    assert(got.size == 17 && got.values.forall(_ == "legacy"))
    // rename the defaulted column: era tags key the PHYSICAL name
    VersionedTable.renameColumnCommit(spark, t, "tag", "origin")
    val renamed = VersionedTable.read(spark, t)
      .select("k", "origin").as[(Long, String)].collect().toMap
    assert(renamed.values.forall(_ == "legacy"),
      "the default must survive a rename of its column")
    VersionedTable.dropColumnCommit(spark, t, "origin")
    val lines = VersionedTable.manifest(spark, t,
      VersionedTable.versions(spark, t).last)
    assert(VersionedTable.ncTagsOf(lines).isEmpty,
      "a dropped column's era tags die with it")
    assert(!VersionedTable.read(spark, t).columns.contains("origin"))
  }

  test("metadata aggregates and pruned reads serve defaults for " +
    "pre-era files (the scan-side fallback carries sc + nc lines)") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      (1L to 30L).map(i => (i, i)).toDF("k", "x"),
      append = false, statCols = Seq("k"))
    VersionedTable.addColumnCommit(spark, t, "w",
      org.apache.spark.sql.types.LongType, Some("9"))
    VersionedTable.commit(spark, t,
      Seq((100L, 1L, Some(55L)), (101L, 2L, None))
        .toDF("k", "x", "w"), append = true, statCols = Seq("k"))
    // metadata-path aggregate over the DEFAULTED column: pre-era
    // files are stats-uncovered for w, so they fall to the scan side,
    // which must apply the default (min = 9, never null-excluded 55)
    val r = VersionedTable.statsAggregate(spark, t, Seq("w")).collect()(0)
    assert(r.getAs[Long]("n_rows") == 32L)
    assert(r.getAs[Long]("w_min") == 9L && r.getAs[Long]("w_max") == 55L,
      r.toString)
    // full-scan twin must agree exactly
    val twin = VersionedTable.read(spark, t)
      .agg(count(lit(1)), min(col("w")), max(col("w"))).collect()(0)
    assert(twin.getLong(0) == 32L && twin.getLong(1) == 9L &&
      twin.getLong(2) == 55L)
    // file-skipped range read on k must serve w's default too
    import VersionedTable.ScanPred._
    val pruned = VersionedTable.readWhere(spark, t,
      Seq(NumBetween("k", 1L, 10L)))
      .select("w").as[Long].collect().toSet
    assert(pruned == Set(9L),
      s"pruned subset reads must carry the default declaration: $pruned")
  }

  test("SQL surface: ALTER TABLE ADD COLUMN DEFAULT, INSERT omitting " +
    "the column materializes it, both eras aggregate correctly") {
    val w = Files.createTempDirectory("graft_defsql").toString
    spark.conf.set("spark.sql.catalog.gdef", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gdef.warehouse", w)
    (1L to 50L).map(i => (i, i * 3)).toDF("k", "v")
      .createOrReplaceTempView("def_src")
    spark.sql("CREATE TABLE gdef.t AS SELECT * FROM def_src")
    spark.sql("ALTER TABLE gdef.t ADD COLUMN bonus BIGINT DEFAULT 10")
    // INSERT that OMITS the defaulted column: CURRENT_DEFAULT fills it
    spark.sql("INSERT INTO gdef.t (k, v) VALUES (200, 600)")
    // INSERT with an explicit value and an explicit NULL
    spark.sql("INSERT INTO gdef.t VALUES (201, 603, 42), (202, 606, NULL)")
    val m = spark.sql("SELECT k, bonus FROM gdef.t")
      .as[(Long, Option[Long])].collect().toMap
    assert((1L to 50L).forall(k => m(k).contains(10L)),
      "pre-era rows serve the DEFAULT")
    assert(m(200L).contains(10L), "omitted column takes CURRENT_DEFAULT")
    assert(m(201L).contains(42L) && m(202L).isEmpty)
    assert(spark.sql(
      "SELECT CAST(sum(bonus) AS BIGINT) FROM gdef.t").as[Long].head() ==
      50L * 10 + 10 + 42)
    // a non-constant default is refused loudly
    intercept[Exception] {
      spark.sql("ALTER TABLE gdef.t ADD COLUMN r DOUBLE DEFAULT rand()")
    }
  }
}
