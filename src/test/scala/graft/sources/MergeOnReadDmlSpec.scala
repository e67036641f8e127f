package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Delta-based (merge-on-read) SQL UPDATE / MERGE
  * ([[GraftDeltaOperation]], SupportsDelta): with
  * `write.update.mode` / `write.merge.mode` = 'merge-on-read', a
  * point DML publishes positional tombstones (old images) + appended
  * files (new images) — every pre-existing data file carries
  * VERBATIM — and the debt pays down through the same
  * purge_tombstones path as MOR deletes. */
class MergeOnReadDmlSpec extends SparkSpec {
  import spark.implicits._

  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("graft_mordml").toString
    spark.conf.set("spark.sql.catalog.gmor", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gmor.warehouse", w)
    w
  }

  private def seed(name: String): String = {
    val t = s"$warehouse/$name"
    VersionedTable.commit(spark, t,
      (1L to 800L).map(i => (i, i * 10, s"s${i % 5}"))
        .toDF("k", "x", "tag")
        .repartitionByRange(8, col("k")),
      append = false, statCols = Seq("k"))
    t
  }

  private def dataFiles(t: String, v: Int): Set[String] =
    VersionedTable.dataFilesOf(VersionedTable.manifest(spark, t, v)).toSet

  private def dvFiles(t: String, v: Int): Seq[String] =
    VersionedTable.dvFilesOf(VersionedTable.manifest(spark, t, v))

  test("MOR UPDATE: old files all carried, tombstones + new rows append") {
    val t = seed("u1")
    VersionedTable.setTableProperty(spark, t, "write.update.mode",
      "merge-on-read")
    spark.sql("UPDATE gmor.u1 SET x = x + 1 WHERE k BETWEEN 100 AND 110")
    val m1 = dataFiles(t, 1); val m2 = dataFiles(t, 2)
    assert(m1.subsetOf(m2),
      s"merge-on-read must carry EVERY old file verbatim " +
        s"(missing: ${m1.diff(m2).size})")
    assert(m2.size > m1.size, "the new images land in appended files")
    assert(dvFiles(t, 2).nonEmpty, "the old images land in tombstones")
    val got = VersionedTable.read(spark, t)
      .select("k", "x").as[(Long, Long)].collect().toMap
    assert(got.size == 800)
    (1L to 800L).foreach { i =>
      val want = if (i >= 100 && i <= 110) i * 10 + 1 else i * 10
      assert(got(i) == want, s"k=$i")
    }
    // pre-update snapshot intact
    assert(VersionedTable.read(spark, t, Some(1))
      .filter(col("k") === 100L).select("x").as[Long].head() == 1000L)
  }

  test("MOR MERGE: update + insert + delete, zero rewrites") {
    val t = seed("m1")
    VersionedTable.setTableProperty(spark, t, "write.merge.mode",
      "merge-on-read")
    ((95L to 105L) ++ Seq(900L, 901L)).map(k => (k, k))
      .toDF("k", "nx").createOrReplaceTempView("mor_merge_src")
    spark.sql(
      """MERGE INTO gmor.m1 t USING mor_merge_src s ON t.k = s.k
        |WHEN MATCHED AND t.k = 99 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET x = s.nx
        |WHEN NOT MATCHED THEN INSERT (k, x, tag)
        |  VALUES (s.k, s.nx, 'new')""".stripMargin)
    val m1 = dataFiles(t, 1); val m2 = dataFiles(t, 2)
    assert(m1.subsetOf(m2) && m2.size > m1.size && dvFiles(t, 2).nonEmpty,
      "MOR MERGE appends, never rewrites")
    val got = VersionedTable.read(spark, t)
      .select("k", "x").as[(Long, Long)].collect().toMap
    assert(!got.contains(99L), "matched-delete row is gone")
    assert(got(900L) == 900L && got(901L) == 901L, "inserts landed")
    ((95L to 105L).filterNot(_ == 99L)).foreach(k =>
      assert(got(k) == k, s"k=$k updated from source"))
    assert(got(50L) == 500L, "untouched rows unchanged")
    assert(got.size == 800 - 1 + 2)
  }

  test("MOR UPDATE composes with MOR DELETE debt; purge pays it down") {
    val t = seed("c1")
    VersionedTable.setTableProperty(spark, t,
      VersionedTable.DeleteModeProp, "merge-on-read")
    VersionedTable.setTableProperty(spark, t, "write.update.mode",
      "merge-on-read")
    spark.sql("DELETE FROM gmor.c1 WHERE k <= 5")
    spark.sql("UPDATE gmor.c1 SET x = 0 WHERE k BETWEEN 10 AND 12")
    val got = VersionedTable.read(spark, t)
      .select("k", "x").as[(Long, Long)].collect().toMap
    assert(got.size == 795)
    assert((10L to 12L).forall(got(_) == 0L))
    assert(got(13L) == 130L)
    val pv = VersionedTable.purgeTombstonesCommit(spark, t, 1000000L)
    assert(dvFiles(t, pv).isEmpty, "purge consolidates both debts")
    assert(VersionedTable.read(spark, t).count() == 795)
  }

  test("an API delete composes with a later MOR UPDATE") {
    val t = seed("k1")
    VersionedTable.deleteCommit(spark, t, col("k") === 5L) // v2
    VersionedTable.setTableProperty(spark, t, "write.update.mode",
      "merge-on-read")
    spark.sql("UPDATE gmor.k1 SET x = 0 WHERE k BETWEEN 4 AND 6") // v3
    assert(dataFiles(t, 2).subsetOf(dataFiles(t, 3)),
      "merge-on-read must carry every old file verbatim")
    val got = VersionedTable.read(spark, t)
      .select("k", "x").as[(Long, Long)].collect().toSeq.sorted
    val want = (1L to 800L).filter(_ != 5L)
      .map(i => (i, if (i == 4L || i == 6L) 0L else i * 10))
    assert(got == want)
  }

  test("SELECT _file, _pos: the stable row identity is user-queryable") {
    val t = seed("p1")
    val ids = spark.sql("SELECT _file, _pos, k FROM gmor.p1")
      .as[(String, Long, Long)].collect().toSeq
    assert(ids.size == 800)
    assert(ids.map(r => (r._1, r._2)).distinct.size == 800,
      "(_file, _pos) must be unique per row")
    assert(ids.forall(_._2 >= 0))
    val _ = t
  }

  test("a DELETE the filter language cannot express goes MOR too") {
    // `k % 97 = 0` is not a translatable filter, so SupportsDelete
    // never sees it — the statement falls to the row-level path,
    // where write.delete.mode = merge-on-read must select the DELTA
    // operation: tombstones only, zero parquet rewrites
    val t = seed("d1")
    VersionedTable.setTableProperty(spark, t,
      VersionedTable.DeleteModeProp, "merge-on-read")
    spark.sql("DELETE FROM gmor.d1 WHERE k % 97 = 0")
    assert(dataFiles(t, 1) == dataFiles(t, 2),
      "the fallback DELETE must publish only dv + manifest")
    assert(dvFiles(t, 2).nonEmpty)
    val got = VersionedTable.read(spark, t)
      .select("k").as[Long].collect().toSet
    assert(got == (1L to 800L).filterNot(_ % 97 == 0).toSet)
  }

  test("change feed across a MOR update is the delete/insert pair") {
    val t = seed("f1")
    VersionedTable.setTableProperty(spark, t, "write.update.mode",
      "merge-on-read")
    spark.sql("UPDATE gmor.f1 SET x = -1 WHERE k = 42")
    val changes = VersionedTable.readChanges(spark, t, 1, 2)
      .select("change", "k", "x").as[(String, Long, Long)]
      .collect().toSet
    assert(changes == Set(("delete", 42L, 420L), ("insert", 42L, -1L)),
      changes.toString)
  }
}
