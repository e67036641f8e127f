package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Merge-on-read DELETE ([[VersionedTable.deleteCommit]] /
  * [[VersionedTable.deleteCommitRouted]]): a point DELETE commits
  * O(matched rows) of positional tombstone sidecar — ZERO parquet
  * rewrites — while a bulk DELETE still rewrites copy-on-write; the
  * `write.delete.mode` table property overrides the cost model; and
  * `purge_tombstones` pays the read-side debt back down to pure files.
  */
class MergeOnReadDeleteSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("vmor").toString + "/t"

  private def seed(t: String, stats: Boolean = true): Unit =
    VersionedTable.commit(spark, t,
      (1L to 800L).map(i => (i, i * 10)).toDF("k", "x")
        .repartitionByRange(8, col("k")),
      append = false,
      statCols = if (stats) Seq("k") else Seq.empty)

  private def dataFiles(t: String, v: Int): Set[String] =
    VersionedTable.dataFilesOf(VersionedTable.manifest(spark, t, v)).toSet

  private def dvFiles(t: String, v: Int): Seq[String] =
    VersionedTable.dvFilesOf(VersionedTable.manifest(spark, t, v))

  test("positional delete: rows gone, every data file carried verbatim") {
    val t = freshTable()
    seed(t)
    val v = VersionedTable.deleteCommit(spark, t,
      col("k") % 100 === 0)
    assert(v == 2)
    assert(dataFiles(t, 1) == dataFiles(t, 2),
      "merge-on-read must not rewrite any data file")
    assert(dvFiles(t, 2).nonEmpty, "the tombstone sidecar must publish")
    val got = VersionedTable.read(spark, t).as[(Long, Long)]
      .collect().toMap
    assert(got.size == 792)
    (1L to 800L).foreach { i =>
      if (i % 100 == 0) assert(!got.contains(i), s"k=$i must be dead")
      else assert(got(i) == i * 10, s"k=$i")
    }
    // time travel: the pre-delete snapshot is intact
    assert(VersionedTable.read(spark, t, Some(1)).count() == 800)
  }

  test("positional deletes compose (positions name original-file rows)") {
    val t = freshTable()
    seed(t)
    VersionedTable.deleteCommit(spark, t, col("k") <= 10)
    VersionedTable.deleteCommit(spark, t,
      col("k") > 10 && col("k") <= 20)
    val got = VersionedTable.read(spark, t).as[(Long, Long)]
      .collect().map(_._1).toSet
    assert(got == (21L to 800L).toSet)
    assert(dataFiles(t, 1) == dataFiles(t, 3), "still zero rewrites")
  }

  test("ScanPreds prune the positional doomed scan to candidate files") {
    val t = freshTable()
    seed(t)
    var pruned: (Int, Int) = (-1, -1)
    VersionedTable.deletePruneNotifier = (c, n) => pruned = (c, n)
    try VersionedTable.deleteCommit(spark, t,
      lit(true), Seq(VersionedTable.ScanPred.NumBetween("k", 100L, 110L)))
    finally VersionedTable.deletePruneNotifier = (_, _) => ()
    assert(pruned._2 == 8 && pruned._1 >= 1 && pruned._1 <= 2,
      s"a narrow range over 8 clustered files must scan <=2, got $pruned")
    assert(VersionedTable.read(spark, t).count() == 800 - 11)
  }

  test("API deletes and pruned or routed positional deletes compose") {
    val t = freshTable()
    seed(t)
    VersionedTable.deleteCommit(spark, t, col("k") === 5L)
    VersionedTable.deleteCommit(spark, t, col("k") % 2 === 0,
      Seq(VersionedTable.ScanPred.NumBetween("k", 1L, 100L)))
    VersionedTable.setTableProperty(spark, t,
      VersionedTable.DeleteModeProp, "merge-on-read")
    VersionedTable.deleteCommitRouted(spark, t, col("k") === 7L, Nil)
    val got = VersionedTable.read(spark, t).as[(Long, Long)]
      .collect().toSeq.sorted
    val want = (1L to 800L).map(i => (i, i * 10))
      .filter { case (k, _) => k != 5L && k != 7L &&
        !(k <= 100L && k % 2 == 0) }
    assert(got == want)
    assert(dataFiles(t, 1) == dataFiles(t, 4), "still zero rewrites")
  }

  test("routed auto: point delete goes merge-on-read, zero rewrites") {
    val t = freshTable()
    seed(t)
    var mode: (String, Long, Long) = ("", -2L, -2L)
    VersionedTable.deleteModeNotifier = (m, a, b) => mode = (m, a, b)
    try VersionedTable.deleteCommitRouted(spark, t,
      col("k") >= 100L && col("k") <= 110L,
      Seq(VersionedTable.ScanPred.NumBetween("k", 100L, 110L)))
    finally VersionedTable.deleteModeNotifier = (_, _, _) => ()
    assert(mode._1 == "merge-on-read", mode.toString)
    assert(mode._2 == 11L, s"matched rows: $mode")
    assert(mode._2 * 10 <= mode._3, s"decision inputs: $mode")
    assert(dataFiles(t, 1) == dataFiles(t, 2),
      "a point DELETE must publish only dv + manifest lines")
    assert(dvFiles(t, 2).nonEmpty)
    assert(VersionedTable.read(spark, t).count() == 789)
  }

  test("routed auto: bulk delete stays copy-on-write, no sidecar debt") {
    val t = freshTable()
    seed(t)
    var mode: (String, Long, Long) = ("", -2L, -2L)
    VersionedTable.deleteModeNotifier = (m, a, b) => mode = (m, a, b)
    try VersionedTable.deleteCommitRouted(spark, t,
      col("k") % 2 === 0, Nil)
    finally VersionedTable.deleteModeNotifier = (_, _, _) => ()
    assert(mode._1 == "copy-on-write", mode.toString)
    assert(mode._2 == 400L && mode._3 == 800L, mode.toString)
    assert(dvFiles(t, 2).isEmpty, "a rewrite leaves no tombstones")
    assert(dataFiles(t, 1).intersect(dataFiles(t, 2)).isEmpty,
      "every file held a match — all rewritten")
    assert(VersionedTable.read(spark, t).count() == 400)
  }

  test("stats-contained DELETE routes METADATA-ONLY: the file drops " +
    "with zero probe jobs, nothing rewritten, no sidecar") {
    val t = freshTable()
    // deterministic era boundaries: one file holding exactly k 1..100,
    // then seven more files all with k >= 101
    VersionedTable.commit(spark, t,
      (1L to 100L).map(i => (i, i * 10)).toDF("k", "x").coalesce(1),
      append = false, statCols = Seq("k"))
    VersionedTable.commit(spark, t,
      (101L to 800L).map(i => (i, i * 10)).toDF("k", "x")
        .repartitionByRange(7, col("k")),
      append = true)
    var mode: (String, Long, Long) = ("", -2L, -2L)
    VersionedTable.deleteModeNotifier = (m, a, b) => mode = (m, a, b)
    val sc = spark.sparkContext
    sc.setJobGroup("md-only-delete", "contained-range delete", false)
    try VersionedTable.deleteCommitRouted(spark, t, col("k") <= 100L,
      Seq(VersionedTable.ScanPred.NumBetween("k", Long.MinValue, 100L)),
      predsExact = true)
    finally {
      sc.clearJobGroup()
      VersionedTable.deleteModeNotifier = (_, _, _) => ()
    }
    assert(mode._1 == "metadata-only", mode.toString)
    assert(mode._2 == 100L, s"contained rows: $mode")
    Thread.sleep(1000) // status store fills from the async listener bus
    assert(sc.statusTracker.getJobIdsForGroup("md-only-delete").isEmpty,
      "a contained-range DELETE must launch ZERO Spark jobs")
    assert(dataFiles(t, 3).subsetOf(dataFiles(t, 2)) &&
      dataFiles(t, 2).size - dataFiles(t, 3).size == 1,
      "exactly the contained file drops; nothing is rewritten")
    assert(dvFiles(t, 3).isEmpty, "no tombstone debt")
    assert(VersionedTable.read(spark, t).as[(Long, Long)]
      .collect().map(_._1).toSet == (101L to 800L).toSet)
    // time travel: the pre-delete snapshot is intact
    assert(VersionedTable.read(spark, t, Some(2)).count() == 800L)
  }

  test("mixed contained+boundary DELETE: contained files drop as " +
    "metadata, only the straddling file pays the rewrite") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      (1L to 100L).map(i => (i, i * 10)).toDF("k", "x").coalesce(1),
      append = false, statCols = Seq("k"))
    VersionedTable.commit(spark, t,
      (101L to 200L).map(i => (i, i * 10)).toDF("k", "x").coalesce(1),
      append = true)
    VersionedTable.commit(spark, t,
      (201L to 800L).map(i => (i, i * 10)).toDF("k", "x")
        .repartitionByRange(6, col("k")),
      append = true)
    var mode: (String, Long, Long) = ("", -2L, -2L)
    VersionedTable.deleteModeNotifier = (m, a, b) => mode = (m, a, b)
    try VersionedTable.deleteCommitRouted(spark, t, col("k") <= 150L,
      Seq(VersionedTable.ScanPred.NumBetween("k", Long.MinValue, 150L)),
      predsExact = true)
    finally VersionedTable.deleteModeNotifier = (_, _, _) => ()
    assert(mode._1 == "copy-on-write", mode.toString)
    assert(mode._2 == 150L, s"matched rows: $mode")
    val before = dataFiles(t, 3); val after = dataFiles(t, 4)
    // the k<=100 file dropped AND the k 101..200 file was rewritten:
    // two files gone, one new, the other six carried verbatim
    assert(before.diff(after).size == 2, s"$before vs $after")
    assert(after.diff(before).size == 1)
    assert(VersionedTable.read(spark, t).as[(Long, Long)]
      .collect().map(_._1).toSet == (151L to 800L).toSet)
  }

  test("routed auto without st coverage falls back to copy-on-write") {
    val t = freshTable()
    seed(t, stats = false)
    var mode: (String, Long, Long) = ("", -2L, -2L)
    VersionedTable.deleteModeNotifier = (m, a, b) => mode = (m, a, b)
    try VersionedTable.deleteCommitRouted(spark, t, col("k") === 5L, Nil)
    finally VersionedTable.deleteModeNotifier = (_, _, _) => ()
    assert(mode == (("copy-on-write", -1L, -1L)), mode.toString)
    assert(VersionedTable.read(spark, t).count() == 799)
  }

  test("write.delete.mode property forces the mode both ways") {
    val t = freshTable()
    seed(t)
    VersionedTable.setTableProperty(spark, t,
      VersionedTable.DeleteModeProp, "merge-on-read")
    assert(VersionedTable.tablePropertyOf(spark, t,
      VersionedTable.DeleteModeProp).contains("merge-on-read"))
    // a BULK delete still goes merge-on-read when forced
    VersionedTable.deleteCommitRouted(spark, t, col("k") % 2 === 0, Nil)
    assert(dataFiles(t, 1) == dataFiles(t, 2))
    assert(dvFiles(t, 2).nonEmpty)
    assert(VersionedTable.read(spark, t).count() == 400)
    // flip to copy-on-write: a point delete now rewrites its matched
    // file (purging THAT file's tombstones; carried files keep theirs)
    VersionedTable.setTableProperty(spark, t,
      VersionedTable.DeleteModeProp, "copy-on-write")
    VersionedTable.deleteCommitRouted(spark, t, col("k") === 1L, Nil)
    assert(dataFiles(t, 2).intersect(dataFiles(t, 3)).nonEmpty &&
      dataFiles(t, 3) != dataFiles(t, 2),
      "COW must rewrite the matched file and carry the rest")
    assert(VersionedTable.read(spark, t).count() == 399)
    // unset returns to cost-based
    VersionedTable.unsetTableProperty(spark, t,
      VersionedTable.DeleteModeProp)
    assert(VersionedTable.tablePropertyOf(spark, t,
      VersionedTable.DeleteModeProp).isEmpty)
  }

  test("a typo'd write.delete.mode fails at SET time") {
    val t = freshTable()
    seed(t)
    val e = intercept[Exception] {
      VersionedTable.setTableProperty(spark, t,
        VersionedTable.DeleteModeProp, "merge_on_read")
    }
    assert(e.getMessage.contains("merge-on-read"), e.getMessage)
  }

  test("purge_tombstones pays the merge-on-read debt back down") {
    val t = freshTable()
    seed(t)
    VersionedTable.deleteCommit(spark, t, col("k") % 100 === 0)
    VersionedTable.deleteCommit(spark, t, col("k") === 1L)
    val v = VersionedTable.purgeTombstonesCommit(spark, t, 1000000L)
    assert(dvFiles(t, v).isEmpty, "debt consolidated to pure files")
    val got = VersionedTable.read(spark, t).as[(Long, Long)]
      .collect().map(_._1).toSet
    assert(got == (2L to 800L).filterNot(_ % 100 == 0).toSet)
  }

  test("SQL point DELETE through the catalog publishes only dv+manifest") {
    val w = Files.createTempDirectory("graft_mor_cat").toString
    spark.conf.set("spark.sql.catalog.gtmor",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtmor.warehouse", w)
    val t = s"$w/li"
    seed(t)
    spark.sql("ALTER TABLE gtmor.li SET TBLPROPERTIES " +
      "('write.delete.mode'='merge-on-read')")
    assert(VersionedTable.tablePropertyOf(spark, t,
      VersionedTable.DeleteModeProp).contains("merge-on-read"))
    spark.sql("DELETE FROM gtmor.li WHERE k BETWEEN 100 AND 110")
    assert(dataFiles(t, 1) == dataFiles(t, 2),
      "SQL merge-on-read DELETE must not rewrite any parquet")
    assert(dvFiles(t, 2).nonEmpty)
    assert(spark.sql("SELECT count(*) FROM gtmor.li").head().getLong(0)
      == 789L)
    // UNSET returns the table to cost-based routing
    spark.sql("ALTER TABLE gtmor.li UNSET TBLPROPERTIES " +
      "('write.delete.mode')")
    assert(VersionedTable.tablePropertyOf(spark, t,
      VersionedTable.DeleteModeProp).isEmpty)
    // DESCRIBE-visible: properties() surfaces what is set
    spark.sql("ALTER TABLE gtmor.li SET TBLPROPERTIES ('team'='graft')")
    assert(VersionedTable.tablePropertiesOf(spark, t)
      .get("team").contains("graft"))
  }

  test("positional tombstones survive a column rename (physical keys)") {
    val t = freshTable()
    seed(t)
    VersionedTable.deleteCommit(spark, t, col("k") <= 100)
    VersionedTable.renameColumnCommit(spark, t, "x", "amount")
    val got = VersionedTable.read(spark, t)
    assert(got.columns.toSeq == Seq("k", "amount"))
    assert(got.count() == 700)
  }
}
