package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Change-data-feed reads, deletion-vector (merge-on-read) deletes,
  * and schema-evolution reads on [[VersionedTable]]. */
class TableChangesSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("vtable_cdf").toString + "/t"

  private def changes(t: String, from: Int, to: Int): Map[(Long, String, String), Long] =
    VersionedTable.readChanges(spark, t, from, to)
      .select(col("k"), col("v"), col("change"), col("n"))
      .as[(Long, String, String, Long)].collect()
      .map { case (k, v, c, n) => ((k, v, c), n) }.toMap

  test("append commit: feed = inserts only, carried files never opened") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v")
        .repartitionByRange(4, col("k")), append = false)
    VersionedTable.commit(spark, t,
      Seq((200L, "new1"), (201L, "new2")).toDF("k", "v"), append = true)
    val got = changes(t, 1, 2)
    assert(got == Map((200L, "new1", "insert") -> 1L,
      (201L, "new2", "insert") -> 1L))
    // pruning: the 4 carried base files are provably change-free
    val (ta, tb) = VersionedTable.changedFiles(spark,
      VersionedTable.manifest(spark, t, 1),
      VersionedTable.manifest(spark, t, 2))
    assert(ta.isEmpty, "no file left version 1")
    assert(tb.nonEmpty && tb.size < VersionedTable.manifest(spark, t, 2).size,
      "only the appended files are touched")
  }

  test("merge commit: updates surface as delete/insert pairs, copies cancel") {
    val t = freshTable()
    val base = (1L to 400L).map(i => (i, s"v$i")).toDF("k", "v")
    VersionedTable.commit(spark, t,
      base.repartitionByRange(8, col("k")), append = false)
    val source = Seq(
      (100L, "UPD", false),  // update
      (101L, "", true),      // delete
      (9999L, "NEW", false)) // insert
      .toDF("k", "v", "__del")
    VersionedTable.mergeCommit(spark, t, source, "k",
      deleteCol = Some("__del"))
    val got = changes(t, 1, 2)
    assert(got == Map(
      (100L, "v100", "delete") -> 1L, (100L, "UPD", "insert") -> 1L,
      (101L, "v101", "delete") -> 1L,
      (9999L, "NEW", "insert") -> 1L),
      s"COW-copied survivor rows must cancel in the multiset diff: $got")
  }

  test("identical versions produce an empty feed with the right schema") {
    val t = freshTable()
    VersionedTable.commit(spark, t, Seq((1L, "a")).toDF("k", "v"),
      append = false)
    val feed = VersionedTable.readChanges(spark, t, 1, 1)
    assert(feed.columns.toSeq == Seq("k", "v", "change", "n"))
    assert(feed.count() == 0L)
  }

  test("multiset semantics: duplicated rows report their net count") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      Seq((1L, "x"), (1L, "x"), (2L, "y")).toDF("k", "v"), append = false)
    VersionedTable.commit(spark, t,
      Seq((1L, "x"), (3L, "z"), (3L, "z"), (3L, "z")).toDF("k", "v"),
      append = false) // overwrite: net -1 of (1,x), -1 of (2,y), +3 of (3,z)
    val got = changes(t, 1, 2)
    assert(got == Map(
      (1L, "x", "delete") -> 1L,
      (2L, "y", "delete") -> 1L,
      (3L, "z", "insert") -> 3L))
  }

  test("deleteCommit removes rows without touching any data file") {
    val t = freshTable()
    val base = (1L to 500L).map(i => (i, s"v$i")).toDF("k", "v")
    VersionedTable.commit(spark, t,
      base.repartitionByRange(5, col("k")), append = false)
    val m1 = VersionedTable.manifest(spark, t, 1)
    val v2 = VersionedTable.deleteCommit(spark, t,
      col("k") % 50 === 0)
    val m2 = VersionedTable.manifest(spark, t, v2)
    // merge-on-read: every data file carried verbatim, one dv line added
    assert(VersionedTable.dataFilesOf(m2) == VersionedTable.dataFilesOf(m1))
    assert(VersionedTable.dvFilesOf(m2).size == 1)
    val keys = VersionedTable.read(spark, t).select("k").as[Long]
      .collect().toSet
    assert(keys.size == 490 && !keys.exists(_ % 50 == 0))
    // time travel: v1 still complete
    assert(VersionedTable.read(spark, t, Some(1)).count() == 500L)
    // stacked second delete composes
    VersionedTable.deleteCommit(spark, t, col("k") <= 3)
    val after = VersionedTable.read(spark, t).select("k").as[Long]
      .collect().toSet
    assert(after.size == 487 && !after.contains(2L) && after.contains(4L))
  }

  test("a DV read plans as a broadcast anti-join (no shuffle of the data side)") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      (1L to 1000L).map(i => (i, s"v$i")).toDF("k", "v")
        .repartitionByRange(4, col("k")), append = false)
    VersionedTable.deleteCommit(spark, t, col("k") % 9 === 0)
    val plan = VersionedTable.read(spark, t)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"tombstones must broadcast, got:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      "the 100 TB data side must never shuffle for a delete read")
  }

  test("deletes by predicates on different columns compose") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      (1L to 50L).map(i => (i, s"v$i")).toDF("k", "v").repartition(4),
      append = false)
    VersionedTable.deleteCommit(spark, t, col("k") === 1)
    VersionedTable.deleteCommit(spark, t, col("v") === "v2")
    assert(VersionedTable.read(spark, t).count() == 48L)
    // a purge (all files rewritten) keeps exactly the survivors
    VersionedTable.compactCommit(spark, t, targetRows = 1000L)
    VersionedTable.deleteCommit(spark, t, col("v") === "v3")
    assert(VersionedTable.read(spark, t).select("k").as[Long].collect()
      .sorted.toSeq == (4L to 50L))
  }

  test("deleteCommit matching nothing commits without a sidecar") {
    val t = freshTable()
    VersionedTable.commit(spark, t, Seq((1L, "a")).toDF("k", "v"),
      append = false)
    val v2 = VersionedTable.deleteCommit(spark, t, col("k") > 100)
    assert(VersionedTable.dvFilesOf(
      VersionedTable.manifest(spark, t, v2)).isEmpty)
    assert(VersionedTable.read(spark, t).count() == 1L)
  }

  test("a delete shows up in the change feed as deletes only") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v")
        .repartitionByRange(4, col("k")), append = false)
    VersionedTable.deleteCommit(spark, t, col("k") === 7)
    val got = changes(t, 1, 2)
    assert(got == Map((7L, "v7", "delete") -> 1L))
    // pruning: only the one tombstoned file is touched, on both sides
    val (ta, tb) = VersionedTable.changedFiles(spark,
      VersionedTable.manifest(spark, t, 1),
      VersionedTable.manifest(spark, t, 2))
    assert(ta.size == 1 && tb.size == 1)
  }

  test("mergeCommit purges rewritten files' tombstones, keeps carried ones") {
    val t = freshTable()
    val base = (1L to 400L).map(i => (i, s"v$i")).toDF("k", "v")
    VersionedTable.commit(spark, t,
      base.repartitionByRange(4, col("k")), append = false)
    // tombstone one low-range row and one high-range row
    VersionedTable.deleteCommit(spark, t,
      col("k") === 10 || col("k") === 390)
    // merge touches only the low range: its file is rewritten (and its
    // tombstone materialized), the high file is carried with its dv
    val v3 = VersionedTable.mergeCommit(spark, t,
      Seq((11L, "UPD", false)).toDF("k", "v", "__del"), "k",
      deleteCol = Some("__del"))
    val m3 = VersionedTable.manifest(spark, t, v3)
    assert(VersionedTable.dvFilesOf(m3).size == 1,
      "carried-file tombstones must survive consolidation")
    val got = VersionedTable.read(spark, t).select("k").as[Long]
      .collect().toSet
    assert(!got.contains(10L) && !got.contains(390L))
    assert(VersionedTable.read(spark, t)
      .filter(col("k") === 11).select("v").as[String].head() == "UPD")
    assert(got.size == 398)
  }

  test("schema evolution: appended column reads as NULL on old rows") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), append = false)
    VersionedTable.commit(spark, t,
      Seq((3L, "c", 30L)).toDF("k", "v", "extra"), append = true)
    val latest = VersionedTable.read(spark, t)
    assert(latest.columns.toSet == Set("k", "v", "extra"))
    val byK = latest.select(col("k"),
      coalesce(col("extra"), lit(-1L)).as("extra"))
      .as[(Long, Long)].collect().toMap
    assert(byK == Map(1L -> -1L, 2L -> -1L, 3L -> 30L))
    // the feed across the evolution aligns both sides' schemas
    val feed = VersionedTable.readChanges(spark, t, 1, 2)
    assert(feed.columns.toSet == Set("k", "v", "extra", "change", "n"))
    val rows = feed.select("k", "change").as[(Long, String)].collect().toSet
    assert(rows == Set((3L, "insert")))
  }

  test("feed equals brute-force snapshot diff across random merge histories") {
    val rnd = new scala.util.Random(7)
    val t = freshTable()
    val base = (1L to 300L).map(i => (i, s"v$i")).toDF("k", "v")
    VersionedTable.commit(spark, t,
      base.repartitionByRange(6, col("k")), append = false)
    var v = 1
    (1 to 3).foreach { _ =>
      val upd = (1 to 5).map(_ => rnd.nextInt(300) + 1L)
        .distinct.map(k => (k, s"u$k", false))
      val del = (1 to 3).map(_ => rnd.nextInt(300) + 1L)
        .distinct.filterNot(k => upd.exists(_._1 == k))
        .map(k => (k, "", true))
      val ins = Seq((1000L + rnd.nextInt(1000), "ins", false))
      v = VersionedTable.mergeCommit(spark, t,
        (upd ++ del ++ ins).toDF("k", "v", "__del"), "k",
        deleteCol = Some("__del"))
    }
    // brute force: full multiset diff of the two snapshot reads
    val a = VersionedTable.read(spark, t, Some(1))
      .as[(Long, String)].collect().groupBy(identity).view
      .mapValues(_.length.toLong).toMap
    val b = VersionedTable.read(spark, t, Some(v))
      .as[(Long, String)].collect().groupBy(identity).view
      .mapValues(_.length.toLong).toMap
    val expect = (a.keySet ++ b.keySet).flatMap { r =>
      val net = b.getOrElse(r, 0L) - a.getOrElse(r, 0L)
      if (net == 0) None
      else Some((r._1, r._2, if (net > 0) "insert" else "delete") ->
        math.abs(net))
    }.toMap
    assert(changes(t, 1, v) == expect)
  }
}
