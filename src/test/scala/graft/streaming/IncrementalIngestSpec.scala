package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class IncrementalIngestSpec extends SparkSpec {

  private def work() = java.nio.file.Files
    .createTempDirectory("incr_spec").toAbsolutePath.toString

  private val docs = graft.Tables.load(spark, sfDir, "documents")

  private def drain(w: String): Unit =
    IncrementalIngest.drainToParquet(spark, s"$w/src", docs.schema,
      s"$w/out", s"$w/ckpt")(df =>
      df.select(col("doc_id"), col("n_chars")))

  test("two staged drains produce each row exactly once") {
    val w = work()
    docs.filter(col("doc_id") % 2 === 0)
      .coalesce(1).write.mode("append").parquet(s"$w/src")
    drain(w)
    val afterFirst = spark.read.parquet(s"$w/out").count()
    docs.filter(col("doc_id") % 2 === 1)
      .coalesce(1).write.mode("append").parquet(s"$w/src")
    drain(w)
    val out = spark.read.parquet(s"$w/out")
    assert(afterFirst == docs.filter(col("doc_id") % 2 === 0).count())
    assert(out.count() == docs.count())
    assert(out.groupBy("doc_id").count().filter(col("count") > 1)
      .count() == 0, "no row may be ingested twice")
  }

  test("re-draining with nothing new is a no-op") {
    val w = work()
    docs.coalesce(1).write.mode("append").parquet(s"$w/src")
    drain(w)
    val n1 = spark.read.parquet(s"$w/out").count()
    drain(w) // same checkpoint, no new files
    assert(spark.read.parquet(s"$w/out").count() == n1)
  }

  test("versioned-table ingest: one commit per batch, snapshots per arrival") {
    val w = work()
    val table = s"$w/table"
    def drainVt(): Unit = IncrementalIngest.drainToVersionedTable(
      spark, s"$w/src", docs.schema, table, s"$w/ckpt")(
      _.select(org.apache.spark.sql.functions.col("doc_id")))
    docs.filter(col("doc_id") % 2 === 0)
      .coalesce(1).write.mode("append").parquet(s"$w/src")
    drainVt()
    val evens = docs.filter(col("doc_id") % 2 === 0).count()
    assert(graft.sources.VersionedTable.read(spark, table).count() == evens)
    docs.filter(col("doc_id") % 2 === 1)
      .coalesce(1).write.mode("append").parquet(s"$w/src")
    drainVt()
    assert(graft.sources.VersionedTable.versions(spark, table) == Seq(1, 2))
    // time travel: v1 is exactly the first arrival
    assert(graft.sources.VersionedTable.read(spark, table, Some(1))
      .count() == evens)
    assert(graft.sources.VersionedTable.read(spark, table)
      .count() == docs.count())
  }

  test("maintainEvery bounds a long drain's file count (auto-OPTIMIZE)") {
    val w = work()
    val table = s"$w/table"
    import graft.sources.VersionedTable
    def drainVt(): Unit = IncrementalIngest.drainToVersionedTablePartitioned(
      spark, s"$w/src", docs.schema, table, s"$w/ckpt",
      partitionBy = None, maintainEvery = Some((4, 1000000L)))(
      _.select(org.apache.spark.sql.functions.col("doc_id")))
    // 12 tiny staged arrivals = 12 commits of one fragment each
    (0 until 12).foreach { i =>
      docs.filter(col("doc_id") % 12 === i)
        .coalesce(1).write.mode("append").parquet(s"$w/src")
      drainVt()
    }
    val head = VersionedTable.versions(spark, table).last
    val files = VersionedTable.dataFilesOf(
      VersionedTable.manifest(spark, table, head)).size
    // without maintenance this is 12 fragments; the policy compacts
    // whenever >= maxSmallFiles (8) accumulate, so the live count
    // stays bounded by the threshold instead of growing per trigger
    // (here: batch 8 collapses 8 -> 1, batches 9..12 add 4 -> 5)
    assert(files <= 8, s"auto-maintenance must bound fragments: $files")
    val got = VersionedTable.read(spark, table)
    assert(got.count() == docs.count())
    assert(got.groupBy("doc_id").count().filter(col("count") > 1)
      .count() == 0, "maintenance must never duplicate a row")
  }

  test("versioned-table ingest: a replayed batch is skipped by its marker") {
    val w = work()
    val table = s"$w/table"
    // simulate the post-crash replay: the batch's marker was published
    // but the checkpoint never advanced — the re-run sees batch 0 again
    val marker = new java.io.File(s"$table/_batches/b0")
    marker.getParentFile.mkdirs()
    marker.createNewFile()
    docs.filter(col("doc_id") % 2 === 0)
      .coalesce(1).write.mode("append").parquet(s"$w/src")
    IncrementalIngest.drainToVersionedTable(
      spark, s"$w/src", docs.schema, table, s"$w/ckpt")(
      _.select(org.apache.spark.sql.functions.col("doc_id")))
    // the marked batch must NOT have committed
    assert(graft.sources.VersionedTable.versions(spark, table).isEmpty)
    // the next batch (new files, new id) commits normally
    docs.filter(col("doc_id") % 2 === 1)
      .coalesce(1).write.mode("append").parquet(s"$w/src")
    IncrementalIngest.drainToVersionedTable(
      spark, s"$w/src", docs.schema, table, s"$w/ckpt")(
      _.select(org.apache.spark.sql.functions.col("doc_id")))
    assert(graft.sources.VersionedTable.read(spark, table).count() ==
      docs.filter(col("doc_id") % 2 === 1).count())
  }

  test("partitioned versioned-table ingest: tagged commits, pruned reads, replay-safe") {
    val w = work()
    val table = s"$w/table"
    val VT = graft.sources.VersionedTable
    def drainVt(): Unit =
      IncrementalIngest.drainToVersionedTablePartitioned(
        spark, s"$w/src", docs.schema, table, s"$w/ckpt",
        partitionBy = Some("source"))(
        _.select(col("doc_id"), col("source")))
    docs.filter(col("doc_id") % 2 === 0)
      .coalesce(1).write.mode("append").parquet(s"$w/src")
    drainVt()
    docs.filter(col("doc_id") % 2 === 1)
      .coalesce(1).write.mode("append").parquet(s"$w/src")
    drainVt()
    drainVt() // nothing new: no extra commit
    assert(VT.versions(spark, table) == Seq(1, 2))
    val m = VT.manifest(spark, table, 2)
    // every streamed file is tagged; both arrivals contribute a file
    // per source present in them
    assert(VT.partitionsOf(m).size == VT.dataFilesOf(m).size)
    val oneSrc = docs.select("source").distinct()
      .orderBy("source").limit(1).collect()(0).getString(0)
    val pruned = VT.readPartitions(spark, table, "source", Seq(oneSrc))
    assert(pruned.count() ==
      docs.filter(col("source") === oneSrc).count())
    assert(VT.partitionCandidates(m, "source", Seq(oneSrc)).size ==
      VT.partitionsOf(m).count(_._2 == oneSrc))
    assert(VT.partitionCandidates(m, "source", Seq(oneSrc)).size <
      VT.dataFilesOf(m).size)
  }

  test("CDC to versioned table: out-of-order batches, no resurrection") {
    import spark.implicits._
    val w = work(); val table = s"$w/latest"
    val schema = Seq((0L, 0L, "x", 0L)).toDF("k", "ord", "v", "x").schema
    def drainCdc(): Unit = IncrementalIngest.drainCdcToVersionedTable(
      spark, s"$w/src", schema, table, s"$w/ckpt", keyCol = "k",
      orderCols = Seq("ord"),
      deleteExpr = Some(col("v") === "DEL"))
    def live(): Map[Long, (Long, String)] =
      graft.sources.VersionedTable.read(spark, table)
        .filter(!col("__deleted"))
        .select(col("k"), col("ord"), col("v"))
        .as[(Long, Long, String)].collect()
        .map(t => t._1 -> (t._2, t._3)).toMap
    // batch 1: the NEWER events arrive first (k=1 upd@10, k=2 DEL@10)
    Seq((1L, 10L, "new", 1L), (2L, 10L, "DEL", 1L), (3L, 5L, "three", 1L))
      .toDF("k", "ord", "v", "x")
      .coalesce(1).write.mode("append").parquet(s"$w/src")
    drainCdc()
    assert(live() == Map(1L -> ((10L, "new")), 3L -> ((5L, "three"))))
    // batch 2: OLDER events for the same keys — the guard must drop
    // the stale update AND must NOT resurrect the deleted key
    Seq((1L, 3L, "stale", 1L), (2L, 4L, "ghost", 1L), (4L, 1L, "four", 1L))
      .toDF("k", "ord", "v", "x")
      .coalesce(1).write.mode("append").parquet(s"$w/src")
    drainCdc()
    assert(live() == Map(1L -> ((10L, "new")), 3L -> ((5L, "three")),
      4L -> ((1L, "four"))),
      "stale update applied or deleted key resurrected")
    // a genuinely newer event still lands; re-drain stays a no-op
    Seq((2L, 20L, "back", 1L)).toDF("k", "ord", "v", "x")
      .coalesce(1).write.mode("append").parquet(s"$w/src")
    drainCdc()
    assert(live().get(2L).contains((20L, "back")))
    val versions = graft.sources.VersionedTable.versions(spark, table)
    drainCdc()
    assert(graft.sources.VersionedTable.versions(spark, table) == versions,
      "caught-up drain must not commit")
    // retirement purge: tombstones leave for good
    graft.sources.VersionedTable.deleteCommit(spark, table,
      col("__deleted"))
    assert(graft.sources.VersionedTable.read(spark, table)
      .filter(col("__deleted")).count() == 0L)
  }

  test("CDC drain accepts a non-Long integral key") {
    import spark.implicits._
    val w = work(); val table = s"$w/latestInt"
    // Int-typed key: the guarded batch's bounds read must cast, not
    // Row.getLong (ClassCastException on the first non-empty batch)
    val schema = Seq((0, 0L, "x")).toDF("k", "ord", "v").schema
    def drainCdc(): Unit = IncrementalIngest.drainCdcToVersionedTable(
      spark, s"$w/src", schema, table, s"$w/ckpt", keyCol = "k",
      orderCols = Seq("ord"))
    Seq((1, 1L, "a"), (2, 1L, "b")).toDF("k", "ord", "v")
      .coalesce(1).write.mode("append").parquet(s"$w/src")
    drainCdc() // first batch: create path, no bounds read
    Seq((1, 2L, "a2"), (3, 1L, "c")).toDF("k", "ord", "v")
      .coalesce(1).write.mode("append").parquet(s"$w/src")
    drainCdc() // guarded batch: key-range bounds on the Int key
    val got = graft.sources.VersionedTable.read(spark, table)
      .filter(!col("__deleted"))
      .select(col("k"), col("v")).as[(Int, String)].collect().toMap
    assert(got == Map(1 -> "a2", 2 -> "b", 3 -> "c"))
  }
}
