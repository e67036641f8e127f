package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.VersionedTable

/** Checkpointed change-feed drains over [[VersionedTable]]: resume
  * semantics, crash-restart (at-least-once against an arbitrary sink,
  * exactly-once via the marker-guarded table sink), and the
  * feed-fold == snapshot reconstruction contract. */
class TableChangeStreamSpec extends SparkSpec {
  import spark.implicits._

  private def scratch(): String =
    Files.createTempDirectory("vtable_tcs").toString

  private def kv(rows: (Long, String)*): DataFrame = rows.toDF("k", "v")

  test("drain delivers pending versions in order and checkpoints") {
    val dir = scratch(); val t = dir + "/t"; val ckpt = dir + "/ckpt"
    VersionedTable.commit(spark, t, kv(1L -> "a", 2L -> "b"), append = false)
    VersionedTable.commit(spark, t, kv(3L -> "c"), append = true)
    VersionedTable.commit(spark, t, kv(4L -> "d"), append = true)
    var seen = Vector.empty[Int]
    val n = TableChangeStream.drain(spark, t, ckpt) { (_, v) => seen :+= v }
    assert(n == 3 && seen == Vector(1, 2, 3))
    assert(TableChangeStream.lastConsumed(spark, ckpt).contains(3))
    // caught up: nothing re-delivered
    assert(TableChangeStream.drain(spark, t, ckpt)((_, _) => fail()) == 0)
    // new commit: exactly it is delivered
    VersionedTable.commit(spark, t, kv(5L -> "e"), append = true)
    seen = Vector.empty
    assert(TableChangeStream.drain(spark, t, ckpt) { (_, v) => seen :+= v } == 1)
    assert(seen == Vector(4))
  }

  test("first version is emitted as snapshot-as-inserts (row-per-row, no shuffle)") {
    val dir = scratch(); val t = dir + "/t"
    VersionedTable.commit(spark, t,
      kv(1L -> "a", 1L -> "a", 2L -> "b"), append = false)
    val feedDf = TableChangeStream.feedFor(spark, t, 1)
    // narrow plan: bootstrapping a 100 TB consumer must not pay a
    // full-table groupBy — fold sums n, so row-per-row is equivalent
    assert(!feedDf.queryExecution.executedPlan.toString
      .contains("Exchange"), "bootstrap feed must be shuffle-free")
    val feed = feedDf
      .select(col("k"), col("v"), col("change"), col("n"))
      .as[(Long, String, String, Long)].collect().toSeq
    assert(feed.sorted == Seq((1L, "a", "insert", 1L),
      (1L, "a", "insert", 1L), (2L, "b", "insert", 1L)))
    // and the fold reconstructs the duplicate multiplicity
    val folded = TableChangeStream.foldFeed(feedDf)
      .select(col("k"), col("v"), col("n"))
      .as[(Long, String, Long)].collect().toSet
    assert(folded == Set((1L, "a", 2L), (2L, "b", 1L)))
  }

  test("sink failure: checkpoint holds at last delivered, redrain resumes there") {
    val dir = scratch(); val t = dir + "/t"; val ckpt = dir + "/ckpt"
    VersionedTable.commit(spark, t, kv(1L -> "a"), append = false)
    VersionedTable.commit(spark, t, kv(2L -> "b"), append = true)
    VersionedTable.commit(spark, t, kv(3L -> "c"), append = true)
    var calls = 0
    intercept[RuntimeException] {
      TableChangeStream.drain(spark, t, ckpt) { (_, v) =>
        calls += 1
        if (v == 2) sys.error("sink crash")
      }
    }
    assert(calls == 2, "version 1 delivered, version 2 attempted")
    assert(TableChangeStream.lastConsumed(spark, ckpt).contains(1),
      "the failed version must NOT be checkpointed")
    var seen = Vector.empty[Int]
    assert(TableChangeStream.drain(spark, t, ckpt) { (_, v) => seen :+= v } == 2)
    assert(seen == Vector(2, 3), "resume re-delivers the failed version, skips v1")
  }

  test("drainToVersionedTable is exactly-once across a lost checkpoint") {
    val dir = scratch(); val t = dir + "/t"
    val dest = dir + "/feed"; val ckpt = dir + "/ckpt"
    VersionedTable.commit(spark, t, kv(1L -> "a", 2L -> "b"), append = false)
    VersionedTable.commit(spark, t, kv(3L -> "c"), append = true)
    assert(TableChangeStream.drainToVersionedTable(spark, t, dest, ckpt) == 2)
    val once = VersionedTable.read(spark, dest).collect().length
    // simulate a crash AFTER the feed commits but BEFORE the checkpoint
    // advance: roll the offset back to before version 2 and re-drain —
    // the replayed version must hit its marker and commit nothing
    val off = new org.apache.hadoop.fs.Path(ckpt, "offset")
    val fs = off.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(off, false)
    val out = fs.create(off, false)
    out.write("1\n".getBytes("UTF-8")); out.close()
    assert(TableChangeStream.drainToVersionedTable(spark, t, dest, ckpt) == 1)
    assert(VersionedTable.read(spark, dest).collect().length == once,
      "replayed version must not duplicate feed rows")
    assert(TableChangeStream.lastConsumed(spark, ckpt).contains(2))
  }

  test("fold of drained feed reconstructs the snapshot through merge + delete + overwrite") {
    val dir = scratch(); val t = dir + "/t"
    val dest = dir + "/feed"; val ckpt = dir + "/ckpt"
    VersionedTable.commit(spark, t,
      (1L to 50L).map(i => (i, s"v$i")).toDF("k", "v")
        .repartitionByRange(4, col("k")), append = false)
    TableChangeStream.drainToVersionedTable(spark, t, dest, ckpt)
    VersionedTable.mergeCommit(spark, t,
      Seq((10L, "UPD", false), (11L, "", true), (99L, "NEW", false))
        .toDF("k", "v", "__del"), "k", deleteCol = Some("__del"))
    VersionedTable.deleteCommit(spark, t, col("k") % 7 === 0)
    // logical overwrite: the feed sees every old row deleted + new inserted
    VersionedTable.commit(spark, t,
      VersionedTable.read(spark, t).filter(col("k") <= 20L), append = false)
    TableChangeStream.drainToVersionedTable(spark, t, dest, ckpt)
    val folded = TableChangeStream
      .foldFeed(VersionedTable.read(spark, dest))
      .select(col("k"), col("v"), col("n"))
      .as[(Long, String, Long)].collect().toSet
    val snap = VersionedTable.read(spark, t)
      .groupBy(col("k"), col("v")).agg(count(lit(1)).as("n"))
      .as[(Long, String, Long)].collect().toSet
    assert(folded == snap, "feed fold must equal the final snapshot")
  }

  test("layout-only commits (OPTIMIZE) drain as empty feeds by metadata") {
    val dir = scratch(); val t = dir + "/t"
    val dest = dir + "/feed"; val ckpt = dir + "/ckpt"
    VersionedTable.commit(spark, t,
      (1L to 64L).map(i => (i, s"v$i")).toDF("k", "v").repartition(16),
      append = false, statCols = Seq("k"))
    TableChangeStream.drainToVersionedTable(spark, t, dest, ckpt)
    val v2 = VersionedTable.compactCommit(spark, t, targetRows = 64L)
    assert(v2 == 2, "the fragments must actually compact")
    val feed = TableChangeStream.feedFor(spark, t, 2)
    assert(feed.isEmpty, "a content-preserving rewrite has no changes")
    assert(feed.columns.toSeq == Seq("k", "v", "change", "n"))
    // the drain advances the checkpoint past it without a dest commit
    assert(TableChangeStream.drainToVersionedTable(spark, t, dest, ckpt) == 1)
    assert(TableChangeStream.lastConsumed(spark, ckpt).contains(2))
    val folded = TableChangeStream
      .foldFeed(VersionedTable.read(spark, dest))
      .select(col("k"), col("v")).as[(Long, String)].collect().toSet
    assert(folded == VersionedTable.read(spark, t)
      .as[(Long, String)].collect().toSet)
  }

  test("schema evolution mid-history: fold still reconstructs the snapshot") {
    val dir = scratch(); val t = dir + "/t"
    val dest = dir + "/feed"; val ckpt = dir + "/ckpt"
    VersionedTable.commit(spark, t, kv(1L -> "a", 2L -> "b"), append = false)
    TableChangeStream.drainToVersionedTable(spark, t, dest, ckpt)
    // evolve: the appended commit carries a NEW column; earlier rows
    // surface it as NULL, and the feed/fold must track that exactly
    VersionedTable.commit(spark, t,
      Seq((3L, "c", 30L)).toDF("k", "v", "x"), append = true)
    VersionedTable.deleteCommit(spark, t, col("k") === 1L)
    TableChangeStream.drainToVersionedTable(spark, t, dest, ckpt)
    val folded = TableChangeStream
      .foldFeed(VersionedTable.read(spark, dest))
      .select(col("k"), col("v"), col("x"), col("n"))
      .as[(Long, String, Option[Long], Long)].collect().toSet
    assert(folded == Set((2L, "b", None, 1L), (3L, "c", Some(30L), 1L)),
      s"evolved fold mismatch: $folded")
  }

  test("vacuum past the checkpoint fails the drain loudly; within retention works") {
    val dir = scratch(); val t = dir + "/t"; val ckpt = dir + "/ckpt"
    VersionedTable.commit(spark, t, kv(1L -> "a"), append = false)
    VersionedTable.commit(spark, t, kv(2L -> "b"), append = true)
    VersionedTable.commit(spark, t, kv(3L -> "c"), append = true)
    TableChangeStream.drain(spark, t, ckpt)((_, _) => ())
    VersionedTable.commit(spark, t, kv(4L -> "d"), append = true)
    VersionedTable.commit(spark, t, kv(5L -> "e"), append = true)
    // retention keeps the checkpointed version (3): drain resumes fine
    VersionedTable.vacuum(spark, t, keepLast = 3) // keeps 3, 4, 5
    var seen = Vector.empty[Int]
    assert(TableChangeStream.drain(spark, t, ckpt) { (_, v) => seen :+= v } == 2)
    assert(seen == Vector(4, 5))
    // now vacuum PAST the checkpoint: the diff chain is gone — the
    // drain must fail loudly rather than re-emit a snapshot bootstrap
    // (which would double-count everything already delivered)
    VersionedTable.commit(spark, t, kv(6L -> "f"), append = true)
    VersionedTable.commit(spark, t, kv(7L -> "g"), append = true)
    VersionedTable.vacuum(spark, t, keepLast = 1) // retires v5 = checkpoint
    val e = intercept[IllegalArgumentException] {
      TableChangeStream.drain(spark, t, ckpt)((_, _) => ())
    }
    assert(e.getMessage.contains("vacuumed"))
  }

  test("drainToJdbc: warehouse follows; replays are version-guarded no-ops") {
    val dir = scratch(); val t = dir + "/t"; val ckpt = dir + "/ckpt"
    val sfx = math.abs(dir.hashCode).toString
    val url = s"jdbc:derby:memory:tcsjdbc$sfx;create=true"
    val sink = graft.sources.JdbcUpsertSink(url, s"sync_$sfx",
      "org.apache.derby.jdbc.EmbeddedDriver",
      keyCols = Seq("k"), orderCols = Seq("src_version"),
      createTableColumnTypes = Some("v VARCHAR(16)"))
    def warehouse(): Map[Long, (String, Int)] =
      spark.read.format("jdbc").option("url", url)
        .option("dbtable", s"sync_$sfx")
        .option("driver", "org.apache.derby.jdbc.EmbeddedDriver").load()
        .toDF("k", "v", "src_version")
        .as[(Long, String, Int)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
    VersionedTable.commit(spark, t,
      (1L to 10L).map(i => (i, s"v$i")).toDF("k", "v"), append = false)
    TableChangeStream.drainToJdbc(spark, t, ckpt, sink)
    assert(warehouse().keySet == (1L to 10L).toSet)
    // v2: update k=3, delete k=4; v3: re-insert k=4 with a new value
    VersionedTable.mergeCommit(spark, t,
      Seq((3L, "UPD", false), (4L, "", true)).toDF("k", "v", "__del"),
      "k", deleteCol = Some("__del"))
    VersionedTable.commit(spark, t, Seq((4L, "BACK")).toDF("k", "v"),
      append = true)
    TableChangeStream.drainToJdbc(spark, t, ckpt, sink)
    val synced = warehouse()
    assert(synced(3L)._1 == "UPD" && synced(4L)._1 == "BACK")
    // lost checkpoint: replay versions 2 and 3 — the v2 delete of k=4
    // must NOT take down the v3 re-insert (version-guarded delete),
    // and the upsert newer-guard keeps everything else fixed
    val off = new org.apache.hadoop.fs.Path(ckpt, "offset")
    val fsys = off.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.delete(off, false)
    val o = fsys.create(off, false); o.write("1\n".getBytes); o.close()
    TableChangeStream.drainToJdbc(spark, t, ckpt, sink)
    assert(warehouse() == synced, "replayed drain must be a no-op")
  }

  test("safeVacuum keeps the slowest consumer's checkpointed version") {
    val dir = scratch(); val t = dir + "/t"
    val fast = dir + "/fast"; val slow = dir + "/slow"
    (1 to 5).foreach(i => VersionedTable.commit(spark, t,
      kv(i.toLong -> s"v$i"), append = i > 1))
    TableChangeStream.drain(spark, t, fast)((_, _) => ())        // at 5
    // slow consumer stopped after version 2
    val off = new org.apache.hadoop.fs.Path(slow, "offset")
    val fsys = off.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.mkdirs(off.getParent)
    val o = fsys.create(off, false); o.write("2\n".getBytes); o.close()
    TableChangeStream.safeVacuum(spark, t, keepLast = 1,
      Seq(fast, slow))
    // retention stretched back to the slow consumer's version 2
    assert(VersionedTable.versions(spark, t) == Seq(2, 3, 4, 5))
    var seen = Vector.empty[Int]
    assert(TableChangeStream.drain(spark, t, slow) { (_, v) => seen :+= v } == 3)
    assert(seen == Vector(3, 4, 5))
    // with everyone caught up, the floor takes over
    TableChangeStream.safeVacuum(spark, t, keepLast = 1, Seq(fast, slow))
    assert(VersionedTable.versions(spark, t) == Seq(5))
  }

  test("streaming ingest in, change stream out: the table as a log") {
    val dir = scratch(); val t = dir + "/t"
    val src = dir + "/in"; val dest = dir + "/feed"
    val ingestCkpt = dir + "/ickpt"; val drainCkpt = dir + "/dckpt"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType)))
    kv(1L -> "a", 2L -> "b").write.parquet(src + "/batch1")
    IncrementalIngest.drainToVersionedTable(spark, src + "/*", schema,
      t, ingestCkpt)(identity)
    TableChangeStream.drainToVersionedTable(spark, t, dest, drainCkpt)
    kv(3L -> "c").write.parquet(src + "/batch2")
    IncrementalIngest.drainToVersionedTable(spark, src + "/*", schema,
      t, ingestCkpt)(identity)
    TableChangeStream.drainToVersionedTable(spark, t, dest, drainCkpt)
    val folded = TableChangeStream
      .foldFeed(VersionedTable.read(spark, dest))
      .select(col("k"), col("v")).as[(Long, String)].collect().toSet
    assert(folded == Set((1L, "a"), (2L, "b"), (3L, "c")),
      "exactly-once in, exactly-once out, fold == snapshot")
  }

  test("checkpoint ahead of the table head is rejected (wrong dir guard)") {
    val dir = scratch(); val t = dir + "/t"; val ckpt = dir + "/ckpt"
    val other = dir + "/other"
    VersionedTable.commit(spark, t, kv(1L -> "a"), append = false)
    VersionedTable.commit(spark, t, kv(2L -> "b"), append = true)
    VersionedTable.commit(spark, other, kv(9L -> "z"), append = false)
    TableChangeStream.drain(spark, t, ckpt)((_, _) => ())
    intercept[IllegalArgumentException] {
      TableChangeStream.drain(spark, other, ckpt)((_, _) => ())
    }
  }

  test("maxVersions rate-limits a drain; repeated capped drains converge") {
    val dir = scratch(); val t = dir + "/t"; val ckpt = dir + "/ckpt"
    VersionedTable.commit(spark, t, kv(1L -> "a"), append = false)
    (2L to 5L).foreach(i =>
      VersionedTable.commit(spark, t, kv(i -> s"v$i"), append = true))
    var seen = Vector.empty[Int]
    // a backlogged consumer caps each trigger at 2 versions
    assert(TableChangeStream.drain(spark, t, ckpt, maxVersions = 2) {
      (_, v) => seen :+= v } == 2)
    assert(seen == Vector(1, 2))
    assert(TableChangeStream.lastConsumed(spark, ckpt).contains(2))
    assert(TableChangeStream.drain(spark, t, ckpt, maxVersions = 2) {
      (_, v) => seen :+= v } == 2)
    assert(TableChangeStream.drain(spark, t, ckpt, maxVersions = 2) {
      (_, v) => seen :+= v } == 1)
    assert(seen == Vector(1, 2, 3, 4, 5), "capped drains must converge")
    assert(TableChangeStream.drain(spark, t, ckpt, maxVersions = 2) {
      (_, _) => fail() } == 0)
  }
}
