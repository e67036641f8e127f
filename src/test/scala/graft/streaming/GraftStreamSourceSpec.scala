package graft.streaming

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.sources.VersionedTable

/** [[GraftStreamSourceProvider]]: the versioned table as a Structured
  * Streaming source — bootstrap, per-commit CDC batches, rate limit,
  * startingVersion, exactly-once across restarts. */
class GraftStreamSourceSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(name: String): String =
    Files.createTempDirectory(name).toString

  /** Run the stream to caught-up (AvailableNow), collecting every
    * micro-batch; returns (rows, batchCount). */
  private def drain(table: String, ckpt: String,
                    options: Map[String, String] = Map.empty)
      : (Seq[org.apache.spark.sql.Row], Int) = {
    val buf = mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    var batches = 0
    val reader = options.foldLeft(
      spark.readStream.format("graft")) { case (r, (k, v)) => r.option(k, v) }
    val q = reader.load(table)
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        val rows = b.collect()
        buf.synchronized { buf ++= rows; if (rows.nonEmpty) batches += 1 }
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    (buf.toSeq, batches)
  }

  test("cdc stream: bootstrap + per-commit feeds fold to the snapshot") {
    val w = fresh("gss"); val t = s"$w/t"; val ckpt = s"$w/ckpt"
    VersionedTable.commit(spark, t,
      (1L to 50L).map(k => (k, k * 10)).toDF("k", "amt"),
      append = false, statCols = Seq("k"))
    val (b1, _) = drain(t, ckpt)
    // bootstrap: the v1 snapshot as inserts, n=1, tagged _commit_version=1
    assert(b1.size == 50 &&
      b1.forall(r => r.getAs[String]("change") == "insert" &&
        r.getAs[Long]("n") == 1L && r.getAs[Long]("_commit_version") == 1L))
    // mutate: append, COW merge (update), DV delete — three commits
    VersionedTable.commit(spark, t,
      Seq((100L, 1L)).toDF("k", "amt"), append = true)
    VersionedTable.mergeCommit(spark, t,
      Seq((5L, 999L)).toDF("k", "amt"), "k")
    VersionedTable.deleteCommit(spark, t, col("k") === 7L)
    val (b2, _) = drain(t, ckpt)
    assert(b2.nonEmpty && b2.forall(_.getAs[Long]("_commit_version") > 1L),
      "a caught-up checkpoint must not re-deliver the bootstrap")
    // fold the WHOLE stream: sum of signed n per row == final snapshot
    val all = b1 ++ b2
    val folded = all
      .groupBy(r => (r.getAs[Long]("k"), r.getAs[Long]("amt")))
      .view.mapValues(_.map(r =>
        if (r.getAs[String]("change") == "insert") r.getAs[Long]("n")
        else -r.getAs[Long]("n")).sum)
      .filter(_._2 != 0).toMap
    assert(folded.values.forall(_ == 1L))
    val want = VersionedTable.read(spark, t)
      .as[(Long, Long)].collect().map(t2 => t2 -> 1L).toMap
    assert(folded == want, "stream fold must rebuild the table")
  }

  test("inserts mode drops feed columns and expands multiplicities") {
    val w = fresh("gssi"); val t = s"$w/t"
    // duplicate rows: multiset semantics must survive the expansion
    VersionedTable.commit(spark, t,
      Seq((1L, 10L), (1L, 10L), (2L, 20L)).toDF("k", "amt"),
      append = false)
    val (rows, _) = drain(t, s"$w/ckpt", Map("mode" -> "inserts"))
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).sorted ==
      Seq((1L, 10L), (1L, 10L), (2L, 20L)))
    assert(rows.head.schema.fieldNames.toSeq == Seq("k", "amt"))
  }

  test("maxVersionsPerBatch rate-limits catch-up into multiple batches") {
    val w = fresh("gssr"); val t = s"$w/t"
    VersionedTable.commit(spark, t,
      Seq((1L, 1L)).toDF("k", "amt"), append = false)
    VersionedTable.commit(spark, t,
      Seq((2L, 2L)).toDF("k", "amt"), append = true)
    VersionedTable.commit(spark, t,
      Seq((3L, 3L)).toDF("k", "amt"), append = true)
    val (rows, batches) = drain(t, s"$w/ckpt",
      Map("maxVersionsPerBatch" -> "1"))
    // one row per version's feed; one VERSION per micro-batch
    assert(rows.size == 3, s"expected 3 feed rows, got ${rows.size}")
    assert(rows.map(_.getAs[Long]("_commit_version")).sorted ==
      Seq(1L, 2L, 3L))
    assert(batches == 3,
      s"rate limit must split catch-up into 3 batches, got $batches")
  }

  test("startingVersion skips the snapshot bootstrap") {
    val w = fresh("gsss"); val t = s"$w/t"
    VersionedTable.commit(spark, t,
      (1L to 30L).map(k => (k, k)).toDF("k", "amt"), append = false)
    VersionedTable.commit(spark, t,
      Seq((100L, 100L)).toDF("k", "amt"), append = true)
    val (rows, _) = drain(t, s"$w/ckpt", Map("startingVersion" -> "2"))
    assert(rows.map(_.getAs[Long]("k")).toSeq == Seq(100L),
      "only the v2 append may stream")
  }

  test("default catch-up batches are bounded at 64 versions") {
    val w = fresh("gssb"); val t = s"$w/t"
    VersionedTable.commit(spark, t,
      Seq((0L, 0L)).toDF("k", "amt"), append = false)
    (1 to 69).foreach(i => VersionedTable.commit(spark, t,
      Seq((i.toLong, i.toLong)).toDF("k", "amt"), append = true))
    val (rows, batches) = drain(t, s"$w/ckpt")
    assert(rows.size == 70, s"one insert per version, got ${rows.size}")
    assert(batches == 2,
      s"70 pending versions under the default 64-cap must drain as " +
        s"64+6, got $batches")
  }

  test("a vacuumed checkpoint fails loudly instead of re-bootstrapping") {
    val w = fresh("gssv"); val t = s"$w/t"
    VersionedTable.commit(spark, t,
      Seq((1L, 1L)).toDF("k", "amt"), append = false)
    VersionedTable.commit(spark, t,
      Seq((2L, 2L)).toDF("k", "amt"), append = true)
    drain(t, s"$w/ckpt") // checkpoint lands at v2
    VersionedTable.commit(spark, t,
      Seq((3L, 3L)).toDF("k", "amt"), append = true)
    VersionedTable.commit(spark, t,
      Seq((4L, 4L)).toDF("k", "amt"), append = true)
    VersionedTable.vacuum(spark, t, keepLast = 1) // retires v2, v3
    // silently re-emitting the v4 snapshot would double-count every
    // row the consumer already folded — the batch must throw instead
    val e = intercept[Exception] { drain(t, s"$w/ckpt") }
    def messages(x: Throwable): Seq[String] =
      Option(x).toSeq.flatMap(t2 =>
        Option(t2.getMessage).toSeq ++ messages(t2.getCause))
    assert(messages(e).exists(_.contains("vacuumed")),
      s"got: ${messages(e).mkString(" | ")}")
  }

  test("layout-only commits stream nothing") {
    val w = fresh("gssc"); val t = s"$w/t"
    VersionedTable.commit(spark, t,
      (1L to 40L).map(k => (k, k)).toDF("k", "amt")
        .repartition(8), append = false)
    drain(t, s"$w/ckpt") // consume the bootstrap
    VersionedTable.compactCommit(spark, t, targetRows = 1000L)
    val (rows, _) = drain(t, s"$w/ckpt")
    assert(rows.isEmpty, "OPTIMIZE must not re-deliver rows")
  }
}
