package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Metadata-only query paths over the versioned table: aggregate
  * pushdown into manifest stats ([[VersionedTable.statsAggregate]]),
  * file-skipped range deletes ([[VersionedTable.deleteCommitPruned]]),
  * and timestamp time travel ([[VersionedTable.readAsOf]]). */
class TableMetadataOpsSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("tmeta").toString + "/t"

  private def countScans[A](body: => A): (A, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val old = VersionedTable.statsScanNotifier
    VersionedTable.statsScanNotifier = (_, _) => n.incrementAndGet()
    val r = try body finally VersionedTable.statsScanNotifier = old
    (r, n.get())
  }

  private def oneRow(df: org.apache.spark.sql.DataFrame): Seq[Any] =
    df.collect().toSeq match { case Seq(r) => r.toSeq }

  test("statsAggregate == read.agg, zero scans on a covered snapshot") {
    val t = freshTable()
    val df = (1L to 300L).map(i =>
      (i, i.toDouble / 4, if (i % 7 == 0) null else s"s$i"))
      .toDF("k", "x", "s")
      .repartitionByRange(6, col("k"))
    VersionedTable.commit(spark, t, df, append = false,
      statCols = Seq("k", "x", "s"))
    VersionedTable.commit(spark, t,
      Seq((1000L, -5.0, "zzz")).toDF("k", "x", "s"), append = true)
    val (got, scans) = countScans {
      oneRow(VersionedTable.statsAggregate(spark, t, Seq("k", "x", "s")))
    }
    val want = oneRow(VersionedTable.read(spark, t).agg(
      count(lit(1)).as("n_rows"),
      min("k"), max("k"), min("x"), max("x"), min("s"), max("s")))
    assert(got == want, s"$got vs $want")
    assert(scans == 0, "covered snapshot must aggregate from metadata alone")
  }

  test("statsAggregate stays exact when a delete removes the extremes") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v")
        .repartitionByRange(4, col("k")),
      append = false, statCols = Seq("k"))
    // kill the global max and min — their files' stats now overstate
    VersionedTable.deleteCommit(spark, t,
      col("k") === 100L || col("k") === 1L)
    val (got, scans) = countScans {
      oneRow(VersionedTable.statsAggregate(spark, t, Seq("k")))
    }
    assert(got == Seq(98L, 2L, 99L), s"got $got")
    // the two tombstoned files are read for real (unavoidable); that
    // read is NOT a stats-coverage fallback
    assert(scans == 0)
  }

  test("count(*)-only: served from any stat column's nrows, exact under dv") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      (1L to 120L).toDF("k").repartitionByRange(4, col("k")),
      append = false, statCols = Seq("k"))
    VersionedTable.deleteCommit(spark, t, col("k") % 8 === 0)
    val (got, scans) = countScans {
      oneRow(VersionedTable.statsAggregate(spark, t, Seq.empty))
    }
    assert(got == Seq(105L), s"got $got") // 120 - 15 multiples of 8
    assert(scans == 0, "tombstoned-file reads are not stats fallbacks")
  }

  test("statsAggregate falls back to the scan when stats are missing") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      (1L to 50L).toDF("k").repartition(3), append = false) // no statCols
    val (got, scans) = countScans {
      oneRow(VersionedTable.statsAggregate(spark, t, Seq("k")))
    }
    assert(got == Seq(50L, 1L, 50L))
    assert(scans >= 1, "uncovered files must be counted as a scan fallback")
  }

  test("deleteCommitPruned == unpruned delete, opens only candidates") {
    def build(): String = {
      val t = freshTable()
      VersionedTable.commit(spark, t,
        (1L to 400L).map(i => (i, s"v$i")).toDF("k", "v")
          .repartitionByRange(8, col("k")),
        append = false, statCols = Seq("k"))
      t
    }
    val pruned = build()
    val plain = build()
    var seen: Option[(Int, Int)] = None
    val old = VersionedTable.deletePruneNotifier
    VersionedTable.deletePruneNotifier = (c, n) => seen = Some((c, n))
    try VersionedTable.deleteCommitPruned(spark, pruned,
      Seq(("k", 101L, 150L)), lit(true))
    finally VersionedTable.deletePruneNotifier = old
    VersionedTable.deleteCommit(spark, plain,
      col("k") >= 101L && col("k") <= 150L)
    val a = VersionedTable.read(spark, pruned)
      .as[(Long, String)].collect().sorted.toSeq
    val b = VersionedTable.read(spark, plain)
      .as[(Long, String)].collect().sorted.toSeq
    assert(a == b && a.size == 350)
    val (cand, total) = seen.get
    assert(total == 8 && cand <= 2,
      s"a 50-key range over 8 range-clustered files must skip most: " +
        s"$cand of $total")
  }

  test("readAsOf resolves commit times; predating timestamps error") {
    val t = freshTable()
    VersionedTable.commit(spark, t, Seq(1L).toDF("k"), append = false)
    val afterV1 = System.currentTimeMillis()
    Thread.sleep(30)
    VersionedTable.commit(spark, t, Seq(2L).toDF("k"), append = true)
    assert(VersionedTable.versionAsOf(spark, t, afterV1) == 1)
    assert(VersionedTable.readAsOf(spark, t, afterV1)
      .as[Long].collect().toSeq == Seq(1L))
    assert(VersionedTable.readAsOf(spark, t, System.currentTimeMillis())
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    intercept[IllegalArgumentException] {
      VersionedTable.versionAsOf(spark, t, 1000L) // 1970 predates the table
    }
  }

  test("partitionCounts: metadata-only when covered; exact under tombstones") {
    val t = freshTable()
    val rows = (0L until 60L).map(i => (i, i * 10L)).toDF("id", "ts")
    VersionedTable.commitTransformed(spark, t, rows, "ts", 100L,
      append = false, statCols = Seq("ts"))
    val tcol = "__part_div_ts_100"
    def wanted(): Map[Option[String], Long] = VersionedTable.read(spark, t)
      .groupBy(col(tcol).cast("string")).count()
      .as[(Option[String], Long)].collect().toMap
    var scans = 0
    VersionedTable.statsScanNotifier = (_, n) => scans += n
    try {
      // fully covered, no tombstones: pure metadata — ZERO files read
      val got = VersionedTable.partitionCounts(spark, t, tcol)
        .as[(Option[String], Long)].collect().toMap
      assert(got == wanted() && got.size == 6)
      assert(scans == 0, s"covered snapshot must scan nothing, read $scans")
      // tombstone two days: only their files are read
      VersionedTable.deleteCommit(spark, t,
        col("ts") < 200L && col("id") % 2 === 0)
      scans = 0
      val got2 = VersionedTable.partitionCounts(spark, t, tcol)
        .as[(Option[String], Long)].collect().toMap
      assert(got2 == wanted())
      assert(scans == 2, s"only the 2 tombstoned day files scan, read $scans")
    } finally VersionedTable.statsScanNotifier = (_, _) => ()
    // an untagged append is read for real but stays exact
    VersionedTable.commit(spark, t,
      Seq((999L, 150L)).toDF("id", "ts"), append = true)
    val got3 = VersionedTable.partitionCounts(spark, t, tcol)
      .as[(Option[String], Long)].collect().toMap
    assert(got3 == wanted())
  }

  test("readChangesAsOf == readChanges at the resolved versions") {
    val t = freshTable()
    VersionedTable.commit(spark, t, Seq((1L, "a")).toDF("k", "v"),
      append = false)
    val afterV1 = System.currentTimeMillis()
    Thread.sleep(30)
    VersionedTable.commit(spark, t, Seq((2L, "b")).toDF("k", "v"),
      append = true)
    val got = VersionedTable.readChangesAsOf(spark, t, afterV1,
      System.currentTimeMillis())
      .select("k", "v", "change", "n")
      .as[(Long, String, String, Long)].collect().toSeq
    assert(got == Seq((2L, "b", "insert", 1L)))
  }

  test("versionAsOf rides in-commit timestamps, surviving mtime loss") {
    val t = freshTable()
    VersionedTable.commit(spark, t, Seq((1L, "a")).toDF("k", "v"),
      append = false)
    Thread.sleep(30)
    val mid = System.currentTimeMillis()
    Thread.sleep(30)
    VersionedTable.commit(spark, t, Seq((2L, "b")).toDF("k", "v"),
      append = true)
    // a backup/restore cycle loses mtimes: fake it by pushing v1's
    // manifest mtime into the future — resolution must not move
    val f = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(t).toUri,
      spark.sparkContext.hadoopConfiguration)
    val m1 = new org.apache.hadoop.fs.Path(t, "_manifests/v00000001.json")
    f.setTimes(m1, System.currentTimeMillis() + 3600_000L, -1)
    assert(VersionedTable.versionAsOf(spark, t, mid) == 1)
    assert(VersionedTable.versionAsOf(spark, t,
      System.currentTimeMillis()) == 2)
  }

  test("partitionStats == grouped snapshot, zero scans when covered") {
    val t = freshTable()
    val df = (1L to 300L).map(i =>
      (i, if (i % 3 == 0) "a" else "b")).toDF("k", "p")
    VersionedTable.commitPartitioned(spark, t, df, "p",
      append = false, statCols = Seq("k"))
    val (got, scans) = countScans {
      VersionedTable.partitionStats(spark, t, "p", "k")
        .as[(String, Long, Long, Long)].collect().toSet
    }
    val want = VersionedTable.read(spark, t)
      .groupBy(col("p")).agg(count(lit(1)).as("n_rows"),
        min("k").as("mn"), max("k").as("mx"))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == want, s"$got vs $want")
    assert(got == Set(("a", 100L, 3L, 300L), ("b", 200L, 1L, 299L)))
    assert(scans == 0, "covered pure snapshot must be metadata-only")
  }

  test("partitionStats stays exact when a delete kills a partition's extremes") {
    val t = freshTable()
    VersionedTable.commitPartitioned(spark, t,
      (1L to 200L).map(i => (i, if (i <= 100) "x" else "y"))
        .toDF("k", "p"),
      "p", append = false, statCols = Seq("k"))
    // kill partition x's max and min: its file is tombstoned → scanned
    VersionedTable.deleteCommit(spark, t,
      col("k") === 100L || col("k") === 1L)
    val got = VersionedTable.partitionStats(spark, t, "p", "k")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == Set(("x", 98L, 2L, 99L), ("y", 100L, 101L, 200L)))
  }
}
