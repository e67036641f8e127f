package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Table-layer OPTIMIZE ([[VersionedTable.compactCommit]]) and
  * stats-pruned snapshot reads ([[VersionedTable.readPruned]]). */
class TableMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(name: String): String =
    Files.createTempDirectory(name).toString + "/t"

  test("compactCommit rewrites only the small files and purges their tombstones") {
    val t = fresh("vopt")
    // one BIG right-sized file (500 rows) + 20 tiny fragments (100 rows)
    VersionedTable.commit(spark, t,
      (1L to 500L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1),
      append = false)
    VersionedTable.commit(spark, t,
      (1000L to 1099L).map(i => (i, s"v$i")).toDF("k", "v")
        .repartition(20), append = true)
    // tombstones on BOTH populations
    VersionedTable.deleteCommit(spark, t,
      col("k") === 5L || col("k") === 1005L)
    val mBefore = VersionedTable.manifest(spark, t, 3)
    val bigFiles = VersionedTable.dataFilesOf(
      VersionedTable.manifest(spark, t, 1))
    val v4 = VersionedTable.compactCommit(spark, t, targetRows = 400L)
    val m4 = VersionedTable.manifest(spark, t, v4)
    val data4 = VersionedTable.dataFilesOf(m4)
    // the big file is carried verbatim; the 20 fragments collapse
    assert(bigFiles.forall(data4.contains))
    assert(data4.size < VersionedTable.dataFilesOf(mBefore).size,
      s"fragments must collapse: ${data4.size}")
    // the carried big file's tombstone survives (k=5 still deleted via
    // dv); the fragment tombstone (k=1005) was materialized — both
    // keys stay gone
    assert(VersionedTable.dvFilesOf(m4).size == 1)
    val keys = VersionedTable.read(spark, t).select("k").as[Long]
      .collect().toSet
    assert(!keys.contains(5L) && !keys.contains(1005L))
    assert(keys.size == 598)
    // time travel to the fragmented version still works
    assert(VersionedTable.read(spark, t, Some(2)).count() == 600L)
  }

  test("compactCommitBySize: byte-threshold decision, zero data reads") {
    val t = fresh("voptsz")
    // one big file + 16 fragments; no stat columns declared anywhere —
    // the size decision must still be metadata-only (getLen listing)
    VersionedTable.commit(spark, t,
      (1L to 2000L).map(i => (i, s"value-$i")).toDF("k", "v").coalesce(1),
      append = false)
    VersionedTable.commit(spark, t,
      (9000L to 9049L).map(i => (i, s"value-$i")).toDF("k", "v")
        .repartition(16), append = true)
    val bigFiles = VersionedTable.dataFilesOf(
      VersionedTable.manifest(spark, t, 1))
    val bigLen = {
      val p = new org.apache.hadoop.fs.Path(bigFiles.head)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(p).getLen
    }
    // threshold between fragment size and the big file's size
    val v3 = VersionedTable.compactCommitBySize(spark, t,
      targetBytes = bigLen)
    val m3 = VersionedTable.manifest(spark, t, v3)
    val data3 = VersionedTable.dataFilesOf(m3)
    assert(bigFiles.forall(data3.contains), "right-sized file carried")
    assert(data3.size < 17, s"fragments must collapse: ${data3.size}")
    assert(VersionedTable.read(spark, t).count() == 2050L)
    assert(VersionedTable.metaOf(m3).get("content_preserving")
      .contains("true"))
    // already-compacted: no-op
    assert(VersionedTable.compactCommitBySize(spark, t, bigLen) == v3)
  }

  test("compactCommit is a no-op when fewer than two files are small") {
    val t = fresh("vopt2")
    val v1 = VersionedTable.commit(spark, t,
      (1L to 100L).map(i => (i, i)).toDF("k", "x").coalesce(1),
      append = false)
    assert(VersionedTable.compactCommit(spark, t, targetRows = 10L) == v1)
    assert(VersionedTable.versions(spark, t) == Seq(v1))
  }

  test("clusterCommit makes readPruned selective and purges tombstones") {
    val t = fresh("vclust")
    // random layout: every file straddles the full key range
    VersionedTable.commit(spark, t,
      (1L to 1000L).map(i => (i * 467 % 1000, i)).toDF("k", "x")
        .repartition(8), append = false)
    VersionedTable.deleteCommit(spark, t, col("x") === 77L)
    val v3 = VersionedTable.clusterCommit(spark, t, Seq("k"), 8)
    val m3 = VersionedTable.manifest(spark, t, v3)
    assert(VersionedTable.dvFilesOf(m3).isEmpty,
      "the rewrite must materialize the tombstones")
    assert(VersionedTable.metaOf(m3)("clustered_by") == "k")
    // selective read: stats over the clustered files prune to ~1 of 8
    val stats = VersionedTable.files(spark, t, Seq("k"))
    val cand = FileSkipping.candidateFiles(stats, "k", 100L, 180L)
    assert(cand.size <= 2, s"clustered layout must prune: ${cand.size}")
    val got = VersionedTable.readPruned(spark, t, Seq(("k", 100L, 180L)))
      .as[(Long, Long)].collect().toSet
    val want = VersionedTable.read(spark, t)
      .filter(col("k") >= 100 && col("k") <= 180)
      .as[(Long, Long)].collect().toSet
    assert(got == want && !got.exists(_._2 == 77L))
  }

  test("readPruned == read + filter, and opens only candidate files") {
    val t = fresh("vprune")
    VersionedTable.commit(spark, t,
      (1L to 1000L).map(i => (i, i * 3)).toDF("k", "x")
        .repartitionByRange(10, col("k")), append = false)
    VersionedTable.deleteCommit(spark, t, col("k") % 100 === 0)
    val got = VersionedTable.readPruned(spark, t, Seq(("k", 150L, 250L)))
      .as[(Long, Long)].collect().toSet
    val want = VersionedTable.read(spark, t)
      .filter(col("k") >= 150 && col("k") <= 250)
      .as[(Long, Long)].collect().toSet
    assert(got == want && got.size == 100) // 101 keys minus k=200
    // empty range: correct schema, zero rows
    val none = VersionedTable.readPruned(spark, t, Seq(("k", 5000L, 6000L)))
    assert(none.count() == 0L && none.columns.toSeq == Seq("k", "x"))
  }

  test("compactCommitWhere: only the scoped partition's fragments collapse") {
    val t = fresh("voptw")
    def rows(p: String, lo: Long, n: Long) =
      (lo until lo + n).map(i => (i, p)).toDF("k", "p")
    // both partitions fragmented: 3 files each of ~40 rows
    VersionedTable.commitPartitioned(spark, t,
      rows("hot", 1L, 120L).repartition(3)
        .unionByName(rows("cold", 1000L, 120L).repartition(3)),
      "p", append = false, statCols = Seq("k"))
    val before = VersionedTable.manifest(spark, t, 1)
    val coldBefore = VersionedTable.partitionsOf(before)
      .collect { case ("p", "cold", f) => f }.toSet
    val scans = new java.util.concurrent.atomic.AtomicInteger(0)
    val old = VersionedTable.statsScanNotifier
    VersionedTable.statsScanNotifier = (_, _) => { scans.incrementAndGet(); () }
    val v2 = try VersionedTable.compactCommitWhere(spark, t,
      targetRows = 200L, "p", Seq("hot"))
    finally VersionedTable.statsScanNotifier = old
    val after = VersionedTable.manifest(spark, t, v2)
    val hotAfter = VersionedTable.partitionsOf(after)
      .collect { case ("p", "hot", f) => f }
    val coldAfter = VersionedTable.partitionsOf(after)
      .collect { case ("p", "cold", f) => f }.toSet
    assert(hotAfter.size == 1, s"hot fragments must collapse: $hotAfter")
    assert(coldAfter == coldBefore, "out-of-scope files must be carried verbatim")
    assert(scans.get() == 0, "covered table: decision must be metadata-only")
    // rewritten files stay tagged: pruned reads keep working
    assert(VersionedTable.readPartitions(spark, t, "p", Seq("hot"))
      .count() == 120L)
    assert(VersionedTable.read(spark, t).count() == 240L)
    // content-preserving: change-feed consumers skip it
    assert(VersionedTable.metaOf(after).get("content_preserving")
      .contains("true"))
    // scoping a partition with < 2 fragments is a no-op
    assert(VersionedTable.compactCommitWhere(spark, t, 200L, "p",
      Seq("hot")) == v2)
  }

  test("clusterCommitIncremental re-lays only post-baseline files") {
    val t = fresh("vinc")
    VersionedTable.commit(spark, t,
      (1L to 800L).map(i => (i, s"v$i")).toDF("k", "v").repartition(8),
      append = false)
    // baseline: full cluster (random layout -> 8 range files)
    val v2 = VersionedTable.clusterCommit(spark, t, Seq("k"), 8)
    val clusteredFiles = VersionedTable.dataFilesOf(
      VersionedTable.manifest(spark, t, v2)).toSet
    // fresh ingest arrives unclustered, spread over all key ranges
    VersionedTable.commit(spark, t,
      (801L to 1000L).map(i => (i * 31 % 997, s"n$i")).toDF("k", "v")
        .repartition(4), append = true)
    val v4 = VersionedTable.clusterCommitIncremental(spark, t,
      Seq("k"), targetRows = 100L)
    val m4 = VersionedTable.manifest(spark, t, v4)
    val data4 = VersionedTable.dataFilesOf(m4).toSet
    // every baseline file carried verbatim; the 4 fresh files re-laid
    assert(clusteredFiles.subsetOf(data4),
      "clustered files must be carried, not rewritten")
    assert((data4 -- clusteredFiles).nonEmpty)
    assert(VersionedTable.metaOf(m4).get("content_preserving")
      .contains("true"))
    // rows intact and the new layout keeps full stats coverage:
    // a narrow range read opens few of the files
    assert(VersionedTable.read(spark, t).count() == 1000L)
    val cands = new java.util.concurrent.atomic.AtomicInteger(-1)
    val old = VersionedTable.statsScanNotifier
    VersionedTable.statsScanNotifier = (_, _) => { cands.incrementAndGet(); () }
    try {
      val got = VersionedTable.readPruned(spark, t, Seq(("k", 1L, 50L)))
        .count()
      val want = VersionedTable.read(spark, t)
        .filter(col("k") >= 1L && col("k") <= 50L).count()
      assert(got == want)
    } finally VersionedTable.statsScanNotifier = old
    assert(cands.get() == -1, "post-incremental reads stay metadata-only")
    // caught up: no-op
    assert(VersionedTable.clusterCommitIncremental(spark, t, Seq("k"),
      100L) == v4)
    // never-clustered table bootstraps via the full cluster
    val t2 = fresh("vinc2")
    VersionedTable.commit(spark, t2,
      (1L to 100L).map(i => (i, "x")).toDF("k", "v").repartition(2),
      append = false)
    val b = VersionedTable.clusterCommitIncremental(spark, t2, Seq("k"), 50L)
    assert(VersionedTable.metaOf(VersionedTable.manifest(spark, t2, b))
      .get("clustered_by").contains("k"))
  }

  test("clusterCommit on 3 columns: every dimension prunes independently") {
    val t = fresh("vz3")
    val df = (1L to 4096L).map(i =>
      (i * 7 % 32, i * 13 % 32, i * 29 % 32, i)).toDF("a", "b", "c", "pay")
    VersionedTable.commit(spark, t, df.repartition(8), append = false)
    VersionedTable.clusterCommit(spark, t, Seq("a", "b", "c"), 8)
    val stats = VersionedTable.files(spark, t, Seq("a", "b", "c"))
    val total = stats.count()
    assert(total >= 8)
    for (dim <- Seq("a", "b", "c")) {
      // a half-space on ANY dimension leaves candidate files behind —
      // the property a 1-D sort can only give its own column
      val cand = stats.filter(col(s"${dim}_min") <= 7L).count()
      assert(cand < total, s"$dim: $cand of $total files — no pruning")
      val got = VersionedTable.readPruned(spark, t, Seq((dim, 0L, 7L)))
        .agg(count(lit(1)), sum("pay")).collect()(0).toSeq
      val want = VersionedTable.read(spark, t)
        .filter(col(dim) >= 0L && col(dim) <= 7L)
        .agg(count(lit(1)), sum("pay")).collect()(0).toSeq
      assert(got == want, s"$dim: $got vs $want")
    }
  }

  test("clusterCommit mixes STRING and numeric dimensions: both prune") {
    val t = fresh("vzstr")
    // date string x numeric key, deliberately uncorrelated
    val df = (1L to 4096L).map { i =>
      val d = java.time.LocalDate.of(2024, 1, 1).plusDays(i % 330).toString
      (d, i * 37 % 1000, i)
    }.toDF("d", "k", "pay")
    VersionedTable.commit(spark, t, df.repartition(8), append = false)
    VersionedTable.clusterCommit(spark, t, Seq("d", "k"), 16)
    val stats = VersionedTable.files(spark, t, Seq("k"))
    val total = stats.count()
    // numeric half-space prunes
    val candK = stats.filter(col("k_min") <= 250L).count()
    assert(candK < total, s"k: $candK of $total")
    // string month-range prunes (lex-rank kept range locality)
    val head = VersionedTable.versions(spark, t).last
    val lines = VersionedTable.manifest(spark, t, head)
    val candD = VersionedTable.scanCandidates(lines,
      Seq(VersionedTable.ScanPred.StrBetween("d",
        "2024-03-01", "2024-03-31"))).size
    assert(candD < total, s"d: $candD of $total")
    // and both reads stay row-exact
    val gotD = VersionedTable.readPrunedString(spark, t, "d",
      "2024-03-01", "2024-03-31").agg(count(lit(1)), sum("pay"))
      .collect()(0).toSeq
    val wantD = VersionedTable.read(spark, t)
      .filter(col("d") >= "2024-03-01" && col("d") <= "2024-03-31")
      .agg(count(lit(1)), sum("pay")).collect()(0).toSeq
    assert(gotD == wantD)
    val gotK = VersionedTable.readPruned(spark, t, Seq(("k", 0L, 250L)))
      .agg(count(lit(1)), sum("pay")).collect()(0).toSeq
    val wantK = VersionedTable.read(spark, t)
      .filter(col("k").between(0L, 250L))
      .agg(count(lit(1)), sum("pay")).collect()(0).toSeq
    assert(gotK == wantK)
  }

  test("readPrunedString: date-string ranges prune from exact st strings") {
    val t = fresh("vstr")
    val days = (0 until 365).map(d =>
      (java.time.LocalDate.of(2024, 1, 1).plusDays(d).toString, d.toLong))
    VersionedTable.commit(spark, t,
      days.toDF("d", "x").repartitionByRange(12, col("d")),
      append = false, statCols = Seq("d"))
    val stats = VersionedTable.files(spark, t, Seq("d"))
    val cand = stats.filter(col("d_min") <= "2024-03-31" &&
      col("d_max") >= "2024-03-01").count()
    assert(cand < stats.count(),
      s"a one-month range must skip most of 12 files, got $cand")
    val got = VersionedTable.readPrunedString(spark, t, "d",
      "2024-03-01", "2024-03-31").agg(count(lit(1)), sum("x"))
      .collect()(0).toSeq
    val want = VersionedTable.read(spark, t)
      .filter(col("d") >= "2024-03-01" && col("d") <= "2024-03-31")
      .agg(count(lit(1)), sum("x")).collect()(0).toSeq
    assert(got == want && got.head == 31L)
    // out-of-range: empty frame, correct schema
    val none = VersionedTable.readPrunedString(spark, t, "d",
      "2030-01-01", "2030-12-31")
    assert(none.count() == 0L && none.columns.toSeq == Seq("d", "x"))
  }

  test("commitIdempotent: replays are no-ops, cache crash-safe") {
    val t = fresh("vtxn")
    val v1 = VersionedTable.commitIdempotent(spark, t,
      Seq((1L, "a")).toDF("k", "v"), append = false, "loader", 1L)
    // replay of txn 1: no new version, no new rows
    assert(VersionedTable.commitIdempotent(spark, t,
      Seq((1L, "dup")).toDF("k", "v"), append = true, "loader", 1L) == v1)
    assert(VersionedTable.read(spark, t).count() == 1L)
    // next txn lands
    val v2 = VersionedTable.commitIdempotent(spark, t,
      Seq((2L, "b")).toDF("k", "v"), append = true, "loader", 2L)
    assert(v2 == v1 + 1 && VersionedTable.read(spark, t).count() == 2L)
    // ANOTHER app's txn 1 is independent
    VersionedTable.commitIdempotent(spark, t,
      Seq((3L, "c")).toDF("k", "v"), append = true, "other", 1L)
    assert(VersionedTable.read(spark, t).count() == 3L)
    // crash between commit and cache write: the commit metadata is
    // authoritative — delete the cache and replay txn 2
    val f = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(t).toUri,
      spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(t, "_txn/loader"), false)
    assert(VersionedTable.commitIdempotent(spark, t,
      Seq((2L, "dup")).toDF("k", "v"), append = true, "loader", 2L)
      == VersionedTable.versions(spark, t).last)
    assert(VersionedTable.read(spark, t).count() == 3L)
    // and the history scan repaired the cache (fast path works again)
    assert(f.exists(new org.apache.hadoop.fs.Path(t, "_txn/loader")))
  }

  test("vacuumRetention: out-of-window versions sweep, in-window survive") {
    val t = fresh("vret")
    VersionedTable.commit(spark, t,
      Seq((1L, "a")).toDF("k", "v"), append = false)
    VersionedTable.commit(spark, t,
      Seq((2L, "b")).toDF("k", "v"), append = true)
    Thread.sleep(1200)
    VersionedTable.commit(spark, t,
      Seq((3L, "c")).toDF("k", "v"), append = true)
    // window covers only the last commit: v1/v2 retire, v3 survives
    VersionedTable.vacuumRetention(spark, t, retentionMs = 1000L)
    assert(VersionedTable.versions(spark, t) == Seq(3))
    assert(VersionedTable.read(spark, t).count() == 3L)
    // an all-old table always keeps its head
    Thread.sleep(1200)
    VersionedTable.vacuumRetention(spark, t, retentionMs = 1000L)
    assert(VersionedTable.versions(spark, t) == Seq(3))
    assert(VersionedTable.read(spark, t).count() == 3L)
  }

  /** Forge a committed version's in-commit timestamp — the restore /
    * clock-skew scenario retention sweeps must survive. Handles both
    * manifest frames: full (`meta\tcommit_ts=` line) and delta (ts
    * rides the header's third field). */
  private def setCommitTs(t: String, v: Int, ts: Long): Unit = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(t, "_manifests", f"v$v%08d.json")
    val out = java.nio.file.Files.readAllLines(p).asScala.toSeq.map { l =>
      if (l.startsWith("meta\tcommit_ts=")) s"meta\tcommit_ts=$ts"
      else if (l.startsWith("delta\t"))
        s"delta\t${l.split("\t")(1)}\t$ts"
      else l
    }
    java.nio.file.Files.write(p, out.asJava)
    // drop the local-FS checksum sidecar the out-of-band edit broke
    java.nio.file.Files.deleteIfExists(
      p.getParent.resolve(s".${p.getFileName}.crc"))
    ()
  }

  test("vacuumRetention keeps every version at or above the oldest in-window one") {
    val t = fresh("vretnm")
    VersionedTable.commit(spark, t,
      Seq((1L, "a")).toDF("k", "v"), append = false)
    VersionedTable.commit(spark, t,
      Seq((2L, "b")).toDF("k", "v"), append = true)
    VersionedTable.commit(spark, t,
      Seq((3L, "c")).toDF("k", "v"), append = true)
    // NON-monotone commit times (restored v1 manifest with a fresh
    // stamp, older v2/v3): v1 is IN the window, so nothing may retire
    // — a trailing-count sweep would irreversibly retire v1 and v2
    val now = System.currentTimeMillis()
    setCommitTs(t, 1, now)
    setCommitTs(t, 2, now - 7200000L)
    setCommitTs(t, 3, now - 7200000L)
    VersionedTable.vacuumRetention(spark, t, retentionMs = 3600000L)
    assert(VersionedTable.versions(spark, t) == Seq(1, 2, 3))
    assert(VersionedTable.read(spark, t).count() == 3L)
  }

  test("compactCommitWhere surfaces a lost version race uniformly") {
    val t = fresh("voptwc")
    def rows(p: String, lo: Long, n: Long) =
      (lo until lo + n).map(i => (i, p)).toDF("k", "p")
    VersionedTable.commitPartitioned(spark, t,
      rows("hot", 1L, 120L).repartition(3), "p", append = false,
      statCols = Seq("k"))
    val fired = new java.util.concurrent.atomic.AtomicInteger(0)
    VersionedTable.maintenanceAttemptNotifier = { _ =>
      if (fired.incrementAndGet() == 1)
        VersionedTable.commitPartitioned(spark, t,
          rows("cold", 1000L, 5L).coalesce(1), "p", append = true)
    }
    val e = try intercept[RuntimeException] {
      VersionedTable.compactCommitWhere(spark, t, targetRows = 200L,
        "p", Seq("hot"))
    } finally VersionedTable.maintenanceAttemptNotifier = _ => ()
    assert(e.getMessage.contains("already committed"))
    // the INTERNAL conflict type must not escape: callers get the
    // same RuntimeException contract as compactCommit
    assert(e.getClass.getSimpleName != "VersionConflict")
  }
}
