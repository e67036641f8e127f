package graft.sources

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Manifest-persisted per-file stats (st lines): commit-time emission,
  * inheritance through every commit/rewrite path, and — the 100 TB
  * contract — that [[VersionedTable.mergeCommit]]/[[VersionedTable
  * .compactCommit]]/[[VersionedTable.readPruned]]/[[VersionedTable
  * .files]] on a stats-covered table make their file-level decisions
  * from the manifest alone, with ZERO on-the-fly stats scans (pinned
  * via the statsScanNotifier seam). */
class ManifestStatsSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("vstats").toString + "/t"

  private def sample: DataFrame =
    (1L to 100L).map(k => (k, s"g${k % 4}", k * 1.5))
      .toDF("k", "g", "amt")

  /** Run `body` counting fallback stats scans; restores the seam. */
  private def countingScans[A](body: => A): (A, Int) = {
    val n = new AtomicInteger(0)
    val old = VersionedTable.statsScanNotifier
    VersionedTable.statsScanNotifier = (_, _) => n.incrementAndGet()
    try { val r = body; (r, n.get()) }
    finally VersionedTable.statsScanNotifier = old
  }

  private def rows(df: DataFrame): Set[(Long, String, Double)] =
    df.select("k", "g", "amt").as[(Long, String, Double)].collect().toSet

  test("commit with statCols persists st lines; appends inherit the stat schema") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      sample.repartitionByRange(4, col("k")), append = false,
      statCols = Seq("k"))
    val m1 = VersionedTable.manifest(spark, t, 1)
    assert(VersionedTable.statColsOf(m1) == Seq("k"))
    // append WITHOUT redeclaring — the stat schema is the table's
    VersionedTable.commit(spark, t,
      (101L to 120L).map(k => (k, "g9", k * 1.5)).toDF("k", "g", "amt"),
      append = true)
    val m2 = VersionedTable.manifest(spark, t, 2)
    // every data file (carried and new) covered
    val covered = VersionedTable.files(spark, t, Seq("k"))
    assert(covered.count() == VersionedTable.dataFilesOf(m2).size)
    assert(rows(VersionedTable.read(spark, t)) ==
      rows(sample.unionByName(
        (101L to 120L).map(k => (k, "g9", k * 1.5)).toDF("k", "g", "amt"))))
  }

  test("merge on a stats-covered table decides touched files with zero stats scans") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      sample.repartitionByRange(4, col("k")), append = false,
      statCols = Seq("k"))
    val (v2, scans) = countingScans {
      VersionedTable.mergeCommit(spark, t,
        Seq((5L, "gX", 555.0), (200L, "gN", 2.0)).toDF("k", "g", "amt"), "k")
    }
    assert(scans == 0, "stats-covered merge must not scan for stats")
    // correctness identical to the algebra
    assert(rows(VersionedTable.read(spark, t)) ==
      rows(sample.filter(col("k") =!= 5L).unionByName(
        Seq((5L, "gX", 555.0), (200L, "gN", 2.0)).toDF("k", "g", "amt"))))
    // file-level COW still holds: only the k=5-range file was rewritten
    val m1 = VersionedTable.manifest(spark, t, 1)
    val m2 = VersionedTable.manifest(spark, t, v2)
    val carried = VersionedTable.dataFilesOf(m1)
      .count(f => VersionedTable.dataFilesOf(m2).contains(f))
    assert(carried == 3, s"expected 3 of 4 files carried, got $carried")
    // and the NEW manifest is still fully stats-covered (a second
    // merge also decides scan-free)
    val (_, scans2) = countingScans {
      VersionedTable.mergeCommit(spark, t,
        Seq((7L, "gY", 7.0)).toDF("k", "g", "amt"), "k")
    }
    assert(scans2 == 0, "coverage must survive a merge rewrite")
  }

  test("analyzeCommit backfills coverage; a later merge decides scan-free") {
    val t = freshTable()
    // legacy table: committed WITHOUT a stat schema
    VersionedTable.commit(spark, t,
      sample.repartitionByRange(4, col("k")), append = false)
    val (_, before) = countingScans {
      VersionedTable.mergeCommit(spark, t,
        Seq((5L, "gA", 5.0)).toDF("k", "g", "amt"), "k")
    }
    assert(before > 0, "uncovered merge must pay the stats scan")
    val va = VersionedTable.analyzeCommit(spark, t, Seq("k"))
    assert(va == VersionedTable.versions(spark, t).last)
    // the analyze commit is content-preserving: no row changed
    assert(VersionedTable.readChanges(spark, t, va - 1, va).count() == 0L)
    assert(VersionedTable.metaOf(VersionedTable.manifest(spark, t, va))
      .get("analyzed").contains("k"))
    val (_, after) = countingScans {
      VersionedTable.mergeCommit(spark, t,
        Seq((7L, "gB", 7.0)).toDF("k", "g", "amt"), "k")
    }
    assert(after == 0, "post-ANALYZE merge must decide from the manifest")
    assert(rows(VersionedTable.read(spark, t)) ==
      rows(sample.filter(col("k") =!= 5L && col("k") =!= 7L)
        .unionByName(Seq((5L, "gA", 5.0), (7L, "gB", 7.0))
          .toDF("k", "g", "amt"))))
    // idempotent: fully covered -> no new version
    val again = VersionedTable.analyzeCommit(spark, t, Seq("k"))
    assert(again == VersionedTable.versions(spark, t).last)
    assert(VersionedTable.versions(spark, t).size == va + 1) // +1 = merge
  }

  test("analyzeCommit covers only MISSING pairs; adopted files complete") {
    val t = freshTable(); val stg = freshTable()
    VersionedTable.commit(spark, t,
      sample.repartitionByRange(2, col("k")), append = false,
      statCols = Seq("k"))
    // staged table without stats, adopted in (adopt computes target
    // stat cols for adopted files; a NEW analyze col covers everything)
    VersionedTable.commit(spark, stg,
      Seq((500L, "gZ", 1.0)).toDF("k", "g", "amt"), append = false)
    VersionedTable.adoptCommit(spark, t, stg)
    val va = VersionedTable.analyzeCommit(spark, t, Seq("k", "amt"))
    val st = VersionedTable.manifest(spark, t, va)
      .filter(_.startsWith("st\t"))
    val data = VersionedTable.dataFilesOf(VersionedTable.manifest(spark, t, va))
    // every (file, col) pair covered exactly once
    assert(st.size == data.size * 2, s"got ${st.size} st lines")
    assert(st.distinct.size == st.size)
  }

  test("compact on a stats-covered table finds small files without reading data") {
    val t = freshTable()
    VersionedTable.commit(spark, t, sample.repartition(8),
      append = false, statCols = Seq("k"))
    val (v2, scans) = countingScans {
      VersionedTable.compactCommit(spark, t, targetRows = 1000L)
    }
    assert(scans == 0, "stats-covered compact must decide from the manifest")
    assert(VersionedTable.dataFilesOf(
      VersionedTable.manifest(spark, t, v2)).size < 8)
    assert(rows(VersionedTable.read(spark, t)) == rows(sample))
  }

  test("readPruned and files() serve from the manifest when covered") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      sample.repartitionByRange(4, col("k")), append = false,
      statCols = Seq("k"))
    val (pruned, scans) = countingScans {
      VersionedTable.readPruned(spark, t, Seq(("k", 10L, 20L))).collect()
    }
    assert(scans == 0)
    assert(pruned.map(_.getLong(0)).sorted.toSeq == (10L to 20L))
    // files(): manifest-served stats == scan-computed stats
    val (fromManifest, scansF) = countingScans {
      VersionedTable.files(spark, t, Seq("k"))
        .select("file", "n_rows", "k_min", "k_max", "k_nulls")
        .as[(String, Long, Long, Long, Long)].collect().toSet
    }
    assert(scansF == 0)
    val m = VersionedTable.manifest(spark, t, 1)
    val scanned = FileSkipping.collectStatsFiles(spark,
      VersionedTable.dataFilesOf(m), Seq("k"))
      .select("file", "n_rows", "k_min", "k_max", "k_nulls")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    def normed(s: Set[(String, Long, Long, Long, Long)]) =
      s.map { case (f, a, b, c, d) =>
        (new org.apache.hadoop.fs.Path(f).toUri.getPath, a, b, c, d) }
    assert(normed(fromManifest) == normed(scanned))
  }

  test("legacy tables without st lines fall back to the scan and stay correct") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      sample.repartitionByRange(4, col("k")), append = false) // no stats
    val (_, scans) = countingScans {
      VersionedTable.mergeCommit(spark, t,
        Seq((5L, "gX", 555.0)).toDF("k", "g", "amt"), "k")
      VersionedTable.compactCommit(spark, t, targetRows = 10L)
    }
    assert(scans >= 2, "uncovered table must pay (and survive) the scan path")
    assert(rows(VersionedTable.read(spark, t)) ==
      rows(sample.filter(col("k") =!= 5L)
        .unionByName(Seq((5L, "gX", 555.0)).toDF("k", "g", "amt"))))
  }

  test("stats survive delete commits, dynamic overwrite, and cluster rewrites") {
    val t = freshTable()
    VersionedTable.commitPartitioned(spark, t, sample, "g",
      append = false, statCols = Seq("k"))
    VersionedTable.deleteCommit(spark, t, col("k") % 10 === 0)
    VersionedTable.dynamicOverwrite(spark, t,
      Seq((999L, "g1", 9.0)).toDF("k", "g", "amt"), "g")
    // full coverage after three different commit kinds → merge scan-free
    val (_, scans) = countingScans {
      VersionedTable.mergeCommit(spark, t,
        Seq((3L, "g3", 3.3)).toDF("k", "g", "amt"), "k")
    }
    assert(scans == 0)
    // cluster rewrite refreshes stats and adds its own columns
    val vC = VersionedTable.clusterCommit(spark, t, Seq("k"), nFiles = 3)
    val mC = VersionedTable.manifest(spark, t, vC)
    assert(VersionedTable.statColsOf(mC).toSet == Set("k"))
    val (_, scansAfter) = countingScans {
      VersionedTable.readPruned(spark, t, Seq(("k", 1L, 5L))).collect()
    }
    assert(scansAfter == 0)
  }

  test("hostile stat values round-trip: nulls, commas, unicode, all-null files") {
    val t = freshTable()
    val odd = Seq(
      (1L, Option("a,b=c\td")), (2L, Option("naïve—值")), (3L, Option.empty[String])
    ).toDF("k", "s")
    VersionedTable.commit(spark, t, odd.coalesce(1), append = false,
      statCols = Seq("k", "s"))
    val f = VersionedTable.files(spark, t, Seq("s")).collect()(0)
    assert(f.getAs[String]("s_min") == "a,b=c\td")
    assert(f.getAs[String]("s_max") == "naïve—值")
    assert(f.getAs[Long]("s_nulls") == 1L)
    // an ALL-null file renders empty min/max and reads back as null —
    // and readPruned treats it as skippable, same as the scan path
    val t2 = freshTable()
    VersionedTable.commit(spark, t2,
      Seq((Option.empty[java.lang.Long], "x")).toDF("k", "s").coalesce(1),
      append = false, statCols = Seq("k"))
    val f2 = VersionedTable.files(spark, t2, Seq("k")).collect()(0)
    assert(f2.isNullAt(f2.fieldIndex("k_min")))
    val (got, scans) = countingScans {
      VersionedTable.readPruned(spark, t2, Seq(("k", 0L, 100L))).count()
    }
    assert(scans == 0 && got == 0L)
  }

  test("footer stats == scan stats for numeric AND string columns; floats/long strings fall back") {
    val dir = Files.createTempDirectory("vfooter").toString + "/data"
    val df = Seq(
      (5L, 2, 1.5, true, Option("sa")),
      (1L, 9, -3.25, false, Option("naïve—值")), // non-ASCII: byte order
      (7L, 4, 0.0, true, Option.empty[String]))
      .toDF("k", "i", "d", "b", "s")
    df.repartition(2).write.parquet(dir)
    val p = new org.apache.hadoop.fs.Path(dir)
    val files = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(p).map(_.getPath.toString)
      .filter(_.endsWith(".parquet")).toSeq
    val servable = Seq("k", "i", "b", "s")
    val footer = FileSkipping.footerStats(spark, files, servable)
    assert(footer.isDefined,
      "unannotated integers and UTF8 strings must be footer-servable")
    // floats are excluded by design (-0.0 normalization, NaN-less
    // footer stats vs Spark's NaN-above-+Inf max): fallback
    assert(FileSkipping.footerStats(spark, files, Seq("k", "d")).isEmpty)
    // parity with the scan path, rendering included (strings decode
    // UTF-8 and reduce under unsigned byte order == Spark's ordering)
    val scan = FileSkipping.collectStatsFiles(spark, files, servable)
      .collect().map { r =>
        def s(f: String) = Option(r.get(r.fieldIndex(f))).map(_.toString)
        new org.apache.hadoop.fs.Path(r.getString(r.fieldIndex("file")))
          .toUri.getPath ->
          (r.getLong(r.fieldIndex("n_rows")),
            servable.map(c => c -> (s(s"${c}_min"), s(s"${c}_max"),
              r.getLong(r.fieldIndex(s"${c}_nulls")))).toMap)
      }.toMap
    footer.get.foreach { case (f, (nrows, perCol)) =>
      val key = new org.apache.hadoop.fs.Path(f).toUri.getPath
      val (sRows, sCols) = scan(key)
      assert(nrows == sRows)
      servable.foreach { c => assert(perCol(c) == sCols(c),
        s"footer/scan mismatch for $c in $f: ${perCol(c)} vs ${sCols(c)}") }
    }
    // a commit with a string stat column is now footer-served too —
    // zero fallback scans, values identical to the scan path's
    val t = freshTable()
    val (_, scans2) = countingScans {
      VersionedTable.commit(spark, t, df.coalesce(1), append = false,
        statCols = Seq("k", "s"))
    }
    assert(scans2 == 0, s"string stat col must be footer-served, got $scans2 scans")
    val fr = VersionedTable.files(spark, t, Seq("k", "s")).collect()(0)
    // unsigned byte order: 'n' (0x6E) < 's' (0x73)
    assert(fr.getAs[String]("s_min") == "naïve—值")
    assert(fr.getAs[String]("s_max") == "sa")
    // ...numeric-only commits stay footer-served (zero scans)
    val t2 = freshTable()
    val (_, scans3) = countingScans {
      VersionedTable.commit(spark, t2, df.coalesce(1), append = false,
        statCols = Seq("k", "i"))
    }
    assert(scans3 == 0, "integer stat cols must be footer-served")
    // oversized string values: the writer drops footer stats above
    // its 4 KB threshold and our guard bails earlier — either way the
    // commit falls back to the exact scan, never a truncated bound
    val t3 = freshTable()
    val big = Seq((1L, "a" * 5000), (2L, "b" * 5000)).toDF("k", "s")
    val (_, scans4) = countingScans {
      VersionedTable.commit(spark, t3, big.coalesce(1), append = false,
        statCols = Seq("s"))
    }
    assert(scans4 == 1,
      s"oversized string stats must fall back to the scan, got $scans4")
    val fr3 = VersionedTable.files(spark, t3, Seq("s")).collect()(0)
    assert(fr3.getAs[String]("s_min") == "a" * 5000,
      "fallback scan must still record the exact value")
  }

  test("untrusted writers: string footer stats refused, numerics still served") {
    val dir = Files.createTempDirectory("vuntrust").toString + "/data"
    val df = Seq((1L, Option("alpha")), (9L, Option("zeta")))
      .toDF("k", "s")
    df.coalesce(1).write.parquet(dir)
    val p = new org.apache.hadoop.fs.Path(dir)
    val files = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(p).map(_.getPath.toString)
      .filter(_.endsWith(".parquet")).toSeq
    // foreign writers may truncate BINARY footer stats (max rounded
    // up); with trust off the string column must land in the scan path
    assert(FileSkipping.footerStats(spark, files, Seq("k", "s"),
      trustStringStats = false).isEmpty,
      "untrusted string stats must force the exact-scan fallback")
    assert(FileSkipping.footerStats(spark, files, Seq("k"),
      trustStringStats = false).isDefined,
      "numeric footer stats are never truncated and stay served")
    // adoptCommit completes the target's STRING stat schema via the
    // scan (adopted files are foreign), values exact either way
    val t = freshTable(); val stg = freshTable()
    VersionedTable.commit(spark, t,
      Seq((1L, "m", 1.0)).toDF("k", "g", "amt"), append = false,
      statCols = Seq("g"))
    VersionedTable.commit(spark, stg,
      Seq((2L, "q", 2.0)).toDF("k", "g", "amt"), append = false)
    val (_, scans) = countingScans {
      VersionedTable.adoptCommit(spark, t, stg)
    }
    assert(scans >= 1,
      "adopted files' string stat columns must take the exact scan")
    val head = VersionedTable.versions(spark, t).last
    val st = VersionedTable.manifest(spark, t, head)
      .filter(_.startsWith("st\t"))
    assert(st.exists(l => l.contains("g=") && l.contains("q")),
      s"adopted file's string stats must be recorded exactly: $st")
  }
}
