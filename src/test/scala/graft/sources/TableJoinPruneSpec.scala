package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Join-driven file pruning ([[VersionedTable.readJoinPruned]]) — the
  * manifest realization of dynamic partition pruning. The contract
  * under test: for ANY build-side key set, the pruned fact joined to
  * the build side is row-identical to the full snapshot joined to it,
  * while the candidate count (notifier-pinned) proves the decision
  * skipped non-matching files by metadata alone. */
class TableJoinPruneSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("tdpp").toString + "/t"

  private def countCands[A](body: => A): (A, Seq[(Int, Int)]) = {
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    val old = VersionedTable.joinPruneNotifier
    VersionedTable.joinPruneNotifier = (c, t) => seen.synchronized {
      seen += ((c, t)); ()
    }
    val r = try body finally VersionedTable.joinPruneNotifier = old
    (r, seen.toSeq)
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq

  /** 8 range-clustered files over k = 1..800, stats declared. */
  private def clustered(): String = {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      (1L to 800L).map(i => (i, s"v$i", i % 5)).toDF("k", "v", "g")
        .repartitionByRange(8, col("k")),
      append = false, statCols = Seq("k"))
    t
  }

  test("pruned join == full join; narrow dim opens few of 8 files") {
    val t = clustered()
    // dim keys live in two of the eight 100-wide stripes
    val dim = Seq((5L, "a"), (17L, "b"), (350L, "c"))
      .toDF("k", "attr")
    val (got, cands) = countCands {
      sortedRows(VersionedTable.readJoinPruned(spark, t, "k",
        dim.select("k")).join(dim, Seq("k")))
    }
    val want = sortedRows(VersionedTable.read(spark, t).join(dim, Seq("k")))
    assert(got == want)
    assert(got.size == 3)
    // range-partition boundaries are sampled: 5 and 17 usually share a
    // stripe (2 files) but may split (3); never more for 3 keys
    assert(cands.size == 1 && cands.head._2 == 8 && cands.head._1 <= 3,
      s"3 keys in 2 stripes must open <= 3 of 8 files, saw $cands")
  }

  test("files without joinCol stats are never-prunable candidates") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      (1L to 400L).map(i => (i, s"v$i")).toDF("k", "v")
        .repartitionByRange(4, col("k")),
      append = false) // NO statCols: nothing to prune with
    val dim = Seq(7L).toDF("k")
    val (got, cands) = countCands {
      sortedRows(VersionedTable.readJoinPruned(spark, t, "k", dim)
        .join(dim, Seq("k")))
    }
    assert(got == sortedRows(VersionedTable.read(spark, t).join(dim, Seq("k"))))
    assert(cands == Seq((4, 4)), s"uncovered files must all stay, saw $cands")
  }

  test("deleted rows never resurface through the pruned path") {
    val t = clustered()
    VersionedTable.deleteCommit(spark, t, col("k") === 17L)
    val dim = Seq(17L, 18L).toDF("k")
    val got = sortedRows(VersionedTable.readJoinPruned(spark, t, "k", dim)
      .join(dim, Seq("k")))
    assert(got.map(_.head) == Seq(18L),
      s"k=17 is tombstoned; got ${got.map(_.head)}")
  }

  test("empty dim prunes everything: empty frame, correct schema") {
    val t = clustered()
    val dim = Seq.empty[Long].toDF("k")
    val (got, cands) = countCands {
      VersionedTable.readJoinPruned(spark, t, "k", dim)
    }
    assert(got.columns.toSeq == Seq("k", "v", "g"))
    assert(got.count() == 0L)
    assert(cands == Seq((0, 8)))
  }

  test("all-NULL-key files drop out; NULL dim keys match nothing") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      (1L to 100L).map(i => (java.lang.Long.valueOf(i), s"v$i"))
        .toDF("k", "v").repartition(1),
      append = false, statCols = Seq("k"))
    VersionedTable.commit(spark, t,
      Seq((null.asInstanceOf[java.lang.Long], "nullrow"))
        .toDF("k", "v"),
      append = true)
    val dim = Seq(java.lang.Long.valueOf(3L), null.asInstanceOf[java.lang.Long])
      .toDF("k")
    val (got, cands) = countCands {
      sortedRows(VersionedTable.readJoinPruned(spark, t, "k", dim)
        .join(dim, Seq("k")))
    }
    assert(got.map(_.head) == Seq(3L))
    assert(cands == Seq((1, 2)),
      s"the all-null file can satisfy no equi-join, saw $cands")
  }

  test("string stat bounds disable pruning instead of risking a wrong skip") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      Seq(("a", 1L), ("b", 2L), ("z", 3L)).toDF("s", "x")
        .repartitionByRange(2, col("s")),
      append = false, statCols = Seq("s"))
    val dim = Seq("b").toDF("s")
    val (got, cands) = countCands {
      sortedRows(VersionedTable.readJoinPruned(spark, t, "s", dim)
        .join(dim, Seq("s")))
    }
    assert(got.size == 1 && got.head(1) == 2L)
    assert(cands.head._1 == cands.head._2,
      s"unparseable bounds must keep every file, saw $cands")
  }

  test("NULL-count skipping: IS NULL opens only files holding nulls") {
    val t = freshTable()
    // status-correlated nulls: channel missing exactly on p = "F"
    val df = (1L to 300L).map { i =>
      val p = if (i % 3 == 0) "F" else "O"
      (i, p, if (p == "F") null else s"web$i")
    }.toDF("k", "p", "channel")
    VersionedTable.commitPartitioned(spark, t, df, "p",
      append = false, statCols = Seq("k", "channel"))
    val lines = VersionedTable.manifest(spark, t,
      VersionedTable.versions(spark, t).last)
    val total = VersionedTable.dataFilesOf(lines).size
    val candNull = VersionedTable.nullCandidates(lines, "channel",
      wantNull = true)
    val candNotNull = VersionedTable.nullCandidates(lines, "channel",
      wantNull = false)
    assert(candNull.size < total, "zero-null files must be skipped")
    assert(candNotNull.size < total, "all-null files must be skipped")
    val gotNull = VersionedTable.readPrunedNull(spark, t, "channel",
      wantNull = true).count()
    val gotNotNull = VersionedTable.readPrunedNull(spark, t, "channel",
      wantNull = false).count()
    assert(gotNull == 100L && gotNotNull == 200L)
    // files without channel stats stay candidates (never-prunable)
    val t2 = freshTable()
    VersionedTable.commit(spark, t2, df, append = false)
    val lines2 = VersionedTable.manifest(spark, t2, 1)
    assert(VersionedTable.nullCandidates(lines2, "channel", wantNull = true)
      .size == VersionedTable.dataFilesOf(lines2).size)
  }

  test("vacuumDryRun reports what vacuum then deletes, touching nothing") {
    val t = freshTable()
    VersionedTable.commit(spark, t, Seq((1L, "a")).toDF("k", "v"),
      append = false)
    VersionedTable.commit(spark, t, Seq((2L, "b")).toDF("k", "v"),
      append = false) // logical overwrite: v1's file becomes dead
    VersionedTable.commit(spark, t, Seq((3L, "c")).toDF("k", "v"),
      append = true)
    val (retire, dead) = VersionedTable.vacuumDryRun(spark, t, keepLast = 2)
    assert(retire == Seq(1) && dead.size == 1)
    // nothing happened: all versions still read
    assert(VersionedTable.versions(spark, t) == Seq(1, 2, 3))
    assert(VersionedTable.read(spark, t, Some(1)).count() == 1L)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(t).toUri,
      spark.sparkContext.hadoopConfiguration)
    assert(dead.forall(p => fs.exists(new org.apache.hadoop.fs.Path(p))))
    VersionedTable.vacuum(spark, t, keepLast = 2)
    assert(dead.forall(p => !fs.exists(new org.apache.hadoop.fs.Path(p))))
    assert(VersionedTable.versions(spark, t) == Seq(2, 3))
  }

  test("pruned join == full join under appends + a DV delete (lifecycle)") {
    val t = clustered()
    VersionedTable.commit(spark, t,
      Seq((900L, "late", 0L)).toDF("k", "v", "g"), append = true)
    VersionedTable.deleteCommit(spark, t, col("k") % 100 === 50)
    val dim = (1L to 900L by 90L).toDF("k")
    val got = sortedRows(VersionedTable.readJoinPruned(spark, t, "k", dim)
      .join(dim, Seq("k")))
    val want = sortedRows(VersionedTable.read(spark, t).join(dim, Seq("k")))
    assert(got == want && got.nonEmpty)
  }
}
