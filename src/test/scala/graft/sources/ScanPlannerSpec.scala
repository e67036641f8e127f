package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import VersionedTable.ScanPred
import VersionedTable.ScanPred._

/** The manifest scan planner ([[VersionedTable.readWhere]] /
  * [[VersionedTable.scanCandidates]]): conjunction predicates prune
  * by the INTERSECTION of every manifest dimension's candidates. */
class ScanPlannerSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(name: String): String =
    Files.createTempDirectory(name).toString + "/t"

  /** A partitioned, range-clustered, stats-covered table with a
    * nullable enrichment column: 3 partitions × 4 key-range files. */
  private def seed(t: String): Unit = {
    val df = (1L to 1200L).map { k =>
      val par = s"p${k % 3}"
      val d = f"2024-${(k % 12) + 1}%02d-01"
      val enr = if (k % 5 == 0) null else s"e$k"
      (k, par, d, enr)
    }.toDF("k", "par", "d", "enr")
    VersionedTable.commitPartitioned(spark, t,
      df.repartitionByRange(4, col("k")), "par", append = false,
      statCols = Seq("k", "d", "enr"))
  }

  private def lines(t: String) =
    VersionedTable.manifest(spark, t, VersionedTable.versions(spark, t).last)

  test("conjunctions intersect: fewer candidates than any single dimension") {
    val t = fresh("vsp")
    seed(t)
    val ls = lines(t)
    val total = VersionedTable.dataFilesOf(ls).size
    val byPart = VersionedTable.scanCandidates(ls,
      Seq(PartIn("par", Seq("p1")))).size
    val byRange = VersionedTable.scanCandidates(ls,
      Seq(NumBetween("k", 1L, 250L))).size
    val both = VersionedTable.scanCandidates(ls,
      Seq(PartIn("par", Seq("p1")), NumBetween("k", 1L, 250L))).size
    assert(byPart < total && byRange < total)
    assert(both <= math.min(byPart, byRange))
    assert(both >= 1)
  }

  test("readWhere == read().filter for every predicate shape, composed") {
    val t = fresh("vspq")
    seed(t)
    val preds = Seq(
      PartIn("par", Seq("p0", "p2")),
      NumBetween("k", 100L, 900L),
      StrBetween("d", "2024-03-01", "2024-07-01"),
      NotNull("enr"))
    val got = VersionedTable.readWhere(spark, t, preds)
      .agg(count(lit(1)), sum("k")).collect()(0).toSeq
    val want = VersionedTable.read(spark, t)
      .filter(col("par").isin("p0", "p2") &&
        col("k").between(100L, 900L) &&
        col("d") >= "2024-03-01" && col("d") <= "2024-07-01" &&
        col("enr").isNotNull)
      .agg(count(lit(1)), sum("k")).collect()(0).toSeq
    assert(got == want && want.head.asInstanceOf[Long] > 0)
  }

  test("IS NULL prunes to the files that carry nulls") {
    val t = fresh("vspn")
    // one all-complete file, one gappy file
    VersionedTable.commit(spark, t,
      (1L to 100L).map(k => (k, s"v$k")).toDF("k", "enr").coalesce(1),
      append = false, statCols = Seq("k", "enr"))
    VersionedTable.commit(spark, t,
      (101L to 200L).map(k =>
        (k, if (k % 2 == 0) null else s"v$k")).toDF("k", "enr").coalesce(1),
      append = true, statCols = Seq("k", "enr"))
    val ls = lines(t)
    assert(VersionedTable.scanCandidates(ls, Seq(IsNull("enr"))).size == 1)
    assert(VersionedTable.readWhere(spark, t, Seq(IsNull("enr")))
      .count() == 50)
  }

  test("uncovered columns never prune but stay correct") {
    val t = fresh("vspu")
    VersionedTable.commit(spark, t,
      (1L to 100L).map(k => (k, k * 3)).toDF("k", "v")
        .repartitionByRange(4, col("k")),
      append = false, statCols = Seq("k")) // no stats for v
    val ls = lines(t)
    assert(VersionedTable.scanCandidates(ls,
      Seq(NumBetween("v", 3L, 30L))).size == 4) // all candidates
    assert(VersionedTable.readWhere(spark, t,
      Seq(NumBetween("v", 3L, 30L))).count() == 10)
  }

  test("an impossible conjunction returns an empty, schema-correct frame") {
    val t = fresh("vspe")
    seed(t)
    val got = VersionedTable.readWhere(spark, t,
      Seq(NumBetween("k", 10000L, 20000L)))
    assert(got.count() == 0)
    assert(got.columns.toSeq == Seq("k", "par", "d", "enr"))
  }

  test("tombstoned rows never resurface through the planner") {
    val t = fresh("vspd")
    seed(t)
    VersionedTable.deleteCommit(spark, t, col("k") === 150L)
    val got = VersionedTable.readWhere(spark, t,
      Seq(NumBetween("k", 100L, 200L), PartIn("par", Seq("p0"))))
    assert(got.filter(col("k") === 150L).count() == 0)
    val want = VersionedTable.read(spark, t)
      .filter(col("k").between(100L, 200L) && col("par") === "p0").count()
    assert(got.count() == want)
  }

  test("all-null stat files are skipped by range predicates") {
    val t = fresh("vspan")
    VersionedTable.commit(spark, t,
      (1L to 50L).map(k => (k, Option.empty[String])).toDF("k", "d")
        .coalesce(1), append = false, statCols = Seq("k", "d"))
    VersionedTable.commit(spark, t,
      (51L to 100L).map(k => (k, Some(s"2024-$k"))).toDF("k", "d")
        .coalesce(1), append = true, statCols = Seq("k", "d"))
    val ls = lines(t)
    assert(VersionedTable.scanCandidates(ls,
      Seq(StrBetween("d", "2024-0", "2024-99"))).size == 1)
  }

  test("countWhere: contained files answer from metadata, boundary files scan") {
    val t = fresh("vcw")
    seed(t)
    var (cont, bound) = (0, 0)
    VersionedTable.countWhereNotifier = (c, b) => { cont = c; bound = b }
    try {
      val preds = Seq(NumBetween("k", 1L, 600L))
      val got = VersionedTable.countWhere(spark, t, preds)
      val want = VersionedTable.readWhere(spark, t, preds).count()
      assert(got == want && got > 0)
      assert(cont > 0, "range-interior files must count from nrows alone")
      assert(bound < cont + bound, s"cont=$cont bound=$bound")
      // whole-table predicate: pure metadata, zero files opened
      val all = VersionedTable.countWhere(spark, t,
        Seq(NumBetween("k", 0L, 10000L)))
      assert(all == 1200L && bound == 0,
        s"an all-covering range must scan nothing: bound=$bound")
    } finally VersionedTable.countWhereNotifier = (_, _) => ()
  }

  test("countWhere never trusts tombstoned files' manifest counts") {
    val t = fresh("vcwdv")
    seed(t)
    VersionedTable.deleteCommit(spark, t, col("k") === 50L)
    val preds = Seq(NumBetween("k", 1L, 1200L))
    assert(VersionedTable.countWhere(spark, t, preds) == 1199L)
    // and composed with a partition containment
    val got = VersionedTable.countWhere(spark, t,
      Seq(PartIn("par", Seq("p1", "p2")), NumBetween("k", 1L, 1200L)))
    val want = VersionedTable.read(spark, t)
      .filter(col("par").isin("p1", "p2")).count()
    assert(got == want)
  }

  test("readWhereAny: OR of conjunctions opens the union of candidates once") {
    val t = fresh("vspor")
    seed(t)
    val ls = lines(t)
    val d1 = Seq(PartIn("par", Seq("p0")), NumBetween("k", 1L, 200L))
    val d2 = Seq(PartIn("par", Seq("p2")), NumBetween("k", 900L, 1200L))
    val u = VersionedTable.scanCandidatesAny(ls, Seq(d1, d2)).size
    val c1 = VersionedTable.scanCandidates(ls, d1).size
    val c2 = VersionedTable.scanCandidates(ls, d2).size
    assert(u <= c1 + c2 && u >= math.max(c1, c2))
    assert(u < VersionedTable.dataFilesOf(ls).size)
    val got = VersionedTable.readWhereAny(spark, t, Seq(d1, d2))
      .agg(count(lit(1)), sum("k")).collect()(0).toSeq
    val want = VersionedTable.read(spark, t)
      .filter((col("par") === "p0" && col("k").between(1L, 200L)) ||
        (col("par") === "p2" && col("k").between(900L, 1200L)))
      .agg(count(lit(1)), sum("k")).collect()(0).toSeq
    assert(got == want && want.head.asInstanceOf[Long] > 0)
    // a row matching BOTH branches is produced once, not twice
    val d3 = Seq(NumBetween("k", 1L, 100L))
    val d4 = Seq(NumBetween("k", 50L, 150L))
    assert(VersionedTable.readWhereAny(spark, t, Seq(d3, d4))
      .count() == 150L)
  }

  test("minMaxWhere == readWhere().agg(min,max); contained files never scan") {
    val t = fresh("vmm")
    seed(t)
    val preds = Seq(NumBetween("k", 100L, 900L), PartIn("par", Seq("p1")))
    val (mn, mx) = VersionedTable.minMaxWhere(spark, t, "k", preds)
    val want = VersionedTable.readWhere(spark, t, preds)
      .agg(min("k"), max("k")).collect()(0)
    assert(mn.map(_.toLong) == Some(want.getLong(0)))
    assert(mx.map(_.toLong) == Some(want.getLong(1)))
    // string column through the same path
    val (smn, smx) = VersionedTable.minMaxWhere(spark, t, "d",
      Seq(NumBetween("k", 1L, 1200L)))
    val wantS = VersionedTable.read(spark, t).agg(min("d"), max("d"))
      .collect()(0)
    assert(smn.contains(wantS.getString(0)) && smx.contains(wantS.getString(1)))
    // zero matching rows -> (None, None)
    assert(VersionedTable.minMaxWhere(spark, t, "k",
      Seq(NumBetween("k", 50000L, 60000L))) == ((None, None)))
    // exact under a tombstone that kills an extreme
    VersionedTable.deleteCommit(spark, t, col("k") === 1200L)
    val (_, mx2) = VersionedTable.minMaxWhere(spark, t, "k",
      Seq(NumBetween("k", 1L, 1200L)))
    assert(mx2.map(_.toLong) == Some(1199L))
  }
}
