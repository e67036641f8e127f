package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class MaterializedViewSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(name: String): String =
    Files.createTempDirectory(name).toString + "/t"

  private def mvRows(mvDir: String): Map[String, (Long, Long)] =
    MaterializedView.read(spark, mvDir)
      .select(col("g"), col("cnt"), col("sum_x"))
      .as[(String, Long, Long)].collect()
      .map { case (g, c, s) => (g, (c, s)) }.toMap

  private def expect(table: String): Map[String, (Long, Long)] =
    VersionedTable.read(spark, table)
      .groupBy(col("g")).agg(count(lit(1)), sum(col("x")))
      .as[(String, Long, Long)].collect()
      .map { case (g, c, s) => (g, (c, s)) }.toMap

  test("refresh after a merge equals a from-scratch rebuild") {
    val src = fresh("mv_src"); val mv = fresh("mv_view")
    val base = (1L to 300L).map(i => (i, s"g${i % 5}", i * 10))
      .toDF("k", "g", "x")
    VersionedTable.commit(spark, src,
      base.repartitionByRange(6, col("k")), append = false)
    MaterializedView.build(spark, src, mv, Seq("g"), Seq("x"))
    assert(MaterializedView.sourceVersion(spark, mv) == 1)
    assert(mvRows(mv) == expect(src))
    // merge: updates, deletes, inserts
    val source = Seq((10L, "g0", 999999L, false), (20L, "g0", 0L, true),
      (1000L, "gNEW", 7L, false)).toDF("k", "g", "x", "__del")
    VersionedTable.mergeCommit(spark, src, source, "k",
      deleteCol = Some("__del"))
    MaterializedView.refresh(spark, src, mv)
    assert(MaterializedView.sourceVersion(spark, mv) == 2)
    assert(mvRows(mv) == expect(src))
  }

  test("refresh is a no-op when already at the source head") {
    val src = fresh("mv_src2"); val mv = fresh("mv_view2")
    VersionedTable.commit(spark, src,
      Seq((1L, "a", 5L)).toDF("k", "g", "x"), append = false)
    val v1 = MaterializedView.build(spark, src, mv, Seq("g"), Seq("x"))
    assert(MaterializedView.refresh(spark, src, mv) == v1)
    assert(VersionedTable.versions(spark, mv) == Seq(v1))
  }

  test("refresh folds deletion-vector deletes; empty groups vanish") {
    val src = fresh("mv_src3"); val mv = fresh("mv_view3")
    val base = (1L to 100L).map(i =>
      (i, if (i <= 3) "tiny" else s"g${i % 3}", i)).toDF("k", "g", "x")
    VersionedTable.commit(spark, src,
      base.repartitionByRange(4, col("k")), append = false)
    MaterializedView.build(spark, src, mv, Seq("g"), Seq("x"))
    // DV-only change: kill the whole 'tiny' group plus a few others
    VersionedTable.deleteCommit(spark, src,
      col("g") === "tiny" || col("k") % 10 === 0)
    MaterializedView.refresh(spark, src, mv)
    val got = mvRows(mv)
    assert(!got.contains("tiny"), "zero-count group must be dropped")
    assert(got == expect(src))
  }

  test("incremental chain tracks a random history exactly") {
    val rnd = new scala.util.Random(11)
    val src = fresh("mv_src4"); val mv = fresh("mv_view4")
    val base = (1L to 200L).map(i => (i, s"g${i % 4}", i * 3))
      .toDF("k", "g", "x")
    VersionedTable.commit(spark, src,
      base.repartitionByRange(4, col("k")), append = false)
    MaterializedView.build(spark, src, mv, Seq("g"), Seq("x"))
    (1 to 3).foreach { round =>
      if (round % 2 == 1) {
        val upd = (1 to 6).map(_ => rnd.nextInt(200) + 1L).distinct
          .map(k => (k, s"g${rnd.nextInt(4)}", rnd.nextInt(1000).toLong, false))
        val del = (1 to 4).map(_ => rnd.nextInt(200) + 1L).distinct
          .filterNot(k => upd.exists(_._1 == k)).map(k => (k, "", 0L, true))
        VersionedTable.mergeCommit(spark, src,
          (upd ++ del).toDF("k", "g", "x", "__del"), "k",
          deleteCol = Some("__del"))
      } else {
        VersionedTable.commit(spark, src,
          Seq((10000L + round, "gAPP", 42L)).toDF("k", "g", "x"),
          append = true)
      }
      MaterializedView.refresh(spark, src, mv)
      assert(mvRows(mv) == expect(src), s"diverged at round $round")
    }
  }

  test("NULL group keys fold as a real group") {
    val src = fresh("mv_src5"); val mv = fresh("mv_view5")
    VersionedTable.commit(spark, src,
      Seq((1L, Some("a"), 5L), (2L, None, 7L), (3L, None, 9L))
        .toDF("k", "g", "x"), append = false)
    MaterializedView.build(spark, src, mv, Seq("g"), Seq("x"))
    VersionedTable.commit(spark, src,
      Seq((4L, Option.empty[String], 100L)).toDF("k", "g", "x"),
      append = true)
    MaterializedView.refresh(spark, src, mv)
    val nulls = MaterializedView.read(spark, mv).filter(col("g").isNull)
      .select(col("cnt"), col("sum_x")).as[(Long, Long)].collect().toSeq
    assert(nulls == Seq((3L, 116L)))
  }
}
