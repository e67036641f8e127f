package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Incremental join-view maintenance: refresh must equal a
  * from-scratch rebuild under mutations on EITHER side (the
  * `ΔA ⋈ B_old ∪ A_new ⋈ ΔB` identity over time travel), and the
  * `A_new ⋈ ΔB` fact read must bucket-prune when the fact table is
  * bucketed on the join key. */
class JoinMaterializedViewSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(name: String): String =
    Files.createTempDirectory(name).toString + "/t"

  private def facts = (1L to 400L).map(i => (i, i % 37, i * 10))
    .toDF("k", "custkey", "x")
  private def dims = (0L to 36L).map(c => (c, s"seg${c % 4}"))
    .toDF("custkey", "seg")

  private def mvRows(mv: String): Map[String, (Long, Long)] =
    JoinMaterializedView.read(spark, mv)
      .select(col("seg"), col("cnt"), col("sum_x"))
      .as[(String, Long, Long)].collect()
      .map { case (g, c, s) => (g, (c, s)) }.toMap

  private def expect(fact: String, dim: String): Map[String, (Long, Long)] = {
    def noBuckets(df: org.apache.spark.sql.DataFrame) =
      df.columns.filter(_.startsWith("__bucket_")).foldLeft(df)(_ drop _)
    noBuckets(VersionedTable.read(spark, fact))
      .join(noBuckets(VersionedTable.read(spark, dim)), Seq("custkey"))
      .groupBy(col("seg")).agg(count(lit(1)), sum(col("x")))
      .as[(String, Long, Long)].collect()
      .map { case (g, c, s) => (g, (c, s)) }.toMap
  }

  test("refresh == rebuild through fact and dim mutations") {
    val fact = fresh("jmv_f"); val dim = fresh("jmv_d")
    val mv = fresh("jmv_v")
    VersionedTable.commit(spark, fact,
      facts.repartitionByRange(6, col("k")), append = false)
    VersionedTable.commit(spark, dim, dims, append = false)
    JoinMaterializedView.build(spark, fact, dim, mv, "custkey",
      Seq("seg"), Seq("x"))
    assert(mvRows(mv) == expect(fact, dim))
    // fact append
    VersionedTable.commit(spark, fact,
      Seq((1000L, 5L, 70L), (1001L, 6L, 80L)).toDF("k", "custkey", "x"),
      append = true)
    JoinMaterializedView.refresh(spark, fact, dim, mv)
    assert(mvRows(mv) == expect(fact, dim), "after fact append")
    // fact merge: update, delete, insert
    VersionedTable.mergeCommit(spark, fact,
      Seq((10L, 3L, 99999L, false), (20L, 4L, 0L, true),
        (2000L, 7L, 5L, false)).toDF("k", "custkey", "x", "__del"),
      "k", deleteCol = Some("__del"))
    JoinMaterializedView.refresh(spark, fact, dim, mv)
    assert(mvRows(mv) == expect(fact, dim), "after fact merge")
    // dim merge: a customer switches segment — every matching fact row
    // must re-weight
    VersionedTable.mergeCommit(spark, dim,
      Seq((5L, "segMOVED", false), (36L, "", true))
        .toDF("custkey", "seg", "__del"),
      "custkey", deleteCol = Some("__del"))
    JoinMaterializedView.refresh(spark, fact, dim, mv)
    assert(mvRows(mv) == expect(fact, dim), "after dim merge+delete")
    // both sides move between refreshes
    VersionedTable.deleteCommit(spark, fact, col("k") % 13 === 0)
    VersionedTable.mergeCommit(spark, dim,
      Seq((7L, "segBOTH", false)).toDF("custkey", "seg", "__del"),
      "custkey", deleteCol = Some("__del"))
    JoinMaterializedView.refresh(spark, fact, dim, mv)
    assert(mvRows(mv) == expect(fact, dim), "after both-side changes")
  }

  test("no-op when caught up; crash-consistent versioning") {
    val fact = fresh("jmv_f2"); val dim = fresh("jmv_d2")
    val mv = fresh("jmv_v2")
    VersionedTable.commit(spark, fact, facts, append = false)
    VersionedTable.commit(spark, dim, dims, append = false)
    val v1 = JoinMaterializedView.build(spark, fact, dim, mv, "custkey",
      Seq("seg"), Seq("x"))
    assert(JoinMaterializedView.refresh(spark, fact, dim, mv) == v1)
    assert(VersionedTable.versions(spark, mv) == Seq(v1))
  }

  test("a bucketed fact prunes the dim-delta term to changed buckets") {
    val fact = fresh("jmv_f3"); val dim = fresh("jmv_d3")
    val mv = fresh("jmv_v3")
    VersionedTable.commitBucketed(spark, fact, facts, "custkey", 8,
      append = false)
    VersionedTable.commit(spark, dim, dims, append = false)
    JoinMaterializedView.build(spark, fact, dim, mv, "custkey",
      Seq("seg"), Seq("x"))
    // dim-only change: ONE customer moves — only its bucket is read
    VersionedTable.mergeCommit(spark, dim,
      Seq((11L, "segONE", false)).toDF("custkey", "seg", "__del"),
      "custkey", deleteCol = Some("__del"))
    var seen: Option[(Int, Int)] = None
    val old = JoinMaterializedView.factPruneNotifier
    JoinMaterializedView.factPruneNotifier = (b, n) => seen = Some((b, n))
    try JoinMaterializedView.refresh(spark, fact, dim, mv)
    finally JoinMaterializedView.factPruneNotifier = old
    assert(seen.contains((1, 8)),
      s"one changed key must read one bucket of 8, saw $seen")
    assert(mvRows(mv) == expect(fact, dim))
  }

  test("random two-table history: refresh tracks rebuild at every step") {
    val fact = fresh("jmv_f4"); val dim = fresh("jmv_d4")
    val mv = fresh("jmv_v4")
    val rnd = new scala.util.Random(77)
    VersionedTable.commit(spark, fact,
      facts.repartitionByRange(5, col("k")), append = false)
    VersionedTable.commit(spark, dim, dims, append = false)
    JoinMaterializedView.build(spark, fact, dim, mv, "custkey",
      Seq("seg"), Seq("x"))
    var nextK = 5000L
    (1 to 8).foreach { step =>
      rnd.nextInt(4) match {
        case 0 => // fact append
          val rows = (0 until 1 + rnd.nextInt(5)).map { _ =>
            nextK += 1; (nextK, rnd.nextInt(37).toLong,
              rnd.nextInt(1000).toLong)
          }
          VersionedTable.commit(spark, fact,
            rows.toDF("k", "custkey", "x"), append = true)
        case 1 => // fact merge (update one live key + insert one)
          nextK += 1
          VersionedTable.mergeCommit(spark, fact,
            Seq((1L + rnd.nextInt(400).toLong, rnd.nextInt(37).toLong,
              rnd.nextInt(1000).toLong, false),
              (nextK, rnd.nextInt(37).toLong, 1L, false))
              .toDF("k", "custkey", "x", "__del"), "k",
            deleteCol = Some("__del"))
        case 2 => // fact DV delete
          VersionedTable.deleteCommit(spark, fact,
            col("k") % (7 + rnd.nextInt(20)).toLong === 1L)
        case 3 => // dim merge: move a segment
          VersionedTable.mergeCommit(spark, dim,
            Seq((rnd.nextInt(37).toLong, s"segR$step", false))
              .toDF("custkey", "seg", "__del"), "custkey",
            deleteCol = Some("__del"))
      }
      JoinMaterializedView.refresh(spark, fact, dim, mv)
      assert(mvRows(mv) == expect(fact, dim), s"step $step diverged")
    }
  }
}
