package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Adversarial fuzz over the SQL DELETE router
  * ([[VersionedTable.deleteCommitRouted]] with exact claimed
  * predicates): random clustered layouts, optional tombstone debt,
  * and random range / equality deletes must be row-identical to the
  * logical filter WHICHEVER route the cost model picks — metadata
  * drop, merge-on-read tombstones, copy-on-write rewrite, or the
  * mixed contained+boundary split. Every trial also checks the
  * pre-delete snapshot still time-travels (a metadata drop must never
  * eat history). */
class DeleteRoutingFuzzSpec extends SparkSpec {
  import spark.implicits._

  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("graft_dfz").toString
    spark.conf.set("spark.sql.catalog.dfz", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.dfz.warehouse", w)
    w
  }

  test("random layouts x random deletes: row-identical to the filter " +
    "on every route, history intact") {
    warehouse
    val routes = scala.collection.mutable.Set.empty[String]
    VersionedTable.deleteModeNotifier = (m, _, _) => { routes += m; () }
    try {
      (1 to 6).foreach { trial =>
        val rnd = new scala.util.Random(100 + trial)
        val name = s"fz$trial"
        val t = s"$warehouse/$name"
        // four clustered files (keys 1..400), k-stats from birth
        (0 until 4).foreach { i =>
          VersionedTable.commit(spark, t,
            ((i * 100 + 1) to ((i + 1) * 100))
              .map(k => (k.toLong, s"s${k % 3}")).toDF("k", "s")
              .coalesce(1),
            append = i > 0, statCols = Seq("k"))
        }
        var live = (1L to 400L).toSet
        if (rnd.nextBoolean()) {
          // plant merge-on-read debt: tombstoned files must never be
          // trusted as stats-contained
          val m = 23 + rnd.nextInt(40)
          VersionedTable.deleteCommit(spark, t,
            col("k") % m === 0)
          live = live.filterNot(_ % m == 0)
        }
        def check(tag: String): Unit = {
          val got = spark.sql(s"SELECT k FROM dfz.$name")
            .as[Long].collect().toSet
          assert(got == live,
            s"trial $trial $tag: missing=${(live -- got).take(5)} " +
              s"extra=${(got -- live).take(5)} routes=$routes")
        }
        (1 to 3).foreach { step =>
          val headBefore = VersionedTable.versions(spark, t).last
          val liveBefore = live
          if (rnd.nextInt(4) == 0) {
            // string equality (claimed exactly, never k-stat-contained)
            val v = s"s${rnd.nextInt(4)}" // s3 matches nothing
            spark.sql(s"DELETE FROM dfz.$name WHERE s = '$v'")
            live = live.filterNot(k => s"s${k % 3}" == v)
          } else {
            val lo = rnd.nextInt(460).toLong
            val hi = lo + rnd.nextInt(460).toLong
            spark.sql(
              s"DELETE FROM dfz.$name WHERE k >= $lo AND k <= $hi")
            live = live.filterNot(k => k >= lo && k <= hi)
          }
          check(s"step $step")
          // the pre-delete snapshot is untouched history
          assert(VersionedTable.read(spark, t, Some(headBefore))
            .count() == liveBefore.size,
            s"trial $trial step $step: time travel must survive")
        }
      }
      // the fuzz must have actually exercised route diversity
      assert(routes.contains("metadata-only") &&
        routes.contains("copy-on-write"),
        s"fuzz exercised only $routes — widen the trial space")
    } finally VersionedTable.deleteModeNotifier = (_, _, _) => ()
  }
}
