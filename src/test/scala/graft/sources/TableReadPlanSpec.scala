package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Physical-plan shape of versioned-table reads: the conveniences the
  * layer adds (deletion-vector anti-join, merged-schema reads) must
  * not defeat Catalyst's scan pruning — at 100 TB a 2-column
  * projection that drags every column through the scan is a plan bug
  * regardless of row correctness. */
class TableReadPlanSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(): String =
    Files.createTempDirectory("tplan").toString + "/t"

  // string-parse the plan (the AQE wrapper hides scan nodes from
  // TreeNode.collect until execution; its toString prints them)
  private def scanSchemas(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("ReadSchema:")).map(_.trim).toSeq

  test("projection prunes the scan through the DV anti-join") {
    val t = fresh()
    VersionedTable.commit(spark, t,
      (1L to 100L).map(i => (i, s"payload$i" * 10, i * 2, s"v$i"))
        .toDF("k", "wide", "x", "v"),
      append = false)
    VersionedTable.deleteCommit(spark, t, col("k") === 7L)
    val df = VersionedTable.read(spark, t).select("k", "x")
    // base-table scan: only k and x (the DV key k is already needed);
    // the `wide` and `v` columns never reach any scan
    val schemas = scanSchemas(df)
    assert(schemas.nonEmpty)
    assert(!schemas.exists(s => s.contains("wide") || s.contains("v:string")),
      s"projection must push through the anti-join, scans read: $schemas")
    assert(df.count() == 99L)
  }

  test("filter pushes into the scan of a snapshot read") {
    val t = fresh()
    VersionedTable.commit(spark, t,
      (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v"), append = false)
    val df = VersionedTable.read(spark, t).filter(col("k") === 42L)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(k,42)"),
      s"predicate must reach the parquet scan:\n$plan")
  }
}
