package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Bucketed versioned tables and the bucket-map join: co-hashed
  * storage pairs buckets from manifest tags alone, each bucket joins
  * under a broadcast, and the union is row-identical to the plain
  * join with ZERO shuffle exchanges in the plan. */
class TableBucketJoinSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("tbkt").toString + "/t"

  private def facts = (1L to 500L).map(i => (i % 97, i, s"f$i"))
    .toDF("custkey", "orderkey", "tag")
  private def dims = (0L to 96L).filter(_ % 3 != 0)
    .map(k => (k, s"seg${k % 5}")).toDF("custkey", "segment")

  test("bucketJoin == plain join through appends and a DV delete") {
    val (ta, tb) = (freshTable(), freshTable())
    VersionedTable.commitBucketed(spark, ta,
      facts.filter(col("orderkey") <= 400), "custkey", 8, append = false)
    VersionedTable.commitBucketed(spark, ta,
      facts.filter(col("orderkey") > 400), "custkey", 8, append = true)
    VersionedTable.commitBucketed(spark, tb, dims, "custkey", 8,
      append = false)
    VersionedTable.deleteCommit(spark, ta, col("orderkey") % 11 === 0)
    val got = VersionedTable.bucketJoin(spark, ta, tb, "custkey")
      .select("custkey", "orderkey", "tag", "segment")
      .as[(Long, Long, String, String)].collect().sorted.toSeq
    val bcol = "__bucket_custkey_8"
    val want = VersionedTable.read(spark, ta).drop(bcol)
      .join(VersionedTable.read(spark, tb).drop(bcol), Seq("custkey"))
      .select("custkey", "orderkey", "tag", "segment")
      .as[(Long, Long, String, String)].collect().sorted.toSeq
    assert(got == want && got.nonEmpty)
  }

  test("the plan holds zero shuffle exchanges, one broadcast per bucket") {
    val (ta, tb) = (freshTable(), freshTable())
    VersionedTable.commitBucketed(spark, ta, facts, "custkey", 4,
      append = false)
    VersionedTable.commitBucketed(spark, tb, dims, "custkey", 4,
      append = false)
    val plan = VersionedTable.bucketJoin(spark, ta, tb, "custkey")
      .queryExecution.executedPlan.toString
    val shuffles = "Exchange (hash|range|roundrobin|Single)".r
      .findAllIn(plan).length
    val broadcasts = "BroadcastExchange".r.findAllIn(plan).length
    assert(shuffles == 0, s"bucket join must not shuffle:\n$plan")
    assert(broadcasts == 4, s"one broadcast per bucket, got $broadcasts")
  }

  test("left join: unmatched and null keys survive, same as plain") {
    val (ta, tb) = (freshTable(), freshTable())
    val withNulls = facts.withColumn("custkey",
      when(col("orderkey") % 50 === 0, lit(null)).otherwise(col("custkey")))
    VersionedTable.commitBucketed(spark, ta, withNulls, "custkey", 8,
      append = false)
    VersionedTable.commitBucketed(spark, tb, dims, "custkey", 8,
      append = false)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("custkey").cast("string"), col("orderkey"),
        col("segment").cast("string"))
      .collect().map(_.toSeq.map(String.valueOf).mkString("|"))
      .sorted.toSeq
    val got = canon(VersionedTable.bucketJoin(spark, ta, tb, "custkey",
      "left_outer"))
    val bcol = "__bucket_custkey_8"
    val want = canon(VersionedTable.read(spark, ta).drop(bcol)
      .join(VersionedTable.read(spark, tb).drop(bcol), Seq("custkey"),
        "left_outer"))
    assert(got == want && got.size == 500)
  }

  test("bucket pairing is manifest-only: bucket i opens only its files") {
    val t = freshTable()
    VersionedTable.commitBucketed(spark, t, facts, "custkey", 8,
      append = false)
    val lines = VersionedTable.manifest(spark, t,
      VersionedTable.versions(spark, t).last)
    val cand = VersionedTable.partitionCandidates(lines,
      "__bucket_custkey_8", Seq("3"))
    val total = VersionedTable.dataFilesOf(lines).size
    assert(cand.size < total && cand.nonEmpty,
      s"bucket 3 must prune: ${cand.size} of $total")
  }

  test("mismatched or missing bucket specs are rejected") {
    val (ta, tb, tc) = (freshTable(), freshTable(), freshTable())
    VersionedTable.commitBucketed(spark, ta, facts, "custkey", 8,
      append = false)
    VersionedTable.commitBucketed(spark, tb, dims, "custkey", 16,
      append = false)
    VersionedTable.commit(spark, tc, dims, append = false)
    intercept[IllegalArgumentException] {
      VersionedTable.bucketJoin(spark, ta, tb, "custkey") // 8 vs 16
    }
    intercept[IllegalArgumentException] {
      VersionedTable.bucketJoin(spark, ta, tc, "custkey") // untagged
    }
  }
}
