package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Hidden partitioning ([[VersionedTable.commitTransformed]]):
  * the table partitions on floor(rawCol / unit), queries filter on the
  * raw column, and [[VersionedTable.readTransformRange]] prunes by
  * manifest tags alone — row-identical to read+filter, candidates
  * pinned, floor-division exact across zero, evolution-safe. */
class TableHiddenPartitionSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("vhidden").toString + "/t"

  test("range read == read+filter; only in-range day files are candidates") {
    val t = freshTable()
    // 10 "days" of 10 rows each at unit 100
    val rows = (0L until 100L).map(i => (i * 10L, i)).toDF("ts", "id")
    VersionedTable.commitTransformed(spark, t, rows, "ts", 100L,
      append = false)
    assert(VersionedTable.transformSpecOf(spark, t).contains(("ts", 100L)))
    // raw range spanning days 2..4 (ts 250..449)
    val got = VersionedTable.readTransformRange(spark, t, 250L, 449L)
      .select("ts", "id").as[(Long, Long)].collect().toSet
    val want = VersionedTable.read(spark, t)
      .filter(col("ts") >= 250L && col("ts") <= 449L)
      .select("ts", "id").as[(Long, Long)].collect().toSet
    assert(got == want && got.nonEmpty)
    // candidates: exactly the 3 day-files 2,3,4 of 10
    val lines = VersionedTable.manifest(spark, t, 1)
    val cand = VersionedTable.transformCandidates(lines,
      "__part_div_ts_100", 2L, 4L)
    assert(cand.size == 3,
      s"3 of 10 day files must be candidates, got ${cand.size}")
    assert(VersionedTable.dataFilesOf(lines).size == 10)
  }

  test("floor division: negative raw values prune to the right tags") {
    val t = freshTable()
    val rows = Seq(-250L, -150L, -50L, 50L, 150L).map(v => (v, v))
      .toDF("ts", "id")
    VersionedTable.commitTransformed(spark, t, rows, "ts", 100L,
      append = false)
    // floor(-150/100) = -2, floor(-50/100) = -1: the range [-199,-1]
    // covers tags -2..-1 and must return exactly those two rows
    val got = VersionedTable.readTransformRange(spark, t, -199L, -1L)
      .select("ts").as[Long].collect().toSet
    assert(got == Set(-150L, -50L))
    val cand = VersionedTable.transformCandidates(
      VersionedTable.manifest(spark, t, 1), "__part_div_ts_100", -2L, -1L)
    assert(cand.size == 2, s"got ${cand.size}")
  }

  test("appends compose and inherit the spec; tags accumulate") {
    val t = freshTable()
    VersionedTable.commitTransformed(spark, t,
      Seq((100L, 1L)).toDF("ts", "id"), "ts", 100L, append = false)
    VersionedTable.commitTransformed(spark, t,
      Seq((250L, 2L), (310L, 3L)).toDF("ts", "id"), "ts", 100L,
      append = true)
    assert(VersionedTable.transformSpecOf(spark, t).contains(("ts", 100L)))
    assert(VersionedTable.readTransformRange(spark, t, 200L, 320L)
      .select("id").as[Long].collect().toSet == Set(2L, 3L))
  }

  test("an untagged append stays never-prunable: range reads stay exact") {
    val t = freshTable()
    VersionedTable.commitTransformed(spark, t,
      Seq((100L, 1L), (500L, 5L)).toDF("ts", "id"), "ts", 100L,
      append = false)
    // a plain (untagged) append — evolution in progress
    VersionedTable.commit(spark, t, Seq((120L, 99L)).toDF("ts", "id"),
      append = true)
    // spec still coherent for TAGGED files; the untagged file must be
    // read by every range read regardless of range
    val got = VersionedTable.readTransformRange(spark, t, 100L, 199L)
      .select("id").as[Long].collect().toSet
    assert(got == Set(1L, 99L))
    val out = VersionedTable.readTransformRange(spark, t, 400L, 599L)
      .select("id").as[Long].collect().toSet
    assert(out == Set(5L), "untagged file read but exact filter applies")
  }

  test("backfill composes: transformTag + dynamicOverwrite replace one day") {
    val t = freshTable()
    val rows = Seq((50L, 1L), (150L, 2L), (250L, 3L)).toDF("ts", "id")
    VersionedTable.commitTransformed(spark, t, rows, "ts", 100L,
      append = false)
    // re-run day 1 (ts in [100,200)) with corrected data
    val (tagged, tcol) = VersionedTable.transformTag(
      Seq((160L, 20L)).toDF("ts", "id"), "ts", 100L)
    VersionedTable.dynamicOverwrite(spark, t, tagged, tcol)
    val got = VersionedTable.read(spark, t)
      .select("ts", "id").as[(Long, Long)].collect().toSet
    assert(got == Set((50L, 1L), (160L, 20L), (250L, 3L)))
    // day-pruned read sees only the replacement
    assert(VersionedTable.readTransformRange(spark, t, 100L, 199L)
      .select("id").as[Long].collect().toSeq == Seq(20L))
  }

  test("mergeCommit composes: rewrite re-tags, range pruning survives") {
    val t = freshTable()
    val rows = (0L until 40L).map(i => (i * 10L, i, i * 100L))
      .toDF("ts", "id", "x")
    VersionedTable.commitTransformed(spark, t, rows, "ts", 100L,
      append = false)
    // COW-update one key through a merge (same-day row keeps its tag)
    val (src, _) = VersionedTable.transformTag(
      Seq((120L, 12L, -1L)).toDF("ts", "id", "x"), "ts", 100L)
    VersionedTable.mergeCommit(spark, t, src, "id")
    assert(VersionedTable.transformSpecOf(spark, t).contains(("ts", 100L)))
    val got = VersionedTable.readTransformRange(spark, t, 100L, 199L)
      .select("id", "x").as[(Long, Long)].collect().toMap
    assert(got(12L) == -1L && got.size == 10)
    // the untouched days' files still prune
    val lines = VersionedTable.manifest(spark, t,
      VersionedTable.versions(spark, t).last)
    val cand = VersionedTable.transformCandidates(lines,
      "__part_div_ts_100", 3L, 3L)
    assert(cand.size < VersionedTable.dataFilesOf(lines).size,
      "post-merge table must still prune by tag")
  }

  test("tombstones apply inside a pruned range read") {
    val t = freshTable()
    val rows = (0L until 40L).map(i => (i * 10L, i)).toDF("ts", "id")
    VersionedTable.commitTransformed(spark, t, rows, "ts", 100L,
      append = false)
    VersionedTable.deleteCommit(spark, t, col("id") === 12L)
    val got = VersionedTable.readTransformRange(spark, t, 100L, 199L)
      .select("id").as[Long].collect().toSet
    assert(got == Set(10L, 11L, 13L, 14L, 15L, 16L, 17L, 18L, 19L))
  }
}
