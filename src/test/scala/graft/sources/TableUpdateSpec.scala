package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** UPDATE ... SET ... WHERE as file-level copy-on-write
  * ([[VersionedTable.updateCommit]]): only files holding a matching
  * row are rewritten, SET expressions see the pre-image row, stats
  * ranges prune the match scan, schema enforcement rejects
  * type-changing SETs, and tombstones compose. */
class TableUpdateSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("vupdate").toString + "/t"

  test("pruned update rewrites ONLY files holding a match; carries the rest") {
    val t = freshTable()
    val base = (1L to 800L).map(i => (i, i * 10)).toDF("k", "x")
    VersionedTable.commit(spark, t,
      base.repartitionByRange(8, col("k")), append = false,
      statCols = Seq("k"))
    var pruned: (Int, Int) = (-1, -1)
    VersionedTable.updatePruneNotifier = (r, n) => pruned = (r, n)
    try VersionedTable.updateCommit(spark, t,
      col("k") % 2 === 0, Map("x" -> (col("x") + 1)),
      ranges = Seq(("k", 100L, 110L)))
    finally VersionedTable.updatePruneNotifier = (_, _) => ()
    assert(pruned._2 == 8 && pruned._1 >= 1 && pruned._1 <= 2,
      s"a narrow range over 8 clustered files must rewrite <=2 " +
        s"(range may straddle one file boundary), got $pruned")
    val m1 = VersionedTable.dataFilesOf(VersionedTable.manifest(spark, t, 1))
    val m2 = VersionedTable.dataFilesOf(VersionedTable.manifest(spark, t, 2))
    assert(m1.toSet.intersect(m2.toSet).size == 8 - pruned._1,
      "untouched files carried verbatim")
    val got = VersionedTable.read(spark, t).as[(Long, Long)].collect().toMap
    assert(got.size == 800)
    (1L to 800L).foreach { i =>
      val expect = if (i % 2 == 0 && i >= 100 && i <= 110) i * 10 + 1
                   else i * 10
      assert(got(i) == expect, s"k=$i")
    }
  }

  test("SET expressions see the pre-image: a = b, b = a swaps") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      Seq((1L, 10L, 100L), (2L, 20L, 200L)).toDF("k", "a", "b"),
      append = false)
    VersionedTable.updateCommit(spark, t, col("k") === 1L,
      Map("a" -> col("b"), "b" -> col("a")))
    val got = VersionedTable.read(spark, t)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 100L, 10L), (2L, 20L, 200L)))
  }

  test("a type-changing SET fails before publish; head unchanged") {
    val t = freshTable()
    VersionedTable.commit(spark, t, Seq((1L, 10L)).toDF("k", "x"),
      append = false)
    // the when/otherwise projection unifies the SET expression with
    // the column's type, so an incompatible literal dies in ANSI cast
    // during the rewrite — before any manifest publish; the schema
    // check behind it backstops non-coercible shapes either way
    intercept[Exception] {
      VersionedTable.updateCommit(spark, t, col("k") === 1L,
        Map("x" -> lit("oops")))
    }
    assert(VersionedTable.versions(spark, t) == Seq(1))
    assert(VersionedTable.read(spark, t).as[(Long, Long)].collect().toSeq
      == Seq((1L, 10L)))
  }

  test("SET of a column the table does not have is rejected up front") {
    val t = freshTable()
    VersionedTable.commit(spark, t, Seq((1L, 10L)).toDF("k", "x"),
      append = false)
    val e = intercept[IllegalArgumentException] {
      VersionedTable.updateCommit(spark, t, col("k") === 1L,
        Map("nope" -> lit(1L)))
    }
    assert(e.getMessage.contains("nope"))
  }

  test("an update matching nothing still commits a carry-all version") {
    val t = freshTable()
    VersionedTable.commit(spark, t, Seq((1L, 10L)).toDF("k", "x"),
      append = false)
    val v2 = VersionedTable.updateCommit(spark, t, col("k") === 999L,
      Map("x" -> lit(0L)))
    assert(v2 == 2)
    assert(VersionedTable.dataFilesOf(VersionedTable.manifest(spark, t, 2))
      == VersionedTable.dataFilesOf(VersionedTable.manifest(spark, t, 1)))
    assert(VersionedTable.read(spark, t).as[(Long, Long)].collect().toSeq
      == Seq((1L, 10L)))
  }

  test("update composes with tombstones: deleted rows stay deleted") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      (1L to 100L).map(i => (i, i)).toDF("k", "x")
        .repartitionByRange(4, col("k")), append = false)
    VersionedTable.deleteCommit(spark, t, col("k") === 7L, Seq("k"))
    // the rewrite materializes its file post-tombstone: k=7 must not
    // resurrect, k<=25 others update
    VersionedTable.updateCommit(spark, t, col("k") <= 25L,
      Map("x" -> (col("x") * 100L)))
    val got = VersionedTable.read(spark, t).as[(Long, Long)].collect().toMap
    assert(!got.contains(7L), "tombstoned row must not resurrect")
    assert(got(5L) == 500L && got(25L) == 2500L && got(26L) == 26L)
    assert(got.size == 99)
    // time travel: v1 still has the original values
    assert(VersionedTable.read(spark, t, Some(1))
      .filter(col("k") === 5L).as[(Long, Long)].collect().toSeq
      == Seq((5L, 5L)))
  }

  test("update on a partitioned table re-tags its rewrite; pruning survives") {
    val t = freshTable()
    VersionedTable.commitPartitioned(spark, t,
      Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L))
        .toDF("k", "g", "x"), "g", append = false)
    VersionedTable.updateCommit(spark, t, col("g") === "a",
      Map("x" -> (col("x") + 1L)))
    val m2 = VersionedTable.manifest(spark, t, 2)
    val tags = VersionedTable.partitionsOf(m2).map(_._2).distinct.sorted
    assert(tags == Seq("a", "b"), s"rewrite must stay pt-tagged, got $tags")
    val pr = VersionedTable.readPartitions(spark, t, "g", Seq("a"))
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(pr == Seq((1L, "a", 11L), (2L, "a", 21L)))
  }

  test("change feed reports an update as its delete/insert pair only") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      (1L to 50L).map(i => (i, i)).toDF("k", "x")
        .repartitionByRange(2, col("k")), append = false)
    val v2 = VersionedTable.updateCommit(spark, t, col("k") === 30L,
      Map("x" -> lit(999L)))
    val feed = VersionedTable.readChanges(spark, t, 1, v2)
      .select("k", "x", "change")
      .as[(Long, Long, String)].collect().toSet
    assert(feed == Set((30L, 30L, "delete"), (30L, 999L, "insert")),
      s"COW copies must cancel, got $feed")
  }

  test("optimistic update converges past a concurrent append") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      (1L to 50L).map(i => (i, i)).toDF("k", "x")
        .repartitionByRange(2, col("k")), append = false)
    var fired = false
    val v = VersionedTable.updateCommitOptimistic(spark, t,
      col("k") === 10L, Map("x" -> lit(-1L)),
      onAttempt = { _ =>
        if (!fired) { // interloper appends between read and publish
          fired = true
          VersionedTable.commit(spark, t,
            Seq((100L, 100L)).toDF("k", "x"), append = true)
        }
      })
    assert(v == 3, "retry must land after the appender took v2")
    val got = VersionedTable.read(spark, t).as[(Long, Long)].collect().toMap
    assert(got(10L) == -1L && got(100L) == 100L && got.size == 51)
  }
}
