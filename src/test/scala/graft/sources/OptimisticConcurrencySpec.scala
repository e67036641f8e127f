package graft.sources

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Conflict re-evaluation for read-modify-write commits
  * ([[VersionedTable.mergeCommitOptimistic]] /
  * [[VersionedTable.deleteCommitOptimistic]]): deterministic
  * two-writer races injected through the pre-publish hook seam.
  * Disjoint races must CONVERGE to the serializable "interloper first,
  * then this commit" result by recomputing from the new head; true
  * same-file overlap must abort loudly, never silently last-write-win. */
class OptimisticConcurrencySpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("vocc").toString + "/t"

  private def base: DataFrame =
    (1L to 100L).map(k => (k, k * 1.0)).toDF("k", "amt")

  private def rows(df: DataFrame): Set[(Long, Double)] =
    df.select("k", "amt").as[(Long, Double)].collect().toSet

  test("append-vs-merge race converges to the serializable result") {
    val t = freshTable()
    // 4 key-clustered files so the merge touches exactly one
    VersionedTable.commit(spark, t,
      base.repartitionByRange(4, col("k")), append = false,
      statCols = Seq("k"))
    val attempts = new AtomicInteger(0)
    val appended = (200L to 210L).map(k => (k, k * 1.0)).toDF("k", "amt")
    val vFinal = VersionedTable.mergeCommitOptimistic(spark, t,
      Seq((5L, 555.0)).toDF("k", "amt"), "k",
      onAttempt = { _ =>
        // interloper publishes an APPEND between our read and publish,
        // exactly once — the first attempt must lose the rename
        if (attempts.incrementAndGet() == 1)
          VersionedTable.commit(spark, t, appended.coalesce(1),
            append = true)
      })
    assert(attempts.get() == 2, "one loss, one winning retry")
    assert(vFinal == 3, "interloper took v2; the merge retried into v3")
    // serializable outcome: append applied AND merge applied
    assert(rows(VersionedTable.read(spark, t)) ==
      rows(base.filter(col("k") =!= 5L)
        .unionByName(Seq((5L, 555.0)).toDF("k", "amt"))
        .unionByName(appended)))
  }

  test("merge-vs-merge on the same files aborts loudly") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      base.repartitionByRange(4, col("k")), append = false,
      statCols = Seq("k"))
    val fired = new AtomicInteger(0)
    val e = intercept[java.util.ConcurrentModificationException] {
      VersionedTable.mergeCommitOptimistic(spark, t,
        Seq((5L, 555.0)).toDF("k", "amt"), "k",
        onAttempt = { _ =>
          // interloper merges the SAME key → rewrites the same file
          if (fired.incrementAndGet() == 1)
            VersionedTable.mergeCommit(spark, t,
              Seq((6L, 666.0)).toDF("k", "amt"), "k")
        })
    }
    assert(e.getMessage.contains("rewrote"))
    // the interloper's merge is intact; ours left no manifest
    assert(VersionedTable.versions(spark, t) == Seq(1, 2))
    assert(rows(VersionedTable.read(spark, t)) ==
      rows(base.filter(col("k") =!= 6L)
        .unionByName(Seq((6L, 666.0)).toDF("k", "amt"))))
  }

  test("merge-vs-merge on DISJOINT files retries and lands both") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      base.repartitionByRange(4, col("k")), append = false,
      statCols = Seq("k"))
    val fired = new AtomicInteger(0)
    // k=5 lives in the first quarter, k=95 in the last — different files
    val vFinal = VersionedTable.mergeCommitOptimistic(spark, t,
      Seq((5L, 555.0)).toDF("k", "amt"), "k",
      onAttempt = { _ =>
        if (fired.incrementAndGet() == 1)
          VersionedTable.mergeCommit(spark, t,
            Seq((95L, 959.0)).toDF("k", "amt"), "k")
      })
    assert(vFinal == 3)
    assert(rows(VersionedTable.read(spark, t)) ==
      rows(base.filter(col("k") =!= 5L && col("k") =!= 95L)
        .unionByName(Seq((5L, 555.0), (95L, 959.0)).toDF("k", "amt"))))
  }

  test("delete-vs-append converges; delete-vs-merge overlap aborts") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      base.repartitionByRange(4, col("k")), append = false,
      statCols = Seq("k"))
    val fired = new AtomicInteger(0)
    val v = VersionedTable.deleteCommitOptimistic(spark, t,
      col("k") % 10 === 0,
      onAttempt = { _ =>
        if (fired.incrementAndGet() == 1)
          VersionedTable.commit(spark, t,
            Seq((300L, 3.0)).toDF("k", "amt").coalesce(1), append = true)
      })
    assert(v == 3)
    // the retried delete ran against the new head: 300 % 10 == 0, so
    // the appended row is deleted too — serializable, their-then-ours
    assert(rows(VersionedTable.read(spark, t)) ==
      rows(base.filter(col("k") % 10 =!= 0)))
    // now a delete racing a merge that rewrites its tombstoned file
    val fired2 = new AtomicInteger(0)
    val e = intercept[java.util.ConcurrentModificationException] {
      VersionedTable.deleteCommitOptimistic(spark, t,
        col("k") === 7L,
        onAttempt = { _ =>
          if (fired2.incrementAndGet() == 1)
            VersionedTable.mergeCommit(spark, t,
              Seq((8L, 888.0)).toDF("k", "amt"), "k")
        })
    }
    assert(e.getMessage.contains("delete touched"))
  }

  test("retries exhaust against a persistent appender, then surface the conflict") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      base.repartitionByRange(2, col("k")), append = false)
    val n = new AtomicInteger(0)
    val e = intercept[RuntimeException] {
      VersionedTable.mergeCommitOptimistic(spark, t,
        Seq((5L, 5.5)).toDF("k", "amt"), "k", maxRetries = 2,
        onAttempt = { _ =>
          n.incrementAndGet()
          VersionedTable.commit(spark, t,
            Seq((400L + n.get(), 4.0)).toDF("k", "amt").coalesce(1),
            append = true)
        })
    }
    assert(e.getMessage.contains("already committed"))
    assert(n.get() == 3, "initial attempt + maxRetries")
  }
}
