package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import VersionedTable.MergeClause
import VersionedTable.MergeClause._

/** Conditional MERGE ([[VersionedTable.mergeCommitWhen]]): full
  * WHEN MATCHED / NOT MATCHED / NOT MATCHED BY SOURCE semantics. */
class MergeWhenSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(name: String): String =
    Files.createTempDirectory(name).toString + "/t"

  /** target: k 1..40, cents = k*10, status 'A' (k<=20) / 'B' (k>20) */
  private def seed(t: String): Unit =
    VersionedTable.commit(spark, t,
      (1L to 40L).map(k => (k, k * 10, if (k <= 20) "A" else "B"))
        .toDF("k", "cents", "status").repartition(4),
      append = false, statCols = Seq("k"))

  test("three-branch merge matches the row-by-row model") {
    val t = fresh("vmw")
    seed(t)
    // source: existing keys 10..25 (delta = k), new keys 100..105
    val src = ((10L to 25L) ++ (100L to 105L)).map(k => (k, k))
      .toDF("k", "delta")
    VersionedTable.mergeCommitWhen(spark, t, src, "k",
      matched = Seq(
        whenMatchedUpdate(Map("cents" -> (col("t.cents") + col("s.delta")),
          "status" -> lit("U")), Some(col("t.status") === "A")),
        whenMatchedDelete()),
      notMatched = Seq(
        whenNotMatchedInsert(Map("k" -> col("s.k"),
          "cents" -> col("s.delta"), "status" -> lit("N")),
          Some(col("s.k") % 2 === 0))),
      notMatchedBySource = Seq(
        whenMatchedDelete(Some(col("t.k") === 3L))))
    val got = VersionedTable.read(spark, t)
      .as[(Long, Long, String)].collect().toSet
    val model: Set[(Long, Long, String)] = {
      val target = (1L to 40L).map(k =>
        (k, k * 10, if (k <= 20) "A" else "B"))
      val srcKeys = ((10L to 25L) ++ (100L to 105L)).toSet
      val kept = target.flatMap { case (k, c, s) =>
        if (srcKeys.contains(k)) {
          if (s == "A") Some((k, c + k, "U")) // matched, first clause
          else None                           // matched, delete
        } else if (k == 3L) None              // not matched by source
        else Some((k, c, s))                  // carry
      }
      val inserted = (100L to 105L).filter(_ % 2 == 0)
        .map(k => (k, k, "N"))
      (kept ++ inserted).toSet
    }
    assert(got == model)
  }

  test("clause order decides: first applicable wins") {
    val t = fresh("vmworder")
    seed(t)
    val src = Seq((5L, 1L)).toDF("k", "delta")
    // delete-first ordering removes the row the update would have hit
    VersionedTable.mergeCommitWhen(spark, t, src, "k",
      matched = Seq(
        whenMatchedDelete(Some(col("s.delta") === 1L)),
        whenMatchedUpdate(Map("cents" -> lit(0L)))))
    assert(VersionedTable.read(spark, t).filter(col("k") === 5L).count() == 0)
    // same clauses reversed: the update claims the row first
    val t2 = fresh("vmworder2")
    seed(t2)
    VersionedTable.mergeCommitWhen(spark, t2, src, "k",
      matched = Seq(
        whenMatchedUpdate(Map("cents" -> lit(0L)),
          Some(col("s.delta") === 1L)),
        whenMatchedDelete()))
    assert(VersionedTable.read(spark, t2).filter(col("k") === 5L)
      .select("cents").as[Long].head() == 0L)
  }

  test("without NOT MATCHED BY SOURCE, untouched files carry verbatim") {
    val t = fresh("vmwcarry")
    // two key-disjoint files with manifest stats
    VersionedTable.commit(spark, t,
      (1L to 20L).map(k => (k, k * 10)).toDF("k", "cents").coalesce(1),
      append = false, statCols = Seq("k"))
    VersionedTable.commit(spark, t,
      (100L to 120L).map(k => (k, k * 10)).toDF("k", "cents").coalesce(1),
      append = true, statCols = Seq("k"))
    val before = VersionedTable.dataFilesOf(
      VersionedTable.manifest(spark, t, 2))
    val lowFile = VersionedTable.dataFilesOf(
      VersionedTable.manifest(spark, t, 1))
    val v = VersionedTable.mergeCommitWhen(spark, t,
      Seq((110L, 1L)).toDF("k", "delta"), "k",
      matched = Seq(whenMatchedUpdate(
        Map("cents" -> (col("t.cents") + col("s.delta"))))))
    val after = VersionedTable.dataFilesOf(VersionedTable.manifest(spark, t, v))
    // the low-key file is carried byte-identical; the high-key file rewrote
    assert(lowFile.forall(after.contains))
    assert(!after.contains(before.filterNot(lowFile.contains).head))
    assert(VersionedTable.read(spark, t).filter(col("k") === 110L)
      .select("cents").as[Long].head() == 1101L)
  }

  test("a NOT MATCHED BY SOURCE branch updates unclaimed target rows") {
    val t = fresh("vmwnmbs")
    seed(t)
    // sync-style: source lists the keys to KEEP; everything else flags
    val keep = (1L to 10L).map(k => Tuple1(k)).toDF("k")
    VersionedTable.mergeCommitWhen(spark, t, keep, "k",
      notMatchedBySource = Seq(
        whenMatchedUpdate(Map("status" -> lit("STALE")))))
    val got = VersionedTable.read(spark, t)
    assert(got.filter(col("status") === "STALE").count() == 30)
    assert(got.filter(col("k") <= 10L && col("status") === "STALE")
      .count() == 0)
    assert(got.count() == 40)
  }

  test("duplicate source keys are rejected") {
    val t = fresh("vmwdup")
    seed(t)
    val dup = Seq((5L, 1L), (5L, 2L)).toDF("k", "delta")
    val e = intercept[IllegalArgumentException] {
      VersionedTable.mergeCommitWhen(spark, t, dup, "k",
        matched = Seq(whenMatchedDelete()))
    }
    assert(e.getMessage.contains("duplicate"))
  }

  test("clause-shape guards: wrong action kinds and unreachable clauses") {
    val t = fresh("vmwguard")
    seed(t)
    val src = Seq((5L, 1L)).toDF("k", "delta")
    intercept[IllegalArgumentException] { // INSERT under MATCHED
      VersionedTable.mergeCommitWhen(spark, t, src, "k",
        matched = Seq(whenNotMatchedInsertRow()))
    }
    intercept[IllegalArgumentException] { // UPDATE under NOT MATCHED
      VersionedTable.mergeCommitWhen(spark, t, src, "k",
        notMatched = Seq(whenMatchedUpdate(Map("cents" -> lit(0L)))))
    }
    intercept[IllegalArgumentException] { // unconditional clause not last
      VersionedTable.mergeCommitWhen(spark, t, src, "k",
        matched = Seq(whenMatchedDelete(),
          whenMatchedUpdate(Map("cents" -> lit(0L)))))
    }
    intercept[IllegalArgumentException] { // no clauses at all
      VersionedTable.mergeCommitWhen(spark, t, src, "k")
    }
  }

  test("InsertRow lands source values for shared columns, NULL elsewhere") {
    val t = fresh("vmwrow")
    seed(t)
    val src = Seq((900L, 77L)).toDF("k", "cents")
    VersionedTable.mergeCommitWhen(spark, t, src, "k",
      notMatched = Seq(whenNotMatchedInsertRow()))
    val row = VersionedTable.read(spark, t).filter(col("k") === 900L)
      .select("cents", "status").collect()(0)
    assert(row.getLong(0) == 77L && row.isNullAt(1))
  }

  test("merge through deletion vectors: tombstoned rows never resurface") {
    val t = fresh("vmwdv")
    seed(t)
    VersionedTable.deleteCommit(spark, t, col("k") === 7L)
    // k=7 is tombstoned; a matched-update source for it must NOT match
    // (the row is logically gone) and a not-matched insert may re-add it
    VersionedTable.mergeCommitWhen(spark, t,
      Seq((7L, 5L)).toDF("k", "delta"), "k",
      matched = Seq(whenMatchedUpdate(
        Map("cents" -> (col("t.cents") + col("s.delta"))))),
      notMatched = Seq(whenNotMatchedInsert(Map("k" -> col("s.k"),
        "cents" -> col("s.delta"), "status" -> lit("R")))))
    val got = VersionedTable.read(spark, t).filter(col("k") === 7L)
      .select("cents", "status").as[(Long, String)].collect().toSeq
    assert(got == Seq((5L, "R")))
  }

  test("optimistic retry: a disjoint interloper append converges") {
    val t = fresh("vmwopt")
    VersionedTable.commit(spark, t,
      (1L to 20L).map(k => (k, k * 10)).toDF("k", "cents").coalesce(1),
      append = false, statCols = Seq("k"))
    var fired = false
    val v = VersionedTable.mergeCommitWhenOptimistic(spark, t,
      Seq((5L, 1L)).toDF("k", "delta"), "k",
      matched = Seq(whenMatchedUpdate(
        Map("cents" -> (col("t.cents") + col("s.delta"))))),
      onAttempt = { _ =>
        if (!fired) {
          fired = true // interloper: key-disjoint append claims v2
          VersionedTable.commit(spark, t,
            Seq((500L, 1L)).toDF("k", "cents"), append = true,
            statCols = Seq("k"))
        }
      })
    assert(v == 3) // lost v2 to the interloper, retried, landed v3
    val got = VersionedTable.read(spark, t)
    assert(got.filter(col("k") === 5L).select("cents").as[Long].head() == 51L)
    assert(got.filter(col("k") === 500L).count() == 1)
  }

  test("partitioned tables: the rewrite re-tags, pruning stays alive") {
    val t = fresh("vmwpt")
    VersionedTable.commitPartitioned(spark, t,
      (1L to 30L).map(k => (k, k * 10, if (k % 2 == 0) "even" else "odd"))
        .toDF("k", "cents", "par"), "par", append = false)
    VersionedTable.mergeCommitWhen(spark, t,
      Seq((4L, 1L)).toDF("k", "delta"), "k",
      matched = Seq(whenMatchedUpdate(
        Map("cents" -> (col("t.cents") + col("s.delta"))))))
    val head = VersionedTable.versions(spark, t).last
    val lines = VersionedTable.manifest(spark, t, head)
    // every data line still carries its pt tag (re-tagged rewrite)
    val tagged = VersionedTable.partitionsOf(lines).map(_._3).map(p =>
      p.split('/').last).toSet
    assert(VersionedTable.dataFilesOf(lines).forall(p =>
      tagged.contains(p.split('/').last)))
    val pruned = VersionedTable.readPartitions(spark, t, "par", Seq("even"))
    assert(pruned.count() == 15)
    assert(pruned.filter(col("k") === 4L).select("cents")
      .as[Long].head() == 41L)
  }
}
