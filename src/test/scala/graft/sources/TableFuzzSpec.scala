package graft.sources

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.TableChangeStream

/** MUTATION-HISTORY fuzz for the table layer: the oracle gate runs one
  * FIXED history per query, so a commit-path bug that only appears
  * under a particular interleaving (merge after overwrite, delete over
  * a merged file, restore over either, ...) would slip it. Here a
  * seeded random walk drives commitPartitioned / mergeCommit /
  * deleteCommit (unpruned and range-pruned) / dynamicOverwrite /
  * restoreCommit / adoptCommit
  * against a driver-side model (a plain Map — the executable spec of
  * the table semantics), and after EVERY step asserts the three
  * invariants everything downstream rides on:
  *
  *  1. snapshot == model (the table itself),
  *  2. change-feed fold == snapshot (a checkpointed
  *     [[TableChangeStream]] drain runs after each step, so the feed's
  *     signed deltas over the WHOLE random history reconstruct the
  *     table — losing or double-counting one delta anywhere breaks it),
  *  3. incremental MV refresh == aggregate of the model (refresh folds
  *     the same feed; equality with a from-scratch aggregate proves
  *     refresh == rebuild at every intermediate version).
  *
  * Two seeds, as the round-6 OracleFuzzSpec discipline prescribes. */
class TableFuzzSpec extends SparkSpec {
  import spark.implicits._

  private val groups = Vector("g0", "g1", "g2", "g3")

  private def toDf(rows: Map[Long, (String, Long)]): DataFrame =
    rows.toSeq.map { case (k, (g, x)) => (k, g, x) }.toDF("k", "g", "x")

  private def fuzzHistory(seed: Int): Unit = {
    val rnd = new Random(seed)
    val dir = Files.createTempDirectory(s"vtable_fuzz$seed").toString
    val table = dir + "/t"; val feed = dir + "/feed"
    val ckpt = dir + "/ckpt"; val mv = dir + "/mv"
    var nextKey = 1L
    def freshKeys(n: Int): Seq[Long] = {
      val ks = nextKey until (nextKey + n); nextKey += n; ks
    }
    def randRow(k: Long): (Long, (String, Long)) =
      k -> (groups(rnd.nextInt(groups.size)), rnd.nextInt(1000).toLong)

    // model: the driver-side truth the table must track; history keeps
    // the model state per committed version so a RESTORE can roll the
    // model back exactly as the table does (every op below commits
    // exactly one version)
    var model: Map[Long, (String, Long)] =
      freshKeys(40).map(randRow).toMap
    var history = Vector(model)
    // versions whose snapshot is mid-rename (logical column 'xtmp'):
    // restore skips them — the model has no name axis to roll back
    var midRename = Set.empty[Int]
    var deletes = 0
    VersionedTable.commitPartitioned(spark, table, toDf(model), "g",
      append = false)
    MaterializedView.build(spark, table, mv, Seq("g"), Seq("x"))

    def applyRandomOp(): String = rnd.nextInt(9) match {
      case 0 => // append fresh keys
        val added = freshKeys(1 + rnd.nextInt(6)).map(randRow).toMap
        VersionedTable.commitPartitioned(spark, table, toDf(added), "g",
          append = true)
        model ++= added
        s"append(${added.size})"
      case 1 => // merge: updates + deletes over existing keys, plus inserts
        val existing = rnd.shuffle(model.keys.toSeq)
        val upd = existing.take(1 + rnd.nextInt(5)).map(randRow).toMap
        val del = existing.drop(upd.size).take(rnd.nextInt(4)).toSet
        val ins = freshKeys(rnd.nextInt(3)).map(randRow).toMap
        val src = (upd ++ ins).toSeq
          .map { case (k, (g, x)) => (k, g, x, false) } ++
          del.toSeq.map(k => (k, "", 0L, true))
        VersionedTable.mergeCommit(spark, table,
          src.toDF("k", "g", "x", "__del"), "k", deleteCol = Some("__del"))
        model = (model -- del) ++ upd ++ ins
        s"merge(u${upd.size},d${del.size},i${ins.size})"
      case 2 => // deletion-vector delete by key predicate; every other
        // one (starting per seed parity) range-pruned — the doomed scan
        // then opens only candidate files
        val m = 3 + rnd.nextInt(5); val r = rnd.nextInt(m)
        deletes += 1
        if ((deletes + seed) % 2 == 0) {
          VersionedTable.deleteCommit(spark, table, col("k") % m === r)
          model = model.filter { case (k, _) => k % m != r }
          s"delete(k%$m==$r)"
        } else {
          val hi = nextKey / 2
          VersionedTable.deleteCommit(spark, table, col("k") % m === r,
            Seq(VersionedTable.ScanPred.NumBetween("k", 1L, hi)))
          model = model.filter { case (k, _) => k % m != r || k > hi }
          s"delete(k%$m==$r, k<=$hi)"
        }
      case 3 => // dynamic partition overwrite of one group
        val gv = groups(rnd.nextInt(groups.size))
        val repl = freshKeys(1 + rnd.nextInt(5))
          .map(k => k -> (gv, rnd.nextInt(1000).toLong)).toMap
        VersionedTable.dynamicOverwrite(spark, table, toDf(repl), "g")
        model = model.filter { case (_, (g, _)) => g != gv } ++ repl
        s"overwrite($gv,${repl.size})"
      case 4 => // restore to a random earlier version
        val v = (1 + rnd.nextInt(history.size)) match {
          case x if midRename.contains(x) => 1 // deterministic fallback
          case x => x
        }
        VersionedTable.restoreCommit(spark, table, v)
        model = history(v - 1)
        s"restore($v)"
      case 5 => // write-audit-publish: stage fresh rows, adopt them
        val staged = freshKeys(1 + rnd.nextInt(5)).map(randRow).toMap
        val stg = Files.createTempDirectory("vtable_fuzz_stg").toString +
          "/stg"
        // partitioned staging so the adopted files carry tags and the
        // table stays dynamicOverwrite-able after the publish
        VersionedTable.commitPartitioned(spark, stg, toDf(staged), "g",
          append = false)
        VersionedTable.adoptCommit(spark, table, stg)
        model ++= staged
        s"adopt(${staged.size})"
      case 6 => // OPTIMIZE: layout only, model unchanged (may no-op)
        VersionedTable.compactCommit(spark, table,
          targetRows = math.max(model.size.toLong, 1L))
        "compact"
      case 7 => // file-level COW UPDATE of a key slice
        val m = 2 + rnd.nextInt(4); val r = rnd.nextInt(m)
        val delta = 1L + rnd.nextInt(100)
        VersionedTable.updateCommit(spark, table,
          col("k") % m === r, Map("x" -> (col("x") + delta)))
        model = model.map { case (k, (g, x)) =>
          if (k % m == r) k -> (g, x + delta) else k -> (g, x) }
        s"update(k%$m==$r,+$delta)"
      case 8 => // metadata-only rename bounced back: x -> xtmp -> x.
        // Exercises the cm machinery inside a random history; the feed
        // must skip both commits (content_preserving) and every later
        // op keep working. Net zero, so the model is untouched.
        val mid = VersionedTable.renameColumnCommit(spark, table,
          "x", "xtmp")
        midRename += mid
        VersionedTable.renameColumnCommit(spark, table, "xtmp", "x")
        "rename-bounce"
    }

    def snapshotSet(): Set[(Long, String, Long)] =
      VersionedTable.read(spark, table)
        .select(col("k"), col("g"), col("x"))
        .as[(Long, String, Long)].collect().toSet

    def check(step: String): Unit = {
      // 1. the table tracks the model
      val snap = snapshotSet()
      val want = model.map { case (k, (g, x)) => (k, g, x) }.toSet
      assert(snap == want, s"seed=$seed $step: snapshot != model " +
        s"(extra=${snap -- want}, missing=${want -- snap})")
      // 2. the drained feed folds back to the snapshot (keys unique,
      //    so every net multiplicity must be exactly 1)
      TableChangeStream.drainToVersionedTable(spark, table, feed, ckpt)
      val folded = TableChangeStream
        .foldFeed(VersionedTable.read(spark, feed))
        .select(col("k"), col("g"), col("x"), col("n"))
        .as[(Long, String, Long, Long)].collect()
      assert(folded.forall(_._4 == 1L),
        s"seed=$seed $step: feed fold produced a duplicate row")
      assert(folded.map(t => (t._1, t._2, t._3)).toSet == want,
        s"seed=$seed $step: feed fold != model")
      // 3. incremental MV refresh == from-scratch aggregate of the model
      MaterializedView.refresh(spark, table, mv)
      val got = MaterializedView.read(spark, mv)
        .select(col("g"), col("cnt"), col("sum_x"))
        .as[(String, Long, Long)].collect().toSet
      val wantMv = model.values.groupBy(_._1).map { case (g, vs) =>
        (g, vs.size.toLong, vs.map(_._2).sum) }.toSet
      assert(got == wantMv, s"seed=$seed $step: MV refresh != rebuild")
    }

    check("initial")
    val steps = 8
    (1 to steps).foreach { i =>
      val op = applyRandomOp()
      // version<->model alignment: an op commits at most one version
      // (compact may no-op); pad history so history(v-1) is the model
      // AT version v — what restore's rollback target needs
      while (history.size < VersionedTable.versions(spark, table).last)
        history :+= model
      check(s"step $i: $op")
    }
  }

  test("random commit/merge/delete/overwrite histories hold the three invariants (seed 1)") {
    fuzzHistory(1)
  }

  test("random commit/merge/delete/overwrite histories hold the three invariants (seed 2)") {
    fuzzHistory(2)
  }
}
