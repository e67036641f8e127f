package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.TableChangeStream

/** RESTORE (rollback-as-commit) on [[VersionedTable]]. */
class TableRestoreSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(): String =
    Files.createTempDirectory("vtable_restore").toString + "/t"

  test("restore republishes the target manifest's lines, metadata-only") {
    val t = fresh()
    VersionedTable.commit(spark, t,
      (1L to 40L).map(i => (i, s"v$i")).toDF("k", "v")
        .repartitionByRange(4, col("k")), append = false,
      statCols = Seq("k"))
    VersionedTable.deleteCommit(spark, t, col("k") % 5 === 0)
    VersionedTable.mergeCommit(spark, t,
      Seq((7L, "UPD")).toDF("k", "v"), "k")
    val v4 = VersionedTable.restoreCommit(spark, t, 1)
    assert(v4 == 4)
    def nonMeta(v: Int) = VersionedTable.manifest(spark, t, v)
      .filterNot(_.startsWith("meta\t")).toSet
    // file list, stats lines, tombstone absence: all verbatim v1
    assert(nonMeta(4) == nonMeta(1))
    assert(VersionedTable.metaOf(VersionedTable.manifest(spark, t, 4))
      .get("restored_from").contains("1"))
    // content == v1, and the undone versions still time-travel
    assert(VersionedTable.read(spark, t).as[(Long, String)].collect().toSet
      == VersionedTable.read(spark, t, Some(1)).as[(Long, String)]
        .collect().toSet)
    assert(VersionedTable.read(spark, t, Some(3))
      .filter(col("k") === 7L).as[(Long, String)].collect()
      .toSet == Set((7L, "UPD")))
  }

  test("change feed across a restore is the inverse of the undone mutations") {
    val t = fresh()
    VersionedTable.commit(spark, t,
      (1L to 30L).map(i => (i, s"v$i")).toDF("k", "v"), append = false)
    VersionedTable.deleteCommit(spark, t, col("k") === 3L)
    VersionedTable.restoreCommit(spark, t, 1)
    val feed = VersionedTable.readChanges(spark, t, 2, 3)
      .select(col("k"), col("v"), col("change"), col("n"))
      .as[(Long, String, String, Long)].collect().toSet
    assert(feed == Set((3L, "v3", "insert", 1L)),
      "restoring over a delete must surface the row's re-insert")
    // and a full drain-fold through the restore equals the snapshot
    val dir = Files.createTempDirectory("vtable_restore_f").toString
    TableChangeStream.drainToVersionedTable(spark, t,
      dir + "/feed", dir + "/ckpt")
    val folded = TableChangeStream
      .foldFeed(VersionedTable.read(spark, dir + "/feed"))
      .select(col("k"), col("v")).as[(Long, String)].collect().toSet
    assert(folded == VersionedTable.read(spark, t)
      .as[(Long, String)].collect().toSet)
  }

  test("restore of a partitioned table keeps tags: pruned reads still work") {
    val t = fresh()
    val df = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 30L))
      .toDF("k", "g", "x")
    VersionedTable.commitPartitioned(spark, t, df, "g", append = false)
    VersionedTable.dynamicOverwrite(spark, t,
      Seq((9L, "a", 90L)).toDF("k", "g", "x"), "g")
    VersionedTable.restoreCommit(spark, t, 1)
    val pruned = VersionedTable.readPartitions(spark, t, "g", Seq("a"))
      .select(col("k")).as[Long].collect().toSet
    assert(pruned == Set(1L, 3L), "restored pt tags must prune correctly")
    // the spec marker carried, so dynamicOverwrite still works post-restore
    VersionedTable.dynamicOverwrite(spark, t,
      Seq((8L, "b", 80L)).toDF("k", "g", "x"), "g")
    assert(VersionedTable.read(spark, t)
      .select(col("k")).as[Long].collect().toSet == Set(1L, 3L, 8L))
  }

  test("vacuum after restore keeps the restored (old) files alive") {
    val t = fresh()
    VersionedTable.commit(spark, t,
      (1L to 20L).map(i => (i, s"v$i")).toDF("k", "v"), append = false)
    VersionedTable.commit(spark, t,
      Seq((99L, "x")).toDF("k", "v"), append = false) // logical overwrite
    VersionedTable.restoreCommit(spark, t, 1)
    VersionedTable.vacuum(spark, t, keepLast = 1)
    // only the restore head survives — and it must still read fully
    assert(VersionedTable.versions(spark, t) == Seq(3))
    assert(VersionedTable.read(spark, t).count() == 20L)
  }

  test("restore to an uncommitted version is rejected") {
    val t = fresh()
    VersionedTable.commit(spark, t, Seq((1L, "a")).toDF("k", "v"),
      append = false)
    intercept[IllegalArgumentException] {
      VersionedTable.restoreCommit(spark, t, 7)
    }
  }
}
