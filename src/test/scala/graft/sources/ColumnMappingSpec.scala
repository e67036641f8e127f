package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Column mapping ([[VersionedTable.renameColumnCommit]] /
  * [[VersionedTable.dropColumnCommit]]): metadata-only RENAME/DROP —
  * physical names stay in the files, every read/write seam
  * translates, old builds are fenced by the protocol gate. */
class ColumnMappingSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(name: String): String =
    Files.createTempDirectory(name).toString + "/t"

  private def seed(t: String): Unit =
    VersionedTable.commit(spark, t,
      (1L to 100L).map(k => (k, k * 10, s"s$k")).toDF("k", "amount", "tag")
        .repartitionByRange(4, col("k")),
      append = false, statCols = Seq("k", "amount"))

  test("rename is metadata-only: same files, new name, feature required") {
    val t = fresh("vcm")
    seed(t)
    val filesBefore = VersionedTable.dataFilesOf(
      VersionedTable.manifest(spark, t, 1))
    val v = VersionedTable.renameColumnCommit(spark, t, "amount", "cents")
    assert(VersionedTable.dataFilesOf(
      VersionedTable.manifest(spark, t, v)) == filesBefore)
    val got = VersionedTable.read(spark, t)
    assert(got.columns.toSeq == Seq("k", "cents", "tag"))
    assert(got.agg(sum("cents")).as[Long].head() == (1L to 100L).map(_ * 10).sum)
    // protocol: the table now demands the column-mapping reader feature
    assert(VersionedTable.protocolOf(spark, t)._1.contains("column-mapping"))
    // time travel shows v1 under its own (old) name
    assert(VersionedTable.read(spark, t, Some(1))
      .columns.toSeq == Seq("k", "amount", "tag"))
  }

  test("stats keep serving after a rename: pruned reads stay metadata-only") {
    val t = fresh("vcmst")
    seed(t)
    VersionedTable.renameColumnCommit(spark, t, "amount", "cents")
    var scans = 0
    VersionedTable.statsScanNotifier = (_, _) => scans += 1
    try {
      val got = VersionedTable.readPruned(spark, t, Seq(("cents", 100L, 300L)))
        .agg(count(lit(1)), sum("k")).collect()(0).toSeq
      val want = VersionedTable.read(spark, t)
        .filter(col("cents").between(100L, 300L))
        .agg(count(lit(1)), sum("k")).collect()(0).toSeq
      assert(got == want && scans == 0,
        s"pruned read must serve from carried st lines: scans=$scans")
    } finally VersionedTable.statsScanNotifier = (_, _) => ()
  }

  test("appends after a rename write the PHYSICAL name; reads stay logical") {
    val t = fresh("vcmapp")
    seed(t)
    VersionedTable.renameColumnCommit(spark, t, "amount", "cents")
    VersionedTable.commit(spark, t,
      Seq((200L, 7L, "x")).toDF("k", "cents", "tag"), append = true,
      statCols = Seq("k", "cents"))
    // the newly written file carries the physical column 'amount'
    val newFile = VersionedTable.dataFilesOf(
      VersionedTable.manifest(spark, t,
        VersionedTable.versions(spark, t).last))
      .diff(VersionedTable.dataFilesOf(VersionedTable.manifest(spark, t, 1)))
    assert(newFile.nonEmpty)
    assert(spark.read.parquet(newFile: _*).columns.contains("amount"))
    val got = VersionedTable.read(spark, t)
    assert(got.columns.toSeq == Seq("k", "cents", "tag"))
    assert(got.filter(col("k") === 200L).select("cents").as[Long].head() == 7L)
    assert(got.count() == 101)
  }

  test("merge, update, delete, compact on a renamed table stay row-correct") {
    val t = fresh("vcmops")
    seed(t)
    VersionedTable.renameColumnCommit(spark, t, "amount", "cents")
    // COW merge keyed on k, updating the renamed column
    VersionedTable.mergeCommit(spark, t,
      Seq((5L, 999L, "m")).toDF("k", "cents", "tag"), "k")
    assert(VersionedTable.read(spark, t).filter(col("k") === 5L)
      .select("cents").as[Long].head() == 999L)
    // UPDATE through the renamed name
    VersionedTable.updateCommit(spark, t, col("k") === 6L,
      Map("cents" -> (col("cents") + 1L)))
    assert(VersionedTable.read(spark, t).filter(col("k") === 6L)
      .select("cents").as[Long].head() == 61L)
    // DV delete keyed on k; renamed column must not resurface the row
    VersionedTable.deleteCommit(spark, t, col("cents") === 70L)
    assert(VersionedTable.read(spark, t).filter(col("k") === 7L).count() == 0)
    // OPTIMIZE keeps the mapping alive
    VersionedTable.compactCommit(spark, t, targetRows = 1000L)
    val got = VersionedTable.read(spark, t)
    assert(got.columns.toSeq == Seq("k", "cents", "tag"))
    assert(got.count() == 99 && got.filter(col("k") === 5L)
      .select("cents").as[Long].head() == 999L)
  }

  test("swap chains: a→b while z→a keeps both columns straight") {
    val t = fresh("vcmswap")
    VersionedTable.commit(spark, t,
      Seq((1L, 10L, 20L)).toDF("k", "a", "z"), append = false)
    VersionedTable.renameColumnCommit(spark, t, "a", "b")
    VersionedTable.renameColumnCommit(spark, t, "z", "a")
    val got = VersionedTable.read(spark, t)
      .select("k", "b", "a").as[(Long, Long, Long)].head()
    assert(got == ((1L, 10L, 20L)))
    // writes land each logical under ITS physical (b→a, a→z)
    VersionedTable.commit(spark, t,
      Seq((2L, 11L, 21L)).toDF("k", "b", "a"), append = true)
    val rows = VersionedTable.read(spark, t).orderBy("k")
      .select("k", "b", "a").as[(Long, Long, Long)].collect().toSeq
    assert(rows == Seq((1L, 10L, 20L), (2L, 11L, 21L)))
  }

  test("drop hides the column now, keeps it in time travel, frees the name never") {
    val t = fresh("vcmdrop")
    seed(t)
    val v = VersionedTable.dropColumnCommit(spark, t, "tag")
    val got = VersionedTable.read(spark, t)
    assert(got.columns.toSeq == Seq("k", "amount"))
    assert(VersionedTable.read(spark, t, Some(1)).columns.contains("tag"))
    // re-adding a column named like the dropped physical is rejected
    val e = intercept[IllegalStateException] {
      VersionedTable.commit(spark, t,
        Seq((500L, 1L, "new")).toDF("k", "amount", "tag"), append = true)
    }
    assert(e.getMessage.contains("physical name"))
    // the refused commit left no version or orphan behind
    assert(VersionedTable.versions(spark, t).last == v)
  }

  test("drop guards: partition and constraint columns, not dv rows") {
    val tp = fresh("vcmgp")
    VersionedTable.commitPartitioned(spark, tp,
      (1L to 10L).map(k => (k, s"p${k % 2}")).toDF("k", "par"), "par",
      append = false)
    intercept[IllegalArgumentException] {
      VersionedTable.dropColumnCommit(spark, tp, "par")
    }
    val td = fresh("vcmgd")
    seed(td)
    // tombstones name file rows, not columns: the delete's predicate
    // column drops freely and the deleted row stays dead
    VersionedTable.deleteCommit(spark, td, col("k") === 1L)
    VersionedTable.dropColumnCommit(spark, td, "k")
    assert(VersionedTable.read(spark, td).select("amount").as[Long]
      .collect().sorted.toSeq == (2L to 100L).map(_ * 10))
    val tc = fresh("vcmgc")
    seed(tc)
    VersionedTable.addConstraint(spark, tc, "amt_pos", "amount > 0")
    intercept[RuntimeException] {
      VersionedTable.dropColumnCommit(spark, tc, "amount")
    }
    intercept[RuntimeException] {
      VersionedTable.renameColumnCommit(spark, tc, "amount", "cents")
    }
  }

  test("change feed across a rename reports in the TO-version's names") {
    val t = fresh("vcmfeed")
    seed(t)
    VersionedTable.renameColumnCommit(spark, t, "amount", "cents")
    val vRename = VersionedTable.versions(spark, t).last
    // the rename itself feeds nothing (metadata-only)
    assert(VersionedTable.readChanges(spark, t, vRename - 1, vRename)
      .count() == 0)
    // a merge after the rename feeds under the new name
    VersionedTable.mergeCommit(spark, t,
      Seq((5L, 999L, "m")).toDF("k", "cents", "tag"), "k")
    val feed = VersionedTable.readChanges(spark, t, vRename,
      vRename + 1)
    assert(feed.columns.contains("cents") && !feed.columns.contains("amount"))
    val ins = feed.filter(col("change") === "insert" && col("k") === 5L)
      .select("cents").as[Long].collect().toSeq
    assert(ins == Seq(999L))
    // a feed SPANNING the rename (v1 → head) also speaks the new names
    val span = VersionedTable.readChanges(spark, t, 1,
      vRename + 1)
    assert(span.columns.contains("cents"))
    assert(span.filter(col("change") === "delete" && col("k") === 5L)
      .select("cents").as[Long].collect().toSeq == Seq(50L))
  }

  test("partitioned tables: rename a partition column, pruning survives") {
    val t = fresh("vcmpt")
    VersionedTable.commitPartitioned(spark, t,
      (1L to 30L).map(k => (k, if (k % 2 == 0) "even" else "odd"))
        .toDF("k", "par"), "par", append = false)
    VersionedTable.renameColumnCommit(spark, t, "par", "bucket")
    val pruned = VersionedTable.readPartitions(spark, t, "bucket", Seq("even"))
    assert(pruned.count() == 15 && pruned.columns.toSeq == Seq("k", "bucket"))
    // dynamic overwrite through the new name still pairs by tag
    VersionedTable.dynamicOverwrite(spark, t,
      Seq((100L, "even")).toDF("k", "bucket"), "bucket")
    val after = VersionedTable.read(spark, t)
    assert(after.filter(col("bucket") === "even").count() == 1)
    assert(after.filter(col("bucket") === "odd").count() == 15)
  }

  test("rename guards: missing, duplicate, and an overwrite resets the mapping") {
    val t = fresh("vcmgr")
    seed(t)
    intercept[IllegalArgumentException] {
      VersionedTable.renameColumnCommit(spark, t, "nope", "x")
    }
    intercept[IllegalArgumentException] {
      VersionedTable.renameColumnCommit(spark, t, "amount", "tag")
    }
    VersionedTable.renameColumnCommit(spark, t, "amount", "cents")
    // a full overwrite starts a fresh lineage: logical names become
    // physical again, the mapping empties
    VersionedTable.commit(spark, t,
      Seq((1L, 5L)).toDF("k", "cents"), append = false)
    assert(VersionedTable.columnMappingOf(spark, t) ==
      (Map.empty[String, String], Set.empty[String]))
    assert(VersionedTable.read(spark, t).columns.toSeq == Seq("k", "cents"))
  }

  test("PRUNED update on a renamed column reaches the right rows") {
    val t = fresh("vcmupru")
    seed(t)
    VersionedTable.renameColumnCommit(spark, t, "amount", "cents")
    // range-pruned UPDATE spelled entirely in the LOGICAL name: the
    // match probe's scan lines must carry the cm lines or the probe
    // resolves PHYSICAL names — AnalysisException on the rename, or
    // (under a swap chain) silently the wrong column
    VersionedTable.updateCommit(spark, t, col("cents") === 500L,
      Map("cents" -> (col("cents") + 1L)), Seq(("cents", 400L, 600L)))
    val got = VersionedTable.read(spark, t)
    assert(got.filter(col("k") === 50L)
      .select("cents").as[Long].head() == 501L)
    assert(got.agg(sum("cents")).as[Long].head() ==
      (1L to 100L).map(_ * 10).sum + 1L)
  }
}
