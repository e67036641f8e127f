package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Shallow clones ([[VersionedTable.cloneCommit]]) and the vacuum
  * ownership rule they depend on. */
class TableCloneSpec extends SparkSpec {
  import spark.implicits._

  private def scratch(): String =
    Files.createTempDirectory("vtable_clone").toString

  test("clone reads the source snapshot; divergence stays in the clone") {
    val dir = scratch(); val src = dir + "/src"; val cl = dir + "/cl"
    VersionedTable.commit(spark, src,
      (1L to 30L).map(i => (i, i * 2)).toDF("k", "x")
        .repartitionByRange(3, col("k")), append = false)
    VersionedTable.commit(spark, src,
      Seq((99L, 0L)).toDF("k", "x"), append = true)
    // clone at version 1, not head: time-travel source selection
    VersionedTable.cloneCommit(spark, cl, src, sourceVersion = Some(1))
    assert(VersionedTable.read(spark, cl).count() == 30L)
    val srcM = VersionedTable.manifest(spark, src, 2)
    VersionedTable.mergeCommit(spark, cl,
      Seq((5L, 555L)).toDF("k", "x"), "k")
    VersionedTable.deleteCommit(spark, cl, col("k") === 7L)
    // source untouched through clone mutations
    assert(VersionedTable.manifest(spark, src, 2) == srcM)
    assert(VersionedTable.read(spark, src).count() == 31L)
    val got = VersionedTable.read(spark, cl)
      .filter(col("k").isin(5L, 7L)).select(col("k"), col("x"))
      .as[(Long, Long)].collect().toSet
    assert(got == Set((5L, 555L)))
    assert(VersionedTable.metaOf(VersionedTable.manifest(spark, cl, 1))
      .get("cloned_from").contains(s"$src@v1"))
  }

  test("vacuum ownership: retiring clone versions never deletes source files") {
    val dir = scratch(); val src = dir + "/src"; val cl = dir + "/cl"
    VersionedTable.commit(spark, src,
      (1L to 20L).map(i => (i, i)).toDF("k", "x"), append = false)
    VersionedTable.cloneCommit(spark, cl, src)
    // clone v2 = logical overwrite: v1's (source-owned) references die
    VersionedTable.commit(spark, cl,
      Seq((100L, 1L)).toDF("k", "x"), append = false)
    VersionedTable.vacuum(spark, cl, keepLast = 1)
    // the lapsed references were the SOURCE's files — still alive
    assert(VersionedTable.read(spark, src).count() == 20L)
    assert(VersionedTable.read(spark, cl).count() == 1L)
  }

  test("partition tags travel: pruned reads and overwrite work on the clone") {
    val dir = scratch(); val src = dir + "/src"; val cl = dir + "/cl"
    VersionedTable.commitPartitioned(spark, src,
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "g", "x"), "g",
      append = false)
    VersionedTable.cloneCommit(spark, cl, src)
    assert(VersionedTable.readPartitions(spark, cl, "g", Seq("b"))
      .select(col("k")).as[Long].collect().toSet == Set(2L))
    VersionedTable.dynamicOverwrite(spark, cl,
      Seq((9L, "b", 90L)).toDF("k", "g", "x"), "g")
    assert(VersionedTable.read(spark, cl).select(col("k")).as[Long]
      .collect().toSet == Set(1L, 9L))
    assert(VersionedTable.read(spark, src).select(col("k")).as[Long]
      .collect().toSet == Set(1L, 2L))
  }

  test("clone into a non-empty dir is rejected") {
    val dir = scratch(); val src = dir + "/src"; val cl = dir + "/cl"
    VersionedTable.commit(spark, src,
      Seq((1L, 1L)).toDF("k", "x"), append = false)
    VersionedTable.commit(spark, cl,
      Seq((2L, 2L)).toDF("k", "x"), append = false)
    intercept[IllegalArgumentException] {
      VersionedTable.cloneCommit(spark, cl, src)
    }
  }
}
