package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** File adoption (write-audit-publish) on [[VersionedTable]]. */
class TableAdoptSpec extends SparkSpec {
  import spark.implicits._

  private def scratch(): String =
    Files.createTempDirectory("vtable_adopt").toString

  private def parquetCount(table: String): Int = {
    val p = new org.apache.hadoop.fs.Path(table, "data")
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(p)) 0
    else {
      val it = f.listFiles(p, true); var n = 0
      while (it.hasNext) {
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
  }

  test("convertCommit: a plain parquet dir becomes a versioned table " +
    "IN PLACE — no file moved or rewritten") {
    val dir = scratch(); val plain = dir + "/plain"
    (1L to 30L).map(i => (i, s"v$i")).toDF("k", "s")
      .write.parquet(plain)
    val p = new org.apache.hadoop.fs.Path(plain)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val originals = f.listStatus(p).map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).toSet
    assert(VersionedTable.convertCommit(spark, plain) == 1)
    // files untouched, now manifest-referenced
    assert(f.listStatus(p).map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).toSet == originals)
    assert(VersionedTable.read(spark, plain).count() == 30L)
    // a versioned table from here on: DML, history, maintenance
    VersionedTable.commit(spark, plain,
      Seq((31L, "v31")).toDF("k", "s"), append = true)
    assert(VersionedTable.read(spark, plain).count() == 31L)
    assert(VersionedTable.read(spark, plain, Some(1)).count() == 30L)
    // refuses a double convert and an empty dir
    intercept[IllegalArgumentException] {
      VersionedTable.convertCommit(spark, plain)
    }
    intercept[IllegalArgumentException] {
      VersionedTable.convertCommit(spark, dir + "/empty_nothing")
    }
    // the SQL spelling: CALL convert on a second estate, then the
    // catalog serves it as a table with zero further ceremony
    val w2 = Files.createTempDirectory("graft_cvt").toString
    spark.conf.set("spark.sql.catalog.gcv",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcv.warehouse", w2)
    import spark.implicits._
    (1L to 12L).map(i => (i, i * 3)).toDF("k", "v")
      .write.parquet(s"$w2/estate")
    assert(spark.sql("CALL gcv.system.convert('estate')")
      .as[Long].head() == 1L)
    assert(spark.sql("SELECT sum(v) FROM gcv.estate")
      .as[Long].head() == (1L to 12L).map(_ * 3).sum)
  }

  test("adopt moves files: content unions, staging dir drains") {
    val dir = scratch(); val t = dir + "/t"; val stg = dir + "/stg"
    VersionedTable.commit(spark, t,
      (1L to 20L).map(i => (i, i * 2)).toDF("k", "x"), append = false)
    VersionedTable.commit(spark, stg,
      (100L to 105L).map(i => (i, i * 2)).toDF("k", "x"), append = false)
    val before = parquetCount(t)
    val stgBefore = parquetCount(stg)
    assert(stgBefore > 0)
    val v = VersionedTable.adoptCommit(spark, t, stg)
    assert(v == 2)
    assert(VersionedTable.read(spark, t).select(col("k")).as[Long]
      .collect().toSet == ((1L to 20L) ++ (100L to 105L)).toSet)
    // zero copy: staging's files MOVED (none left), target grew by them
    assert(parquetCount(stg) == 0)
    assert(parquetCount(t) == before + stgBefore)
    assert(VersionedTable.metaOf(VersionedTable.manifest(spark, t, 2))
      .get("adopted_from").contains(s"$stg@v1"))
  }

  test("partition tags and stats travel with the adopted files") {
    val dir = scratch(); val t = dir + "/t"; val stg = dir + "/stg"
    VersionedTable.commitPartitioned(spark, t,
      Seq((1L, "a", 10L)).toDF("k", "g", "x"), "g", append = false,
      statCols = Seq("k"))
    VersionedTable.commitPartitioned(spark, stg,
      Seq((2L, "b", 20L), (3L, "a", 30L)).toDF("k", "g", "x"), "g",
      append = false, statCols = Seq("k"))
    VersionedTable.adoptCommit(spark, t, stg)
    // manifest-only pruning sees the adopted partitions
    assert(VersionedTable.readPartitions(spark, t, "g", Seq("b"))
      .select(col("k")).as[Long].collect().toSet == Set(2L))
    // stats carried: every data file is stat-covered (merge decisions
    // stay metadata-only after a publish)
    val m = VersionedTable.manifest(spark, t, 2)
    assert(VersionedTable.statColsOf(m) == Seq("k"))
    // and dynamicOverwrite still works (all files tagged)
    VersionedTable.dynamicOverwrite(spark, t,
      Seq((9L, "b", 90L)).toDF("k", "g", "x"), "g")
    assert(VersionedTable.read(spark, t).select(col("k")).as[Long]
      .collect().toSet == Set(1L, 3L, 9L))
  }

  test("target stat columns missing from the source are computed on adopt") {
    val dir = scratch(); val t = dir + "/t"; val stg = dir + "/stg"
    VersionedTable.commit(spark, t,
      Seq((1L, 10L)).toDF("k", "x"), append = false, statCols = Seq("k"))
    VersionedTable.commit(spark, stg,
      Seq((2L, 20L)).toDF("k", "x"), append = false) // no stats
    VersionedTable.adoptCommit(spark, t, stg)
    val m = VersionedTable.manifest(spark, t, 2)
    val stCovered = m.filter(_.startsWith("st\t")).map(
      l => l.substring(l.lastIndexOf('\t') + 1))
    assert(VersionedTable.dataFilesOf(m).forall(f =>
      stCovered.exists(c => c.endsWith(new org.apache.hadoop.fs.Path(f)
        .getName))), "every file incl. adopted must carry k stats")
  }

  test("target constraint violation: publish rejected, files move back") {
    val dir = scratch(); val t = dir + "/t"; val stg = dir + "/stg"
    VersionedTable.commit(spark, t,
      Seq((1L, 10L)).toDF("k", "x"), append = false)
    VersionedTable.addConstraint(spark, t, "x_pos", "x > 0")
    VersionedTable.commit(spark, stg,
      Seq((2L, -20L)).toDF("k", "x"), append = false)
    val stgBefore = parquetCount(stg)
    val e = intercept[IllegalStateException] {
      VersionedTable.adoptCommit(spark, t, stg)
    }
    assert(e.getMessage.contains("x_pos"))
    assert(VersionedTable.versions(spark, t) == Seq(1))
    // the staging table survived the rejected publish intact
    assert(parquetCount(stg) == stgBefore)
    assert(VersionedTable.read(spark, stg).select(col("k")).as[Long]
      .collect().toSet == Set(2L))
    assert(VersionedTable.cleanOrphans(spark, t, olderThanMs = -600000L)
      .isEmpty)
  }

  test("tombstoned source is rejected up front") {
    val dir = scratch(); val t = dir + "/t"; val stg = dir + "/stg"
    VersionedTable.commit(spark, t,
      Seq((1L, 10L)).toDF("k", "x"), append = false)
    VersionedTable.commit(spark, stg,
      (1L to 10L).map(i => (i, i)).toDF("k", "x"), append = false)
    VersionedTable.deleteCommit(spark, stg, col("k") === 3L)
    intercept[IllegalArgumentException] {
      VersionedTable.adoptCommit(spark, t, stg)
    }
    assert(parquetCount(stg) > 0, "rejection must not touch the source")
  }

  test("lost commit race: files move back, staging intact, retry succeeds") {
    val dir = scratch(); val t = dir + "/t"; val stg = dir + "/stg"
    VersionedTable.commit(spark, t,
      Seq((1L, 10L)).toDF("k", "x"), append = false)
    VersionedTable.commit(spark, stg,
      Seq((2L, 20L)).toDF("k", "x"), append = false)
    val stgBefore = parquetCount(stg)
    // steal the version between the move and the publish
    // (deterministic race via the pre-publish hook seam)
    intercept[RuntimeException] {
      VersionedTable.adoptCommitHook(spark, t, stg,
        beforePublish = { next =>
          VersionedTable.writeManifest(spark, t, next,
            VersionedTable.manifest(spark, t, 1))
        })
    }
    assert(parquetCount(stg) == stgBefore,
      "losing the race must move every file back")
    assert(VersionedTable.read(spark, stg).select(col("k")).as[Long]
      .collect().toSet == Set(2L))
    // deliberate retry lands on the next free version
    val v = VersionedTable.adoptCommit(spark, t, stg)
    assert(v == 3)
    assert(VersionedTable.read(spark, t).select(col("k")).as[Long]
      .collect().toSet == Set(1L, 2L))
  }

  test("adopt with append=false is a logical overwrite by the staged data") {
    val dir = scratch(); val t = dir + "/t"; val stg = dir + "/stg"
    VersionedTable.commit(spark, t,
      Seq((1L, 10L)).toDF("k", "x"), append = false)
    VersionedTable.commit(spark, stg,
      Seq((2L, 20L)).toDF("k", "x"), append = false)
    VersionedTable.adoptCommit(spark, t, stg, append = false)
    assert(VersionedTable.read(spark, t).select(col("k")).as[Long]
      .collect().toSet == Set(2L))
    // time travel to the pre-publish state still works
    assert(VersionedTable.read(spark, t, Some(1)).select(col("k"))
      .as[Long].collect().toSet == Set(1L))
  }
}
