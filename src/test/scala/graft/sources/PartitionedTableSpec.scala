package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Partition-tagged commits, manifest-level partition pruning, and
  * dynamic partition overwrite on [[VersionedTable]]. */
class PartitionedTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("vparts").toString + "/t"

  private def sample: DataFrame =
    Seq(
      (1L, "2024-01", 10.0), (2L, "2024-01", 20.0),
      (3L, "2024-02", 30.0), (4L, "2024-02", 40.0),
      (5L, "2024-03", 50.0)
    ).toDF("k", "day", "amt")

  private def rows(df: DataFrame): Set[(Long, String, Double)] =
    df.select("k", "day", "amt").as[(Long, String, Double)].collect().toSet

  test("partitioned commit round-trips; partition column stays in the data") {
    val t = freshTable()
    VersionedTable.commitPartitioned(spark, t, sample, "day", append = false)
    val back = VersionedTable.read(spark, t)
    assert(back.columns.toSet == Set("k", "day", "amt")) // no __pt leak
    assert(rows(back) == rows(sample))
    val m = VersionedTable.manifest(spark, t, 1)
    assert(VersionedTable.partitionsOf(m).map(_._2).distinct.sorted ==
      Seq("2024-01", "2024-02", "2024-03"))
    assert(VersionedTable.partitionsOf(m).forall(_._1 == "day"))
    // every data file is tagged
    assert(VersionedTable.partitionsOf(m).size ==
      VersionedTable.dataFilesOf(m).size)
  }

  test("partition-spec evolution: metadata-only re-declare; era-B " +
    "prunes by new tag, era-A by stats; old reads intact") {
    import VersionedTable.ScanPred._
    val t = freshTable()
    // era A: partitioned by day, k 1..100, stats on k
    VersionedTable.commitPartitionedMulti(spark, t,
      (1L to 100L).map(i => (i, s"2024-0${1 + (i % 2)}", s"r${i % 3}"))
        .toDF("k", "day", "region"),
      Seq("day"), append = false, statCols = Seq("k"))
    val eraA = VersionedTable.dataFilesOf(
      VersionedTable.manifest(spark, t, 1)).toSet
    // EVOLVE: one metadata commit, zero data I/O, no files touched
    val v2 = VersionedTable.setSpecCommit(spark, t, Seq("region"))
    assert(v2 == 2)
    assert(VersionedTable.dataFilesOf(
      VersionedTable.manifest(spark, t, 2)).toSet == eraA,
      "spec evolution must be pure metadata")
    // era B: routed by the NEW spec
    VersionedTable.commitPartitionedMulti(spark, t,
      (101L to 200L).map(i => (i, s"2024-0${1 + (i % 2)}", s"r${i % 3}"))
        .toDF("k", "day", "region"),
      Seq("region"), append = true)
    val lines = VersionedTable.manifest(spark, t, 3)
    val eraB = VersionedTable.dataFilesOf(lines).toSet -- eraA
    val tagsBy = VersionedTable.partitionsOf(lines)
      .groupBy(x => x._3).view.mapValues(_.map(_._1).toSet).toMap
    assert(eraA.forall(f => tagsBy(f) == Set("day")),
      "era-A files keep their old-era tags")
    assert(eraB.forall(f => tagsBy(f) == Set("region")),
      "era-B files tag by the evolved spec")
    // one candidate set, both pruning dimensions: region tag prunes
    // era B; the k range (all era-B keys are >100) prunes era A by st
    // stats — NEITHER era scans what its own evidence rules out
    val cand = VersionedTable.scanCandidates(lines,
      Seq(PartIn("region", Seq("r1")),
        NumBetween("k", 101L, Long.MaxValue))).map(_.toString).toSet
    assert(cand.intersect(eraA).isEmpty,
      "era-A files must prune by st stats")
    assert(cand.nonEmpty && cand.subsetOf(eraB) && cand != eraB,
      s"era-B must prune to the r1-tagged files: $cand")
    // reads stay row-identical across the evolution
    assert(VersionedTable.read(spark, t).count() == 200L)
    assert(VersionedTable.readWhere(spark, t,
      Seq(PartIn("region", Seq("r1")))).count() ==
      (1L to 200L).count(_ % 3 == 1))
    // un-partition explicitly: later writes stop tagging
    VersionedTable.setSpecCommit(spark, t, Nil)
    VersionedTable.commit(spark, t,
      Seq((201L, "2024-09", "r9")).toDF("k", "day", "region"),
      append = true)
    val after = VersionedTable.manifest(spark, t,
      VersionedTable.versions(spark, t).last)
    assert(VersionedTable.identitySpecOf(after).isEmpty,
      "empty spec = explicitly unpartitioned")
    // a column outside the schema is refused
    intercept[IllegalArgumentException] {
      VersionedTable.setSpecCommit(spark, t, Seq("nope"))
    }
  }

  test("set_spec drops per-commit meta — only the spec declaration " +
    "carries into the evolution commit") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      (1L to 10L).map(i => (i, s"r${i % 2}")).toDF("k", "region"),
      append = false, meta = Map("note" -> "seed-provenance"))
    val v = VersionedTable.setSpecCommit(spark, t, Seq("region"))
    val meta = VersionedTable.metaOf(VersionedTable.manifest(spark, t, v))
    assert(!meta.contains("note"),
      "stale per-commit meta must not re-stamp into the set_spec commit")
    assert(meta("partitioned_by") == "region")
    assert(VersionedTable.read(spark, t).count() == 10L)
  }

  test("readPartitions == read.filter on every value subset, and prunes") {
    val t = freshTable()
    VersionedTable.commitPartitioned(spark, t,
      sample.repartition(col("day")), "day", append = false)
    val m = VersionedTable.manifest(spark, t, 1)
    for (values <- Seq(Seq("2024-01"), Seq("2024-01", "2024-03"),
        Seq("2024-09"), Seq.empty[String])) {
      val pruned = VersionedTable.readPartitions(spark, t, "day", values)
      val full = VersionedTable.read(spark, t)
        .filter(col("day").isin(values: _*))
      assert(rows(pruned) == rows(full), s"values=$values")
      // pruning decision: exactly the requested tags' files
      assert(VersionedTable.partitionCandidates(m, "day", values).size ==
        VersionedTable.partitionsOf(m).count(p => values.contains(p._2)))
    }
  }

  test("dynamic overwrite replaces exactly the incoming partitions") {
    val t = freshTable()
    VersionedTable.commitPartitioned(spark, t,
      sample.repartition(col("day")), "day", append = false)
    val incoming = Seq((6L, "2024-02", 99.0), (7L, "2024-04", 70.0))
      .toDF("k", "day", "amt")
    val v2 = VersionedTable.dynamicOverwrite(spark, t,
      incoming.repartition(col("day")), "day")
    // semantic: untouched partitions intact, 2024-02 replaced, 2024-04 new
    assert(rows(VersionedTable.read(spark, t)) ==
      rows(sample.filter(col("day") =!= "2024-02")
        .unionByName(incoming)))
    // time travel: pre-overwrite snapshot unchanged
    assert(rows(VersionedTable.read(spark, t, Some(1))) == rows(sample))
    // file-level: untouched tags carry verbatim; replaced files leave
    val m1 = VersionedTable.manifest(spark, t, 1)
    val m2 = VersionedTable.manifest(spark, t, v2)
    val untouched = VersionedTable.partitionsOf(m1).filterNot(_._2 == "2024-02")
    assert(untouched.forall(VersionedTable.partitionsOf(m2).contains))
    val replaced = VersionedTable.partitionsOf(m1)
      .filter(_._2 == "2024-02").map(_._3).toSet
    assert(!VersionedTable.partitionsOf(m2).map(_._3).exists(replaced))
    assert(VersionedTable.metaOf(m2)("overwrote_partitions") == "2024-02")
  }

  test("dynamic overwrite refuses an untagged table; readPartitions still exact") {
    val t = freshTable()
    VersionedTable.commit(spark, t, sample, append = false) // untagged
    val e = intercept[IllegalArgumentException] {
      VersionedTable.dynamicOverwrite(spark, t,
        Seq((9L, "2024-01", 1.0)).toDF("k", "day", "amt"), "day")
    }
    assert(e.getMessage.contains("tagged by 'day'"))
    // untagged files are always-candidates: the pruned read stays exact
    val pruned = VersionedTable.readPartitions(spark, t, "day", Seq("2024-01"))
    assert(rows(pruned) == rows(sample.filter(col("day") === "2024-01")))
  }

  test("null partition values land in the default tag and never prune away") {
    val t = freshTable()
    val withNull = Seq((1L, Some("2024-01"), 1.0), (2L, None, 2.0))
      .toDF("k", "day", "amt")
    VersionedTable.commitPartitioned(spark, t, withNull, "day",
      append = false)
    val m = VersionedTable.manifest(spark, t, 1)
    assert(VersionedTable.partitionsOf(m).map(_._2).toSet ==
      Set("2024-01", VersionedTable.NullPartitionTag))
    // a value read opens the null-tag file too (it MIGHT hold matches
    // under a different rendering) but filters exactly
    val got = VersionedTable.readPartitions(spark, t, "day", Seq("2024-01"))
      .select("k").as[Long].collect().toSeq
    assert(got == Seq(1L))
    // and the null partition cannot be overwritten
    intercept[IllegalArgumentException] {
      VersionedTable.dynamicOverwrite(spark, t,
        Seq((3L, Option.empty[String], 3.0)).toDF("k", "day", "amt"), "day")
    }
  }

  test("path-hostile partition values round-trip through the dir escaping") {
    val t = freshTable()
    val odd = Seq((1L, "a b:c/d", 1.0), (2L, "plain", 2.0))
      .toDF("k", "day", "amt")
    VersionedTable.commitPartitioned(spark, t, odd, "day", append = false)
    val m = VersionedTable.manifest(spark, t, 1)
    assert(VersionedTable.partitionsOf(m).map(_._2).toSet ==
      Set("a b:c/d", "plain"))
    val got = VersionedTable.readPartitions(spark, t, "day", Seq("a b:c/d"))
    assert(got.select("k").as[Long].collect().toSeq == Seq(1L))
  }

  test("tombstones on carried partitions survive an overwrite; replaced ones die") {
    val t = freshTable()
    VersionedTable.commitPartitioned(spark, t,
      sample.repartition(col("day")), "day", append = false)
    // delete one row in a partition that will CARRY, one that will die
    VersionedTable.deleteCommit(spark, t, col("k").isin(1L, 3L))
    VersionedTable.dynamicOverwrite(spark, t,
      Seq((8L, "2024-02", 80.0)).toDF("k", "day", "amt")
        .repartition(col("day")), "day")
    // k=1 (2024-01, carried) stays deleted; 2024-02 is exactly the new row
    assert(rows(VersionedTable.read(spark, t)) ==
      rows(sample.filter(col("k") =!= 1L && col("day") =!= "2024-02")
        .unionByName(Seq((8L, "2024-02", 80.0)).toDF("k", "day", "amt"))))
  }

  test("partition-spec evolution: other-column tags never prune away") {
    val t = freshTable()
    // v1 partitioned by day, v2 APPENDED partitioned by a different
    // column — the day files may hold any region and vice versa
    val byDay = Seq((1L, "2024-01", "eu", 1.0), (2L, "2024-02", "us", 2.0))
      .toDF("k", "day", "region", "amt")
    val byRegion = Seq((3L, "2024-01", "us", 3.0), (4L, "2024-03", "eu", 4.0))
      .toDF("k", "day", "region", "amt")
    VersionedTable.commitPartitioned(spark, t, byDay, "day", append = false)
    VersionedTable.commitPartitioned(spark, t, byRegion, "region",
      append = true)
    val m = VersionedTable.manifest(spark, t, 2)
    assert(VersionedTable.partitionsOf(m).map(_._1).toSet ==
      Set("day", "region"))
    // a day read must still see row k=3 (day 2024-01, region-tagged file)
    def keys(df: DataFrame) = df.select("k").as[Long].collect().sorted.toSeq
    assert(keys(VersionedTable.readPartitions(spark, t, "day",
      Seq("2024-01"))) == Seq(1L, 3L))
    // and a region read must see row k=1 (region eu, day-tagged file)
    assert(keys(VersionedTable.readPartitions(spark, t, "region",
      Seq("eu"))) == Seq(1L, 4L))
    // pruning still happens within each column's own tags: a day read
    // skips OTHER day files but keeps every region file
    val cand = VersionedTable.partitionCandidates(m, "day", Seq("2024-01"))
    assert(cand.size == 1 + VersionedTable.partitionsFor(m, "region").size)
    // the overwrite guard treats foreign tags like untagged files
    val e = intercept[IllegalArgumentException] {
      VersionedTable.dynamicOverwrite(spark, t, byDay, "day")
    }
    assert(e.getMessage.contains("tagged by another"))
  }

  test("readPartitionRange == read.filter on closed ranges, and prunes") {
    val t = freshTable()
    VersionedTable.commitPartitioned(spark, t,
      sample.repartition(col("day")), "day", append = false)
    val m = VersionedTable.manifest(spark, t, 1)
    for ((lo, hi) <- Seq(("2024-01", "2024-02"), ("2024-02", "2024-02"),
        ("2023-01", "2023-12"), ("2024-03", "2024-09"))) {
      val pruned = VersionedTable.readPartitionRange(spark, t, "day", lo, hi)
      val full = VersionedTable.read(spark, t)
        .filter(col("day") >= lo && col("day") <= hi)
      assert(rows(pruned) == rows(full), s"[$lo,$hi]")
      assert(VersionedTable.partitionCandidatesRange(m, "day", lo, hi).size ==
        VersionedTable.partitionsFor(m, "day")
          .count(p => p._1 >= lo && p._1 <= hi), s"[$lo,$hi]")
    }
    // untagged and null-tagged files never prune away under a range
    VersionedTable.commit(spark, t,
      Seq((9L, "2024-09", 9.0)).toDF("k", "day", "amt").coalesce(1),
      append = true)
    val got = VersionedTable.readPartitionRange(spark, t, "day",
      "2024-03", "2024-09")
    assert(got.select("k").as[Long].collect().sorted.toSeq == Seq(5L, 9L))
  }

  test("SHOW PARTITIONS: per-value file counts, NULL row for untagged files") {
    val t = freshTable()
    VersionedTable.commitPartitioned(spark, t,
      sample.repartition(col("day")), "day", append = false)
    val p1 = VersionedTable.partitions(spark, t)
      .as[(Option[String], Option[String], Long)].collect().toSeq
    assert(p1 == Seq((Some("day"), Some("2024-01"), 1L),
      (Some("day"), Some("2024-02"), 1L),
      (Some("day"), Some("2024-03"), 1L)))
    // a plain (untagged) append surfaces as the NULL-membership row
    VersionedTable.commit(spark, t,
      Seq((9L, "2024-09", 9.0)).toDF("k", "day", "amt").coalesce(1),
      append = true)
    val p2 = VersionedTable.partitions(spark, t)
      .as[(Option[String], Option[String], Long)].collect().toSeq
    assert(p2.contains((None, None, 1L)) && p2.size == 4)
    // and the SQL surface serves it
    VersionedTable.registerViews(spark, "pt_demo", t)
    assert(spark.sql(
      "SELECT count(*) FROM pt_demo_partitions WHERE partition IS NOT NULL")
      .collect()(0).getLong(0) == 3L)
  }

  test("partitioned append accumulates tags; merge carries tags on untouched files") {
    val t = freshTable()
    VersionedTable.commitPartitioned(spark, t,
      sample.repartition(col("day")), "day", append = false)
    VersionedTable.commitPartitioned(spark, t,
      Seq((9L, "2024-04", 90.0)).toDF("k", "day", "amt"), "day",
      append = true)
    val m2 = VersionedTable.manifest(spark, t, 2)
    assert(VersionedTable.partitionsOf(m2).map(_._2).distinct.sorted ==
      Seq("2024-01", "2024-02", "2024-03", "2024-04"))
    // a keyed merge touching only k=5 (2024-03) must keep every other
    // file's partition tag in the new manifest
    val v3 = VersionedTable.mergeCommit(spark, t,
      Seq((5L, "2024-03", 55.0)).toDF("k", "day", "amt"), "k")
    val m3 = VersionedTable.manifest(spark, t, v3)
    val untouchedTags = VersionedTable.partitionsOf(m2)
      .filterNot(_._2 == "2024-03")
    assert(untouchedTags.forall(VersionedTable.partitionsOf(m3).contains),
      "merge must preserve partition tags on carried files")
    assert(rows(VersionedTable.read(spark, t)) ==
      rows(sample.filter(col("k") =!= 5L)
        .unionByName(Seq((5L, "2024-03", 55.0), (9L, "2024-04", 90.0))
          .toDF("k", "day", "amt"))))
  }

  test("vacuum on a partitioned table keeps the live snapshot's files") {
    val t = freshTable()
    VersionedTable.commitPartitioned(spark, t,
      sample.repartition(col("day")), "day", append = false)
    VersionedTable.commitPartitioned(spark, t,
      Seq((9L, "2024-04", 90.0)).toDF("k", "day", "amt"), "day",
      append = true)
    // retire v1's manifest — v2 carries every v1 file, so NOTHING may
    // be deleted (the sweep must see the parquet files one __pt level
    // down, not read the commit dirs as empty)
    VersionedTable.vacuum(spark, t, keepLast = 1)
    assert(rows(VersionedTable.read(spark, t)) ==
      rows(sample.unionByName(
        Seq((9L, "2024-04", 90.0)).toDF("k", "day", "amt"))))
    // and a vacuum that DOES retire files only takes the dead ones
    VersionedTable.commitPartitioned(spark, t,
      Seq((1L, "2024-01", 11.0)).toDF("k", "day", "amt"), "day",
      append = false) // logical overwrite: v1/v2 files now unreferenced
    VersionedTable.vacuum(spark, t, keepLast = 1)
    assert(rows(VersionedTable.read(spark, t)) ==
      rows(Seq((1L, "2024-01", 11.0)).toDF("k", "day", "amt")))
  }

  test("dynamic overwrite rejects empty-string partition values") {
    val t = freshTable()
    VersionedTable.commitPartitioned(spark, t,
      sample.repartition(col("day")), "day", append = false)
    // Spark files "" under the same default tag as null — allowing it
    // would append a second NullPartitionTag file instead of replacing
    val e = intercept[IllegalArgumentException] {
      VersionedTable.dynamicOverwrite(spark, t,
        Seq((9L, "", 9.0)).toDF("k", "day", "amt"), "day")
    }
    assert(e.getMessage.contains("null/empty"))
  }

  test("cleanOrphans reclaims crashed-partitioned-write residue in __pt subdirs") {
    val t = freshTable()
    VersionedTable.commitPartitioned(spark, t,
      sample.repartition(col("day")), "day", append = false)
    // simulate a crash between the partitioned data write and the
    // manifest publish: files exist under data/<dir>/__pt=… with no
    // manifest referencing them
    val orphanDir = t + "/data/99-deadbeef"
    Seq((7L, "2024-07", 7.0)).toDF("k", "day", "amt")
      .withColumnRenamed("day", "__pt")
      .write.partitionBy("__pt").parquet(orphanDir)
    val deleted = VersionedTable.cleanOrphans(spark, t, olderThanMs = -1000)
    assert(deleted.nonEmpty && deleted.forall(_.contains("99-deadbeef")))
    // live table untouched
    assert(rows(VersionedTable.read(spark, t)) == rows(sample))
  }

  test("a __pt input column is rejected, not silently dropped") {
    val t = freshTable()
    val clash = sample.withColumn("__pt", lit("x"))
    val e = intercept[IllegalArgumentException] {
      VersionedTable.commitPartitioned(spark, t, clash, "day",
        append = false)
    }
    assert(e.getMessage.contains("__pt"))
  }

  test("merge and compact on a partitioned table re-tag their outputs") {
    val t = freshTable()
    VersionedTable.commitPartitioned(spark, t,
      sample.repartition(col("day")), "day", append = false)
    // a merge rewriting one partition's file emits pt-tagged outputs
    val v2 = VersionedTable.mergeCommit(spark, t,
      Seq((5L, "2024-03", 55.0)).toDF("k", "day", "amt"), "k")
    val m2 = VersionedTable.manifest(spark, t, v2)
    assert(VersionedTable.partitionsOf(m2).map(p => norm(p._3)).toSet ==
      VersionedTable.dataFilesOf(m2).map(norm).toSet,
      "every data file after a merge must still carry its partition tag")
    // so dynamicOverwrite still works post-merge…
    VersionedTable.dynamicOverwrite(spark, t,
      Seq((8L, "2024-02", 88.0)).toDF("k", "day", "amt"), "day")
    // …and after a compaction too
    val v4 = VersionedTable.compactCommit(spark, t, targetRows = 100L)
    val m4 = VersionedTable.manifest(spark, t, v4)
    assert(VersionedTable.partitionsOf(m4).map(p => norm(p._3)).toSet ==
      VersionedTable.dataFilesOf(m4).map(norm).toSet)
    VersionedTable.dynamicOverwrite(spark, t,
      Seq((9L, "2024-04", 99.0)).toDF("k", "day", "amt"), "day")
    assert(rows(VersionedTable.read(spark, t)) ==
      rows(sample.filter(col("k") =!= 5L && col("day") =!= "2024-02")
        .unionByName(Seq((5L, "2024-03", 55.0), (8L, "2024-02", 88.0),
          (9L, "2024-04", 99.0)).toDF("k", "day", "amt"))))
  }

  private def norm(s: String): String =
    new org.apache.hadoop.fs.Path(s).toUri.getPath

  private def multiSample: DataFrame =
    Seq(
      (1L, "2024-01", "eu", 10.0), (2L, "2024-01", "us", 20.0),
      (3L, "2024-02", "eu", 30.0), (4L, "2024-02", "us", 40.0),
      (5L, "2024-02", "us", 50.0)
    ).toDF("k", "day", "region", "amt")

  private def mrows(df: DataFrame): Set[(Long, String, String, Double)] =
    df.select("k", "day", "region", "amt")
      .as[(Long, String, String, Double)].collect().toSet

  test("multi-column partitioned commit: every file tagged by BOTH columns") {
    val t = freshTable()
    VersionedTable.commitPartitionedMulti(spark, t, multiSample,
      Seq("day", "region"), append = false)
    val m = VersionedTable.manifest(spark, t, 1)
    val byFile = VersionedTable.partitionsOf(m)
      .groupBy(p => norm(p._3)).view.mapValues(_.map(_._1).sorted).toMap
    assert(byFile.nonEmpty &&
      byFile.values.forall(_ == Seq("day", "region")))
    assert(VersionedTable.dataFilesOf(m).size == 4) // 4 distinct cells
    assert(mrows(VersionedTable.read(spark, t)) == mrows(multiSample))
    assert(VersionedTable.metaOf(m)("partitioned_by") == "day,region")
  }

  test("conjunction pruning == read.filter; candidates intersect per column") {
    val t = freshTable()
    VersionedTable.commitPartitionedMulti(spark, t, multiSample,
      Seq("day", "region"), append = false)
    val m = VersionedTable.manifest(spark, t, 1)
    for (filters <- Seq(
        Seq("day" -> Seq("2024-02"), "region" -> Seq("us")),
        Seq("day" -> Seq("2024-01", "2024-02"), "region" -> Seq("eu")),
        Seq("day" -> Seq("2024-09"), "region" -> Seq("us")),
        Seq("region" -> Seq("us")))) {
      val pruned = VersionedTable.readPartitionsMulti(spark, t, filters)
      val full = filters.foldLeft(VersionedTable.read(spark, t)) {
        case (df, (c, vs)) => df.filter(col(c).isin(vs: _*)) }
      assert(mrows(pruned) == mrows(full), s"filters=$filters")
    }
    // the (2024-02, us) cell is ONE file out of four
    assert(VersionedTable.partitionCandidatesMulti(m,
      Seq("day" -> Seq("2024-02"), "region" -> Seq("us"))).size == 1)
    // single-column reads still work off either column's tags
    assert(VersionedTable.partitionCandidates(m, "region", Seq("eu")).size == 2)
  }

  test("single→multi spec evolution: reads stay exact, pruning per tagged column") {
    val t = freshTable()
    // v1: single-column spec (day)
    VersionedTable.commitPartitioned(spark, t,
      multiSample.filter(col("k") <= 2L), "day", append = false)
    // v2: appended under the evolved (day, region) spec
    VersionedTable.commitPartitionedMulti(spark, t,
      multiSample.filter(col("k") > 2L), Seq("day", "region"),
      append = true)
    val m = VersionedTable.manifest(spark, t, 2)
    // a day read prunes across BOTH generations (both tag day)
    val dayRead = VersionedTable.readPartitions(spark, t, "day",
      Seq("2024-02"))
    assert(mrows(dayRead) == mrows(multiSample.filter(col("day") === "2024-02")))
    // a region read must treat day-only files as never-prunable…
    val regionRead = VersionedTable.readPartitionsMulti(spark, t,
      Seq("region" -> Seq("eu")))
    assert(mrows(regionRead) == mrows(multiSample.filter(col("region") === "eu")))
    // …which the candidate set shows: all v1 files + the eu cells of v2
    val v1Files = VersionedTable.partitionsFor(
      VersionedTable.manifest(spark, t, 1), "day").map(_._2)
    val cand = VersionedTable.partitionCandidatesMulti(m,
      Seq("region" -> Seq("eu")))
    assert(v1Files.forall(f => cand.map(norm).contains(norm(f))))
    // a merge on the MIXED-spec table emits untagged files but stays exact
    VersionedTable.mergeCommit(spark, t,
      Seq((1L, "2024-01", "eu", 11.0)).toDF("k", "day", "region", "amt"), "k")
    assert(mrows(VersionedTable.read(spark, t)) ==
      mrows(multiSample.filter(col("k") =!= 1L).unionByName(
        Seq((1L, "2024-01", "eu", 11.0)).toDF("k", "day", "region", "amt"))))
  }

  test("merge and compact on a multi-column table re-tag with the full spec") {
    val t = freshTable()
    VersionedTable.commitPartitionedMulti(spark, t, multiSample,
      Seq("day", "region"), append = false, statCols = Seq("k"))
    val v2 = VersionedTable.mergeCommit(spark, t,
      Seq((5L, "2024-02", "us", 55.0)).toDF("k", "day", "region", "amt"), "k")
    val m2 = VersionedTable.manifest(spark, t, v2)
    val byFile = VersionedTable.partitionsOf(m2)
      .groupBy(p => norm(p._3)).view.mapValues(_.map(_._1).sorted).toMap
    assert(VersionedTable.dataFilesOf(m2).map(norm)
      .forall(f => byFile.get(f).contains(Seq("day", "region"))),
      "every post-merge file must carry both tags")
    val v3 = VersionedTable.compactCommit(spark, t, targetRows = 100L)
    val m3 = VersionedTable.manifest(spark, t, v3)
    val byFile3 = VersionedTable.partitionsOf(m3)
      .groupBy(p => norm(p._3)).view.mapValues(_.map(_._1).sorted).toMap
    assert(VersionedTable.dataFilesOf(m3).map(norm)
      .forall(f => byFile3.get(f).contains(Seq("day", "region"))))
    assert(mrows(VersionedTable.read(spark, t)) ==
      mrows(multiSample.filter(col("k") =!= 5L).unionByName(
        Seq((5L, "2024-02", "us", 55.0)).toDF("k", "day", "region", "amt"))))
  }
}
