package graft.sources

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The dv-sidecar reads: every sidecar is read with the one fixed
  * `(__gf, __gpos)` schema (no footer open, no inference), so a
  * legacy key-keyed sidecar — `(__gf, key…)`, written by an older
  * build — must fail the read loudly instead of reading as NULL
  * positions and silently resurrecting its rows; the FileCol-only
  * sidecar frame behind [[VersionedTable.changedFiles]] unions sidecar
  * generations across a purge; and sized sidecars plan with zero
  * getFileStatus calls. */
class DvSidecarReadSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("vdvr").toString + "/t"

  private def seed(t: String): Unit =
    VersionedTable.commit(spark, t,
      (1L to 400L).map(i => (i, i * 10)).toDF("k", "x")
        .repartitionByRange(4, col("k")),
      append = false, statCols = Seq("k"))

  private def dvFiles(t: String, v: Int): Seq[String] =
    VersionedTable.dvFilesOf(VersionedTable.manifest(spark, t, v))

  private def msgs(x: Throwable): Seq[String] =
    Option(x).toSeq.flatMap(e =>
      Option(e.getMessage).toSeq ++ msgs(e.getCause))

  test("a legacy key-keyed sidecar fails reads loudly, resurrects no row") {
    val t = freshTable()
    seed(t) // v1
    val lines = VersionedTable.manifest(spark, t, 1)
    val f0 = VersionedTable.dataFilesOf(lines).head
    val doomed = spark.read.parquet(f0).select("k").as[Long]
      .collect().sorted.take(3).toSeq
    assert(doomed.size == 3)
    // an older build's keyed delete: `(__gf, k)` rows, published by a
    // manifest exactly as that build's deleteCommit did
    val dir = new Path(t, "data/2-dv-legacy").toString
    doomed.map(k => (VersionedTable.norm(f0), k)).toDF("__gf", "k")
      .coalesce(1).write.parquet(dir)
    val side = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration).listStatus(new Path(dir))
      .map(_.getPath.toString).filter(_.endsWith(".parquet")).toSeq
    assert(side.size == 1)
    VersionedTable.writeManifest(spark, t, 2, lines ++ side.map("dv\t" + _))
    def refused(what: String)(body: => Any): Unit = {
      val e = intercept[Exception](body)
      assert(msgs(e).exists(m => m.contains("__gpos") &&
        m.contains("older build")), s"$what: ${msgs(e).mkString(" | ")}")
    }
    refused("collect")(VersionedTable.read(spark, t).collect())
    refused("count")(VersionedTable.read(spark, t).count())
    refused("doomed-key lookup")(VersionedTable.read(spark, t)
      .filter(col("k").isin(doomed: _*)).collect())
    refused("compaction")(VersionedTable.compactCommit(spark, t, 10000L))
    assert(VersionedTable.versions(spark, t) == Seq(1, 2),
      "a refused rewrite must publish nothing")
    // the pre-delete snapshot stays readable
    assert(VersionedTable.read(spark, t, Some(1)).count() == 400L)
  }

  test("tagged reads carry each file's identity, spelled as the " +
    "per-row input_file_name expression spelled it") {
    // a directory name Spark URL-encodes: space, %, # and, where the
    // JVM's file-name encoding can spell one, a non-ASCII character
    val nonAscii =
      if (System.getProperty("sun.jnu.encoding") == "UTF-8") "\u00e9" else ""
    val t = Files.createTempDirectory(s"vdvr tag %25 #x$nonAscii")
      .toString + "/t"
    seed(t) // v1: 4 files
    val lines = VersionedTable.manifest(spark, t, 1)
    val files = VersionedTable.dataFilesOf(lines)
    assert(files.size == 4)
    // the per-row spelling older builds stored in `__gf`
    val legacy = expr("regexp_replace(regexp_replace(input_file_name()," +
      " '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*', '')," +
      " '^[a-zA-Z][a-zA-Z0-9+.-]*:', '')")
    // sized (fz) files keep the manifest path; unsized ones are stat-ed
    // and carry the file system's qualified path — both spell alike
    for (ls <- Seq(lines, lines.filterNot(_.startsWith("fz\t")))) {
      val pairs = VersionedTable.readSnapshotTagged(spark, ls)
        .select(col("__gf"), legacy).as[(String, String)].collect()
      assert(pairs.length == 400 && pairs.forall(p => p._1 == p._2),
        pairs.find(p => p._1 != p._2).toString)
      assert(pairs.map(_._1).distinct.length == 4)
    }
    val tagged = VersionedTable.readSnapshotTagged(spark, lines)
    val tagOf = tagged.select("__gf", "k").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // filtering on the tag lists exactly the files it admits
    tagOf.foreach { case (tag, ks) =>
      assert(tagged.filter(col("__gf") === tag).select("k").as[Long]
        .collect().toSet == ks)
    }
    val two = tagOf.keys.toSeq.take(2)
    assert(tagged.filter(col("__gf").isin(two: _*)).count() ==
      two.map(tagOf(_).size).sum)
    assert(tagged.filter(col("__gf") === "/no/such/file").count() == 0L)
    // a sidecar written with the per-row spelling still hides its rows
    val f0 = files.head
    val doomed = spark.read.parquet(f0)
      .select(legacy.as("__gf"), col("_metadata.row_index").as("__gpos"),
        col("k"))
      .orderBy("__gpos").limit(3).collect()
    val dir = new Path(t, "data/2-dv-old").toString
    doomed.map(r => (r.getString(0), r.getLong(1))).toSeq
      .toDF("__gf", "__gpos").coalesce(1).write.parquet(dir)
    val side = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration).listStatus(new Path(dir))
      .map(_.getPath.toString).filter(_.endsWith(".parquet")).toSeq
    VersionedTable.writeManifest(spark, t, 2, lines ++ side.map("dv\t" + _))
    val gone = doomed.map(_.getLong(2)).toSet
    assert(VersionedTable.read(spark, t).select("k").as[Long].collect()
      .toSet == (1L to 400L).toSet -- gone)
  }

  test("changedFiles unions sidecar generations across a purge") {
    val t = freshTable()
    seed(t) // v1
    VersionedTable.deleteCommit(spark, t, col("k") <= 100) // v2: dv
    VersionedTable.purgeTombstonesCommit(spark, t, 200L) // v3: dvs purged
    VersionedTable.deleteCommit(spark, t,
      col("k") % 7 === 0) // v4: a new dv generation
    val first = dvFiles(t, 2); val second = dvFiles(t, 4)
    assert(first.nonEmpty && second.nonEmpty)
    assert(first.toSet.intersect(second.toSet).isEmpty,
      "fixture must actually cross two sidecar generations")
    // the feed across the generations must equal the brute-force
    // multiset diff of the two snapshots
    val changes = VersionedTable.readChanges(spark, t, 2, 4)
    val a = VersionedTable.read(spark, t, Some(2)).as[(Long, Long)]
      .collect().toSeq
    val b = VersionedTable.read(spark, t, Some(4)).as[(Long, Long)]
      .collect().toSeq
    def multiset(s: Seq[(Long, Long)]) =
      s.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ma = multiset(a); val mb = multiset(b)
    val wantDeletes = ma.flatMap { case (r, n) =>
      val net = n - mb.getOrElse(r, 0L)
      if (net > 0) Some(r -> net) else None
    }
    val wantInserts = mb.flatMap { case (r, n) =>
      val net = n - ma.getOrElse(r, 0L)
      if (net > 0) Some(r -> net) else None
    }
    val got = changes.collect().map(r =>
      ((r.getLong(0), r.getLong(1)), r.getString(2), r.getLong(3)))
    assert(got.collect { case (r, "delete", n) => r -> n }.toMap ==
      wantDeletes, "delete side of the cross-generation feed")
    assert(got.collect { case (r, "insert", n) => r -> n }.toMap ==
      wantInserts, "insert side of the cross-generation feed")
  }

  test("sized sidecars plan with ZERO getFileStatus calls (fz-fed dv reads)") {
    val t = freshTable()
    seed(t)
    VersionedTable.deleteCommit(spark, t, col("k") % 50 === 0)
    val lines = VersionedTable.manifest(spark, t,
      VersionedTable.versions(spark, t).last)
    val sizes = VersionedTable.fileSizesOf(lines)
    assert(dvFiles(t, 2).forall(f =>
      sizes.contains(VersionedTable.norm(f))),
      "commit must record fz lines for dv sidecars like data files")
    var rpcs = 0
    VersionedTable.fileSizeRpcNotifier = (_, n) => rpcs += n
    val n = try VersionedTable.read(spark, t).count()
    finally VersionedTable.fileSizeRpcNotifier = (_, _) => ()
    assert(n == 392L)
    assert(rpcs == 0,
      s"fz-covered MOR read must plan with zero FS stats, paid $rpcs")
  }
}
