package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.KMeans

/** Persisted IVF vector index ([[VersionedTable.vectorIndexBuild]] /
  * `vectorIndexTopK`): build once, probe many — with EXACT staleness
  * (appends surface without a rebuild, deleted rows never phantom)
  * and the text-index sidecar lifecycle. */
class VectorIndexSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("vvecidx").toString + "/t"

  private val Dim = 8

  /** Deterministic wide-spread vectors; component 0 strictly positive
    * so no vector has zero norm (cosine would be undefined). */
  private def vec(i: Long): Array[Float] =
    Array.tabulate(Dim)(j =>
      if (j == 0) ((i % 5) + 1).toFloat / 6f
      else (((i * 31 + j * 17 + i * j) % 13) - 6).toFloat / 6f)

  private def corpusDf(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, vec(i))).toDF("vec_id", "embedding")

  test("a fresh index serves probes row-identical to ivfTopKWith over " +
    "the persisted centroids, re-scanning ZERO files") {
    val t = freshTable()
    val ids = 0L until 200L
    VersionedTable.commit(spark, t,
      corpusDf(ids).repartitionByRange(4, col("vec_id")),
      append = false, statCols = Seq("vec_id"))
    VersionedTable.vectorIndexBuild(spark, t, "vec_id", "embedding",
      clusters = 4, iters = 2)
    val cents = VersionedTable.vectorIndexCentroids(spark, t, "embedding")
      .getOrElse(sys.error("centroids must persist"))
    assert(cents.length == 4 && cents.head.length == Dim)
    val queries = corpusDf(0L until 10L)
    var scanned = (-1, -1)
    VersionedTable.vectorIndexProbeNotifier = (r, n) => scanned = (r, n)
    try {
      val got = VersionedTable.vectorIndexTopK(spark, t, "embedding",
        queries, "vec_id", k = 5, nprobe = 2)
        .getOrElse(sys.error("index must be usable"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getDouble(3))).toSet
      val exp = KMeans.ivfTopKWith(cents, corpusDf(ids), queries,
        "vec_id", "embedding", 5, 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getDouble(3))).toSet
      assert(got == exp, s"diff: ${(got diff exp) ++ (exp diff got)}")
      assert(scanned == ((0, 4)),
        s"a fresh index must serve every file probe-only: $scanned")
    } finally VersionedTable.vectorIndexProbeNotifier = (_, _) => ()
  }

  test("appends surface WITHOUT a rebuild (stale files brute-force " +
    "in); deleted rows never phantom out of the index") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      corpusDf(0L until 200L).repartitionByRange(4, col("vec_id")),
      append = false, statCols = Seq("vec_id"))
    VersionedTable.vectorIndexBuild(spark, t, "vec_id", "embedding",
      clusters = 4, iters = 2)
    // append a vector in a direction NO corpus vector has (the
    // lattice can't produce an all-equal 0.9 vector) as id 500, and
    // query with exactly that direction: cos 1.0, the unique maximum
    // — it MUST rank 1 even though the index has never seen it
    val u = Array.fill(Dim)(0.9f)
    VersionedTable.commit(spark, t,
      Seq((500L, u)).toDF("vec_id", "embedding"), append = true)
    val queries = corpusDf(0L until 10L)
      .union(Seq((777L, u)).toDF("vec_id", "embedding"))
    var scanned = (-1, -1)
    VersionedTable.vectorIndexProbeNotifier = (r, n) => scanned = (r, n)
    try {
      val got = VersionedTable.vectorIndexTopK(spark, t, "embedding",
        queries, "vec_id", k = 5, nprobe = 2).get
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      val qtop = got.filter(x => x._1 == 777L && x._3 == 1).map(_._2)
      assert(qtop.sameElements(Array(500L)),
        s"the un-indexed duplicate must rank 1: ${got.filter(_._1 == 777L).toSeq}")
      assert(scanned._1 == 1 && scanned._2 == 5,
        s"exactly the appended file re-scans: $scanned")
      // delete the duplicate (positional tombstone, no rewrite): the
      // assignment rows of its file are no longer index-servable and
      // the row must vanish — never a phantom candidate
      VersionedTable.deleteCommit(spark, t,
        col("vec_id") === 500L)
      val got2 = VersionedTable.vectorIndexTopK(spark, t, "embedding",
        queries, "vec_id", k = 5, nprobe = 2).get
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(!got2.exists(_._2 == 500L),
        "a tombstoned row must never surface from the index")
      assert(scanned._1 >= 1, s"the dv'd file must re-scan: $scanned")
    } finally VersionedTable.vectorIndexProbeNotifier = (_, _) => ()
  }

  test("CALL gvi.system.build_vector_index / drop_vector_index drive " +
    "the lifecycle from SQL") {
    val w = Files.createTempDirectory("vecidx_cat").toString
    spark.conf.set("spark.sql.catalog.gvi", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gvi.warehouse", w)
    corpusDf(0L until 80L).createOrReplaceTempView("vi_src")
    spark.sql("CREATE TABLE gvi.e AS SELECT * FROM vi_src")
    val side = spark.sql("CALL gvi.system.build_vector_index(" +
      "'e', 'vec_id', 'embedding', clusters => 2, iters => 1)")
      .collect().head.getString(0)
    assert(side.contains("_index/vec_embedding_"), side)
    val got = VersionedTable.vectorIndexTopK(spark, s"$w/e",
      "embedding", corpusDf(Seq(1L)), "vec_id", 3)
    assert(got.isDefined && got.get.count() == 3L)
    assert(spark.sql(
      "CALL gvi.system.drop_vector_index('e', 'embedding')")
      .collect().head.getBoolean(0))
    assert(VersionedTable.vectorIndexTopK(spark, s"$w/e",
      "embedding", corpusDf(Seq(1L)), "vec_id", 3).isEmpty)
  }

  test("vectorIndexRefresh assigns new files to the existing " +
    "centroids — probes then serve them index-only; dv'd files " +
    "stay re-scanned and a covered file's new tombstones go stale") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      corpusDf(0L until 200L).repartitionByRange(4, col("vec_id")),
      append = false, statCols = Seq("vec_id"))
    VersionedTable.vectorIndexBuild(spark, t, "vec_id", "embedding",
      clusters = 4, iters = 2)
    val u = Array.fill(Dim)(0.9f)
    VersionedTable.commit(spark, t,
      Seq((500L, u)).toDF("vec_id", "embedding"), append = true)
    assert(VersionedTable.vectorIndexRefresh(spark, t, "embedding") == 1)
    assert(VersionedTable.vectorIndexRefresh(spark, t, "embedding") == 0)
    val queries = Seq((777L, u)).toDF("vec_id", "embedding")
    var scanned = (-1, -1)
    VersionedTable.vectorIndexProbeNotifier = (r, n) => scanned = (r, n)
    try {
      val got = VersionedTable.vectorIndexTopK(spark, t, "embedding",
        queries, "vec_id", k = 3, nprobe = 2).get
        .collect().map(r => (r.getLong(1), r.getInt(2)))
      assert(got.head == ((500L, 1)),
        s"the refreshed-in duplicate must rank 1 from the INDEX: " +
          got.toSeq.toString)
      assert(scanned == ((0, 5)),
        s"after refresh every file serves index-only: $scanned")
      // new tombstones on the refreshed-in file: exact staleness
      VersionedTable.deleteCommit(spark, t,
        col("vec_id") === 500L)
      val got2 = VersionedTable.vectorIndexTopK(spark, t, "embedding",
        queries, "vec_id", k = 3, nprobe = 2).get
        .collect().map(_.getLong(1))
      assert(!got2.contains(500L),
        "a tombstoned refreshed row must never phantom")
      assert(scanned._1 >= 1, s"the dv'd file must re-scan: $scanned")
      assert(VersionedTable.vectorIndexRefresh(spark, t, "embedding")
        == 0, "a dv'd-since-build file is never refreshed in")
    } finally VersionedTable.vectorIndexProbeNotifier = (_, _) => ()
  }

  test("maintain rebuilds a churned vector index past the declared " +
    "threshold with its stored parameters") {
    val t = freshTable()
    VersionedTable.commit(spark, t,
      corpusDf(0L until 100L).repartitionByRange(2, col("vec_id")),
      append = false, statCols = Seq("vec_id"))
    VersionedTable.vectorIndexBuild(spark, t, "vec_id", "embedding",
      clusters = 2, iters = 1)
    VersionedTable.setTableProperty(spark, t,
      VersionedTable.IndexRebuildProp, "0.5")
    (1 to 3).foreach { i =>
      VersionedTable.commit(spark, t,
        corpusDf(Seq(200L + i)).coalesce(1), append = true)
    }
    // 3 of 5 files un-indexed > 0.5: maintain rebuilds
    val acts = VersionedTable.maintain(spark, t, 1000000L,
      maxSmallFiles = 1000)
    assert(acts.exists(_.kind == "reindex-vector"), acts.toString)
    var scanned = (-1, -1)
    VersionedTable.vectorIndexProbeNotifier = (r, n) => scanned = (r, n)
    try {
      VersionedTable.vectorIndexTopK(spark, t, "embedding",
        corpusDf(Seq(1L)), "vec_id", 3).get.collect()
      assert(scanned._1 == 0,
        s"the rebuilt index must cover every file again: $scanned")
    } finally VersionedTable.vectorIndexProbeNotifier = (_, _) => ()
  }

  test("lifecycle: drop removes property + sidecar; a rebuild leaves " +
    "the superseded sidecar until cleanOrphans") {
    val t = freshTable()
    VersionedTable.commit(spark, t, corpusDf(0L until 80L),
      append = false)
    val first = VersionedTable.vectorIndexBuild(spark, t, "vec_id",
      "embedding", clusters = 2, iters = 1)
    val f = new org.apache.hadoop.fs.Path(first).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val second = VersionedTable.vectorIndexBuild(spark, t, "vec_id",
      "embedding", clusters = 2, iters = 1)
    assert(first != second)
    assert(f.exists(new org.apache.hadoop.fs.Path(first)),
      "the superseded sidecar must survive for concurrent readers")
    val swept = VersionedTable.cleanOrphans(spark, t, 0L)
    assert(swept.exists(_.contains(
      new org.apache.hadoop.fs.Path(first).getName)), swept.toString)
    assert(!f.exists(new org.apache.hadoop.fs.Path(first)))
    assert(f.exists(new org.apache.hadoop.fs.Path(second)))
    VersionedTable.vectorIndexDrop(spark, t, "embedding")
    assert(!f.exists(new org.apache.hadoop.fs.Path(second)))
    assert(VersionedTable.vectorIndexTopK(spark, t, "embedding",
      corpusDf(Seq(1L)), "vec_id", 3).isEmpty, "no index after drop")
    VersionedTable.vectorIndexDrop(spark, t, "embedding") // idempotent
  }
}
