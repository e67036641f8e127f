package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Metadata tables (history / files) and the concurrent-writer retry
  * commit on [[VersionedTable]]. */
class TableIntrospectionSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(name: String): String =
    Files.createTempDirectory(name).toString + "/t"

  test("history reports file counts and commit metadata per version") {
    val t = fresh("vhist")
    VersionedTable.commit(spark, t,
      (1L to 100L).map(i => (i, i)).toDF("k", "x")
        .repartitionByRange(4, col("k")), append = false)
    VersionedTable.deleteCommit(spark, t, col("k") === 7)
    VersionedTable.commit(spark, t,
      Seq((200L, 1L)).toDF("k", "x"), append = true,
      meta = Map("job" -> "nightly"))
    val h = VersionedTable.history(spark, t)
      .as[(Int, Int, Int, Long, String)].collect().sortBy(_._1).toSeq
    assert(h.map(_._1) == Seq(1, 2, 3))
    assert(h(0)._2 == 4 && h(0)._3 == 0 && h(0)._5 == "")
    assert(h(1)._2 == 4 && h(1)._3 == 1) // dv sidecar, no data rewrite
    assert(h(2)._3 == 1 && h(2)._5 == "job=nightly")
    // in-commit timestamps surface as a real column, monotone
    assert(h.map(_._4).forall(_ > 0) && h.map(_._4) == h.map(_._4).sorted)
  }

  test("files lists per-file row counts and min/max of a snapshot") {
    val t = fresh("vfiles")
    VersionedTable.commit(spark, t,
      (1L to 400L).map(i => (i, i * 2)).toDF("k", "x")
        .repartitionByRange(4, col("k")), append = false)
    val f = VersionedTable.files(spark, t, Seq("k"))
      .select(col("n_rows"), col("k_min"), col("k_max"))
      .as[(Long, Long, Long)].collect().sortBy(_._2).toSeq
    assert(f.size == 4)
    assert(f.map(_._1).sum == 400L)
    // range-partitioned: file ranges tile [1, 400] without overlap
    f.sliding(2).foreach { case Seq(a, b) => assert(a._3 < b._2) }
    assert(f.head._2 == 1L && f.last._3 == 400L)
  }

  test("commitWithRetry survives losing the version race") {
    val t = fresh("vretry")
    VersionedTable.commit(spark, t, Seq((1L, "a")).toDF("k", "v"),
      append = false)
    // deterministic collision: the hook fires AFTER the contender
    // computed its version and BEFORE it publishes — the thief steals
    // exactly that number, so the first writeManifest MUST collide and
    // the retry path re-reads the thief's head
    var stole = false
    val v = VersionedTable.commitWithRetryHook(spark, t,
      Seq((2L, "b")).toDF("k", "v"), append = true,
      onAttempt = { next =>
        if (!stole) {
          stole = true
          VersionedTable.writeManifest(spark, t, next,
            VersionedTable.manifest(spark, t, 1))
        }
      })
    assert(stole && v == 3, s"loser must land on the next version, got $v")
    assert(VersionedTable.read(spark, t).select("k").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("registerViews: SQL reaches snapshots, history, and file stats") {
    val t = fresh("vsql")
    VersionedTable.commit(spark, t,
      (1L to 300L).map(i => (i, i * 2)).toDF("k", "x")
        .repartitionByRange(3, col("k")), append = false)
    VersionedTable.registerViews(spark, "vt_sql", t, statCols = Seq("k"))
    assert(spark.sql("SELECT count(*) c, sum(x) s FROM vt_sql")
      .as[(Long, Long)].head() == ((300L, 90300L)))
    assert(spark.sql(
      "SELECT version, n_data_files FROM vt_sql_history")
      .as[(Int, Int)].head() == ((1, 3)))
    assert(spark.sql("SELECT count(*) FROM vt_sql_files")
      .as[Long].head() == 3L)
    // snapshot isolation: a commit AFTER registration is invisible...
    VersionedTable.commit(spark, t,
      Seq((1000L, 1L)).toDF("k", "x"), append = true)
    assert(spark.sql("SELECT count(*) FROM vt_sql").as[Long].head() == 300L)
    // ...until re-registration (REFRESH)
    VersionedTable.registerViews(spark, "vt_sql", t)
    assert(spark.sql("SELECT count(*) FROM vt_sql").as[Long].head() == 301L)
    // time travel through the version parameter
    VersionedTable.registerViews(spark, "vt_sql_v1", t, version = Some(1))
    assert(spark.sql("SELECT count(*) FROM vt_sql_v1").as[Long].head() == 300L)
    // constraints view: empty before, populated after ADD + re-register
    assert(spark.sql("SELECT count(*) FROM vt_sql_constraints")
      .as[Long].head() == 0L)
    VersionedTable.addConstraint(spark, t, "x_pos", "x > 0")
    VersionedTable.registerViews(spark, "vt_sql", t)
    assert(spark.sql(
      "SELECT name, expression FROM vt_sql_constraints")
      .as[(String, String)].head() == (("x_pos", "x > 0")))
    // tags view: empty before, populated after tagging + re-register
    assert(spark.sql("SELECT count(*) FROM vt_sql_tags")
      .as[Long].head() == 0L)
    VersionedTable.tagVersion(spark, t, "audit", 1)
    VersionedTable.registerViews(spark, "vt_sql", t)
    assert(spark.sql("SELECT name, version FROM vt_sql_tags")
      .as[(String, Int)].head() == (("audit", 1)))
    Seq("vt_sql", "vt_sql_history", "vt_sql_files", "vt_sql_v1",
      "vt_sql_v1_history", "vt_sql_constraints", "vt_sql_v1_constraints",
      "vt_sql_tags", "vt_sql_v1_tags")
      .foreach(spark.catalog.dropTempView)
  }

  test("cleanOrphans removes only old unreferenced files") {
    val t = fresh("vorphan")
    VersionedTable.commit(spark, t,
      (1L to 50L).map(i => (i, i)).toDF("k", "x"), append = false)
    // simulate a crashed commit: data written, manifest never published
    val orphanDir = new java.io.File(s"$t/data/99-deadbeef")
    orphanDir.mkdirs()
    val orphan = new java.io.File(orphanDir, "part-00000.parquet")
    java.nio.file.Files.write(orphan.toPath, Array[Byte](1, 2, 3))
    orphan.setLastModified(System.currentTimeMillis() - 3600_000L)
    // a FRESH orphan (in-flight commit) must survive the retention
    val freshOrphan = new java.io.File(orphanDir, "part-00001.parquet")
    java.nio.file.Files.write(freshOrphan.toPath, Array[Byte](4, 5))
    val deleted = VersionedTable.cleanOrphans(spark, t,
      olderThanMs = 600_000L)
    assert(deleted.size == 1 && deleted.head.endsWith("part-00000.parquet"))
    assert(freshOrphan.exists, "in-flight files must survive")
    assert(!orphan.exists)
    // the table itself is untouched
    assert(VersionedTable.read(spark, t).count() == 50L)
    // referenced files never age out
    assert(VersionedTable.cleanOrphans(spark, t, 0L)
      .forall(_.endsWith("part-00001.parquet")))
    assert(VersionedTable.read(spark, t).count() == 50L)
  }

  test("two genuinely concurrent appends both land") {
    val t = fresh("vrace")
    VersionedTable.commit(spark, t, Seq((0L, "base")).toDF("k", "v"),
      append = false)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = (1 to 4).map { i =>
      Future(VersionedTable.commitWithRetry(spark, t,
        Seq((i.toLong, s"w$i")).toDF("k", "v"), append = true))
    }
    // generous: under a fully loaded suite box four concurrent Spark
    // jobs + retry losers can exceed 2 min without anything being wrong
    val got = Await.result(Future.sequence(fs), 300.seconds)
    assert(got.toSet.size == 4, s"each writer needs its own version: $got")
    assert(VersionedTable.read(spark, t).select("k").as[Long]
      .collect().sorted.toSeq == Seq(0L, 1L, 2L, 3L, 4L))
  }
}
