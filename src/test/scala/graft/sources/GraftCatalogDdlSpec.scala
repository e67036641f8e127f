package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Atomic SQL DDL surface: CTAS / REPLACE TABLE AS SELECT through the
  * DSv2 staging seam ([[GraftStagedTable]] — the whole SELECT lands
  * while the table stays invisible or the old snapshot stays live,
  * then ONE manifest rename publishes), TRUNCATE TABLE
  * ([[GraftTable.truncateTable]] — metadata-only overwrite commit),
  * TBLPROPERTIES on CREATE/CTAS, and MERGE WITH SCHEMA EVOLUTION
  * (Spark 4's `ResolveMergeIntoSchemaEvolution` driving this
  * catalog's `alterTable`). */
class GraftCatalogDdlSpec extends SparkSpec {
  import spark.implicits._

  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("graft_ddl").toString
    spark.conf.set("spark.sql.catalog.gd", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gd.warehouse", w)
    w
  }

  private def srcView(name: String, n: Long = 100L): Unit =
    (1L to n).map(k => (k, k * 10, s"s${k % 4}"))
      .toDF("k", "amount", "tag").createOrReplaceTempView(name)

  test("CTAS publishes table + data in one version, stats included") {
    warehouse; srcView("ddl_src")
    spark.sql("CREATE TABLE gd.c1 AS SELECT * FROM ddl_src WHERE k <= 60")
    val t = s"$warehouse/c1"
    assert(VersionedTable.versions(spark, t) == Seq(1),
      "CTAS must publish exactly one version")
    assert(spark.sql("SELECT count(*) FROM gd.c1").as[Long].head() == 60L)
    assert(spark.sql("SELECT sum(amount) FROM gd.c1").as[Long].head() ==
      (1L to 60L).map(_ * 10).sum)
    // the staged write went through the standard commit tail: the
    // manifest carries the declared schema line and fz byte sizes
    val lines = VersionedTable.manifest(spark, t, 1)
    assert(VersionedTable.tableSchemaAt(spark, t, 1).isDefined,
      "CTAS manifest must carry the sc schema line")
    assert(VersionedTable.fileSizesOf(lines).nonEmpty,
      "CTAS manifest must carry fz byte sizes")
  }

  test("partitioned CTAS: every file pt-tagged, pruning live at birth") {
    warehouse; srcView("ddl_srcp")
    spark.sql("CREATE TABLE gd.c2 PARTITIONED BY (tag) AS " +
      "SELECT * FROM ddl_srcp")
    val t = s"$warehouse/c2"
    val lines = VersionedTable.manifest(spark, t, 1)
    val data = VersionedTable.dataFilesOf(lines).map(VersionedTable.norm)
    assert(data.nonEmpty)
    assert(VersionedTable.partitionsOf(lines).map(_._3)
      .map(VersionedTable.norm).toSet == data.toSet,
      "every CTAS data file must carry its pt tag")
    val cand = VersionedTable.partitionCandidates(lines, "tag", Seq("s1"))
    assert(cand.size < data.size,
      "a one-partition read must prune the other partitions' files")
    assert(spark.sql("SELECT count(*) FROM gd.c2 WHERE tag = 's1'")
      .as[Long].head() == 25L)
  }

  test("CTAS TBLPROPERTIES land atomically; reserved keys filtered") {
    warehouse; srcView("ddl_srct")
    spark.sql("CREATE TABLE gd.c3 TBLPROPERTIES " +
      "('team.owner' = 'graft', 'write.delete.mode' = 'merge-on-read') " +
      "AS SELECT * FROM ddl_srct WHERE k <= 5")
    val props = VersionedTable.tablePropertiesOf(spark, s"$warehouse/c3")
    assert(props.get("team.owner").contains("graft"))
    assert(props.get("write.delete.mode").contains("merge-on-read"))
    assert(!props.contains("provider") && !props.contains("location"),
      s"engine bookkeeping keys must not leak into _props: $props")
    // plain CREATE TABLE also honors TBLPROPERTIES now
    spark.sql("CREATE TABLE gd.c3b (k BIGINT) TBLPROPERTIES " +
      "('a.b' = 'c')")
    assert(VersionedTable.tablePropertiesOf(spark, s"$warehouse/c3b")
      .get("a.b").contains("c"))
  }

  test("failed CTAS leaves no table; failed RTAS keeps the old snapshot") {
    warehouse; srcView("ddl_srcf")
    val boom = udf((k: Long) =>
      if (k > 50) sys.error("mid-write failure") else k)
    spark.udf.register("ddl_boom", boom)
    intercept[Exception] {
      spark.sql("CREATE TABLE gd.cf AS " +
        "SELECT ddl_boom(k) AS k, amount FROM ddl_srcf")
    }
    assert(!new java.io.File(s"$warehouse/cf/_manifests").exists(),
      "a failed CTAS must not leave a visible table")
    intercept[Exception] { spark.sql("SELECT * FROM gd.cf").collect() }
    // RTAS failure: the old snapshot stays the head
    spark.sql("CREATE TABLE gd.cr AS SELECT * FROM ddl_srcf WHERE k <= 10")
    intercept[Exception] {
      spark.sql("REPLACE TABLE gd.cr AS " +
        "SELECT ddl_boom(k) AS k, amount FROM ddl_srcf")
    }
    assert(VersionedTable.versions(spark, s"$warehouse/cr") == Seq(1),
      "a failed REPLACE must not publish")
    assert(spark.sql("SELECT count(*) FROM gd.cr").as[Long].head() == 10L)
  }

  test("RTAS is a logical overwrite: new head, old version travels") {
    warehouse; srcView("ddl_srcr")
    spark.sql("CREATE TABLE gd.r1 AS SELECT * FROM ddl_srcr WHERE k <= 30")
    spark.sql("REPLACE TABLE gd.r1 AS " +
      "SELECT k, tag FROM ddl_srcr WHERE k > 90") // reshaped schema too
    assert(spark.sql("SELECT count(*) FROM gd.r1").as[Long].head() == 10L)
    assert(spark.sql("SELECT count(*) FROM gd.r1 VERSION AS OF 1")
      .as[Long].head() == 30L)
    assert(spark.table("gd.r1").columns.toSeq == Seq("k", "tag"),
      "REPLACE must restart the schema lineage")
    // REPLACE of a missing table fails; CREATE OR REPLACE creates it
    intercept[Exception] {
      spark.sql("REPLACE TABLE gd.r_missing AS SELECT 1 AS x") }
    spark.sql("CREATE OR REPLACE TABLE gd.r2 AS " +
      "SELECT * FROM ddl_srcr WHERE k <= 3")
    assert(spark.sql("SELECT count(*) FROM gd.r2").as[Long].head() == 3L)
    spark.sql("CREATE OR REPLACE TABLE gd.r2 AS " +
      "SELECT * FROM ddl_srcr WHERE k <= 7")
    assert(spark.sql("SELECT count(*) FROM gd.r2").as[Long].head() == 7L)
    assert(VersionedTable.versions(spark, s"$warehouse/r2") == Seq(1, 2))
  }

  test("CTAS loses a creation race loudly, never overwrites the winner") {
    warehouse; srcView("ddl_srcx", 20L)
    val cat = spark.sessionState.catalogManager.catalog("gd")
      .asInstanceOf[GraftCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier
      .of(Array.empty, "race1")
    val schema = spark.table("ddl_srcx").schema
    val stagedT = cat.stageCreate(ident, schema,
      Array.empty[org.apache.spark.sql.connector.expressions.Transform], java.util.Map.of("p.k", "v"))
    // stage the CTAS data write (table still invisible)
    val rel = stagedT.asInstanceOf[GraftStagedTable]
      .newWriteBuilder(null).build()
      .asInstanceOf[org.apache.spark.sql.connector.write.V1Write]
      .toInsertableRelation
    rel.insert(spark.table("ddl_srcx").filter(col("k") <= 5), false)
    // the race winner publishes v1 first
    VersionedTable.commit(spark, s"$warehouse/race1",
      Seq((100L, 0L, "w")).toDF("k", "amount", "tag"), append = false)
    val e = intercept[RuntimeException] {
      stagedT.asInstanceOf[GraftStagedTable].commitStagedChanges() }
    assert(e.getMessage.contains("race") ||
      e.getMessage.contains("conflict"), e.getMessage)
    // winner's table intact; the loser never touched the registry
    // (properties apply only after a successful publish)
    assert(spark.sql("SELECT k FROM gd.race1").as[Long].collect().toSeq
      == Seq(100L))
    assert(!VersionedTable.tablePropertiesOf(spark, s"$warehouse/race1")
      .contains("p.k"),
      "a losing CTAS must never leave its properties on the winner")
  }

  test("CREATE OR REPLACE wins races: create-race and commit-race") {
    warehouse; srcView("ddl_srcy", 20L)
    val cat = spark.sessionState.catalogManager.catalog("gd")
      .asInstanceOf[GraftCatalog]
    def stage(name: String): GraftStagedTable = {
      val ident = org.apache.spark.sql.connector.catalog.Identifier
        .of(Array.empty, name)
      val st = cat.stageCreateOrReplace(ident,
        spark.table("ddl_srcy").schema,
        Array.empty[org.apache.spark.sql.connector.expressions.Transform],
        java.util.Map.of()).asInstanceOf[GraftStagedTable]
      st.newWriteBuilder(null).build()
        .asInstanceOf[org.apache.spark.sql.connector.write.V1Write]
        .toInsertableRelation
        .insert(spark.table("ddl_srcy").filter(col("k") <= 5), false)
      st
    }
    // create-race: someone creates the table while we stage — CREATE
    // OR REPLACE must still land (last writer wins)
    val st1 = stage("cor1")
    VersionedTable.commit(spark, s"$warehouse/cor1",
      Seq((100L, 0L, "w")).toDF("k", "amount", "tag"), append = false)
    st1.commitStagedChanges()
    assert(spark.sql("SELECT count(*) FROM gd.cor1").as[Long].head() == 5L)
    // commit-race on an existing table: concurrent append between
    // stage and publish must not fail a CREATE OR REPLACE either
    val st2 = stage("cor1")
    spark.sql("INSERT INTO gd.cor1 SELECT * FROM ddl_srcy WHERE k = 9")
    st2.commitStagedChanges()
    assert(spark.sql("SELECT count(*) FROM gd.cor1").as[Long].head() == 5L)
  }

  test("file-less metadata tables and typo'd mode keys fail fast") {
    warehouse; srcView("ddl_srcz", 10L)
    spark.sql("CREATE TABLE gd.z1 AS SELECT * FROM ddl_srcz")
    spark.sql("TRUNCATE TABLE gd.z1")
    // .files on a truncated table: zero rows, not a crash
    assert(spark.sql("SELECT count(*) FROM gd.z1.files")
      .as[Long].head() == 0L)
    assert(spark.sql("SELECT count(*) FROM gd.z1.partitions")
      .as[Long].head() == 0L)
    // behavior-bearing mode keys validate on every entry path
    intercept[Exception] { spark.sql("ALTER TABLE gd.z1 SET " +
      "TBLPROPERTIES ('write.update.mode' = 'Merge-On-Read')") }
    intercept[Exception] { spark.sql("ALTER TABLE gd.z1 SET " +
      "TBLPROPERTIES ('write.merge.mode' = 'merge_on_read')") }
    intercept[Exception] { spark.sql("CREATE TABLE gd.z2 " +
      "TBLPROPERTIES ('write.merge.mode' = 'mor') AS " +
      "SELECT * FROM ddl_srcz") }
    assert(!new java.io.File(s"$warehouse/z2/_manifests").exists(),
      "a CTAS rejected on properties must not create the table")
    intercept[Exception] { spark.sql("CREATE TABLE gd.z3 (k BIGINT) " +
      "TBLPROPERTIES ('write.update.mode' = 'cow')") }
    assert(!new java.io.File(s"$warehouse/z3/_manifests").exists())
    // the valid spellings still land
    spark.sql("ALTER TABLE gd.z1 SET TBLPROPERTIES " +
      "('write.update.mode' = 'merge-on-read')")
    assert(VersionedTable.tablePropertiesOf(spark, s"$warehouse/z1")
      .get("write.update.mode").contains("merge-on-read"))
  }

  test("TRUNCATE: zero rows, schema + partition spec survive, history travels") {
    warehouse; srcView("ddl_srcu")
    spark.sql("CREATE TABLE gd.t1 PARTITIONED BY (tag) AS " +
      "SELECT * FROM ddl_srcu")
    spark.sql("TRUNCATE TABLE gd.t1")
    assert(spark.sql("SELECT count(*) FROM gd.t1").as[Long].head() == 0L)
    assert(spark.sql("SELECT count(*) FROM gd.t1 VERSION AS OF 1")
      .as[Long].head() == 100L)
    assert(spark.table("gd.t1").columns.toSeq == Seq("k", "amount", "tag"),
      "TRUNCATE must keep the schema")
    // the truncating commit wrote no data files — metadata only
    val t = s"$warehouse/t1"
    val v2 = VersionedTable.manifest(spark, t, 2)
    assert(VersionedTable.dataFilesOf(v2).isEmpty,
      "TRUNCATE must be a metadata-only commit")
    // the partition spec survives: the next INSERT lands pt-tagged
    spark.sql("INSERT INTO gd.t1 SELECT * FROM ddl_srcu WHERE k <= 8")
    val v3 = VersionedTable.manifest(spark, t, 3)
    val data = VersionedTable.dataFilesOf(v3).map(VersionedTable.norm)
    assert(data.nonEmpty && VersionedTable.partitionsOf(v3).map(_._3)
      .map(VersionedTable.norm).toSet == data.toSet,
      "post-TRUNCATE inserts must stay partition-tagged")
    assert(spark.sql("SELECT count(*) FROM gd.t1 WHERE tag = 's1'")
      .as[Long].head() == 2L)
  }

  test("DML against a truncated table: DELETE/UPDATE no-op, MERGE inserts") {
    warehouse; srcView("ddl_srce")
    spark.sql("CREATE TABLE gd.e1 PARTITIONED BY (tag) AS " +
      "SELECT * FROM ddl_srce")
    spark.sql("TRUNCATE TABLE gd.e1")
    val t = s"$warehouse/e1"
    val headAfterTrunc = VersionedTable.versions(spark, t).last
    // DELETE on a file-less snapshot: no-op, no version published —
    // through both routing modes
    spark.sql("DELETE FROM gd.e1 WHERE k <= 10")
    spark.sql("ALTER TABLE gd.e1 SET TBLPROPERTIES " +
      "('write.delete.mode' = 'merge-on-read')")
    spark.sql("DELETE FROM gd.e1 WHERE k <= 10")
    spark.sql("ALTER TABLE gd.e1 UNSET TBLPROPERTIES ('write.delete.mode')")
    assert(VersionedTable.versions(spark, t).last == headAfterTrunc,
      "DELETE on an empty snapshot must publish nothing")
    // UPDATE matches nothing — must not crash; row count stays 0
    spark.sql("UPDATE gd.e1 SET amount = 0 WHERE k = 1")
    assert(spark.sql("SELECT count(*) FROM gd.e1").as[Long].head() == 0L)
    // MERGE NOT MATCHED inserts INTO the empty table — and the new
    // files carry pt tags (the spec declaration survives truncate and
    // the row-level write falls back to it when no tagged files exist)
    spark.sql(
      """MERGE INTO gd.e1 t USING ddl_srce u ON t.k = u.k
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM gd.e1").as[Long].head() == 100L)
    val head = VersionedTable.manifest(spark, t,
      VersionedTable.versions(spark, t).last)
    val data = VersionedTable.dataFilesOf(head)
    assert(data.nonEmpty && VersionedTable.partitionsOf(head).map(_._3)
      .toSet == data.toSet,
      "a MERGE into a truncated partitioned table must re-tag its files")
    assert(spark.sql("SELECT count(*) FROM gd.e1 WHERE tag = 's1'")
      .as[Long].head() == 25L)
  }

  test("merge/keyed-delete against a file-less snapshot; COW delete-all " +
    "keeps the partition declaration") {
    warehouse; srcView("ddl_srcv", 20L)
    spark.sql("CREATE TABLE gd.v1 PARTITIONED BY (tag) AS " +
      "SELECT * FROM ddl_srcv")
    spark.sql("TRUNCATE TABLE gd.v1")
    val t = s"$warehouse/v1"
    // keyed delete on zero files: no-op, no crash, no version
    val head0 = VersionedTable.versions(spark, t).last
    VersionedTable.deleteCommit(spark, t, col("k") === 1L)
    assert(VersionedTable.versions(spark, t).last == head0)
    // library mergeCommit into the file-less snapshot: all inserts,
    // and the rewrite re-tags from the declared spec
    VersionedTable.mergeCommit(spark, t,
      (1L to 8L).map(k => (k, k, s"s${k % 4}"))
        .toDF("k", "amount", "tag"), "k")
    assert(spark.sql("SELECT count(*) FROM gd.v1").as[Long].head() == 8L)
    val m = VersionedTable.manifest(spark, t,
      VersionedTable.versions(spark, t).last)
    assert(VersionedTable.partitionsOf(m).map(_._3).toSet ==
      VersionedTable.dataFilesOf(m).toSet && VersionedTable
      .dataFilesOf(m).nonEmpty,
      "a merge into a truncated partitioned table must re-tag")
    // COW delete-all: zero surviving files, but the spec DECLARATION
    // carries — the next insert stays partition-tagged
    spark.sql("DELETE FROM gd.v1 WHERE amount >= 0")
    assert(spark.sql("SELECT count(*) FROM gd.v1").as[Long].head() == 0L)
    spark.sql("INSERT INTO gd.v1 SELECT * FROM ddl_srcv WHERE k <= 4")
    val m2 = VersionedTable.manifest(spark, t,
      VersionedTable.versions(spark, t).last)
    assert(VersionedTable.dataFilesOf(m2).nonEmpty &&
      VersionedTable.partitionsOf(m2).map(_._3).toSet ==
      VersionedTable.dataFilesOf(m2).toSet,
      "a COW delete-all must not strip the partitioned_by declaration")
  }

  test("SHOW TABLES survives one unreadable table directory") {
    warehouse; srcView("ddl_srcl", 5L)
    spark.sql("CREATE TABLE gd.l_ok AS SELECT * FROM ddl_srcl")
    // plant a manifest directory whose listing throws on read: a
    // protocol-gated table (requires a feature this build lacks)
    val gated = s"$warehouse/l_gated"
    VersionedTable.commit(spark, gated,
      Seq((1L, 1L)).toDF("k", "v"), append = false)
    // a protocol gate from a future build (planted raw — the API
    // correctly refuses to require a feature this build lacks)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(gated, "_protocol"),
      "r\tfrom-the-future\n".getBytes("UTF-8"))
    intercept[Exception] { spark.sql("SELECT * FROM gd.l_gated").collect() }
    val listed = spark.sql("SHOW TABLES IN gd").collect()
      .map(_.getString(1)).toSet
    assert(listed.contains("l_ok"),
      s"one gated table must not hide the namespace: $listed")
    assert(listed.contains("l_gated"),
      "the gated table still IS a table — listing it is correct")
  }

  test("change feed across TRUNCATE: every row surfaces as a delete") {
    warehouse; srcView("ddl_srcw", 10L)
    spark.sql("CREATE TABLE gd.w1 AS SELECT * FROM ddl_srcw")
    spark.sql("TRUNCATE TABLE gd.w1")
    val feed = VersionedTable.readChanges(spark, s"$warehouse/w1", 1, 2)
    assert(feed.filter(col("change") === "insert").count() == 0L)
    assert(feed.filter(col("change") === "delete")
      .agg(sum(col("n"))).as[Long].head() == 10L,
      "a truncate must stream as a full delete set")
  }

  test("CALL gd.system.clone: zero-copy fork through SQL, lives apart") {
    warehouse; srcView("ddl_srcc", 50L)
    spark.sql("CREATE TABLE gd.cl_src AS SELECT * FROM ddl_srcc")
    spark.sql("INSERT INTO gd.cl_src SELECT k + 100, amount, tag " +
      "FROM ddl_srcc WHERE k <= 10")
    // clone v1 (pre-insert) by explicit version; head by default
    spark.sql("CALL gd.system.clone('cl_src', 'cl_v1', 1)")
    spark.sql("CALL gd.system.clone('cl_src', 'cl_head')")
    assert(spark.sql("SELECT count(*) FROM gd.cl_v1").as[Long].head()
      == 50L)
    assert(spark.sql("SELECT count(*) FROM gd.cl_head").as[Long].head()
      == 60L)
    // the clone's v1 references the source files verbatim (zero copy)
    val srcFiles = VersionedTable.dataFilesOf(VersionedTable.manifest(
      spark, s"$warehouse/cl_src", 2)).toSet
    val cloneFiles = VersionedTable.dataFilesOf(VersionedTable.manifest(
      spark, s"$warehouse/cl_head", 1)).toSet
    assert(cloneFiles == srcFiles, "shallow clone must not copy data")
    // the fork lives its own life: writes touch only the clone
    spark.sql("DELETE FROM gd.cl_head WHERE k <= 25")
    assert(spark.sql("SELECT count(*) FROM gd.cl_src").as[Long].head()
      == 60L, "clone writes must never touch the source")
    // cloning onto an existing table fails loudly
    intercept[Exception] {
      spark.sql("CALL gd.system.clone('cl_src', 'cl_head')") }
  }

  test("write.stats.columns: SQL writes stamp st stats from birth") {
    warehouse; srcView("ddl_srcs")
    spark.sql("CREATE TABLE gd.s1 TBLPROPERTIES " +
      "('write.stats.columns' = 'k, amount') AS " +
      "SELECT * FROM ddl_srcs")
    val t = s"$warehouse/s1"
    val l1 = VersionedTable.manifest(spark, t, 1)
    val covered = l1.filter(_.startsWith("st\t"))
      .map(_.split('\t')(1).takeWhile(_ != '=')).toSet
    assert(covered == Set("k", "amount"),
      s"CTAS must stamp declared st stats, got $covered")
    // later INSERTs stay covered — and file skipping works without an
    // ANALYZE: a point range opens fewer files than the table holds
    spark.sql("INSERT INTO gd.s1 SELECT k + 1000, amount, tag " +
      "FROM ddl_srcs")
    val l2 = VersionedTable.manifest(spark, t, 2)
    val files = VersionedTable.dataFilesOf(l2).toSet
    val perFile = l2.filter(_.startsWith("st\t"))
      .map(_.split('\t').last).toSet
    assert(files.subsetOf(perFile),
      "every SQL-written file must carry st lines")
    val cand = VersionedTable.scanCandidates(l2,
      Seq(VersionedTable.ScanPred.NumBetween("k", 1001L, 1005L)))
    assert(cand.size < files.size,
      "declared stats must prune SQL reads with zero ANALYZE calls")
    // a column evolving in later is skipped, not fatal: write a frame
    // without 'amount' through the library against the same property
    spark.sql("ALTER TABLE gd.s1 SET TBLPROPERTIES " +
      "('write.stats.columns' = 'k, amount, nope')")
    spark.sql("INSERT INTO gd.s1 SELECT k + 5000, amount, tag " +
      "FROM ddl_srcs WHERE k <= 3")
    assert(VersionedTable.versions(spark, t) == Seq(1, 2, 3),
      "a declared-but-absent stats column must not fail the write")
  }

  test("MERGE WITH SCHEMA EVOLUTION adds the source-only column (COW)") {
    warehouse; srcView("ddl_srcm", 10L)
    spark.sql("CREATE TABLE gd.m1 AS " +
      "SELECT k, amount FROM ddl_srcm WHERE k <= 6")
    Seq((5L, 500L, "fresh"), (6L, 600L, "fresh"), (11L, 110L, "new"))
      .toDF("k", "amount", "note").createOrReplaceTempView("ddl_up")
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO gd.m1 t
        |USING ddl_up u ON t.k = u.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.table("gd.m1").columns.toSeq ==
      Seq("k", "amount", "note"), "the source-only column must evolve in")
    val got = spark.sql("SELECT k, amount, note FROM gd.m1 ORDER BY k")
      .as[(Long, Long, Option[String])].collect().toSeq
    assert(got == Seq((1L, 10L, None), (2L, 20L, None), (3L, 30L, None),
      (4L, 40L, None), (5L, 500L, Some("fresh")),
      (6L, 600L, Some("fresh")), (11L, 110L, Some("new"))),
      s"got $got")
  }

  test("MERGE WITH SCHEMA EVOLUTION under merge-on-read mode") {
    warehouse; srcView("ddl_srcm2", 10L)
    spark.sql("CREATE TABLE gd.m2 TBLPROPERTIES " +
      "('write.merge.mode' = 'merge-on-read') AS " +
      "SELECT k, amount FROM ddl_srcm2 WHERE k <= 6")
    val before = VersionedTable.dataFilesOf(VersionedTable.manifest(
      spark, s"$warehouse/m2",
      VersionedTable.versions(spark, s"$warehouse/m2").last))
      .map(VersionedTable.norm).toSet
    Seq((6L, 999L, "x"), (12L, 120L, "y")).toDF("k", "amount", "note")
      .createOrReplaceTempView("ddl_up2")
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO gd.m2 t
        |USING ddl_up2 u ON t.k = u.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val head = VersionedTable.versions(spark, s"$warehouse/m2").last
    val after = VersionedTable.dataFilesOf(VersionedTable.manifest(
      spark, s"$warehouse/m2", head)).map(VersionedTable.norm).toSet
    assert(before.subsetOf(after),
      "MOR merge must carry every pre-existing file verbatim")
    val got = spark.sql("SELECT k, amount, note FROM gd.m2 ORDER BY k")
      .as[(Long, Long, Option[String])].collect().toSeq
    assert(got == Seq((1L, 10L, None), (2L, 20L, None), (3L, 30L, None),
      (4L, 40L, None), (5L, 50L, None), (6L, 999L, Some("x")),
      (12L, 120L, Some("y"))), s"got $got")
  }
}
