package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** DSv2 surface ([[GraftCatalog]] / [[GraftSource]]): SQL reads with
  * time travel, filter/column/aggregate pushdown, manifest statistics,
  * SQL writes. The catalog is registered at RUNTIME on the shared
  * session (catalogs instantiate lazily on first reference). */
class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("graft_cat").toString
    spark.conf.set("spark.sql.catalog.gt", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gt.warehouse", w)
    w
  }

  private def seed(name: String): String = {
    val t = s"$warehouse/$name"
    VersionedTable.commit(spark, t,
      (1L to 100L).map(k => (k, k * 10, s"s${k % 7}"))
        .toDF("k", "amount", "tag")
        .repartitionByRange(4, col("k")),
      append = false, statCols = Seq("k", "amount"))
    t
  }

  test("SQL read equals the library read; filters prune files") {
    seed("ta")
    val got = spark.sql(
      "SELECT k, amount FROM gt.ta WHERE k BETWEEN 10 AND 20 ORDER BY k")
      .as[(Long, Long)].collect().toSeq
    assert(got == (10L to 20L).map(k => (k, k * 10)))
    // the claimed filter reaches the scan: candidate files < all files
    val scan = new GraftScanBuilder(s"$warehouse/ta", 1,
      VersionedTable.read(spark, s"$warehouse/ta").schema, Set.empty)
    val residual = scan.pushFilters(Array(
      org.apache.spark.sql.sources.GreaterThanOrEqual("k", 10L),
      org.apache.spark.sql.sources.LessThanOrEqual("k", 20L)))
    assert(residual.isEmpty, "integral range filters must be claimed")
    val lines = VersionedTable.manifest(spark, s"$warehouse/ta", 1)
    val cand = VersionedTable.scanCandidates(lines,
      Seq(VersionedTable.ScanPred.NumBetween("k", 10L, 20L)))
    assert(cand.size < VersionedTable.dataFilesOf(lines).size,
      "range-clustered table: the probe must skip files")
  }

  test("time travel via SQL: VERSION AS OF and pinned snapshots") {
    val t = seed("tb")
    VersionedTable.commit(spark, t,
      Seq((200L, 1L, "x")).toDF("k", "amount", "tag"), append = true)
    assert(spark.sql("SELECT count(*) AS n FROM gt.tb")
      .as[Long].head() == 101L)
    assert(spark.sql("SELECT count(*) AS n FROM gt.tb VERSION AS OF 1")
      .as[Long].head() == 100L)
  }

  test("SQL INSERT commits new versions; OVERWRITE truncates") {
    val t = seed("tc")
    spark.sql("INSERT INTO gt.tc VALUES (500, 5000, 'ins')")
    assert(VersionedTable.versions(spark, t) == Seq(1, 2))
    assert(spark.sql("SELECT amount FROM gt.tc WHERE k = 500")
      .as[Long].head() == 5000L)
    spark.sql("INSERT OVERWRITE gt.tc VALUES (1, 10, 'only')")
    assert(spark.sql("SELECT count(*) FROM gt.tc").as[Long].head() == 1L)
    // history survives: the pre-overwrite snapshot still travels
    assert(spark.sql("SELECT count(*) FROM gt.tc VERSION AS OF 2")
      .as[Long].head() == 101L)
  }

  test("CREATE TABLE then INSERT; DROP removes it") {
    warehouse
    spark.sql("CREATE TABLE gt.td (k BIGINT, v STRING)")
    spark.sql("INSERT INTO gt.td VALUES (1, 'a'), (2, 'b')")
    assert(spark.sql("SELECT count(*) FROM gt.td").as[Long].head() == 2L)
    assert(spark.sql("SHOW TABLES IN gt").collect()
      .map(_.getString(1)).contains("td"))
    spark.sql("DROP TABLE gt.td")
    assert(!new java.io.File(s"$warehouse/td/_manifests").exists())
  }

  test("aggregate pushdown: COUNT/MIN/MAX answer from metadata") {
    val t = seed("te")
    var scanned = (0, 0)
    VersionedTable.countWhereNotifier = (c, b) => scanned = (c, b)
    try {
      val r = spark.sql(
        "SELECT count(*), min(amount), max(amount) FROM gt.te " +
          "WHERE k BETWEEN 1 AND 100").collect()(0)
      assert(r.getLong(0) == 100L && r.getLong(1) == 10L &&
        r.getLong(2) == 1000L)
      assert(scanned._1 > 0 && scanned._2 == 0,
        s"count must be all-contained metadata, got $scanned")
    } finally VersionedTable.countWhereNotifier = (_, _) => ()
    // the plan carries no real aggregate exec: pushed down completely
    val plan = spark.sql(
      "SELECT count(*) FROM gt.te WHERE k BETWEEN 1 AND 100")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate"),
      s"complete pushdown must remove the aggregate exec:\n$plan")
    val _ = t
  }

  test("deletion vectors and column mapping flow through SQL") {
    val t = seed("tf")
    VersionedTable.deleteCommit(spark, t, col("k") === 5L)
    VersionedTable.renameColumnCommit(spark, t, "amount", "cents")
    assert(spark.sql("SELECT count(*) FROM gt.tf").as[Long].head() == 99L)
    assert(spark.sql("SELECT sum(cents) FROM gt.tf").as[Long].head() ==
      (1L to 100L).map(_ * 10).sum - 50L)
  }

  test("manifest statistics make a small table broadcast") {
    seed("tg")
    val big = (1L to 10000L).map(k => (k % 100 + 1, k)).toDF("k", "x")
    big.createOrReplaceTempView("bigv")
    val plan = spark.sql(
      "SELECT /*+ NO_HINTS */ b.x, t.tag FROM bigv b JOIN gt.tg t ON b.k = t.k")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"a manifest-sized small table must broadcast:\n$plan")
  }

  test("path-based source: format(\"graft\") with versionAsOf") {
    val t = seed("th")
    VersionedTable.commit(spark, t,
      Seq((999L, 1L, "z")).toDF("k", "amount", "tag"), append = true)
    assert(spark.read.format("graft").load(t).count() == 101L)
    assert(spark.read.format("graft").option("versionAsOf", 1)
      .load(t).count() == 100L)
  }

  test("SQL DELETE FROM: copy-on-write, history preserved, nulls survive") {
    val t = seed("tj")
    // null predicate rows must SURVIVE a delete (SQL semantics)
    VersionedTable.commit(spark, t,
      Seq((Some(300L), None: Option[Long], Some("n")))
        .toDF("k", "amount", "tag"), append = true)
    val filesBefore = VersionedTable.dataFilesOf(
      VersionedTable.manifest(spark, t, 2))
    spark.sql("DELETE FROM gt.tj WHERE amount >= 100 AND amount <= 300")
    val got = spark.sql("SELECT k FROM gt.tj ORDER BY k")
      .as[Long].collect().toSeq
    assert(got == ((1L to 9L) ++ (31L to 100L) :+ 300L),
      s"rows 10..30 deleted, null-amount row survives; got $got")
    // COW: a new version, untouched files carried, no DV sidecars
    val m = VersionedTable.manifest(spark, t, 3)
    assert(VersionedTable.dvFilesOf(m).isEmpty, "COW delete writes no DVs")
    assert(VersionedTable.dataFilesOf(m)
      .exists(filesBefore.contains), "unmatched files must carry")
    assert(spark.sql("SELECT count(*) FROM gt.tj VERSION AS OF 2")
      .as[Long].head() == 101L, "history must survive the delete")
  }

  test("DELETE with a string predicate (full filter translation)") {
    seed("tk")
    spark.sql("DELETE FROM gt.tk WHERE tag = 's3' OR k > 95")
    assert(spark.sql("SELECT count(*) FROM gt.tk").as[Long].head() ==
      (1L to 95L).count(k => s"s${k % 7}" != "s3"))
  }

  test("concurrent SQL INSERTs all land (append retry past version races)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val t = seed("tl")
    val inserts = (1 to 4).map(i => Future {
      spark.sql(s"INSERT INTO gt.tl VALUES (${1000 + i}, $i, 'c$i')")
      ()
    })
    Await.result(Future.sequence(inserts), 120.seconds)
    assert(spark.sql("SELECT count(*) FROM gt.tl").as[Long].head() == 104L)
    assert(VersionedTable.versions(spark, t) == (1 to 5),
      "each INSERT must claim its own version")
  }

  test("ALTER TABLE: rename, add (metadata-only), drop, CHECK constraints") {
    val t = seed("tm")
    spark.sql("ALTER TABLE gt.tm RENAME COLUMN amount TO cents")
    assert(spark.sql("SELECT sum(cents) FROM gt.tm").as[Long].head() ==
      (1L to 100L).map(_ * 10).sum)
    // metadata-only ADD COLUMN: no data I/O, reads see typed nulls
    val filesBefore = VersionedTable.dataFilesOf(
      VersionedTable.manifest(spark, t,
        VersionedTable.versions(spark, t).last))
    spark.sql("ALTER TABLE gt.tm ADD COLUMN score BIGINT")
    val mAfter = VersionedTable.manifest(spark, t,
      VersionedTable.versions(spark, t).last)
    assert(VersionedTable.dataFilesOf(mAfter) == filesBefore,
      "ADD COLUMN must not touch data files")
    assert(spark.sql("SELECT count(*) FROM gt.tm WHERE score IS NULL")
      .as[Long].head() == 100L)
    // values land through the widened schema; old rows stay null
    spark.sql("INSERT INTO gt.tm VALUES (500, 1, 'x', 9)")
    assert(spark.sql("SELECT score FROM gt.tm WHERE k = 500")
      .as[Long].head() == 9L)
    // CHECK constraint: valid add enforces future writes
    spark.sql("ALTER TABLE gt.tm ADD CONSTRAINT pos CHECK (cents >= 0)")
    val e = intercept[Exception] {
      spark.sql("INSERT INTO gt.tm VALUES (501, -5, 'bad', 0)")
    }
    assert(e.getMessage.contains("pos"), s"got: ${e.getMessage}")
    spark.sql("ALTER TABLE gt.tm DROP CONSTRAINT pos")
    spark.sql("INSERT INTO gt.tm VALUES (501, -5, 'ok-now', 0)")
    // drop a column
    spark.sql("ALTER TABLE gt.tm DROP COLUMN tag")
    assert(spark.sql("SELECT * FROM gt.tm").columns.toSeq ==
      Seq("k", "cents", "score"))
    assert(spark.sql("SELECT count(*) FROM gt.tm").as[Long].head() == 102L)
  }

  test("plan-time statistics are RPC-free: fz lines carry file sizes") {
    val t = seed("tfz")
    // every commit path records fz lines; rewrites carry them
    spark.sql("INSERT INTO gt.tfz VALUES (900, 9000, 'z')")
    spark.sql("DELETE FROM gt.tfz WHERE k BETWEEN 1 AND 5")
    val head = VersionedTable.versions(spark, t).last
    val lines = VersionedTable.manifest(spark, t, head)
    val data = VersionedTable.dataFilesOf(lines)
    val sizes = VersionedTable.fileSizesOf(lines)
    assert(data.nonEmpty &&
      data.forall(f => sizes.contains(VersionedTable.norm(f))),
      s"every data file needs an fz line; have ${sizes.size} of ${data.size}")
    assert(sizes.values.forall(_ > 0L))
    // estimateStatistics answers from the manifest: zero FS calls
    var rpcs = 0
    VersionedTable.fileSizeRpcNotifier = (_, n) => rpcs += n
    val stats = try {
      new GraftScan(t, head, Nil,
        VersionedTable.read(spark, t).schema, None).estimateStatistics()
    } finally VersionedTable.fileSizeRpcNotifier = (_, _) => ()
    assert(rpcs == 0, s"plan-time stats must be RPC-free, paid $rpcs")
    assert(stats.sizeInBytes().getAsLong ==
      data.map(f => sizes(VersionedTable.norm(f))).sum)
  }

  test("legacy manifests without fz lines fall back to getFileStatus") {
    val t = seed("tfl")
    // strip the fz lines from the manifest on disk — a pre-fz table
    val dir = new org.apache.hadoop.fs.Path(t, "_manifests")
    val fsys = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mf = fsys.listStatus(dir).map(_.getPath)
      .find(_.getName == "v00000001.json").get
    val body = {
      val in = fsys.open(mf)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    val stripped = body.linesIterator.filterNot(_.startsWith("fz\t"))
      .mkString("\n") + "\n"
    fsys.delete(mf, false)
    val out = fsys.create(mf, false)
    try out.write(stripped.getBytes("UTF-8")) finally out.close()
    var rpcs = 0
    VersionedTable.fileSizeRpcNotifier = (_, n) => rpcs += n
    val stats = try {
      new GraftScan(t, 1, Nil,
        VersionedTable.read(spark, t).schema, None).estimateStatistics()
    } finally VersionedTable.fileSizeRpcNotifier = (_, _) => ()
    assert(rpcs > 0, "legacy table must fall back to live statuses")
    assert(stats.sizeInBytes().getAsLong > 0L)
  }

  test("string-partition DELETE probes ONLY that partition's files") {
    val t = s"$warehouse/tsp"
    VersionedTable.commitPartitioned(spark, t,
      (1L to 90L).map(k => (k, s"p${k % 3}", k * 2))
        .toDF("k", "part", "x"), "part", append = false)
    val total = VersionedTable.dataFilesOf(
      VersionedTable.manifest(spark, t, 1)).size
    assert(total >= 3, s"need one file per partition, got $total")
    var probe: (Int, Int) = (-1, -1)
    VersionedTable.rewriteProbeNotifier = (c, n) => probe = (c, n)
    try spark.sql("DELETE FROM gt.tsp WHERE part = 'p1'")
    finally VersionedTable.rewriteProbeNotifier = (_, _) => ()
    assert(probe._2 == total && probe._1 < total,
      s"a one-partition DELETE must probe fewer than all files: $probe")
    assert(spark.sql("SELECT count(*) FROM gt.tsp").as[Long].head() ==
      (1L to 90L).count(_ % 3 != 1))
    assert(spark.sql(
      "SELECT count(*) FROM gt.tsp WHERE part = 'p1'").as[Long].head() == 0L)
  }

  test("multi-change ALTER is all-or-nothing: doomed CHECK aborts the rename") {
    val t = seed("tat")
    // one alterTable CALL: a valid rename followed by a CHECK the
    // current rows violate — the upfront validation must reject the
    // whole statement BEFORE the rename commits
    val cat = spark.sessionState.catalogManager.catalog("gt")
      .asInstanceOf[GraftCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier
      .of(Array.empty[String], "tat")
    import org.apache.spark.sql.connector.catalog.TableChange
    val doomed = intercept[Exception] {
      cat.alterTable(ident,
        TableChange.renameColumn(Array("tag"), "label"),
        TableChange.addConstraint(
          org.apache.spark.sql.connector.catalog.constraints.Constraint
            .check("impossible").predicateSql("amount > 5000").build(),
          null))
    }
    assert(doomed.getMessage.contains("impossible") ||
      doomed.getMessage.contains("violates"),
      s"got: ${doomed.getMessage}")
    // the rename from the failed statement must NOT have landed
    val sch = VersionedTable.read(spark, t).schema.fieldNames.toSeq
    assert(sch.contains("tag") && !sch.contains("label"),
      s"half-applied ALTER: $sch")
    // a CHECK referencing a column ADDED in the same statement
    // validates against the reshaped snapshot and goes through whole
    cat.alterTable(ident,
      TableChange.addColumn(Array("bonus"), org.apache.spark.sql.types
        .LongType, true),
      TableChange.addConstraint(
        org.apache.spark.sql.connector.catalog.constraints.Constraint
          .check("bonus_pos").predicateSql("bonus >= 0").build(),
        null))
    assert(VersionedTable.read(spark, t).schema.fieldNames
      .contains("bonus"))
    assert(VersionedTable.constraintsOf(spark, t).contains("bonus_pos"))
  }

  test("SQL UPDATE: group-based COW rewrites only stats-touched files") {
    val t = seed("tup")
    val before = VersionedTable.dataFilesOf(
      VersionedTable.manifest(spark, t, 1))
    spark.sql(
      "UPDATE gt.tup SET amount = amount + 1000000 " +
        "WHERE k >= 10 AND k <= 20")
    val got = spark.sql("SELECT k, amount FROM gt.tup ORDER BY k")
      .as[(Long, Long)].collect().toSeq
    assert(got == (1L to 100L).map(k =>
      (k, if (k >= 10 && k <= 20) k * 10 + 1000000 else k * 10)))
    // the claimed range pruned the scan: untouched files carried
    val after = VersionedTable.dataFilesOf(
      VersionedTable.manifest(spark, t, 2))
    val carried = before.toSet.intersect(after.toSet)
    assert(carried.size >= 2,
      s"a narrow UPDATE over 4 range-clustered files must carry >=2 " +
        s"untouched files, carried ${carried.size}")
    // history intact
    assert(spark.sql(
      "SELECT sum(amount) FROM gt.tup VERSION AS OF 1").as[Long].head() ==
      (1L to 100L).map(_ * 10).sum)
  }

  test("SQL UPDATE with a predicate filters cannot express") {
    seed("tux")
    spark.sql("UPDATE gt.tux SET amount = 0 WHERE k % 10 = 3")
    assert(spark.sql(
      "SELECT count(*) FROM gt.tux WHERE amount = 0").as[Long].head() ==
      (1L to 100L).count(_ % 10 == 3))
    assert(spark.sql("SELECT sum(amount) FROM gt.tux").as[Long].head() ==
      (1L to 100L).filterNot(_ % 10 == 3).map(_ * 10).sum)
  }

  test("SQL MERGE INTO: matched update, not-matched insert") {
    val t = seed("tmg")
    Seq((5L, 555L, "m"), (200L, 2000L, "n"))
      .toDF("k", "amount", "tag").createOrReplaceTempView("mg_src")
    spark.sql(
      """MERGE INTO gt.tmg t USING mg_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET amount = s.amount, tag = s.tag
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = spark.sql(
      "SELECT k, amount, tag FROM gt.tmg WHERE k IN (5, 6, 200) ORDER BY k")
      .as[(Long, Long, String)].collect().toSeq
    assert(got == Seq((5L, 555L, "m"), (6L, 60L, "s6"), (200L, 2000L, "n")),
      s"got $got")
    assert(spark.sql("SELECT count(*) FROM gt.tmg").as[Long].head() == 101L)
    val _ = t
  }

  test("SQL MERGE with conditional DELETE and INSERT") {
    seed("tmd")
    (96L to 105L).map(k => (k, k)).toDF("k", "amount")
      .createOrReplaceTempView("md_src")
    spark.sql(
      """MERGE INTO gt.tmd t USING md_src s ON t.k = s.k
        |WHEN MATCHED AND t.k = 99 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET amount = s.amount
        |WHEN NOT MATCHED THEN INSERT (k, amount, tag)
        |  VALUES (s.k, s.amount, 'new')""".stripMargin)
    val got = spark.sql("SELECT k, amount FROM gt.tmd WHERE k >= 95 ORDER BY k")
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((95L, 950L), (96L, 96L), (97L, 97L), (98L, 98L),
      (100L, 100L), (101L, 101L), (102L, 102L), (103L, 103L),
      (104L, 104L), (105L, 105L)), s"got $got")
  }

  test("SQL MERGE with real NOT MATCHED BY SOURCE clauses") {
    seed("tmds")
    (96L to 105L).map(k => (k, k)).toDF("k", "amount")
      .createOrReplaceTempView("mds_src")
    // the clause kind the group-based path rewrites via a full outer
    // join with NO group pruning: every target row is a candidate
    spark.sql(
      """MERGE INTO gt.tmds t USING mds_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET amount = s.amount
        |WHEN NOT MATCHED THEN INSERT (k, amount, tag)
        |  VALUES (s.k, s.amount, 'new')
        |WHEN NOT MATCHED BY SOURCE AND t.k <= 3 THEN DELETE
        |WHEN NOT MATCHED BY SOURCE AND t.k <= 10 THEN
        |  UPDATE SET amount = -1""".stripMargin)
    val got = spark.sql("SELECT k, amount FROM gt.tmds ORDER BY k")
      .as[(Long, Long)].collect().toSeq
    val want = (4L to 10L).map(k => (k, -1L)) ++
      (11L to 95L).map(k => (k, k * 10)) ++
      (96L to 105L).map(k => (k, k))
    assert(got == want,
      s"only-in-spark: ${got.diff(want)}; missing: ${want.diff(got)}")
  }

  test("MERGE runtime group filter narrows the rewrite to matched files") {
    val t = s"$warehouse/tmrf"
    // four deterministic key slices, one commit (= one file) each
    (0 until 4).foreach { i =>
      VersionedTable.commit(spark, t,
        (1L to 25L).map(j => (i * 25L + j, 0L)).toDF("k", "x")
          .coalesce(1),
        append = i > 0, statCols = Seq("k"))
    }
    Seq((3L, 30L), (7L, 70L), (500L, 1L)).toDF("k", "x")
      .createOrReplaceTempView("mrf_src")
    var narrowed = (-1, -1)
    GraftRowLevelScanBuilder.runtimeFilterNotifier =
      (n, s0) => narrowed = (n, s0)
    try spark.sql(
      """MERGE INTO gt.tmrf t USING mrf_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET x = s.x
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    finally GraftRowLevelScanBuilder.runtimeFilterNotifier = (_, _) => ()
    assert(narrowed == (1, 4),
      s"keys 3 and 7 live in ONE of four slice files, got $narrowed")
    // three untouched files carried verbatim through the MERGE commit
    val before = VersionedTable.dataFilesOf(
      VersionedTable.manifest(spark, t, 4)).toSet
    val after = VersionedTable.dataFilesOf(
      VersionedTable.manifest(spark, t, 5)).toSet
    assert(before.intersect(after).size == 3,
      s"carried ${before.intersect(after).size} of 4")
    val got = spark.sql(
      "SELECT k, x FROM gt.tmrf WHERE k IN (3, 7, 8, 500) ORDER BY k")
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((3L, 30L), (7L, 70L), (8L, 0L), (500L, 1L)),
      s"got $got")
    assert(spark.sql("SELECT count(*) FROM gt.tmrf").as[Long].head() ==
      101L)
  }

  test("SQL UPDATE on a partitioned table keeps pt tags alive") {
    val t = s"$warehouse/tupp"
    VersionedTable.commitPartitioned(spark, t,
      (1L to 60L).map(k => (k, s"g${k % 3}", k))
        .toDF("k", "part", "x"), "part", append = false)
    spark.sql("UPDATE gt.tupp SET x = x * 10 WHERE part = 'g1'")
    val m2 = VersionedTable.manifest(spark, t,
      VersionedTable.versions(spark, t).last)
    val tags = VersionedTable.partitionsOf(m2).map(_._2).distinct.sorted
    assert(tags == Seq("g0", "g1", "g2"),
      s"rewrite must stay pt-tagged, got $tags")
    assert(spark.sql("SELECT sum(x) FROM gt.tupp WHERE part = 'g1'")
      .as[Long].head() == (1L to 60L).filter(_ % 3 == 1).map(_ * 10).sum)
    assert(spark.sql("SELECT sum(x) FROM gt.tupp WHERE part = 'g0'")
      .as[Long].head() == (1L to 60L).filter(_ % 3 == 0).sum)
  }

  test("CALL procedures: optimize, analyze, vacuum, tag, maintain") {
    val t = s"$warehouse/tproc"
    // 6 tiny fragments — the OPTIMIZE bait
    (0 until 6).foreach(i => VersionedTable.commit(spark, t,
      Seq((i.toLong, i.toLong)).toDF("k", "x"), append = i > 0))
    val v = spark.sql(
      "CALL gt.system.optimize(`table` => 'tproc', target_rows => 1000)")
      .as[Long].head()
    assert(v == 7, s"optimize must commit v7, got $v")
    assert(VersionedTable.dataFilesOf(
      VersionedTable.manifest(spark, t, 7)).size < 6,
      "fragments must compact")
    // analyze backfills stats as a metadata commit
    val va = spark.sql("CALL gt.system.analyze('tproc', 'k')")
      .as[Long].head()
    assert(va == 8)
    assert(VersionedTable.statsCovered(
      VersionedTable.manifest(spark, t, 8), Seq("k")))
    // tag pins v7 through a deep vacuum
    assert(spark.sql("CALL gt.system.tag('tproc', 'keep', 7)")
      .as[Boolean].head())
    val vac = spark.sql("CALL gt.system.vacuum('tproc', 1)")
      .collect().head
    assert(vac.getAs[Int]("retired_versions") > 0)
    assert(VersionedTable.versions(spark, t).contains(7),
      "the tagged version must survive vacuum")
    assert(spark.sql("CALL gt.system.drop_tag('tproc', 'keep')")
      .as[Boolean].head())
    // maintain on a healthy table: empty report
    assert(spark.sql("CALL gt.system.maintain('tproc', 1000)")
      .collect().isEmpty, "healthy table needs no maintenance")
    // restore rolls the head back as a NEW commit
    val vr = spark.sql("CALL gt.system.restore('tproc', 7)")
      .as[Long].head()
    assert(vr > 8, s"restore must land a fresh version, got $vr")
    assert(spark.sql("SELECT count(*) FROM gt.tproc").as[Long].head() ==
      6L, "restored head must show v7's content")
    // rows intact through the whole lifecycle
    assert(spark.sql("SELECT count(*) FROM gt.tproc").as[Long].head() == 6L)
    // vacuum_retention: everything committed seconds ago is inside a
    // 168h window — a no-op that still reports its (0, 0) counts
    assert(spark.sql(
      "CALL gt.system.vacuum_retention('tproc', retention_hours => 168)")
      .as[(Int, Int)].head() == ((0, 0)),
      "in-window history must survive a retention vacuum")
    // clean_orphans reclaims unreferenced crash residue (and ONLY
    // that): plant a stray parquet next to the real commit dirs
    locally {
      val orphan = new org.apache.hadoop.fs.Path(
        s"$warehouse/tproc/data/orphan-dir/stray.parquet")
      val f = orphan.getFileSystem(spark.sparkContext.hadoopConfiguration)
      f.mkdirs(orphan.getParent)
      val out = f.create(orphan, true)
      out.write("not a real parquet".getBytes("UTF-8")); out.close()
      f.setTimes(orphan, 1000L, 1000L) // ancient mtime: past retention
      val deleted = spark.sql(
        "CALL gt.system.clean_orphans('tproc', retention_hours => 1)")
        .as[Int].head()
      assert(deleted >= 1, "the stray file must be reclaimed")
      assert(!f.exists(orphan))
      assert(spark.sql("SELECT count(*) FROM gt.tproc")
        .as[Long].head() == 6L, "live data untouched")
    }
    // unknown procedure fails loudly, listing what exists (our
    // message rides the cause under Spark's FAILED_TO_LOAD_ROUTINE)
    val e = intercept[Exception] {
      spark.sql("CALL gt.system.nope('tproc')")
    }
    def msgs(x: Throwable): Seq[String] =
      Option(x).toSeq.flatMap(t2 =>
        Option(t2.getMessage).toSeq ++ msgs(t2.getCause))
    assert(msgs(e).exists(_.contains("optimize")),
      s"got: ${msgs(e).mkString(" | ")}")
  }

  test("row-level commit against a stale snapshot fails loudly") {
    val t = s"$warehouse/tstale"
    VersionedTable.commit(spark, t,
      Seq((1L, 1L)).toDF("k", "x"), append = false)
    VersionedTable.commit(spark, t,
      Seq((2L, 2L)).toDF("k", "x"), append = true)
    // a DML planned against v1 must not publish over v2 (it could
    // silently drop the concurrent writer's rows)
    val e = intercept[Exception] {
      VersionedTable.replaceFilesCommit(spark, t,
        removeNorm = Set.empty, newFiles = Nil, expectedHead = 1)
    }
    assert(e.getMessage.contains("conflict") &&
      e.getMessage.contains("re-run"), s"got: ${e.getMessage}")
    assert(VersionedTable.versions(spark, t) == Seq(1, 2),
      "the refused commit must leave no version behind")
  }

  test("TRUNCATE TABLE: all rows go, history survives") {
    val t = seed("ttr")
    spark.sql("TRUNCATE TABLE gt.ttr")
    assert(spark.sql("SELECT count(*) FROM gt.ttr").as[Long].head() == 0L)
    assert(spark.sql("SELECT count(*) FROM gt.ttr VERSION AS OF 1")
      .as[Long].head() == 100L, "pre-truncate snapshot must survive")
    // the table stays writable after the truncate
    spark.sql("INSERT INTO gt.ttr VALUES (7, 70, 'x')")
    assert(spark.sql("SELECT count(*) FROM gt.ttr").as[Long].head() == 1L)
    val _ = t
  }

  test("writes to a travelled snapshot are rejected") {
    seed("ti")
    val e = intercept[Exception] {
      spark.sql("INSERT INTO gt.ti VERSION AS OF 1 VALUES (1, 1, 'x')")
    }
    val _ = e // either parse rejection or our guard — both fine
  }

  test("validateAlter mirrors EVERY commit-time rule (no half-applied ALTER)") {
    val t = seed("tav")
    val cat = spark.sessionState.catalogManager.catalog("gt")
      .asInstanceOf[GraftCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier
      .of(Array.empty[String], "tav")
    import org.apache.spark.sql.connector.catalog.TableChange
    def check(name: String, sql: String) =
      org.apache.spark.sql.connector.catalog.constraints.Constraint
        .check(name).predicateSql(sql).build()
    spark.sql("ALTER TABLE gt.tav ADD CONSTRAINT amt_pos CHECK (amount >= 0)")
    // the ADVICE scenario: ADD COLUMN (valid) + RENAME of a
    // constraint-referenced column — the old simulation passed this,
    // committed the add, then died on the rename: half-applied
    val e1 = intercept[Exception] {
      cat.alterTable(ident,
        TableChange.addColumn(Array("extra"),
          org.apache.spark.sql.types.LongType, true),
        TableChange.renameColumn(Array("amount"), "amt"))
    }
    assert(e1.getMessage.contains("amt_pos"), e1.getMessage)
    assert(!VersionedTable.read(spark, t).schema.fieldNames
      .contains("extra"), "the ADD COLUMN must not have landed")
    // DROP CONSTRAINT first in the SAME statement legalizes the rename
    cat.alterTable(ident,
      TableChange.dropConstraint("amt_pos", false, false),
      TableChange.renameColumn(Array("amount"), "amt"))
    assert(VersionedTable.read(spark, t).schema.fieldNames.toSeq
      .contains("amt"))
    // a constraint ADDED in-sequence pins its column against a LATER
    // rename in the same statement
    val e2 = intercept[Exception] {
      cat.alterTable(ident,
        TableChange.addConstraint(check("k_pos", "k >= 0"), null),
        TableChange.renameColumn(Array("k"), "kk"))
    }
    assert(e2.getMessage.contains("k_pos"), e2.getMessage)
    assert(VersionedTable.constraintsOf(spark, t).isEmpty,
      "the in-sequence ADD CONSTRAINT must not have landed either")
    // dropping a partition column rejects UPFRONT, before any earlier
    // change in the statement commits
    val tp = s"$warehouse/tavp"
    VersionedTable.commitPartitioned(spark, tp,
      (1L to 20L).map(k => (k, s"s${k % 3}")).toDF("k", "tag"), "tag",
      append = false)
    val e3 = intercept[Exception] {
      cat.alterTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array.empty[String], "tavp"),
        TableChange.addColumn(Array("extra2"),
          org.apache.spark.sql.types.LongType, true),
        TableChange.deleteColumn(Array("tag"), null))
    }
    assert(e3.getMessage.contains("partition column"), e3.getMessage)
    assert(!VersionedTable.read(spark, tp).schema.fieldNames
      .contains("extra2"), "no half-applied ALTER")
    // a deletion vector pins no column: DROP COLUMN k after an API
    // delete commits, and the deleted row stays dead
    VersionedTable.deleteCommit(spark, t, col("k") === 5L)
    cat.alterTable(ident, TableChange.deleteColumn(Array("k"), null))
    val after = VersionedTable.read(spark, t)
    assert(!after.schema.fieldNames.contains("k"))
    assert(after.select("amt").as[Long].collect().sorted.toSeq ==
      (1L to 100L).filter(_ != 5L).map(_ * 10))
  }

  test("metadata tables: gt.<t>.history/files/tags/... serve via SQL") {
    val t = seed("tmeta")
    spark.sql("INSERT INTO gt.tmeta VALUES (101, 1010, 's1')")
    VersionedTable.tagVersion(spark, t, "cut", 1)
    VersionedTable.setTableProperty(spark, t, "team", "graft")
    spark.sql("ALTER TABLE gt.tmeta ADD CONSTRAINT pos CHECK (amount >= 0)")
    // a FRESH SQL-only consumer: no registerViews, no library call
    val hist = spark.sql(
      "SELECT version, n_data_files FROM gt.tmeta.history ORDER BY version")
      .as[(Long, Int)].collect().toSeq
    assert(hist.map(_._1) == Seq(1L, 2L), hist.toString)
    assert(hist.head._2 == 4, "v1 committed 4 range files")
    val files = spark.sql(
      "SELECT count(*) AS n, CAST(sum(n_rows) AS BIGINT) AS r " +
        "FROM gt.tmeta.files").as[(Long, Long)].head()
    assert(files == ((5L, 101L)), files.toString)
    assert(spark.sql("SELECT name, version FROM gt.tmeta.tags")
      .as[(String, Long)].collect().toSeq == Seq(("cut", 1L)))
    assert(spark.sql("SELECT key, value FROM gt.tmeta.properties")
      .as[(String, String)].collect().toSeq == Seq(("team", "graft")))
    assert(spark.sql("SELECT name FROM gt.tmeta.constraints")
      .as[String].collect().toSeq == Seq("pos"))
    // the metadata table reads CURRENT state (rebuilt per scan)
    spark.sql("INSERT INTO gt.tmeta VALUES (102, 1020, 's2')")
    assert(spark.sql("SELECT count(*) FROM gt.tmeta.history")
      .as[Long].head() == 3L)
    // a kind under a non-table parent stays a loud no-such-table
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM gt.nosuch.history").collect()
    }
    assert(e.getMessage.toLowerCase.contains("table"), e.getMessage)
  }

  test("RddBackedBatch refuses an un-materialized shuffle plan") {
    // the row-level read contract: the wrapped RDD is computed inside
    // foreign DSv2 tasks, so a shuffle whose map stage never ran must
    // be rejected at wrap time with a pointed message — not fail
    // confusingly at task runtime
    val was = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val rdd = (1 to 10).toDF("x").repartition(2)
        .queryExecution.toRdd
      val e = intercept[IllegalStateException] { new RddBackedBatch(rdd) }
      assert(e.getMessage.contains("row-level operation read contract"),
        e.getMessage)
    } finally spark.conf.set("spark.sql.adaptive.enabled", was)
    // and the sanctioned shape — a narrow plan — wraps fine
    val ok = new RddBackedBatch(
      (1 to 10).toDF("x").queryExecution.toRdd)
    assert(ok.planInputPartitions().nonEmpty)
  }
}
