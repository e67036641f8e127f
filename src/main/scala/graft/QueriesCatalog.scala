package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{GraftCatalog, VersionedTable}

/** DSv2 catalog gate queries ([[graft.sources.GraftCatalog]]): the
  * versioned table layer driven ENTIRELY through Spark SQL — reads,
  * time travel, DML, and metadata-answered aggregates — each
  * hash-gated against a DuckDB oracle that recomputes the same result
  * from the raw parquet tables. What these pin beyond the library-API
  * gates: identifier resolution, Catalyst's DSv2 pushdown negotiation
  * (claimed filters, pruned columns, complete aggregate pushdown),
  * and the SQL write path committing real manifest versions.
  */
object QueriesCatalog {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private val nextId = new AtomicInteger(0)

  /** A fresh catalog (unique name — Spark caches catalog instances by
    * name, so a new warehouse needs a new name) over a fresh temp
    * warehouse. Returns (catalogName, warehousePath). */
  private def freshCatalog(s: SparkSession): (String, String) = {
    val w = java.nio.file.Files.createTempDirectory("graft_catq")
      .toAbsolutePath.toString
    val name = s"gtq${nextId.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$name.warehouse", w)
    (name, w)
  }

  // ---------------------------------------------------------------------
  // SQL read through the catalog: seed a versioned table from orders,
  // then a filtered GROUP BY runs as plain SQL. The WHERE range is
  // claimed by the scan (manifest file skipping) and re-applied
  // exactly; the oracle recomputes from orders directly.
  // ---------------------------------------------------------------------
  def catalogSqlRead(s: SparkSession, dir: String): DataFrame = {
    val (cat, w) = freshCatalog(s)
    VersionedTable.commit(s, s"$w/orders",
      t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"),
        graft.functions.Exact.cents(col("o_totalprice"))
          .as("price_cents"))
        .repartitionByRange(8, col("o_orderkey")),
      append = false, statCols = Seq("o_orderkey"))
    s.sql(
      s"""SELECT o_orderstatus, count(*) AS cnt,
         |  CAST(sum(price_cents) AS BIGINT) AS total_cents
         |FROM $cat.orders
         |WHERE o_orderkey BETWEEN 1000 AND 30000
         |GROUP BY o_orderstatus""".stripMargin)
  }

  val catalogSqlReadSql: String =
    """SELECT o_orderstatus, count(*) AS cnt,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS total_cents
      |FROM orders
      |WHERE o_orderkey BETWEEN 1000 AND 30000
      |GROUP BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------------
  // SQL time travel + SQL DML: v1 is a third of orders, INSERT INTO
  // (a real append commit) lands another third; both snapshots are
  // then read back via VERSION AS OF. Pins that the SQL write path
  // produces the same immutable history the library API does.
  // ---------------------------------------------------------------------
  def catalogTimeTravel(s: SparkSession, dir: String): DataFrame = {
    val (cat, w) = freshCatalog(s)
    val base = t(s, dir, "orders").select(col("o_orderkey"),
      graft.functions.Exact.cents(col("o_totalprice")).as("price_cents"))
    VersionedTable.commit(s, s"$w/ord",
      base.filter(col("o_orderkey") % 3 === 0), append = false)
    base.filter(col("o_orderkey") % 3 === 1)
      .createOrReplaceTempView("catalog_tt_src")
    s.sql(s"INSERT INTO $cat.ord SELECT * FROM catalog_tt_src")
    s.sql(
      s"""SELECT 1 AS version, count(*) AS cnt,
         |  CAST(sum(price_cents) AS BIGINT) AS price_cents
         |FROM $cat.ord VERSION AS OF 1
         |UNION ALL
         |SELECT 2, count(*), CAST(sum(price_cents) AS BIGINT)
         |FROM $cat.ord VERSION AS OF 2""".stripMargin)
  }

  val catalogTimeTravelSql: String =
    """SELECT 1 AS version, count(*) AS cnt,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS price_cents
      |FROM orders WHERE o_orderkey % 3 = 0
      |UNION ALL
      |SELECT 2, count(*),
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |FROM orders WHERE o_orderkey % 3 IN (0, 1)""".stripMargin

  // ---------------------------------------------------------------------
  // COMPLETE aggregate pushdown: COUNT/MIN/MAX with a claimed range
  // filter must vanish from the physical plan (no HashAggregate) —
  // answered by countWhere/minMaxWhere from manifest metadata plus
  // exact boundary scans. The in-query require pins the plan shape;
  // the oracle pins the values.
  // ---------------------------------------------------------------------
  def catalogAggPushdown(s: SparkSession, dir: String): DataFrame = {
    val (cat, w) = freshCatalog(s)
    VersionedTable.commit(s, s"$w/li",
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity")
        .cast("long").as("qty"))
        .repartitionByRange(8, col("l_orderkey")),
      append = false, statCols = Seq("l_orderkey", "qty"))
    val out = s.sql(
      s"""SELECT count(*) AS cnt, min(qty) AS min_qty,
         |  max(qty) AS max_qty,
         |  min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok
         |FROM $cat.li WHERE l_orderkey BETWEEN 500 AND 20000""".stripMargin)
    val plan = out.queryExecution.executedPlan.toString
    require(!plan.contains("HashAggregate"),
      s"aggregate must push down completely to the manifest:\n$plan")
    out
  }

  val catalogAggPushdownSql: String =
    """SELECT count(*) AS cnt,
      |  CAST(min(CAST(l_quantity AS BIGINT)) AS BIGINT) AS min_qty,
      |  CAST(max(CAST(l_quantity AS BIGINT)) AS BIGINT) AS max_qty,
      |  min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok
      |FROM lineitem WHERE l_orderkey BETWEEN 500 AND 20000""".stripMargin

  // ---------------------------------------------------------------------
  // SQL DDL + DML round trip: CREATE TABLE declares the schema (an
  // empty v1 snapshot), INSERT INTO ... SELECT fills it, INSERT
  // OVERWRITE replaces it — and history still time-travels across the
  // overwrite. Final read mixes the overwritten head and the
  // pre-overwrite snapshot.
  // ---------------------------------------------------------------------
  def catalogDdlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val (cat, w) = freshCatalog(s)
    val _ = w
    s.sql(s"CREATE TABLE $cat.cust (c_custkey BIGINT, c_acctbal_cents BIGINT)")
    t(s, dir, "customer").select(col("c_custkey"),
      graft.functions.Exact.cents(col("c_acctbal")).as("c_acctbal_cents"))
      .createOrReplaceTempView("catalog_ddl_src")
    s.sql(s"INSERT INTO $cat.cust SELECT * FROM catalog_ddl_src")
    s.sql(s"INSERT OVERWRITE $cat.cust " +
      "SELECT * FROM catalog_ddl_src WHERE c_custkey % 2 = 0")
    s.sql(
      s"""SELECT 'head' AS snap, count(*) AS cnt,
         |  CAST(sum(c_acctbal_cents) AS BIGINT) AS bal_cents
         |FROM $cat.cust
         |UNION ALL
         |SELECT 'v2', count(*), CAST(sum(c_acctbal_cents) AS BIGINT)
         |FROM $cat.cust VERSION AS OF 2""".stripMargin)
  }

  val catalogDdlRoundtripSql: String =
    """SELECT 'head' AS snap, count(*) AS cnt,
      |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
      |    AS bal_cents
      |FROM customer WHERE c_custkey % 2 = 0
      |UNION ALL
      |SELECT 'v2', count(*),
      |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
      |FROM customer""".stripMargin

  // ---------------------------------------------------------------------
  // SQL DELETE FROM (SupportsDelete -> copy-on-write
  // deleteCommitWhere): a range + status conjunction deletes through
  // plain SQL; the claimed l_orderkey range narrows the matched-file
  // probe by manifest stats. The gated output reads BOTH the head
  // (post-delete) and the pre-delete snapshot — one statement's
  // delete, full history retained.
  // ---------------------------------------------------------------------
  def catalogDelete(s: SparkSession, dir: String): DataFrame = {
    val (cat, w) = freshCatalog(s)
    VersionedTable.commit(s, s"$w/li",
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linestatus"),
        col("l_quantity").cast("long").as("qty"))
        .repartitionByRange(8, col("l_orderkey")),
      append = false, statCols = Seq("l_orderkey"))
    s.sql(s"DELETE FROM $cat.li " +
      "WHERE l_orderkey BETWEEN 2000 AND 40000 AND l_linestatus = 'F'")
    s.sql(
      s"""SELECT 'head' AS snap, l_linestatus, count(*) AS cnt,
         |  CAST(sum(qty) AS BIGINT) AS qty_sum
         |FROM $cat.li GROUP BY l_linestatus
         |UNION ALL
         |SELECT 'v1', l_linestatus, count(*), CAST(sum(qty) AS BIGINT)
         |FROM $cat.li VERSION AS OF 1 GROUP BY l_linestatus""".stripMargin)
  }

  val catalogDeleteSql: String =
    """SELECT 'head' AS snap, l_linestatus, count(*) AS cnt,
      |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum
      |FROM lineitem
      |WHERE NOT (l_orderkey BETWEEN 2000 AND 40000 AND l_linestatus = 'F')
      |GROUP BY l_linestatus
      |UNION ALL
      |SELECT 'v1', l_linestatus, count(*),
      |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
      |FROM lineitem GROUP BY l_linestatus""".stripMargin

  // ---------------------------------------------------------------------
  // SQL UPDATE (SupportsRowLevelOperations -> group-based COW
  // ReplaceData): the claimed range prunes the operation scan to the
  // manifest's candidate files, so only stats-touched files are read
  // and rewritten — the in-query require pins that untouched files
  // carry verbatim across the UPDATE's commit. The gated output reads
  // BOTH the head (post-update) and the pre-update snapshot; the
  // oracle applies the SET algebraically.
  // ---------------------------------------------------------------------
  def catalogUpdate(s: SparkSession, dir: String): DataFrame = {
    val (cat, w) = freshCatalog(s)
    val src = t(s, dir, "lineitem").select(col("l_orderkey"),
      col("l_linestatus"), col("l_quantity").cast("long").as("qty"))
    // DETERMINISTIC range clustering (repartitionByRange samples its
    // boundaries — session-dependent skew would make the prune pin
    // flaky): 8 exact, disjoint key slices, one append commit each
    val maxKey = src.agg(max("l_orderkey")).head().getLong(0)
    val width = maxKey / 8 + 1
    (0 until 8).foreach { i =>
      // slice 0 is open-bottomed: keys at/below zero belong to it
      // (8 filtered re-reads of the columnar source beat a persist —
      // measured: cache materialization costs more than the scans)
      val lo = if (i == 0) lit(true)
        else col("l_orderkey") > i * width
      VersionedTable.commit(s, s"$w/li",
        src.filter(lo && col("l_orderkey") <= (i + 1) * width)
          .coalesce(1),
        append = i > 0, statCols = Seq("l_orderkey"))
    }
    s.sql(s"UPDATE $cat.li SET qty = qty + 100 " +
      s"WHERE l_orderkey BETWEEN 2000 AND ${maxKey / 2} " +
      "AND l_linestatus = 'F'")
    val m1 = VersionedTable.dataFilesOf(
      VersionedTable.manifest(s, s"$w/li", 8)).toSet
    val m2 = VersionedTable.dataFilesOf(
      VersionedTable.manifest(s, s"$w/li", 9)).toSet
    require(m1.intersect(m2).size >= 2,
      s"the claimed range must prune the rewrite: the files above " +
        s"${maxKey / 2} carry verbatim (m1=${m1.size}, m2=${m2.size})")
    s.sql(
      s"""SELECT 'head' AS snap, l_linestatus, count(*) AS cnt,
         |  CAST(sum(qty) AS BIGINT) AS qty_sum
         |FROM $cat.li GROUP BY l_linestatus
         |UNION ALL
         |SELECT 'pre', l_linestatus, count(*), CAST(sum(qty) AS BIGINT)
         |FROM $cat.li VERSION AS OF 8 GROUP BY l_linestatus""".stripMargin)
  }

  val catalogUpdateSql: String =
    """WITH hi AS (SELECT CAST(max(l_orderkey) // 2 AS BIGINT) AS v
      |            FROM lineitem)
      |SELECT 'head' AS snap, l_linestatus, count(*) AS cnt,
      |  CAST(sum(CASE WHEN l_orderkey BETWEEN 2000 AND (SELECT v FROM hi)
      |      AND l_linestatus = 'F'
      |    THEN CAST(l_quantity AS BIGINT) + 100
      |    ELSE CAST(l_quantity AS BIGINT) END) AS BIGINT) AS qty_sum
      |FROM lineitem GROUP BY l_linestatus
      |UNION ALL
      |SELECT 'pre', l_linestatus, count(*),
      |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
      |FROM lineitem GROUP BY l_linestatus""".stripMargin

  // ---------------------------------------------------------------------
  // SQL MERGE INTO (group-based COW): one statement carrying all three
  // clause kinds — conditional DELETE, UPDATE from the source row,
  // INSERT * — against a versioned target, through plain SQL. Matched
  // rows with o_orderkey % 30 = 0 are deleted, other matches take the
  // source's doubled price and 'U' status, unmatched source rows
  // insert. The oracle recomputes the final state algebraically from
  // orders.
  // ---------------------------------------------------------------------
  def catalogMerge(s: SparkSession, dir: String): DataFrame = {
    val (cat, w) = freshCatalog(s)
    val base = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"),
      graft.functions.Exact.cents(col("o_totalprice")).as("price_cents"))
    VersionedTable.commit(s, s"$w/ord",
      base.filter(col("o_orderkey") % 3 === 0)
        .repartitionByRange(4, col("o_orderkey")),
      append = false, statCols = Seq("o_orderkey"))
    base.filter(col("o_orderkey") % 6 === 0)
      .withColumn("o_orderstatus", lit("U"))
      .withColumn("price_cents", col("price_cents") * 2)
      .unionByName(base.filter(col("o_orderkey") % 3 === 1))
      .createOrReplaceTempView("catalog_merge_src")
    s.sql(
      s"""MERGE INTO $cat.ord t USING catalog_merge_src s
         |ON t.o_orderkey = s.o_orderkey
         |WHEN MATCHED AND t.o_orderkey % 30 = 0 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET
         |  o_orderstatus = s.o_orderstatus, price_cents = s.price_cents
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    s.sql(
      s"""SELECT o_orderstatus AS status, count(*) AS cnt,
         |  CAST(sum(price_cents) AS BIGINT) AS total_cents
         |FROM $cat.ord GROUP BY o_orderstatus""".stripMargin)
  }

  val catalogMergeSql: String =
    """WITH state AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 6 = 0 THEN 'U'
      |      ELSE o_orderstatus END AS status,
      |    CASE WHEN o_orderkey % 6 = 0
      |      THEN CAST(round(o_totalprice * 100) AS BIGINT) * 2
      |      ELSE CAST(round(o_totalprice * 100) AS BIGINT) END
      |      AS price_cents
      |  FROM orders
      |  WHERE (o_orderkey % 3 = 0 AND o_orderkey % 30 <> 0)
      |     OR o_orderkey % 3 = 1)
      |SELECT status, count(*) AS cnt,
      |  CAST(sum(price_cents) AS BIGINT) AS total_cents
      |FROM state GROUP BY status""".stripMargin

  // ---------------------------------------------------------------------
  // SQL DDL evolution (alterTable -> the layer's metadata-only
  // commits): RENAME COLUMN (column mapping), ADD COLUMN (declared-
  // schema widen, zero data I/O — in-query require pins that no data
  // file changes), then values land through the widened schema and a
  // CHECK constraint gates them. The gated output reads the evolved
  // table; the oracle recomputes from customer.
  // ---------------------------------------------------------------------
  def catalogAlter(s: SparkSession, dir: String): DataFrame = {
    val (cat, w) = freshCatalog(s)
    VersionedTable.commit(s, s"$w/cust",
      t(s, dir, "customer").select(col("c_custkey"),
        graft.functions.Exact.cents(col("c_acctbal")).as("bal")),
      append = false, statCols = Seq("c_custkey"))
    s.sql(s"ALTER TABLE $cat.cust RENAME COLUMN bal TO bal_cents")
    val before = VersionedTable.dataFilesOf(VersionedTable.manifest(
      s, s"$w/cust", VersionedTable.versions(s, s"$w/cust").last))
    s.sql(s"ALTER TABLE $cat.cust ADD COLUMN tier BIGINT")
    val after = VersionedTable.dataFilesOf(VersionedTable.manifest(
      s, s"$w/cust", VersionedTable.versions(s, s"$w/cust").last))
    require(after == before, "ADD COLUMN must be metadata-only")
    s.sql(s"ALTER TABLE $cat.cust ADD CONSTRAINT nonneg " +
      "CHECK (tier IS NULL OR tier >= 0)")
    // new rows carry the added column; old rows read as nulls
    t(s, dir, "customer")
      .filter(col("c_custkey") % 10 === 0)
      .select((col("c_custkey") + 1000000L).as("c_custkey"),
        graft.functions.Exact.cents(col("c_acctbal")).as("bal_cents"),
        (col("c_custkey") % 3).as("tier"))
      .createOrReplaceTempView("catalog_alter_src")
    s.sql(s"INSERT INTO $cat.cust SELECT * FROM catalog_alter_src")
    s.sql(
      s"""SELECT coalesce(tier, -1) AS tier, count(*) AS cnt,
         |  CAST(sum(bal_cents) AS BIGINT) AS bal_sum
         |FROM $cat.cust GROUP BY coalesce(tier, -1)""".stripMargin)
  }

  val catalogAlterSql: String =
    """WITH evolved AS (
      |  SELECT c_custkey,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
      |    CAST(NULL AS BIGINT) AS tier
      |  FROM customer
      |  UNION ALL
      |  SELECT c_custkey + 1000000,
      |    CAST(round(c_acctbal * 100) AS BIGINT), c_custkey % 3
      |  FROM customer WHERE c_custkey % 10 = 0)
      |SELECT coalesce(tier, -1) AS tier, count(*) AS cnt,
      |  CAST(sum(bal_cents) AS BIGINT) AS bal_sum
      |FROM evolved GROUP BY coalesce(tier, -1)""".stripMargin

  // ---------------------------------------------------------------------
  // STREAMING SOURCE (graft.streaming.GraftStreamSourceProvider): the
  // table's commit history — base commit, append, COW merge (update),
  // DV delete — consumed as a readStream CDC feed under
  // Trigger.AvailableNow, one micro-batch per version
  // (maxVersionsPerBatch=1 exercises admission control). The collected
  // feed folds (sum of signed n per row) back into exactly the final
  // snapshot, which is what the gated output aggregates; the oracle
  // recomputes that final state from orders algebraically.
  // ---------------------------------------------------------------------
  def streamSourceCdc(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val w = java.nio.file.Files.createTempDirectory("graft_ssrc")
      .toAbsolutePath.toString
    val t0 = s"$w/ord"
    val base = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"),
      graft.functions.Exact.cents(col("o_totalprice")).as("price_cents"))
    val VT = graft.sources.VersionedTable
    VT.commit(s, t0, base.filter(col("o_orderkey") % 3 === 0),
      append = false, statCols = Seq("o_orderkey"))
    VT.commit(s, t0, base.filter(col("o_orderkey") % 3 === 1),
      append = true)
    VT.mergeCommit(s, t0,
      base.filter(col("o_orderkey") % 30 === 0)
        .withColumn("price_cents", col("price_cents") * 2), "o_orderkey")
    VT.deleteCommit(s, t0, col("o_orderkey") % 3000 === 0,
      Seq("o_orderkey"))
    val q = s.readStream.format("graft")
      .option("maxVersionsPerBatch", 1)
      .load(t0)
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.write.mode("append").parquet(s"$w/feed"); ()
      }
      .option("checkpointLocation", s"$w/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // fold the feed: signed multiset sum per row == the final snapshot
    val folded = s.read.parquet(s"$w/feed")
      .groupBy("o_orderkey", "o_orderstatus", "price_cents")
      .agg(sum(when(col("change") === "insert", col("n"))
        .otherwise(-col("n"))).as("m"))
      .filter(col("m") =!= 0)
    folded.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("cnt"),
        sum(col("price_cents") * col("m")).cast("long").as("total_cents"))
  }

  val streamSourceCdcSql: String =
    """WITH state AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CASE WHEN o_orderkey % 30 = 0
      |      THEN CAST(round(o_totalprice * 100) AS BIGINT) * 2
      |      ELSE CAST(round(o_totalprice * 100) AS BIGINT) END
      |      AS price_cents
      |  FROM orders
      |  WHERE o_orderkey % 3 IN (0, 1) AND o_orderkey % 3000 <> 0)
      |SELECT o_orderstatus, count(*) AS cnt,
      |  CAST(sum(price_cents) AS BIGINT) AS total_cents
      |FROM state GROUP BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------------
  // SQL CREATE TABLE ... PARTITIONED BY (catalog identity transforms
  // -> commitPartitionedMulti pt tags): the table is created
  // partitioned through DDL, filled through plain INSERTs, and a
  // partition-value predicate prunes by manifest tags — the in-query
  // require pins that the one-partition read's candidate set is a
  // strict subset. Oracle recomputes both aggregates from orders.
  // ---------------------------------------------------------------------
  def catalogPartitioned(s: SparkSession, dir: String): DataFrame = {
    val (cat, w) = freshCatalog(s)
    s.sql(s"CREATE TABLE $cat.ordp (o_orderkey BIGINT, " +
      "o_orderstatus STRING, price_cents BIGINT) " +
      "PARTITIONED BY (o_orderstatus)")
    t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"),
      graft.functions.Exact.cents(col("o_totalprice")).as("price_cents"))
      .createOrReplaceTempView("catalog_part_src")
    s.sql(s"INSERT INTO $cat.ordp SELECT * FROM catalog_part_src " +
      "WHERE o_orderkey % 2 = 0")
    s.sql(s"INSERT INTO $cat.ordp SELECT * FROM catalog_part_src " +
      "WHERE o_orderkey % 2 = 1")
    val lines = VersionedTable.manifest(s, s"$w/ordp",
      VersionedTable.versions(s, s"$w/ordp").last)
    val all = VersionedTable.dataFilesOf(lines).size
    val one = VersionedTable.scanCandidates(lines,
      Seq(VersionedTable.ScanPred.PartIn("o_orderstatus", Seq("F")))).size
    require(one < all, s"a one-partition read must prune by pt tags " +
      s"($one of $all files)")
    s.sql(
      s"""SELECT o_orderstatus, count(*) AS cnt,
         |  CAST(sum(price_cents) AS BIGINT) AS total_cents,
         |  CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS even_cnt
         |FROM $cat.ordp GROUP BY o_orderstatus""".stripMargin)
  }

  val catalogPartitionedSql: String =
    """SELECT o_orderstatus, count(*) AS cnt,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS total_cents,
      |  CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS even_cnt
      |FROM orders GROUP BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------------
  // STREAMING SINK (graft.streaming.GraftStreamSinkProvider): the full
  // loop — table A's CDC stream (inserts mode) filtered and written
  // into table B entirely through readStream -> writeStream, two
  // AvailableNow pumps with a source commit in between (incremental
  // delivery, exactly-once via the sink's txn contract). The gated
  // output aggregates B's snapshot; the oracle recomputes it from
  // orders algebraically.
  // ---------------------------------------------------------------------
  def streamSink(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val w = java.nio.file.Files.createTempDirectory("graft_ssink")
      .toAbsolutePath.toString
    val a = s"$w/a"; val b = s"$w/b"; val ckpt = s"$w/ckpt"
    val base = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"),
      graft.functions.Exact.cents(col("o_totalprice")).as("price_cents"))
    VersionedTable.commit(s, a, base.filter(col("o_orderkey") % 3 === 0),
      append = false)
    def pump(): Unit = {
      val q = s.readStream.format("graft").option("mode", "inserts")
        .load(a)
        .filter(col("o_orderkey") % 2 === 0)
        .writeStream.format("graft")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start(b)
      q.awaitTermination()
    }
    pump()
    VersionedTable.commit(s, a, base.filter(col("o_orderkey") % 3 === 1),
      append = true)
    pump()
    VersionedTable.read(s, b)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("cnt"),
        sum("price_cents").cast("long").as("total_cents"))
  }

  val streamSinkSql: String =
    """SELECT o_orderstatus, count(*) AS cnt,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS total_cents
      |FROM orders
      |WHERE o_orderkey % 3 IN (0, 1) AND o_orderkey % 2 = 0
      |GROUP BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------------
  // SQL CALL procedures (DSv2 ProcedureCatalog): the maintenance
  // lifecycle — OPTIMIZE, ANALYZE, tag, deep VACUUM — driven entirely
  // through `CALL gt.system.*`, every step content-preserving. The
  // in-query requires pin that optimize compacts (fewer files),
  // analyze covers stats, and the tagged version survives the vacuum;
  // the gated output reads both the head and the tagged snapshot, and
  // the oracle recomputes the (identical) content from orders.
  // ---------------------------------------------------------------------
  def catalogCall(s: SparkSession, dir: String): DataFrame = {
    val (cat, w) = freshCatalog(s)
    val base = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"),
      graft.functions.Exact.cents(col("o_totalprice")).as("price_cents"))
    (0 until 4).foreach(i => VersionedTable.commit(s, s"$w/ord",
      base.filter(col("o_orderkey") % 4 === i), append = i > 0))
    val filesBefore = VersionedTable.dataFilesOf(
      VersionedTable.manifest(s, s"$w/ord", 4)).size
    val v = s.sql(s"CALL $cat.system.optimize(`table` => 'ord', " +
      "target_rows => 100000000)").collect().head.getLong(0)
    require(v == 5L, s"optimize must commit v5, got $v")
    require(VersionedTable.dataFilesOf(
      VersionedTable.manifest(s, s"$w/ord", 5)).size < filesBefore,
      "optimize must compact the four fragments")
    s.sql(s"CALL $cat.system.analyze('ord', 'o_orderkey')")
    require(VersionedTable.statsCovered(
      VersionedTable.manifest(s, s"$w/ord", 6), Seq("o_orderkey")),
      "analyze must cover o_orderkey stats")
    s.sql(s"CALL $cat.system.tag('ord', 'cut', 5)")
    s.sql(s"CALL $cat.system.vacuum('ord', 1)")
    val vs = VersionedTable.versions(s, s"$w/ord")
    require(vs.contains(5) && !vs.contains(4),
      s"vacuum must keep only the head and the tagged pin, got $vs")
    s.sql(
      s"""SELECT 'head' AS snap, o_orderstatus, count(*) AS cnt,
         |  CAST(sum(price_cents) AS BIGINT) AS total_cents
         |FROM $cat.ord GROUP BY o_orderstatus
         |UNION ALL
         |SELECT 'tagged', o_orderstatus, count(*),
         |  CAST(sum(price_cents) AS BIGINT)
         |FROM $cat.ord VERSION AS OF 5 GROUP BY o_orderstatus""".stripMargin)
  }

  val catalogCallSql: String =
    """SELECT 'head' AS snap, o_orderstatus, count(*) AS cnt,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS total_cents
      |FROM orders GROUP BY o_orderstatus
      |UNION ALL
      |SELECT 'tagged', o_orderstatus, count(*),
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |FROM orders GROUP BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------------
  // MERGE-ON-READ SQL UPDATE + MERGE (SupportsDelta / WriteDelta): with
  // write.update.mode / write.merge.mode = 'merge-on-read', a range
  // UPDATE and a keyed MERGE (delete + insert) publish positional
  // tombstones + appended files — the in-query requires pin that EVERY
  // pre-existing data file carries verbatim through both statements
  // (zero rewrites, the write-amplification fix) — then CALL
  // purge_tombstones consolidates back to pure files. Oracle
  // recomputes the final state algebraically.
  // ---------------------------------------------------------------------
  def catalogUpdateMor(s: SparkSession, dir: String): DataFrame = {
    val (cat, w) = freshCatalog(s)
    val li = s"$w/li"
    val src = t(s, dir, "lineitem").select(col("l_orderkey"),
      col("l_linestatus"), col("l_quantity").cast("long").as("qty"))
    VersionedTable.commit(s, li,
      src.repartitionByRange(4, col("l_orderkey")),
      append = false, statCols = Seq("l_orderkey"))
    val maxKey = src.agg(max("l_orderkey")).head().getLong(0)
    def files(v: Int): Set[String] = VersionedTable.dataFilesOf(
      VersionedTable.manifest(s, li, v)).toSet
    def dvs(v: Int): Seq[String] = VersionedTable.dvFilesOf(
      VersionedTable.manifest(s, li, v))
    s.sql(s"ALTER TABLE $cat.li SET TBLPROPERTIES " +
      "('write.update.mode'='merge-on-read', " +
      "'write.merge.mode'='merge-on-read')")
    // scale-relative bounds: a fixed lower bound would make the range
    // empty at small SFs (sf0.001's max key is ~1.5k)
    s.sql(s"UPDATE $cat.li SET qty = qty + 100 " +
      s"WHERE l_orderkey BETWEEN ${maxKey / 4} AND ${maxKey / 2} " +
      "AND l_linestatus = 'F'")
    require(files(1).subsetOf(files(2)) && dvs(2).nonEmpty,
      "merge-on-read UPDATE must carry every old file verbatim")
    src.select(col("l_orderkey").as("k"))
      .filter(col("k") % 3000 === 0).distinct()
      .union(s.range(1).select(lit(maxKey + 1000000L).as("k")))
      .createOrReplaceTempView("catalog_mor_src")
    s.sql(
      s"""MERGE INTO $cat.li t USING catalog_mor_src s
         |ON t.l_orderkey = s.k
         |WHEN MATCHED THEN DELETE
         |WHEN NOT MATCHED THEN INSERT (l_orderkey, l_linestatus, qty)
         |  VALUES (s.k, 'N', 7)""".stripMargin)
    require(files(2).subsetOf(files(3)),
      "merge-on-read MERGE must carry every old file verbatim")
    val pv = s.sql(s"CALL $cat.system.purge_tombstones('li', 100000000)")
      .collect().head.getLong(0).toInt
    require(dvs(pv).isEmpty, "purge must consolidate to pure files")
    s.sql(
      s"""SELECT 'head' AS snap, l_linestatus, count(*) AS cnt,
         |  CAST(sum(qty) AS BIGINT) AS qty_sum
         |FROM $cat.li GROUP BY l_linestatus
         |UNION ALL
         |SELECT 'v1', l_linestatus, count(*), CAST(sum(qty) AS BIGINT)
         |FROM $cat.li VERSION AS OF 1 GROUP BY l_linestatus""".stripMargin)
  }

  val catalogUpdateMorSql: String =
    """WITH mx AS (SELECT max(l_orderkey) AS m FROM lineitem),
      |base AS (
      |  SELECT l_orderkey, l_linestatus,
      |    CASE WHEN l_orderkey BETWEEN (SELECT m // 4 FROM mx)
      |        AND (SELECT m // 2 FROM mx)
      |        AND l_linestatus = 'F'
      |      THEN CAST(l_quantity AS BIGINT) + 100
      |      ELSE CAST(l_quantity AS BIGINT) END AS qty
      |  FROM lineitem),
      |final AS (
      |  SELECT l_linestatus, qty FROM base WHERE l_orderkey % 3000 <> 0
      |  UNION ALL SELECT 'N', CAST(7 AS BIGINT))
      |SELECT 'head' AS snap, l_linestatus, count(*) AS cnt,
      |  CAST(sum(qty) AS BIGINT) AS qty_sum
      |FROM final GROUP BY l_linestatus
      |UNION ALL
      |SELECT 'v1', l_linestatus, count(*),
      |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
      |FROM lineitem GROUP BY l_linestatus""".stripMargin

  // ---------------------------------------------------------------------
  // SKEWED-ON-KEY MERGE (the runtime-group-filtering cost proof): half
  // the target rows share ONE hot key, the source updates that key, a
  // narrow key band, and one novel key — and the statement runs with
  // broadcast joins DISABLED, so the engine's matching-rows subquery
  // (the join that narrows the rewrite to matched files) takes the
  // shuffle path with a genuinely skewed build: the shape where a
  // naive narrowing could cost more than the rewrite it saves. AQE's
  // skew-join split bounds the hot partition; the in-query require
  // pins that untouched files still carried across the MERGE. The 10x
  // replica of this exact query is measured in PERF.md (round 10).
  // ---------------------------------------------------------------------
  def catalogMergeSkew(s: SparkSession, dir: String): DataFrame = {
    val (cat, w) = freshCatalog(s)
    val tgt = t(s, dir, "lineitem").select(
      when(col("l_orderkey") % 2 === 0, lit(0L))
        .otherwise(col("l_orderkey")).as("k"),
      col("l_linestatus"), col("l_quantity").cast("long").as("qty"))
    VersionedTable.commit(s, s"$w/li",
      tgt.repartitionByRange(8, col("k")),
      append = false, statCols = Seq("k"))
    val maxK = tgt.agg(max("k")).head().getLong(0)
    val lo = maxK / 2; val hi = lo + maxK / 64
    tgt.select("k")
      .filter(col("k") === 0L || (col("k") >= lo && col("k") <= hi))
      .distinct()
      .union(s.range(1).select(lit(maxK + 1000000L).as("k")))
      .withColumn("delta", lit(1L))
      .createOrReplaceTempView("merge_skew_src")
    val was = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try s.sql(
      s"""MERGE INTO $cat.li t USING merge_skew_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET qty = t.qty + s.delta
         |WHEN NOT MATCHED THEN INSERT (k, l_linestatus, qty)
         |  VALUES (s.k, 'N', 0)""".stripMargin)
    finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", was)
    val m1 = VersionedTable.dataFilesOf(
      VersionedTable.manifest(s, s"$w/li", 1)).toSet
    val m2 = VersionedTable.dataFilesOf(
      VersionedTable.manifest(s, s"$w/li", 2)).toSet
    require(m1.intersect(m2).nonEmpty,
      "runtime group filtering must carry the files no source key " +
        s"touches (v1=${m1.size}, v2=${m2.size})")
    s.sql(
      s"""SELECT 'head' AS snap, l_linestatus, count(*) AS cnt,
         |  CAST(sum(qty) AS BIGINT) AS qty_sum
         |FROM $cat.li GROUP BY l_linestatus
         |UNION ALL
         |SELECT 'pre', l_linestatus, count(*), CAST(sum(qty) AS BIGINT)
         |FROM $cat.li VERSION AS OF 1 GROUP BY l_linestatus""".stripMargin)
  }

  val catalogMergeSkewSql: String =
    """WITH tgt AS (
      |  SELECT CASE WHEN l_orderkey % 2 = 0 THEN 0 ELSE l_orderkey END
      |      AS k,
      |    l_linestatus, CAST(l_quantity AS BIGINT) AS qty
      |  FROM lineitem),
      |mx AS (SELECT max(k) AS m FROM tgt),
      |final AS (
      |  SELECT l_linestatus,
      |    CASE WHEN k = 0 OR (k >= (SELECT m // 2 FROM mx)
      |        AND k <= (SELECT m // 2 + m // 64 FROM mx))
      |      THEN qty + 1 ELSE qty END AS qty
      |  FROM tgt
      |  UNION ALL SELECT 'N', CAST(0 AS BIGINT))
      |SELECT 'head' AS snap, l_linestatus, count(*) AS cnt,
      |  CAST(sum(qty) AS BIGINT) AS qty_sum
      |FROM final GROUP BY l_linestatus
      |UNION ALL
      |SELECT 'pre', l_linestatus, count(*), CAST(sum(qty) AS BIGINT)
      |FROM tgt GROUP BY l_linestatus""".stripMargin

  // ---------------------------------------------------------------------
  // SQL METADATA TABLES (gt.<table>.history / .files / .partitions /
  // .tags / .properties — Iceberg's metadata-table shape, served from
  // loadTable): a fresh SQL-only consumer introspects the whole table
  // lifecycle with zero library calls and zero registerViews. The
  // fixture commits deterministic file counts (coalesce(1) slices, a
  // positional-delete sidecar, a tag, a property, a partitioned twin);
  // the oracle recomputes every row algebraically from orders.
  // ---------------------------------------------------------------------
  def catalogMetadata(s: SparkSession, dir: String): DataFrame = {
    val (cat, w) = freshCatalog(s)
    val ord = s"$w/ord"; val ordp = s"$w/ordp"
    val base = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"),
      graft.functions.Exact.cents(col("o_totalprice")).as("price_cents"))
    VersionedTable.commit(s, ord,
      base.filter(col("o_orderkey") % 3 === 0).coalesce(1),
      append = false, statCols = Seq("o_orderkey"))
    VersionedTable.commit(s, ord,
      base.filter(col("o_orderkey") % 3 === 1).coalesce(1),
      append = true)
    // a positional-delete sidecar: history must show the dv debt
    VersionedTable.deleteCommitPositional(s, ord,
      col("o_orderkey") % 3000 === 0)
    VersionedTable.tagVersion(s, ord, "audit", 2)
    VersionedTable.setTableProperty(s, ord, "write.delete.mode",
      "merge-on-read")
    // partitioned twin: one coalesced insert => one file per status
    VersionedTable.commitPartitionedMulti(s, ordp,
      base.coalesce(1), Seq("o_orderstatus"), append = false)
    s.sql(
      s"""SELECT 'history' AS section, CAST(version AS STRING) AS k,
         |  CAST(n_data_files AS BIGINT) AS a, CAST(n_dv_files AS BIGINT) AS b
         |FROM $cat.ord.history
         |UNION ALL
         |SELECT 'files', 'all', count(*), CAST(sum(n_rows) AS BIGINT)
         |FROM $cat.ord.files
         |UNION ALL
         |SELECT 'files_dv', 'all',
         |  CAST(count(CASE WHEN live_tombstones > 0 THEN 1 END)
         |    AS BIGINT),
         |  CAST(sum(live_tombstones) AS BIGINT)
         |FROM $cat.ord.files
         |UNION ALL
         |SELECT 'tags', name, CAST(version AS BIGINT), 0 FROM $cat.ord.tags
         |UNION ALL
         |SELECT 'properties', concat(key, '=', value), 0, 0
         |FROM $cat.ord.properties
         |UNION ALL
         |SELECT 'partitions', concat(part_col, '=', partition),
         |  CAST(n_files AS BIGINT), 0
         |FROM $cat.ordp.partitions""".stripMargin)
  }

  val catalogMetadataSql: String =
    """WITH ordslice AS (
      |  SELECT * FROM orders WHERE o_orderkey % 3 IN (0, 1))
      |SELECT 'history' AS section, '1' AS k, CAST(1 AS BIGINT) AS a,
      |  CAST(0 AS BIGINT) AS b
      |UNION ALL SELECT 'history', '2', 2, 0
      |UNION ALL SELECT 'history', '3', 2, 1
      |UNION ALL SELECT 'files', 'all', 2,
      |  (SELECT count(*) FROM ordslice)
      |UNION ALL SELECT 'files_dv', 'all', 1,
      |  (SELECT count(*) FROM ordslice WHERE o_orderkey % 3000 = 0)
      |UNION ALL SELECT 'tags', 'audit', 2, 0
      |UNION ALL SELECT 'properties', 'write.delete.mode=merge-on-read',
      |  0, 0
      |UNION ALL
      |SELECT 'partitions', concat('o_orderstatus=', o_orderstatus), 1, 0
      |FROM (SELECT DISTINCT o_orderstatus FROM orders)""".stripMargin

  // ---------------------------------------------------------------------
  // STREAMING SINK UPDATE MODE (keyed upsert per micro-batch): a CDC
  // mirror in user code — table A's insert feed streamed into table B
  // with outputMode("update") + mergeKeys, so B converges to A's
  // last-writer-wins state without Complete mode's full snapshot
  // rewrite per batch. Two AvailableNow pumps; between them A takes a
  // keyed MERGE (updates + inserts), whose new images the second pump
  // upserts. The in-query require pins that an empty pump commits
  // nothing (exactly-once restart). Oracle recomputes A's final state
  // from orders algebraically.
  // ---------------------------------------------------------------------
  def streamUpdate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val w = java.nio.file.Files.createTempDirectory("graft_supd")
      .toAbsolutePath.toString
    val a = s"$w/a"; val b = s"$w/b"; val ckpt = s"$w/ckpt"
    val base = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"),
      graft.functions.Exact.cents(col("o_totalprice")).as("price_cents"))
    VersionedTable.commit(s, a, base.filter(col("o_orderkey") % 3 === 0),
      append = false, statCols = Seq("o_orderkey"))
    def pump(): Unit = {
      val q = s.readStream.format("graft").option("mode", "inserts")
        .load(a)
        .writeStream.format("graft")
        .outputMode("update")
        .option("mergeKeys", "o_orderkey")
        .option("statCols", "o_orderkey")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start(b)
      q.awaitTermination()
    }
    pump()
    val vAfterFirst = VersionedTable.versions(s, b)
    pump() // nothing new: the restart must not commit
    require(VersionedTable.versions(s, b) == vAfterFirst,
      "an empty Update-mode pump must be a no-op")
    // A takes a keyed merge: doubled prices for %30 keys (updates) and
    // the %3==1 slice (inserts); the feed's new images upsert into B
    VersionedTable.mergeCommit(s, a,
      base.filter(col("o_orderkey") % 30 === 0)
        .withColumn("price_cents", col("price_cents") * 2)
        .unionByName(base.filter(col("o_orderkey") % 3 === 1)),
      "o_orderkey")
    pump()
    VersionedTable.read(s, b)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("cnt"),
        sum("price_cents").cast("long").as("total_cents"))
  }

  val streamUpdateSql: String =
    """WITH state AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CASE WHEN o_orderkey % 30 = 0
      |      THEN CAST(round(o_totalprice * 100) AS BIGINT) * 2
      |      ELSE CAST(round(o_totalprice * 100) AS BIGINT) END
      |      AS price_cents
      |  FROM orders WHERE o_orderkey % 3 IN (0, 1))
      |SELECT o_orderstatus, count(*) AS cnt,
      |  CAST(sum(price_cents) AS BIGINT) AS total_cents
      |FROM state GROUP BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------------
  // MERGE-ON-READ SQL DELETE (deletion-vector routing): the lifecycle —
  //  1. ALTER TABLE SET TBLPROPERTIES forces write.delete.mode =
  //     merge-on-read; a DELETE then publishes ONLY a positional
  //     tombstone sidecar + manifest (the in-query require pins the
  //     data-file set unchanged — zero parquet rewrites);
  //  2. UNSET returns the table to cost-based routing: a point-range
  //     DELETE (≈3% of one file's rows) still goes merge-on-read
  //     (file set unchanged again), composing with the live sidecar;
  //  3. CALL gt.system.purge_tombstones pays the read-side debt back
  //     down to pure files (no dv lines);
  //  4. a BULK delete (qty >= 40, ~20% of every file) routes
  //     copy-on-write — rewrite, not sidecar.
  // The gated output reads the head and the pre-delete snapshot; the
  // oracle recomputes both from lineitem with the predicates negated.
  // ---------------------------------------------------------------------
  def catalogDeleteMor(s: SparkSession, dir: String): DataFrame = {
    val (cat, w) = freshCatalog(s)
    val li = s"$w/li"
    val src = t(s, dir, "lineitem").select(col("l_orderkey"),
      col("l_linestatus"), col("l_quantity").cast("long").as("qty"))
    VersionedTable.commit(s, li,
      src.repartitionByRange(4, col("l_orderkey")),
      append = false, statCols = Seq("l_orderkey", "qty"))
    def files(v: Int): Set[String] = VersionedTable.dataFilesOf(
      VersionedTable.manifest(s, li, v)).toSet
    def dvs(v: Int): Seq[String] = VersionedTable.dvFilesOf(
      VersionedTable.manifest(s, li, v))
    // 1. property-forced merge-on-read
    s.sql(s"ALTER TABLE $cat.li SET TBLPROPERTIES " +
      "('write.delete.mode'='merge-on-read')")
    s.sql(s"DELETE FROM $cat.li WHERE qty = 1")
    require(files(1) == files(2) && dvs(2).nonEmpty,
      "forced merge-on-read DELETE must publish only dv + manifest")
    // 2. cost-based: a ~2%-selectivity delete (qty is uniform 1..50,
    // scale-invariant — a key RANGE would cover whole replicas under
    // the 10x proof's shifted-key corpus) picks merge-on-read itself
    s.sql(s"ALTER TABLE $cat.li UNSET TBLPROPERTIES ('write.delete.mode')")
    s.sql(s"DELETE FROM $cat.li WHERE qty = 2")
    require(files(2) == files(3) && dvs(3).nonEmpty,
      "cost-based routing must keep a point DELETE merge-on-read")
    // 3. purge the debt through SQL CALL
    val pv = s.sql(s"CALL $cat.system.purge_tombstones('li', 100000000)")
      .collect().head.getLong(0).toInt
    require(dvs(pv).isEmpty, "purge must consolidate to pure files")
    // 4. a bulk delete routes copy-on-write
    s.sql(s"DELETE FROM $cat.li WHERE qty >= 40")
    val head = VersionedTable.versions(s, li).last
    require(dvs(head).isEmpty && files(head) != files(pv),
      "a bulk DELETE must rewrite copy-on-write, not tombstone")
    s.sql(
      s"""SELECT 'head' AS snap, l_linestatus, count(*) AS cnt,
         |  CAST(sum(qty) AS BIGINT) AS qty_sum
         |FROM $cat.li GROUP BY l_linestatus
         |UNION ALL
         |SELECT 'v1', l_linestatus, count(*), CAST(sum(qty) AS BIGINT)
         |FROM $cat.li VERSION AS OF 1 GROUP BY l_linestatus""".stripMargin)
  }

  val catalogDeleteMorSql: String =
    """SELECT 'head' AS snap, l_linestatus, count(*) AS cnt,
      |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum
      |FROM lineitem
      |WHERE CAST(l_quantity AS BIGINT) NOT IN (1, 2)
      |  AND CAST(l_quantity AS BIGINT) < 40
      |GROUP BY l_linestatus
      |UNION ALL
      |SELECT 'v1', l_linestatus, count(*),
      |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
      |FROM lineitem GROUP BY l_linestatus""".stripMargin

  // ---------------------------------------------------------------------
  // SQL ONBOARDING (CALL gt.system.adopt = Delta's CONVERT + the WAP
  // adopt publish): a pre-existing PLAIN parquet directory is
  // converted in place (manifest synthesized, zero data I/O) and its
  // files MOVE into a live table under one atomic commit — a SQL-only
  // user migrates a parquet estate without a single library call or
  // row rewrite. In-query requires pin the move (source left empty),
  // the version arithmetic, and post-adopt liveness (an INSERT after)
  // — the oracle recomputes every snapshot from orders.
  // ---------------------------------------------------------------------
  def catalogAdopt(s: SparkSession, dir: String): DataFrame = {
    val (cat, w) = freshCatalog(s)
    val ad = s"$w/adt"; val plain = s"$w/plain_estate"
    val src = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"),
      graft.functions.Exact.cents(col("o_totalprice")).as("price_cents"))
    // the pre-existing plain-parquet estate
    src.filter(col("o_orderkey") % 3 === 0).write.parquet(plain)
    // a live table already holding era-1 rows
    VersionedTable.commit(s, ad, src.filter(col("o_orderkey") % 3 === 1),
      append = false, statCols = Seq("o_orderkey"))
    val v2 = s.sql(s"CALL $cat.system.adopt('adt', '$plain')")
      .collect().head.getLong(0)
    require(v2 == 2L, s"adopt must publish v2, got $v2")
    // the publish MOVED the files — nothing left to double-read
    val pp = new org.apache.hadoop.fs.Path(plain)
    val fsys = pp.getFileSystem(s.sparkContext.hadoopConfiguration)
    val leftover = fsys.listStatus(pp).count(
      _.getPath.getName.endsWith(".parquet"))
    require(leftover == 0, "adopt must MOVE the files, not copy them")
    // the adopted estate is now versioned: time travel shows era 1
    src.filter(col("o_orderkey") % 3 === 2)
      .createOrReplaceTempView("adt_src_late")
    s.sql(s"INSERT INTO $cat.adt SELECT * FROM adt_src_late")
    s.sql(
      s"""SELECT 'head' AS snap, o_orderstatus, count(*) AS cnt,
         |  CAST(sum(price_cents) AS BIGINT) AS cents
         |FROM $cat.adt GROUP BY o_orderstatus
         |UNION ALL
         |SELECT 'v2', o_orderstatus, count(*),
         |  CAST(sum(price_cents) AS BIGINT)
         |FROM $cat.adt VERSION AS OF 2 GROUP BY o_orderstatus
         |UNION ALL
         |SELECT 'v1', o_orderstatus, count(*),
         |  CAST(sum(price_cents) AS BIGINT)
         |FROM $cat.adt VERSION AS OF 1 GROUP BY o_orderstatus"""
        .stripMargin)
  }

  val catalogAdoptSql: String =
    """WITH base AS (SELECT o_orderkey AS k, o_orderstatus,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      |  FROM orders)
      |SELECT 'head' AS snap, o_orderstatus, count(*) AS cnt,
      |  CAST(sum(price_cents) AS BIGINT) AS cents
      |FROM base GROUP BY o_orderstatus
      |UNION ALL
      |SELECT 'v2', o_orderstatus, count(*),
      |  CAST(sum(price_cents) AS BIGINT)
      |FROM base WHERE k % 3 IN (0, 1) GROUP BY o_orderstatus
      |UNION ALL
      |SELECT 'v1', o_orderstatus, count(*),
      |  CAST(sum(price_cents) AS BIGINT)
      |FROM base WHERE k % 3 = 1 GROUP BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------------
  // NAMED BRANCHES (Iceberg branches as CALL procedures + writable
  // `gt.<t>.branch_<name>` identifiers): fork the table zero-copy,
  // INSERT + bulk-DELETE on the branch while main stays blind, read
  // the fork through `VERSION AS OF 'dev'`, then CALL fast_forward
  // publishes the branch head as main's next version (branch-era
  // files move in atomically). In-query requires pin main's
  // blindness, the zero-copy fork, and the post-publish file
  // placement; the oracle recomputes both snapshots from orders.
  // ---------------------------------------------------------------------
  def catalogBranch(s: SparkSession, dir: String): DataFrame = {
    val (cat, w) = freshCatalog(s)
    val br = s"$w/brt"
    val src = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"),
      graft.functions.Exact.cents(col("o_totalprice")).as("price_cents"))
    // scale-invariant branch-side delete boundary (floor(max/2), the
    // oracle recomputes it) — a fixed literal would turn bulk into a
    // point delete under the 10x shifted-key corpus and flip routing
    val cut = src.agg(max(col("o_orderkey"))).collect()(0).getLong(0) / 2
    VersionedTable.commit(s, br,
      src.filter(col("o_orderkey") % 2 === 0)
        .repartitionByRange(4, col("o_orderkey")),
      append = false, statCols = Seq("o_orderkey"))
    val base = s.sql(s"CALL $cat.system.branch('brt', 'dev')")
      .collect().head.getLong(0)
    require(base == 1L, s"branch base must be the head, got $base")
    val bp = s"$br/_branch/dev"
    require(VersionedTable.dataFilesOf(VersionedTable.manifest(s, bp, 1))
      .toSet == VersionedTable.dataFilesOf(
        VersionedTable.manifest(s, br, 1)).toSet,
      "the fork must be zero-copy (v1 references main's files verbatim)")
    // work lands on the branch only
    src.filter(col("o_orderkey") % 2 === 1)
      .createOrReplaceTempView("brt_src_odd")
    s.sql(s"INSERT INTO $cat.brt.branch_dev SELECT * FROM brt_src_odd")
    s.sql(s"DELETE FROM $cat.brt.branch_dev WHERE o_orderkey <= $cut")
    // routing on the branch is the router's own business (bulk = COW
    // here, but a skewed corpus may tombstone): pay any
    // merge-on-read debt down through the branch-addressed CALL so
    // the publish below is always legal — a no-op on a pure branch
    s.sql(
      s"CALL $cat.system.purge_tombstones('brt.branch_dev', 100000000)")
    require(VersionedTable.versions(s, br) == Seq(1),
      "main must not see branch commits")
    val branchCnt = s.sql(
      s"SELECT count(*) FROM $cat.brt VERSION AS OF 'dev'")
      .collect().head.getLong(0)
    require(branchCnt == s.sql(
      s"SELECT count(*) FROM $cat.brt.branch_dev")
      .collect().head.getLong(0),
      "VERSION AS OF 'dev' must read the branch head")
    // publish: ONE atomic commit at base+1
    val v2 = s.sql(s"CALL $cat.system.fast_forward('brt', 'dev')")
      .collect().head.getLong(0)
    require(v2 == 2L)
    require(VersionedTable.dataFilesOf(VersionedTable.manifest(s, br, 2))
      .forall(_.contains("/brt/data/")),
      "published branch-era files must move into the main data dir")
    s.sql(s"CALL $cat.system.drop_branch('brt', 'dev')")
    s.sql(
      s"""SELECT 'final' AS snap, o_orderstatus, count(*) AS cnt,
         |  CAST(sum(price_cents) AS BIGINT) AS cents
         |FROM $cat.brt GROUP BY o_orderstatus
         |UNION ALL
         |SELECT 'v1', o_orderstatus, count(*),
         |  CAST(sum(price_cents) AS BIGINT)
         |FROM $cat.brt VERSION AS OF 1 GROUP BY o_orderstatus"""
        .stripMargin)
  }

  val catalogBranchSql: String =
    """WITH c AS (SELECT max(o_orderkey) // 2 AS cut FROM orders),
      |  base AS (SELECT o_orderkey AS k, o_orderstatus,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      |  FROM orders)
      |SELECT 'final' AS snap, o_orderstatus, count(*) AS cnt,
      |  CAST(sum(price_cents) AS BIGINT) AS cents
      |FROM base, c WHERE k > cut GROUP BY o_orderstatus
      |UNION ALL
      |SELECT 'v1', o_orderstatus, count(*),
      |  CAST(sum(price_cents) AS BIGINT)
      |FROM base WHERE k % 2 = 0 GROUP BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------------
  // PARTITION-SPEC EVOLUTION (Iceberg's REPLACE PARTITION FIELD as
  // CALL gt.system.set_spec): era A written under PARTITIONED BY
  // o_orderstatus, one metadata-only evolution commit, era B inserted
  // through plain SQL INSERT and routed by the NEW spec. In-query
  // requires pin: the evolution touched no files; era-A files keep
  // their old tags while era-B files tag by o_orderpriority; and ONE
  // candidate set prunes era B by the new tag AND era A by st stats.
  // The oracle recomputes every slice from orders.
  // ---------------------------------------------------------------------
  def catalogSpecEvolve(s: SparkSession, dir: String): DataFrame = {
    val (cat, w) = freshCatalog(s)
    val sp = s"$w/spe"
    val src = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"), col("o_orderpriority"))
    // scale-invariant era boundary (both eras non-empty at any sf);
    // the oracle recomputes the same floor(max/2)
    val cut = src.agg(max(col("o_orderkey"))).collect()(0).getLong(0) / 2
    VersionedTable.commitPartitionedMulti(s, sp,
      src.filter(col("o_orderkey") <= cut).coalesce(1),
      Seq("o_orderstatus"), append = false,
      statCols = Seq("o_orderkey"))
    val eraA = VersionedTable.dataFilesOf(
      VersionedTable.manifest(s, sp, 1)).toSet
    // evolve through SQL: pure metadata, no file touched
    val v2 = s.sql(
      s"CALL $cat.system.set_spec('spe', 'o_orderpriority')")
      .collect().head.getLong(0).toInt
    require(v2 == 2 && VersionedTable.dataFilesOf(
      VersionedTable.manifest(s, sp, 2)).toSet == eraA,
      "spec evolution must be a metadata-only commit")
    src.filter(col("o_orderkey") > cut)
      .createOrReplaceTempView("spe_src_b")
    s.sql(s"INSERT INTO $cat.spe SELECT * FROM spe_src_b")
    val lines = VersionedTable.manifest(s, sp, 3)
    val eraB = VersionedTable.dataFilesOf(lines).toSet -- eraA
    val tagsBy = VersionedTable.partitionsOf(lines).groupBy(_._3)
      .view.mapValues(_.map(_._1).toSet).toMap
    require(eraB.nonEmpty &&
      eraA.forall(f => tagsBy(f) == Set("o_orderstatus")) &&
      eraB.forall(f => tagsBy(f) == Set("o_orderpriority")),
      "old era keeps old-era tags; the INSERT routes by the new spec")
    import VersionedTable.ScanPred._
    val cand = VersionedTable.scanCandidates(lines,
      Seq(PartIn("o_orderpriority", Seq("1-URGENT")),
        NumBetween("o_orderkey", cut + 1L, Long.MaxValue))).toSet
    require(cand.intersect(eraA).isEmpty,
      "era-A files must prune by their st stats")
    require(cand.nonEmpty && cand.subsetOf(eraB) && cand != eraB,
      "era-B files must prune to the new-spec tag")
    s.sql(
      s"""SELECT 'urgent_new' AS section, o_orderstatus AS k,
         |  count(*) AS cnt FROM $cat.spe
         |WHERE o_orderpriority = '1-URGENT' AND o_orderkey > $cut
         |GROUP BY o_orderstatus
         |UNION ALL
         |SELECT 'status_old', o_orderpriority, count(*) FROM $cat.spe
         |WHERE o_orderstatus = 'F' AND o_orderkey <= $cut
         |GROUP BY o_orderpriority
         |UNION ALL
         |SELECT 'all', 'ALL', count(*) FROM $cat.spe""".stripMargin)
  }

  val catalogSpecEvolveSql: String =
    """WITH c AS (SELECT max(o_orderkey) // 2 AS cut FROM orders)
      |SELECT 'urgent_new' AS section, o_orderstatus AS k,
      |  count(*) AS cnt FROM orders, c
      |WHERE o_orderpriority = '1-URGENT' AND o_orderkey > cut
      |GROUP BY o_orderstatus
      |UNION ALL
      |SELECT 'status_old', o_orderpriority, count(*) FROM orders, c
      |WHERE o_orderstatus = 'F' AND o_orderkey <= cut
      |GROUP BY o_orderpriority
      |UNION ALL
      |SELECT 'all', 'ALL', count(*) FROM orders""".stripMargin

  // ---------------------------------------------------------------------
  // METADATA-ONLY DELETE (Iceberg's metadata delete / Delta's
  // partition delete, generalized to stats): a retention DELETE whose
  // range provably CONTAINS whole files drops them from the manifest
  // without a single data-reading job — the 100 TB `ts < cutoff` path.
  // Era A (one file, keys <= 3000) and era B (four files, all beyond)
  // seed deterministic boundaries; in-query requires pin that the
  // retention DELETE removed exactly the era-A file with zero new
  // files and zero tombstones, and that an unconditional DELETE then
  // empties the table as pure metadata too. The oracle recomputes
  // every snapshot algebraically from orders.
  // ---------------------------------------------------------------------
  def catalogDeleteMeta(s: SparkSession, dir: String): DataFrame = {
    val (cat, w) = freshCatalog(s)
    val ord = s"$w/ordm"
    val src = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"))
    // scale-invariant era boundary (both eras non-empty at any sf);
    // the oracle recomputes the same floor(max/2)
    val cut = src.agg(max(col("o_orderkey"))).collect()(0).getLong(0) / 2
    VersionedTable.commit(s, ord,
      src.filter(col("o_orderkey") <= cut).coalesce(1),
      append = false, statCols = Seq("o_orderkey"))
    VersionedTable.commit(s, ord,
      src.filter(col("o_orderkey") > cut)
        .repartitionByRange(4, col("o_orderkey")),
      append = true)
    def files(v: Int): Set[String] = VersionedTable.dataFilesOf(
      VersionedTable.manifest(s, ord, v)).toSet
    def dvs(v: Int): Seq[String] = VersionedTable.dvFilesOf(
      VersionedTable.manifest(s, ord, v))
    // the retention delete: the era-A file is PROVED fully matched by
    // its st range — dropped as metadata, nothing probed or rewritten
    s.sql(s"DELETE FROM $cat.ordm WHERE o_orderkey <= $cut")
    require(files(3).subsetOf(files(2)) &&
      files(2).size - files(3).size == 1,
      "a stats-contained DELETE must drop exactly the era file as " +
        "metadata — no rewrite, no new files")
    require(dvs(3).isEmpty,
      "metadata routing must leave no tombstone debt")
    // unconditional (provably all-matching) delete: the whole table
    // empties as one metadata commit
    s.sql(s"DELETE FROM $cat.ordm WHERE o_orderkey > 0")
    require(files(4).isEmpty,
      "an all-contained DELETE must drop every file as metadata")
    s.sql(
      s"""SELECT 'after_retention' AS snap, o_orderstatus,
         |  count(*) AS cnt
         |FROM $cat.ordm VERSION AS OF 3 GROUP BY o_orderstatus
         |UNION ALL
         |SELECT 'final', 'ALL', count(*) FROM $cat.ordm
         |UNION ALL
         |SELECT 'v2', o_orderstatus, count(*)
         |FROM $cat.ordm VERSION AS OF 2 GROUP BY o_orderstatus"""
        .stripMargin)
  }

  val catalogDeleteMetaSql: String =
    """SELECT 'after_retention' AS snap, o_orderstatus, count(*) AS cnt
      |FROM orders
      |WHERE o_orderkey > (SELECT max(o_orderkey) // 2 FROM orders)
      |GROUP BY o_orderstatus
      |UNION ALL SELECT 'final', 'ALL', CAST(0 AS BIGINT)
      |UNION ALL
      |SELECT 'v2', o_orderstatus, count(*)
      |FROM orders GROUP BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------------
  // Atomic SQL DDL lifecycle (StagingTableCatalog + TruncatableTable):
  //  1. partitioned CTAS with TBLPROPERTIES — ONE version publishes
  //     table + data + properties together (in-query requires pin one
  //     version, every file pt-tagged, the property set);
  //  2. REPLACE TABLE AS SELECT — logical overwrite at v2, v1 still
  //     time-travels;
  //  3. TRUNCATE TABLE on a second CTAS table — a METADATA-ONLY
  //     overwrite commit (zero data files pinned in-query), schema
  //     kept, then an INSERT proves the table stays writable.
  // The oracle recomputes every snapshot algebraically from orders.
  // ---------------------------------------------------------------------
  def catalogCtas(s: SparkSession, dir: String): DataFrame = {
    val (cat, w) = freshCatalog(s)
    t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"),
      graft.functions.Exact.cents(col("o_totalprice")).as("price_cents"))
      .createOrReplaceTempView("ctas_orders_src")
    // 1. atomic partitioned CTAS (write.stats.columns: st stats are
    // stamped by the creating commit itself — file skipping works on
    // a SQL-only table with zero ANALYZE calls)
    s.sql(s"CREATE TABLE $cat.ct PARTITIONED BY (o_orderstatus) " +
      "TBLPROPERTIES ('team.tier' = 'gold', " +
      "'write.stats.columns' = 'o_orderkey') AS " +
      "SELECT * FROM ctas_orders_src WHERE o_orderkey % 3 = 0")
    val ct = s"$w/ct"
    require(VersionedTable.versions(s, ct) == Seq(1),
      "CTAS must publish exactly one version")
    val l1 = VersionedTable.manifest(s, ct, 1)
    require(VersionedTable.partitionsOf(l1).map(_._3).toSet ==
      VersionedTable.dataFilesOf(l1).toSet &&
      VersionedTable.dataFilesOf(l1).nonEmpty,
      "every CTAS data file must be pt-tagged at birth")
    require(l1.exists(_.startsWith("st\t")),
      "CTAS must stamp the declared write.stats.columns stats")
    require(VersionedTable.tablePropertiesOf(s, ct)
      .get("team.tier").contains("gold"),
      "CTAS TBLPROPERTIES must land with the table")
    // 2. atomic RTAS
    s.sql(s"REPLACE TABLE $cat.ct AS " +
      "SELECT * FROM ctas_orders_src WHERE o_orderkey % 3 = 1")
    require(VersionedTable.versions(s, ct) == Seq(1, 2),
      "RTAS must be one overwrite commit on the same history")
    // 3. TRUNCATE + reinsert on a second table
    s.sql(s"CREATE TABLE $cat.tr AS " +
      "SELECT * FROM ctas_orders_src WHERE o_orderkey <= 10000")
    s.sql(s"TRUNCATE TABLE $cat.tr")
    require(VersionedTable.dataFilesOf(
      VersionedTable.manifest(s, s"$w/tr", 2)).isEmpty,
      "TRUNCATE must be a metadata-only commit")
    s.sql(s"INSERT INTO $cat.tr SELECT * FROM ctas_orders_src " +
      "WHERE o_orderkey BETWEEN 20000 AND 40000")
    s.sql(
      s"""SELECT 'ctas_v1' AS step, count(*) AS cnt,
         |  CAST(coalesce(sum(price_cents), 0) AS BIGINT) AS cents
         |FROM $cat.ct VERSION AS OF 1
         |UNION ALL
         |SELECT 'rtas_head', count(*),
         |  CAST(coalesce(sum(price_cents), 0) AS BIGINT)
         |FROM $cat.ct
         |UNION ALL
         |SELECT 'trunc_empty', count(*),
         |  CAST(coalesce(sum(price_cents), 0) AS BIGINT)
         |FROM $cat.tr VERSION AS OF 2
         |UNION ALL
         |SELECT 'reinsert', count(*),
         |  CAST(coalesce(sum(price_cents), 0) AS BIGINT)
         |FROM $cat.tr""".stripMargin)
  }

  val catalogCtasSql: String =
    """SELECT 'ctas_v1' AS step, count(*) AS cnt,
      |  CAST(coalesce(sum(CAST(round(o_totalprice * 100) AS BIGINT)), 0)
      |    AS BIGINT) AS cents
      |FROM orders WHERE o_orderkey % 3 = 0
      |UNION ALL
      |SELECT 'rtas_head', count(*),
      |  CAST(coalesce(sum(CAST(round(o_totalprice * 100) AS BIGINT)), 0)
      |    AS BIGINT)
      |FROM orders WHERE o_orderkey % 3 = 1
      |UNION ALL
      |SELECT 'trunc_empty', CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      |UNION ALL
      |SELECT 'reinsert', count(*),
      |  CAST(coalesce(sum(CAST(round(o_totalprice * 100) AS BIGINT)), 0)
      |    AS BIGINT)
      |FROM orders WHERE o_orderkey BETWEEN 20000 AND 40000""".stripMargin

  // ---------------------------------------------------------------------
  // MERGE WITH SCHEMA EVOLUTION (Spark 4 syntax): the source carries a
  // column the target lacks; the engine's ResolveMergeIntoSchemaEvolution
  // drives this catalog's alterTable, then the merge lands through the
  // row-level seam — once copy-on-write, once merge-on-read (the MOR
  // in-query require pins every pre-merge file carried verbatim). Old
  // rows surface the evolved column as NULL (counted by the oracle).
  // ---------------------------------------------------------------------
  def catalogMergeEvolve(s: SparkSession, dir: String): DataFrame = {
    val (cat, w) = freshCatalog(s)
    t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"),
      graft.functions.Exact.cents(col("o_totalprice")).as("price_cents"))
      .createOrReplaceTempView("evolve_orders_src")
    s.sql(
      """SELECT o_orderkey, price_cents * 2 AS price_cents,
        |  o_orderstatus AS status
        |FROM evolve_orders_src WHERE o_orderkey % 4 <= 1""".stripMargin)
      .createOrReplaceTempView("evolve_updates")
    def run(name: String, tblProps: String): Unit = {
      s.sql(s"CREATE TABLE $cat.$name $tblProps AS " +
        "SELECT o_orderkey, price_cents FROM evolve_orders_src " +
        "WHERE o_orderkey % 2 = 0")
      s.sql(
        s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.$name t
           |USING evolve_updates u ON t.o_orderkey = u.o_orderkey
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    run("mc", "")
    run("mm", "TBLPROPERTIES ('write.merge.mode' = 'merge-on-read')")
    // the MOR merge must carry every pre-merge file verbatim: only
    // tombstones + fresh files publish
    val mm = s"$w/mm"
    val vs = VersionedTable.versions(s, mm)
    val preFiles = VersionedTable.dataFilesOf(
      VersionedTable.manifest(s, mm, vs.init.last)).toSet
    val headFiles = VersionedTable.dataFilesOf(
      VersionedTable.manifest(s, mm, vs.last)).toSet
    require(preFiles.subsetOf(headFiles) && headFiles != preFiles,
      "merge-on-read MERGE must append, never rewrite")
    s.sql(
      s"""SELECT 'cow' AS mode, count(*) AS cnt,
         |  CAST(sum(price_cents) AS BIGINT) AS cents,
         |  count(status) AS with_status
         |FROM $cat.mc
         |UNION ALL
         |SELECT 'mor', count(*), CAST(sum(price_cents) AS BIGINT),
         |  count(status)
         |FROM $cat.mm""".stripMargin)
  }

  val catalogMergeEvolveSql: String =
    """WITH base AS (
      |  SELECT o_orderkey AS k,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |    o_orderstatus AS st
      |  FROM orders
      |), merged AS (
      |  SELECT k, cents, NULL AS status FROM base
      |  WHERE k % 2 = 0 AND k % 4 <> 0
      |  UNION ALL
      |  SELECT k, cents * 2, st FROM base WHERE k % 4 = 0
      |  UNION ALL
      |  SELECT k, cents * 2, st FROM base WHERE k % 4 = 1
      |)
      |SELECT 'cow' AS mode, count(*) AS cnt,
      |  CAST(sum(cents) AS BIGINT) AS cents,
      |  count(status) AS with_status
      |FROM merged
      |UNION ALL
      |SELECT 'mor', count(*), CAST(sum(cents) AS BIGINT), count(status)
      |FROM merged""".stripMargin

  // ---------------------------------------------------------------------
  // SQL VIEWS over the versioned catalog ([[graft.sources.GraftViews]]
  // + [[graft.sources.GraftViewRule]]): a filtered view over a
  // versioned orders table, an aggregating view (with a declared
  // column list) over THAT view, and rows INSERTed after both views
  // exist — so the gate pins the whole surface: CREATE VIEW DDL,
  // persisted definitions, view-over-view expansion, declared-column
  // renames, and look-through semantics (views read the CURRENT table
  // state, not a frozen snapshot). Oracle recomputes from raw orders.
  // ---------------------------------------------------------------------
  def catalogView(s: SparkSession, dir: String): DataFrame = {
    val (cat, w) = freshCatalog(s)
    val src = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_custkey"), col("o_orderstatus"),
      graft.functions.Exact.cents(col("o_totalprice")).as("price_cents"))
    VersionedTable.commit(s, s"$w/orders",
      src.filter(col("o_orderkey") % 2 === 0), append = false)
    s.sql(s"CREATE VIEW $cat.open_orders AS " +
      s"SELECT o_custkey, price_cents FROM $cat.orders " +
      "WHERE o_orderstatus = 'O'")
    s.sql(s"CREATE VIEW $cat.cust_totals (custkey, total_cents, n) AS " +
      "SELECT o_custkey, CAST(sum(price_cents) AS BIGINT), count(*) " +
      s"FROM $cat.open_orders GROUP BY o_custkey")
    // committed AFTER both views: look-through must see these rows
    src.filter(col("o_orderkey") % 2 === 1)
      .createOrReplaceTempView("vq_orders_rest")
    s.sql(s"INSERT INTO $cat.orders SELECT * FROM vq_orders_rest")
    s.sql(s"SELECT custkey, total_cents, n FROM $cat.cust_totals " +
      "WHERE n >= 2")
  }

  val catalogViewSql: String =
    """WITH open AS (
      |    SELECT o_custkey,
      |      CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      |    FROM orders WHERE o_orderstatus = 'O')
      |SELECT o_custkey AS custkey,
      |  CAST(sum(price_cents) AS BIGINT) AS total_cents,
      |  count(*) AS n
      |FROM open GROUP BY o_custkey HAVING count(*) >= 2""".stripMargin

  // ---------------------------------------------------------------------
  // BRANCH CHERRY-PICK ([[VersionedTable.cherryPickCommit]]): fork,
  // advance BOTH sides disjointly — main INSERTs one residue class,
  // the branch INSERTs another and MOR-deletes a subset of the base
  // era — then `CALL cherry_pick` replays the branch delta onto the
  // diverged head (fast_forward provably refuses first). The oracle
  // reconstructs the merged state from raw orders, so the gate pins
  // the whole merge arithmetic: base kept minus branch deletes, plus
  // both sides' appends.
  // ---------------------------------------------------------------------
  def catalogCherryPick(s: SparkSession, dir: String): DataFrame = {
    val (cat, w) = freshCatalog(s)
    val src = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"),
      graft.functions.Exact.cents(col("o_totalprice")).as("price_cents"))
    VersionedTable.commit(s, s"$w/cpt",
      src.filter(col("o_orderkey") % 3 === 0)
        .repartitionByRange(4, col("o_orderkey")),
      append = false, statCols = Seq("o_orderkey"))
    s.sql(s"CALL $cat.system.branch('cpt', 'dev')")
    // branch work: append the %3=2 class, MOR-delete %30=0 base rows
    src.filter(col("o_orderkey") % 3 === 2)
      .createOrReplaceTempView("cpt_src_two")
    s.sql(s"INSERT INTO $cat.cpt.branch_dev SELECT * FROM cpt_src_two")
    VersionedTable.deleteCommit(s, s"$w/cpt/_branch/dev",
      col("o_orderkey") % 30 === 0, Seq("o_orderkey"))
    // main diverges disjointly: appends the %3=1 class
    src.filter(col("o_orderkey") % 3 === 1)
      .createOrReplaceTempView("cpt_src_one")
    s.sql(s"INSERT INTO $cat.cpt SELECT * FROM cpt_src_one")
    val ffRefused =
      try { s.sql(s"CALL $cat.system.fast_forward('cpt', 'dev')")
              .collect(); false }
      catch { case _: Exception => true }
    require(ffRefused, "fast_forward must refuse the diverged main")
    s.sql(s"CALL $cat.system.cherry_pick('cpt', 'dev')")
    s.sql(s"CALL $cat.system.drop_branch('cpt', 'dev')")
    s.sql(s"""SELECT o_orderstatus, count(*) AS cnt,
      CAST(sum(price_cents) AS BIGINT) AS total_cents
      FROM $cat.cpt GROUP BY o_orderstatus""")
  }

  val catalogCherryPickSql: String =
    """SELECT o_orderstatus, count(*) AS cnt,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS total_cents
      |FROM orders
      |WHERE o_orderkey % 30 <> 0
      |GROUP BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------------
  // ADD COLUMN ... DEFAULT ([[VersionedTable.addColumnCommit]] with a
  // default): a populated table evolves metadata-only (per-file nc
  // era tags, zero data I/O), then the aggregate spans BOTH eras —
  // pre-evolution rows serve the declared default, an INSERT omitting
  // the column materializes CURRENT_DEFAULT, explicit values (NULL
  // included) win. The oracle models the default arithmetic from raw
  // orders.
  // ---------------------------------------------------------------------
  def catalogDefault(s: SparkSession, dir: String): DataFrame = {
    val (cat, w) = freshCatalog(s)
    val src = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"),
      graft.functions.Exact.cents(col("o_totalprice")).as("price_cents"))
    // era A: the %2=0 class, committed BEFORE the default exists
    VersionedTable.commit(s, s"$w/dft",
      src.filter(col("o_orderkey") % 2 === 0)
        .repartitionByRange(4, col("o_orderkey")),
      append = false, statCols = Seq("o_orderkey"))
    s.sql(s"ALTER TABLE $cat.dft ADD COLUMN discount_cents BIGINT " +
      "DEFAULT 25")
    // era B, half omitting the column (CURRENT_DEFAULT fills it),
    // half with an explicit per-row value
    src.filter(col("o_orderkey") % 4 === 1)
      .createOrReplaceTempView("dft_omit")
    s.sql(s"INSERT INTO $cat.dft (o_orderkey, o_orderstatus, " +
      "price_cents) SELECT * FROM dft_omit")
    src.filter(col("o_orderkey") % 4 === 3)
      .withColumn("discount_cents", col("o_orderkey") % 100)
      .createOrReplaceTempView("dft_explicit")
    s.sql(s"INSERT INTO $cat.dft SELECT * FROM dft_explicit")
    s.sql(s"""SELECT o_orderstatus, count(*) AS cnt,
      CAST(sum(price_cents - discount_cents) AS BIGINT) AS net_cents,
      CAST(sum(discount_cents) AS BIGINT) AS disc_cents
      FROM $cat.dft GROUP BY o_orderstatus""")
  }

  val catalogDefaultSql: String =
    """WITH rows_ AS (
      |    SELECT o_orderstatus,
      |      CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
      |      CASE WHEN o_orderkey % 2 = 0 THEN 25
      |           WHEN o_orderkey % 4 = 1 THEN 25
      |           ELSE o_orderkey % 100 END AS discount_cents
      |    FROM orders)
      |SELECT o_orderstatus, count(*) AS cnt,
      |  CAST(sum(price_cents - discount_cents) AS BIGINT) AS net_cents,
      |  CAST(sum(discount_cents) AS BIGINT) AS disc_cents
      |FROM rows_ GROUP BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------------
  // MATERIALIZED VIEW DDL ([[graft.sources.GraftMv]]): the SQL surface
  // of incremental view maintenance. A revenue-by-segment MV is
  // CREATEd over orders ⋈ customer while both tables are PARTIAL,
  // then BOTH sides move — a fact append AND a dimension merge (the
  // term that re-weights matching fact rows) — and one CALL
  // refresh_mv folds the signed change feeds (Δ(A⋈B) = ΔA⋈B_old ∪
  // A_new⋈ΔB, I/O O(changed files) — JoinMaterializedViewSpec pins
  // the bucket pruning; this gate pins the statement surface end to
  // end). Oracle: the final state reconstructed algebraically from
  // raw orders/customer.
  // ---------------------------------------------------------------------
  def catalogMv(s: SparkSession, dir: String): DataFrame = {
    val (cat, w) = freshCatalog(s)
    val o = t(s, dir, "orders").select(
      col("o_custkey").as("custkey"), col("o_orderkey"),
      graft.functions.Exact.cents(col("o_totalprice")).as("price_cents"))
    val c = t(s, dir, "customer").select(
      col("c_custkey").as("custkey"), col("c_mktsegment"))
    VersionedTable.commit(s, s"$w/orders",
      o.filter(col("o_orderkey") % 3 =!= 0), append = false)
    VersionedTable.commit(s, s"$w/customer", c, append = false)
    s.sql(s"CREATE MATERIALIZED VIEW $cat.rev AS " +
      "SELECT c_mktsegment, count(*) AS cnt, " +
      "sum(price_cents) AS sum_price_cents " +
      s"FROM $cat.orders JOIN $cat.customer USING (custkey) " +
      "GROUP BY c_mktsegment")
    // both sources move AFTER the create
    VersionedTable.commit(s, s"$w/orders",
      o.filter(col("o_orderkey") % 3 === 0), append = true)
    VersionedTable.mergeCommit(s, s"$w/customer",
      c.filter(col("custkey") % 10 === 3)
        .withColumn("c_mktsegment", lit("MOVED")), "custkey")
    s.sql(s"CALL $cat.system.refresh_mv('rev')")
    s.sql(s"SELECT c_mktsegment, cnt, sum_price_cents FROM $cat.rev")
  }

  val catalogMvSql: String =
    """WITH f AS (
      |  SELECT o_custkey AS custkey,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      |  FROM orders),
      |d AS (
      |  SELECT c_custkey AS custkey,
      |    CASE WHEN c_custkey % 10 = 3 THEN 'MOVED'
      |         ELSE c_mktsegment END AS c_mktsegment
      |  FROM customer)
      |SELECT c_mktsegment, count(*) AS cnt,
      |  CAST(sum(price_cents) AS BIGINT) AS sum_price_cents
      |FROM f JOIN d USING (custkey)
      |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // GENERATED COLUMNS ([[VersionedTable.addGeneratedColumnCommit]]):
  // ADD COLUMN ... GENERATED ALWAYS AS (expr) as a metadata-only
  // evolve on the nc-era machinery. Half of orders lands PRE-era (the
  // band computes at read), the declaration is added, the other half
  // appends POST-era (the band materializes into the files), a
  // mismatching explicit value is refused atomically (in-query
  // require), and the final aggregate spans BOTH eras — the oracle
  // computes the expression uniformly, so any era seam shows as a
  // hash mismatch.
  // ---------------------------------------------------------------------
  def catalogGenerated(s: SparkSession, dir: String): DataFrame = {
    val table = java.nio.file.Files.createTempDirectory("graft_vgen")
      .toAbsolutePath.toString + "/orders"
    val base = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"),
      graft.functions.Exact.cents(col("o_totalprice")).as("price_cents"))
    VersionedTable.commit(s, table,
      base.filter(col("o_orderkey") % 2 === 0)
        .repartitionByRange(4, col("o_orderkey")),
      append = false, statCols = Seq("o_orderkey"))
    VersionedTable.addGeneratedColumnCommit(s, table, "band",
      org.apache.spark.sql.types.LongType, "price_cents DIV 1000000")
    VersionedTable.commit(s, table,
      base.filter(col("o_orderkey") % 2 === 1), append = true)
    val head = VersionedTable.versions(s, table).last
    val rejected =
      try {
        VersionedTable.commit(s, table,
          base.limit(3).withColumn("band", lit(-5L)), append = true)
        false
      } catch { case e: IllegalStateException =>
        e.getMessage.contains("GENERATED") }
    require(rejected && VersionedTable.versions(s, table).last == head,
      "a mismatching explicit generated value must be refused " +
        "atomically")
    VersionedTable.read(s, table)
      .groupBy(col("band"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("price_cents")).as("sum_price_cents"))
  }

  val catalogGeneratedSql: String =
    """WITH rows_ AS (
      |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      |  FROM orders)
      |SELECT price_cents // 1000000 AS band, count(*) AS cnt,
      |  CAST(sum(price_cents) AS BIGINT) AS sum_price_cents
      |FROM rows_ GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // MULTI-TABLE ATOMIC COMMIT ([[graft.sources.TableTxn]]): orders and
  // customer must move TOGETHER. A coordinator crash is injected
  // mid-transaction AFTER the first table's manifest published — the
  // in-query requires pin that NEITHER side is visible (the published
  // manifest is txn-marked undecided) and that the janitor frees the
  // slots; then the same transaction commits cleanly and the final
  // two-sided aggregate must show BOTH appends. The oracle computes
  // the final state from raw orders/customer — a half-visible txn
  // shows as a hash mismatch on either side.
  // ---------------------------------------------------------------------
  def tableTxn(s: SparkSession, dir: String): DataFrame = {
    val TX = graft.sources.TableTxn
    val root = java.nio.file.Files.createTempDirectory("graft_vtxn")
      .toAbsolutePath.toString
    val (fact, dim) = (root + "/orders", root + "/customer")
    val o = t(s, dir, "orders").select(col("o_orderkey"),
      graft.functions.Exact.cents(col("o_totalprice")).as("price_cents"))
    val c = t(s, dir, "customer").select(col("c_custkey"),
      graft.functions.Exact.cents(col("c_acctbal")).as("acctbal_cents"))
    VersionedTable.commit(s, fact,
      o.filter(col("o_orderkey") % 2 === 0), append = false)
    VersionedTable.commit(s, dim, c, append = false)
    val mx = c.agg(max(col("c_custkey"))).collect()(0).getLong(0)
    val writes = Seq(
      TX.TxnWrite(fact, o.filter(col("o_orderkey") % 2 === 1),
        append = true),
      TX.TxnWrite(dim, c.filter(col("c_custkey") % 7 === 0)
        .withColumn("c_custkey", col("c_custkey") + lit(10L) * mx),
        append = true))
    val seeded = (VersionedTable.read(s, fact).count(),
      VersionedTable.read(s, dim).count())
    // coordinator dies AFTER publishing the first table's manifest —
    // the razor's edge: one side on disk, the other not
    TX.failpoint = l =>
      if (l == s"published:$fact") throw new TX.SimulatedCrash(l)
    val crashed =
      try { TX.commitAll(s, writes); false }
      catch { case _: TX.SimulatedCrash => true }
    TX.failpoint = _ => ()
    require(crashed, "the injected crash must fire")
    require((VersionedTable.read(s, fact).count(),
      VersionedTable.read(s, dim).count()) == seeded &&
      VersionedTable.versions(s, fact) == Seq(1),
      "a crashed txn must leave NEITHER side visible")
    TX.resolvePending(s, fact); TX.resolvePending(s, dim)
    TX.commitAll(s, writes)
    VersionedTable.read(s, fact)
      .agg(count(lit(1)).as("cnt"), sum(col("price_cents")).as("total"))
      .select(lit("fact").as("side"), col("cnt"), col("total"))
      .unionByName(VersionedTable.read(s, dim)
        .agg(count(lit(1)).as("cnt"),
          sum(col("acctbal_cents")).as("total"))
        .select(lit("dim").as("side"), col("cnt"), col("total")))
  }

  val tableTxnSql: String =
    """WITH f AS (
      |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS pc
      |  FROM orders),
      |d AS (
      |  SELECT c_custkey,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS ac
      |  FROM customer),
      |dall AS (
      |  SELECT ac FROM d
      |  UNION ALL SELECT ac FROM d WHERE c_custkey % 7 = 0)
      |SELECT 'fact' AS side, count(*) AS cnt,
      |  CAST(sum(pc) AS BIGINT) AS total FROM f
      |UNION ALL
      |SELECT 'dim', count(*), CAST(sum(ac) AS BIGINT) FROM dall""".stripMargin

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_catalog_mv" -> (catalogMv _),
    "q_table_txn" -> (tableTxn _),
    "q_table_generated" -> (catalogGenerated _),
    "q_catalog_default" -> (catalogDefault _),
    "q_catalog_cherry_pick" -> (catalogCherryPick _),
    "q_catalog_view" -> (catalogView _),
    "q_catalog_ctas" -> (catalogCtas _),
    "q_catalog_merge_evolve" -> (catalogMergeEvolve _),
    "q_catalog_update_mor" -> (catalogUpdateMor _),
    "q_catalog_merge_skew" -> (catalogMergeSkew _),
    "q_catalog_metadata" -> (catalogMetadata _),
    "q_stream_update" -> (streamUpdate _),
    "q_catalog_delete_mor" -> (catalogDeleteMor _),
    "q_catalog_delete_meta" -> (catalogDeleteMeta _),
    "q_catalog_spec_evolve" -> (catalogSpecEvolve _),
    "q_table_branch" -> (catalogBranch _),
    "q_catalog_adopt" -> (catalogAdopt _),
    "q_catalog_call" -> (catalogCall _),
    "q_catalog_partitioned" -> (catalogPartitioned _),
    "q_stream_sink" -> (streamSink _),
    "q_catalog_update" -> (catalogUpdate _),
    "q_catalog_merge" -> (catalogMerge _),
    "q_catalog_delete" -> (catalogDelete _),
    "q_catalog_alter" -> (catalogAlter _),
    "q_stream_source_cdc" -> (streamSourceCdc _),
    "q_catalog_sql_read" -> (catalogSqlRead _),
    "q_catalog_time_travel" -> (catalogTimeTravel _),
    "q_catalog_agg_pushdown" -> (catalogAggPushdown _),
    "q_catalog_ddl_roundtrip" -> (catalogDdlRoundtrip _))

  def oracles: Map[String, String] = Map(
    "q_catalog_mv" -> catalogMvSql,
    "q_table_txn" -> tableTxnSql,
    "q_table_generated" -> catalogGeneratedSql,
    "q_catalog_default" -> catalogDefaultSql,
    "q_catalog_cherry_pick" -> catalogCherryPickSql,
    "q_catalog_view" -> catalogViewSql,
    "q_catalog_ctas" -> catalogCtasSql,
    "q_catalog_merge_evolve" -> catalogMergeEvolveSql,
    "q_catalog_update_mor" -> catalogUpdateMorSql,
    "q_catalog_merge_skew" -> catalogMergeSkewSql,
    "q_catalog_metadata" -> catalogMetadataSql,
    "q_stream_update" -> streamUpdateSql,
    "q_catalog_delete_mor" -> catalogDeleteMorSql,
    "q_catalog_delete_meta" -> catalogDeleteMetaSql,
    "q_catalog_spec_evolve" -> catalogSpecEvolveSql,
    "q_table_branch" -> catalogBranchSql,
    "q_catalog_adopt" -> catalogAdoptSql,
    "q_catalog_call" -> catalogCallSql,
    "q_catalog_partitioned" -> catalogPartitionedSql,
    "q_stream_sink" -> streamSinkSql,
    "q_catalog_update" -> catalogUpdateSql,
    "q_catalog_merge" -> catalogMergeSql,
    "q_catalog_delete" -> catalogDeleteSql,
    "q_catalog_alter" -> catalogAlterSql,
    "q_stream_source_cdc" -> streamSourceCdcSql,
    "q_catalog_sql_read" -> catalogSqlReadSql,
    "q_catalog_time_travel" -> catalogTimeTravelSql,
    "q_catalog_agg_pushdown" -> catalogAggPushdownSql,
    "q_catalog_ddl_roundtrip" -> catalogDdlRoundtripSql)
}
