package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] demonstrates one operator family from
  * SURVEY.md §2 (or a beyond-reference training-data op) against the
  * synthetic tables in TESTDATA.md; [[oracleSql]] holds the DuckDB-
  * equivalent SQL for the driver's hash compare.
  *
  * Cross-engine determinism rules used throughout (Spark vs DuckDB):
  *   - money sums go through exact integer cents (double-sum order is
  *     engine-dependent; integer sums are not);
  *   - ratios are a single division of two exact aggregates;
  *   - quantiles are computed over integral-valued columns only (linear
  *     interpolation is then exact in both engines);
  *   - event-time math happens in the epoch-integer domain;
  *   - every computed column is lowercase-aliased identically in both
  *     dialects.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Queries.pricingSummary(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.all ++ QueriesML.all ++ SourceGateQueries.all ++
      ReferenceGateQueries.all ++ QueriesPipeline.all ++
      QueriesScale.all ++ QueriesCatalog.all

  def oracleSql: Map[String, String] =
    Queries.oracles ++ QueriesML.oracles ++ SourceGateQueries.oracles ++
      ReferenceGateQueries.oracles ++ QueriesPipeline.oracles ++
      QueriesScale.oracles ++ QueriesCatalog.oracles
}

/** The operator-demonstration query set (SURVEY.md §2 inventory). */
object Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Exact integer cents of a 2-decimal double column (deterministic across
    * engines: products/rounds of identical doubles are IEEE-deterministic;
    * only SUM order varies, and integer sums are order-independent). */
  private def cents(c: Column): Column = graft.functions.Exact.cents(c)

  // ---------------------------------------------------------------------
  // A1/A3/A6-shaped: grouped aggregation (sums, counts, ratio)
  // ---------------------------------------------------------------------
  /** TPC-H Q1-shaped pricing summary: filter + groupBy + sums/ratio.
    * Scale: partial (map-side) aggregation then one exchange on the tiny
    * group key — the canonical scalable aggregate. */
  def pricingSummary(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        sum(cents(col("l_extendedprice"))).as("sum_base_price_cents"),
        sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 10000)
          .cast("long")).as("sum_disc_price_e4"),
        count(lit(1)).as("cnt"))
      .withColumn("avg_qty", col("sum_qty") / col("cnt"))

  val pricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      |  sum(l_quantity) AS sum_qty,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_price_cents,
      |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS sum_disc_price_e4,
      |  count(*) AS cnt,
      |  sum(l_quantity) / count(*) AS avg_qty
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------------
  // P13/P15: filter + projection (pushdown-friendly)
  // ---------------------------------------------------------------------
  def filterProject(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 150000)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))

  val filterProjectSql: String =
    """SELECT o_orderkey, o_custkey, o_orderpriority FROM orders
      |WHERE o_orderstatus = 'F' AND o_totalprice > 150000""".stripMargin

  // ---------------------------------------------------------------------
  // P1: positional union (reference merges blob + JDBC rows by position)
  // ---------------------------------------------------------------------
  def unionPositional(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val open = o.filter(col("o_orderstatus") === "O")
      .select(col("o_orderkey"), col("o_totalprice"), lit("open").as("bucket"))
    val done = o.filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_totalprice"), lit("finished").as("bucket"))
    open.union(done) // positional, UNION ALL semantics — like the reference
  }

  val unionPositionalSql: String =
    """SELECT o_orderkey, o_totalprice, 'open' AS bucket FROM orders WHERE o_orderstatus = 'O'
      |UNION ALL
      |SELECT o_orderkey, o_totalprice, 'finished' AS bucket FROM orders WHERE o_orderstatus = 'F'""".stripMargin

  // ---------------------------------------------------------------------
  // P2-P4: split + explode (Generate) + aggregate — narrow then one shuffle
  // ---------------------------------------------------------------------
  def tokenizeExplode(s: SparkSession, dir: String): DataFrame =
    Flatten.explodeDelimited(t(s, dir, "documents"), "text", " ", "token")
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))

  val tokenizeExplodeSql: String =
    """SELECT token, count(*) AS cnt FROM (
      |  SELECT unnest(string_split(text, ' ')) AS token FROM documents
      |) GROUP BY token""".stripMargin

  // ---------------------------------------------------------------------
  // P10-P12: schema-driven validation fold (trim strings, abs numerics)
  // ---------------------------------------------------------------------
  def validateClean(s: SparkSession, dir: String): DataFrame =
    Validate.clean(t(s, dir, "customer"))

  val validateCleanSql: String =
    """SELECT abs(c_custkey) AS c_custkey, trim(c_name) AS c_name,
      |  abs(c_nationkey) AS c_nationkey, abs(c_acctbal) AS c_acctbal,
      |  trim(c_mktsegment) AS c_mktsegment FROM customer""".stripMargin

  // ---------------------------------------------------------------------
  // P7: regexp_replace clean
  // ---------------------------------------------------------------------
  def regexpClean(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").select(
      col("p_partkey"),
      regexp_replace(col("p_name"), "[aeiou]", "").as("p_name_novowels"))

  val regexpCleanSql: String =
    """SELECT p_partkey, regexp_replace(p_name, '[aeiou]', '', 'g') AS p_name_novowels
      |FROM part""".stripMargin

  // ---------------------------------------------------------------------
  // J1: broadcast LEFT equi-join, fact x dim (explicit broadcast hint)
  // ---------------------------------------------------------------------
  def joinBroadcastLeft(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")),
        col("l_partkey") === col("p_partkey"), "left")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("p_brand"), col("p_type"))

  val joinBroadcastLeftSql: String =
    """SELECT l_orderkey, l_linenumber, l_partkey, p_brand, p_type
      |FROM lineitem LEFT JOIN part ON l_partkey = p_partkey""".stripMargin

  // ---------------------------------------------------------------------
  // J2: inner equi-join USING (dedup'd key column)
  // ---------------------------------------------------------------------
  def joinUsingInner(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").withColumnRenamed("o_custkey", "c_custkey")
      .join(t(s, dir, "customer"), Seq("c_custkey"))
      .select(col("c_custkey"), col("o_orderkey"), col("c_mktsegment"),
        col("o_orderstatus"))

  val joinUsingInnerSql: String =
    """SELECT o_custkey AS c_custkey, o_orderkey, c_mktsegment, o_orderstatus
      |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin

  // ---------------------------------------------------------------------
  // A1: unbounded window sum per entity (exact via integer cents)
  // ---------------------------------------------------------------------
  def windowUserTotal(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("value_cents", cents(col("value")))
      .withColumn("user_total_cents",
        sum(col("value_cents")).over(Window.partitionBy("user_id")))
      .select(col("event_id"), col("user_id"), col("user_total_cents"))

  val windowUserTotalSql: String =
    """SELECT event_id, user_id,
      |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER (PARTITION BY user_id) AS BIGINT) AS user_total_cents
      |FROM events""".stripMargin

  // ---------------------------------------------------------------------
  // A2: conditional windowed sums (filtered-agg idiom), 3 buckets
  // ---------------------------------------------------------------------
  def windowCondSums(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").withColumn("value_cents", cents(col("value")))
    val engaged = Seq("purchase", "signup")
    val passive = Seq("view", "click")
    e.withColumn("engaged_cents",
        Classify.windowCondSum("user_id",
          col("event_type").isin(engaged: _*), col("value_cents")))
      .withColumn("passive_cents",
        Classify.windowCondSum("user_id",
          col("event_type").isin(passive: _*), col("value_cents")))
      .withColumn("error_cents",
        Classify.windowCondSum("user_id",
          col("event_type") === "error", col("value_cents")))
      .select(col("event_id"), col("user_id"), col("engaged_cents"),
        col("passive_cents"), col("error_cents"))
  }

  val windowCondSumsSql: String =
    """SELECT event_id, user_id,
      |  CAST(SUM(CASE WHEN event_type IN ('purchase','signup') THEN CAST(round(value*100) AS BIGINT) ELSE 0 END)
      |    OVER (PARTITION BY user_id) AS BIGINT) AS engaged_cents,
      |  CAST(SUM(CASE WHEN event_type IN ('view','click') THEN CAST(round(value*100) AS BIGINT) ELSE 0 END)
      |    OVER (PARTITION BY user_id) AS BIGINT) AS passive_cents,
      |  CAST(SUM(CASE WHEN event_type = 'error' THEN CAST(round(value*100) AS BIGINT) ELSE 0 END)
      |    OVER (PARTITION BY user_id) AS BIGINT) AS error_cents
      |FROM events""".stripMargin

  // ---------------------------------------------------------------------
  // Bounded-frame window: trailing moving average per user (exact — the
  // average is an integer DIV of window sum by window count; both
  // operands are non-negative so Spark DIV (trunc) == DuckDB // (floor))
  // ---------------------------------------------------------------------
  def movingAvg(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_ns"), col("event_id")).rowsBetween(-3, 0)
    t(s, dir, "events")
      .withColumn("value_cents", cents(col("value")))
      .select(col("event_id"), col("user_id"),
        sum(col("value_cents")).over(w).as("win_sum_cents"),
        count(lit(1)).over(w).as("win_n"))
      .withColumn("moving_avg_cents", expr("win_sum_cents DIV win_n"))
  }

  val movingAvgSql: String =
    """SELECT event_id, user_id,
      |  CAST(SUM(CAST(round(value*100) AS BIGINT)) OVER w AS BIGINT) AS win_sum_cents,
      |  CAST(COUNT(*) OVER w AS BIGINT) AS win_n,
      |  CAST(SUM(CAST(round(value*100) AS BIGINT)) OVER w AS BIGINT)
      |    // COUNT(*) OVER w AS moving_avg_cents
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""".stripMargin

  /** Time-RANGE windowed aggregate: each event's trailing-hour sum and
    * count for its user — the interval-based sibling of [[movingAvg]]'s
    * row-count frame (a RANGE frame admits every row within the time
    * bound, however many; peers at the same instant are all included,
    * which is also what makes the result deterministic under ties).
    * One shuffle on the user key; in-partition the frame is a sliding
    * two-pointer over the sorted run — O(rows), not O(rows x frame). */
  def rangeWindow(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"))
      .rangeBetween(-3600L * 1000000, 0)
    t(s, dir, "events")
      .withColumn("ts_us", expr("ts_ns DIV 1000"))
      .withColumn("value_cents", cents(col("value")))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        sum(col("value_cents")).over(w).as("hour_sum_cents"),
        count(lit(1)).over(w).as("hour_n"))
  }

  val rangeWindowSql: String =
    """SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us,
      |  CAST(SUM(CAST(round(value*100) AS BIGINT)) OVER w AS BIGINT)
      |    AS hour_sum_cents,
      |  CAST(COUNT(*) OVER w AS BIGINT) AS hour_n
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000
      |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin

  // ---------------------------------------------------------------------
  // Exact-integer covariance numerator per group: cov = cov_num / n²
  // with cov_num = n·Σxy − Σx·Σy over (quantity, price cents), grouped
  // by supplier nation. Broadcast dims; single partial-agg shuffle.
  // Long bounds: n·Σxy per group needs n²·E[xy] < 2^63 — holds through
  // ~sf1 at this schema (240k rows/nation); beyond, lift the three
  // sums to DECIMAL(38,0) in both engines, formula unchanged.
  // ---------------------------------------------------------------------
  def covarianceByNation(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_suppkey"),
      col("l_quantity").cast("long").as("qty"),
      cents(col("l_extendedprice")).as("price_cents"))
    val sup = t(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    val nat = t(s, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n"),
        sum(col("qty")).as("sx"),
        sum(col("price_cents")).as("sy"),
        sum(expr("qty * price_cents")).as("sxy"))
      .select(col("n_name"), col("n"),
        expr("n * sxy - sx * sy").as("cov_num_cents"))
  }

  val covarianceByNationSql: String =
    """WITH g AS (
      |  SELECT n_name, count(*) AS n,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
      |    CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sy,
      |    CAST(sum(CAST(l_quantity AS BIGINT) * CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sxy
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  GROUP BY n_name)
      |SELECT n_name, n, n * sxy - sx * sy AS cov_num_cents FROM g""".stripMargin

  // ---------------------------------------------------------------------
  // A3: exact per-group quantiles, ONE job (vs reference's 7 serial jobs)
  // ---------------------------------------------------------------------
  def groupQuantiles(s: SparkSession, dir: String): DataFrame =
    Quantiles.perGroup(t(s, dir, "lineitem"), "l_returnflag", "l_quantity",
      Seq(0.25, 0.5, 0.75))

  val groupQuantilesSql: String =
    """SELECT l_returnflag,
      |  quantile_cont(l_quantity, 0.25) AS q25,
      |  quantile_cont(l_quantity, 0.50) AS q50,
      |  quantile_cont(l_quantity, 0.75) AS q75
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------------
  // A4: dropDuplicates == DISTINCT on a projected key set
  // ---------------------------------------------------------------------
  def distinctPairs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").select(col("l_returnflag"), col("l_linestatus"))
      .dropDuplicates()

  val distinctPairsSql: String =
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"

  // ---------------------------------------------------------------------
  // A5: groupBy().count() distribution check
  // ---------------------------------------------------------------------
  def groupCount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"))

  val groupCountSql: String =
    "SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type"

  // ---------------------------------------------------------------------
  // U1: all-or-nothing category (reference integer-division semantics),
  // UDF-free when-chain over windowed conditional counts
  // ---------------------------------------------------------------------
  def categoryProportion(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
    val e = t(s, dir, "events")
      .withColumn("total", count(lit(1)).over(w))
      .withColumn("purchases",
        sum(when(col("event_type") === "purchase", 1).otherwise(0)).over(w))
      .withColumn("errors",
        sum(when(col("event_type") === "error", 1).otherwise(0)).over(w))
      .withColumn("passives",
        sum(when(col("event_type").isin("view", "click"), 1).otherwise(0)).over(w))
    val category = Classify.allOrNothingCategory(
      Seq("Buyer" -> col("purchases"), "ErrorProne" -> col("errors"),
        "Lurker" -> col("passives")),
      col("total"), "Mixed")
    e.withColumn("category", category)
      .select(col("user_id"), col("category"))
      .dropDuplicates(Seq("user_id")) // deterministic: constant per user
  }

  val categoryProportionSql: String =
    """SELECT user_id,
      |  CASE WHEN purchases = total THEN 'Buyer'
      |       WHEN errors = total THEN 'ErrorProne'
      |       WHEN passives = total THEN 'Lurker'
      |       ELSE 'Mixed' END AS category
      |FROM (
      |  SELECT user_id, count(*) AS total,
      |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchases,
      |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS errors,
      |    sum(CASE WHEN event_type IN ('view','click') THEN 1 ELSE 0 END) AS passives
      |  FROM events GROUP BY user_id)""".stripMargin

  // ---------------------------------------------------------------------
  // U2: quantile-threshold segmentation — per-group thresholds from ONE
  // quantile job, broadcast-joined, strict `>`, guard ranges with gaps
  // ---------------------------------------------------------------------
  def segmentQuantile(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      // epoch-integer time math: deterministic across engines
      .withColumn("epoch_h", expr("ts_ns DIV 3600000000000"))
      .withColumn("hour_of_day", (col("epoch_h") % 24).cast("int"))
      .withColumn("dow_bucket", expr("CAST((epoch_h DIV 24) % 7 AS INT)"))
      .withColumn("value_cents", cents(col("value")))
    val thresholds = Quantiles.perGroup(e, "dow_bucket", "value_cents",
      Seq(0.25, 0.5, 0.75))
    val perUser = e.withColumn("user_events",
      count(lit(1)).over(Window.partitionBy("user_id")))
    val joined = perUser.join(broadcast(thresholds), Seq("dow_bucket"))
    // guard: hour-of-day bands with deliberate gaps (8,9,20) like U2's dspo
    val seg = when(col("hour_of_day") <= 7 &&
        col("user_events") * 100 > col("q75"), "night_heavy")
      .when(col("hour_of_day").between(10, 19) &&
        col("user_events") * 100 > col("q50"), "day_mid")
      .when(col("hour_of_day") >= 21 &&
        col("user_events") * 100 > col("q25"), "evening_light")
      .otherwise("undefined")
    joined.withColumn("segment", seg)
      .groupBy(col("segment")).agg(count(lit(1)).as("cnt"))
  }

  val segmentQuantileSql: String =
    """WITH e AS (
      |  SELECT *,
      |    epoch_ns(ts) // 3600000000000 AS epoch_h,
      |    CAST((epoch_ns(ts) // 3600000000000) % 24 AS INT) AS hour_of_day,
      |    CAST(((epoch_ns(ts) // 3600000000000) // 24) % 7 AS INT) AS dow_bucket,
      |    CAST(round(value * 100) AS BIGINT) AS value_cents
      |  FROM events),
      |th AS (
      |  SELECT dow_bucket,
      |    quantile_cont(value_cents, 0.25) AS q25,
      |    quantile_cont(value_cents, 0.50) AS q50,
      |    quantile_cont(value_cents, 0.75) AS q75
      |  FROM e GROUP BY dow_bucket),
      |pu AS (
      |  SELECT *, count(*) OVER (PARTITION BY user_id) AS user_events FROM e)
      |SELECT CASE
      |    WHEN hour_of_day <= 7 AND user_events * 100 > q75 THEN 'night_heavy'
      |    WHEN hour_of_day BETWEEN 10 AND 19 AND user_events * 100 > q50 THEN 'day_mid'
      |    WHEN hour_of_day >= 21 AND user_events * 100 > q25 THEN 'evening_light'
      |    ELSE 'undefined' END AS segment,
      |  count(*) AS cnt
      |FROM pu JOIN th USING (dow_bucket)
      |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // P5/P8: cast with truncation + when/otherwise domain repair
  // ---------------------------------------------------------------------
  def castWhenRepair(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(
      col("event_id"),
      floor(col("value")).cast("long").as("value_floor"),
      when(col("event_type") === "error", lit(0)).otherwise(lit(1)).as("ok"))

  val castWhenRepairSql: String =
    """SELECT event_id, CAST(floor(value) AS BIGINT) AS value_floor,
      |  CASE WHEN event_type = 'error' THEN 0 ELSE 1 END AS ok
      |FROM events""".stripMargin

  // ---------------------------------------------------------------------
  // Beyond-reference: distributed JSON field extraction (the reference
  // parses JSON driver-side with json4s; at 100 TB it must be an executor-
  // side codegen'd path)
  // ---------------------------------------------------------------------
  def jsonExtract(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(
      col("event_id"),
      get_json_object(col("props"), "$.k").cast("long").as("k"))

  val jsonExtractSql: String =
    """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |FROM events""".stripMargin

  // ---------------------------------------------------------------------
  // Beyond-reference: date_trunc month rollup
  // ---------------------------------------------------------------------
  def monthlyOrders(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("cnt"),
        sum(cents(col("o_totalprice"))).as("total_cents"))

  val monthlyOrdersSql: String =
    """SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS cnt,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
      |FROM orders GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // §2.6 gap filled: global sort + limit (TopK) with deterministic tiebreak
  // ---------------------------------------------------------------------
  def topKOrders(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_cents"))

  val topKOrdersSql: String =
    """SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      |FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin

  // ---------------------------------------------------------------------
  // Beyond-reference set ops: anti + semi joins
  // ---------------------------------------------------------------------
  /** Customers with no urgent-priority order — filtered build side keeps
    * the anti-join result non-empty at every scale factor. */
  def antiJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))

  val antiJoinSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')""".stripMargin

  def semiJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"),
        "left_semi")
      .select(col("c_custkey"), col("c_mktsegment"))

  val semiJoinSql: String =
    """SELECT c_custkey, c_mktsegment FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin

  // ---------------------------------------------------------------------
  // Beyond-reference: hierarchical rollup aggregation
  // ---------------------------------------------------------------------
  def rollupOrders(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"),
        sum(cents(col("o_totalprice"))).as("total_cents"))

  val rollupOrdersSql: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
      |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin

  // ---------------------------------------------------------------------
  // Beyond-reference: sessionization via lag + cumulative window (the
  // batch twin of stateful streaming sessionization). All time math in
  // exact epoch-nanos integers.
  // ---------------------------------------------------------------------
  val SessionGapUs: Long = 30L * 60 * 1000 * 1000

  /** Time math in epoch MICROseconds: DuckDB truncates nanosecond
    * parquet timestamps to micros on read, so micros is the highest
    * cross-engine-stable resolution. */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_us")
    val e = t(s, dir, "events")
      .withColumn("ts_us", expr("ts_ns DIV 1000"))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn("brk",
        when(col("prev_us").isNull ||
          col("ts_us") - col("prev_us") > SessionGapUs, 1).otherwise(0))
      .withColumn("session_idx", sum(col("brk")).over(byUser))
    e.groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        (max(col("ts_us")) - min(col("ts_us"))).as("duration_us"),
        sum(cents(col("value"))).as("value_cents"))
  }

  val sessionizeSql: String =
    s"""WITH x AS (
       |  SELECT user_id, epoch_us(ts) AS tn, value,
       |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS prev
       |  FROM events),
       |y AS (SELECT user_id, tn, value,
       |    CASE WHEN prev IS NULL OR tn - prev > $SessionGapUs THEN 1 ELSE 0 END AS brk
       |  FROM x),
       |z AS (SELECT user_id, tn, value,
       |    sum(brk) OVER (PARTITION BY user_id ORDER BY tn
       |      ROWS UNBOUNDED PRECEDING) AS sess
       |  FROM y)
       |SELECT user_id, CAST(sess AS BIGINT) AS session_idx,
       |  count(*) AS n_events,
       |  CAST(max(tn) - min(tn) AS BIGINT) AS duration_us,
       |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
       |FROM z GROUP BY 1, 2""".stripMargin

  /** Interval-concurrency sweep: how many sessions are open at every
    * instant the count changes — the classic interval problem that a
    * naive interval-overlap self-join makes quadratic, swept here in
    * O(n log n): +1/-1 boundary deltas aggregated per timestamp, then
    * ONE distributed global prefix sum ([[ScaleOps.globalRunningSum]]:
    * range-partitioned local sums + per-partition offsets — never a
    * single-partition `Window.orderBy`). Sessions are [start, end]
    * inclusive; deltas collapse per instant BEFORE the sweep, so ties
    * are unambiguous. */
  def concurrency(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_us")
    val sess = t(s, dir, "events")
      .withColumn("ts_us", expr("ts_ns DIV 1000"))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn("brk",
        when(col("prev_us").isNull ||
          col("ts_us") - col("prev_us") > SessionGapUs, 1).otherwise(0))
      .withColumn("session_idx", sum(col("brk")).over(byUser))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"))
    val deltas = sess.select(col("start_us").as("ts_us"), lit(1L).as("delta"))
      .union(sess.select((col("end_us") + 1).as("ts_us"),
        lit(-1L).as("delta")))
      .groupBy(col("ts_us")).agg(sum(col("delta")).as("delta"))
    operators.ScaleOps.globalRunningSum(deltas, Seq(col("ts_us")),
        "delta", "concurrent")
      .select(col("ts_us"), col("concurrent"))
  }

  val concurrencySql: String =
    s"""WITH x AS (
       |  SELECT user_id, epoch_us(ts) AS tn,
       |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS prev
       |  FROM events),
       |y AS (SELECT user_id, tn,
       |    CASE WHEN prev IS NULL OR tn - prev > $SessionGapUs THEN 1 ELSE 0 END AS brk
       |  FROM x),
       |z AS (SELECT user_id, tn,
       |    sum(brk) OVER (PARTITION BY user_id ORDER BY tn
       |      ROWS UNBOUNDED PRECEDING) AS sess
       |  FROM y),
       |s AS (SELECT user_id, sess, min(tn) AS start_us, max(tn) AS end_us
       |  FROM z GROUP BY 1, 2),
       |d AS (SELECT ts_us, CAST(sum(delta) AS BIGINT) AS delta FROM (
       |    SELECT start_us AS ts_us, 1 AS delta FROM s
       |    UNION ALL SELECT end_us + 1, -1 FROM s) GROUP BY ts_us)
       |SELECT ts_us, CAST(sum(delta) OVER (ORDER BY ts_us
       |  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS concurrent
       |FROM d""".stripMargin

  // ---------------------------------------------------------------------
  // Beyond-reference: pivot (wide conditional aggregation)
  // ---------------------------------------------------------------------
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  def pivotCounts(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "events").groupBy(col("user_id"))
      .pivot("event_type", EventTypes).agg(count(lit(1)))
    p.select(col("user_id") +:
      EventTypes.map(e => coalesce(col(e), lit(0L)).as(e)): _*)
  }

  val pivotCountsSql: String = {
    val cols = EventTypes.map(e =>
      s"count(CASE WHEN event_type = '$e' THEN 1 END) AS $e").mkString(",\n  ")
    s"SELECT user_id,\n  $cols\nFROM events GROUP BY user_id"
  }

  // ---------------------------------------------------------------------
  // Ordered funnel: view -> click -> purchase, each stage anchored
  // strictly after the user's previous stage time. Stage frames are
  // per-user min-timestamp aggregates (one shuffle each on user_id);
  // the stage joins are user-keyed equi-joins — no window needed, no
  // event-order state, scales as three filtered aggregations.
  // ---------------------------------------------------------------------
  def funnel(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts_ns"))
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts_ns")).as("t_view"))
    val c = e.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("ts_ns") > col("t_view"))
      .groupBy("user_id").agg(min(col("ts_ns")).as("t_click"))
    val p = e.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("ts_ns") > col("t_click"))
      .groupBy("user_id").agg(min(col("ts_ns")).as("t_purchase"))
    v.agg(count(lit(1)).as("n_view")).crossJoin(
        c.agg(count(lit(1)).as("n_view_click")))
      .crossJoin(p.agg(count(lit(1)).as("n_view_click_purchase")))
  }

  val funnelSql: String =
    """WITH v AS (SELECT user_id, min(epoch_ns(ts)) AS t_view FROM events
      |    WHERE event_type = 'view' GROUP BY 1),
      |  c AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS t_click
      |    FROM events e JOIN v ON e.user_id = v.user_id
      |    WHERE e.event_type = 'click' AND epoch_ns(e.ts) > v.t_view
      |    GROUP BY 1),
      |  p AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS t_purchase
      |    FROM events e JOIN c ON e.user_id = c.user_id
      |    WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) > c.t_click
      |    GROUP BY 1)
      |SELECT (SELECT count(*) FROM v) AS n_view,
      |  (SELECT count(*) FROM c) AS n_view_click,
      |  (SELECT count(*) FROM p) AS n_view_click_purchase""".stripMargin

  // ---------------------------------------------------------------------
  // Cohort retention: users grouped by first-activity day; for each
  // (cohort, day offset) the distinct returning users. Two user-keyed
  // aggregations plus one join — the standard retention-triangle shape.
  // ---------------------------------------------------------------------
  def cohortRetention(s: SparkSession, dir: String): DataFrame = {
    val a = t(s, dir, "events")
      .select(col("user_id"), expr("ts_ns DIV 86400000000000").as("day"))
      .distinct()
    val f = a.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    a.join(f, "user_id")
      .select(col("cohort_day"), (col("day") - col("cohort_day")).as("offset_d"))
      .filter(col("offset_d") <= 7)
      .groupBy("cohort_day", "offset_d")
      .agg(count(lit(1)).as("n_users"))
  }

  val cohortRetentionSql: String =
    """WITH a AS (SELECT DISTINCT user_id,
      |    epoch_ns(ts) // 86400000000000 AS day FROM events),
      |  f AS (SELECT user_id, min(day) AS cohort_day FROM a GROUP BY 1)
      |SELECT cohort_day, day - cohort_day AS offset_d, count(*) AS n_users
      |FROM a JOIN f ON a.user_id = f.user_id
      |WHERE day - cohort_day <= 7
      |GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // Correlated-subquery shape (TPC-H Q2's core): per part, the
  // supplier rows achieving the minimum unit cost. Expressed as a
  // window min over the part key — one shuffle, no re-scan of the
  // probe side, which is how the correlated form should execute at
  // scale (Catalyst decorrelates to the same shape).
  // ---------------------------------------------------------------------
  def minCostSupplier(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_partkey"),
      col("l_suppkey"),
      expr("CAST(round(l_extendedprice * 100) AS BIGINT) DIV CAST(l_quantity AS BIGINT)")
        .as("unit_cost_cents"))
    val w = Window.partitionBy("l_partkey")
    li.withColumn("min_cost", min(col("unit_cost_cents")).over(w))
      .filter(col("unit_cost_cents") === col("min_cost"))
      .groupBy(col("l_partkey"))
      .agg(min(col("l_suppkey")).as("best_suppkey"),
        min(col("unit_cost_cents")).as("unit_cost_cents"))
  }

  val minCostSupplierSql: String =
    """WITH li AS (SELECT l_partkey, l_suppkey,
      |    CAST(round(l_extendedprice * 100) AS BIGINT)
      |      // CAST(l_quantity AS BIGINT) AS unit_cost_cents
      |  FROM lineitem)
      |SELECT l_partkey, min(l_suppkey) AS best_suppkey,
      |  min(unit_cost_cents) AS unit_cost_cents
      |FROM li
      |WHERE unit_cost_cents = (
      |  SELECT min(unit_cost_cents) FROM li li2
      |  WHERE li2.l_partkey = li.l_partkey)
      |GROUP BY l_partkey""".stripMargin

  // ---------------------------------------------------------------------
  // Unpivot / melt: wide numeric columns to (metric, amount) rows —
  // narrow per-row fan-out (no shuffle), the inverse of pivot.
  // ---------------------------------------------------------------------
  def unpivotCharges(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber").cast("int").as("l_linenumber"),
        col("l_quantity").cast("long").as("qty"),
        cents(col("l_extendedprice")).as("price_cents"),
        cents(col("l_tax")).as("tax_e2"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("qty"), col("price_cents"), col("tax_e2")),
        "metric", "amount")

  val unpivotChargesSql: String =
    """SELECT l_orderkey, CAST(l_linenumber AS INT) AS l_linenumber,
      |  'qty' AS metric, CAST(l_quantity AS BIGINT) AS amount FROM lineitem
      |UNION ALL
      |SELECT l_orderkey, CAST(l_linenumber AS INT), 'price_cents',
      |  CAST(round(l_extendedprice * 100) AS BIGINT) FROM lineitem
      |UNION ALL
      |SELECT l_orderkey, CAST(l_linenumber AS INT), 'tax_e2',
      |  CAST(round(l_tax * 100) AS BIGINT) FROM lineitem""".stripMargin

  // ---------------------------------------------------------------------
  // Feature scaling: per-group min-max normalization in exact e6
  // fixed point — (x - min) * 1e6 DIV (max - min), 0 for constant
  // groups. Two window aggregates over one partition pass.
  // ---------------------------------------------------------------------
  def normalizeMinMax(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type")
    t(s, dir, "events")
      .withColumn("value_cents", cents(col("value")))
      .withColumn("mn", min(col("value_cents")).over(w))
      .withColumn("mx", max(col("value_cents")).over(w))
      .select(col("event_id"), col("event_type"),
        when(col("mx") === col("mn"), 0L).otherwise(
          expr("(value_cents - mn) * 1000000 DIV (mx - mn)"))
          .as("norm_e6"))
  }

  val normalizeMinMaxSql: String =
    """SELECT event_id, event_type,
      |  CASE WHEN mx = mn THEN 0
      |    ELSE (value_cents - mn) * 1000000 // (mx - mn) END AS norm_e6
      |FROM (
      |  SELECT event_id, event_type,
      |    CAST(round(value * 100) AS BIGINT) AS value_cents,
      |    min(CAST(round(value * 100) AS BIGINT)) OVER (PARTITION BY event_type) AS mn,
      |    max(CAST(round(value * 100) AS BIGINT)) OVER (PARTITION BY event_type) AS mx
      |  FROM events)""".stripMargin

  // ---------------------------------------------------------------------
  // Beyond-reference: ranking window functions (rank / dense_rank)
  // ---------------------------------------------------------------------
  def rankWindow(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(col("price_cents").desc)
    t(s, dir, "orders")
      .select(col("o_orderstatus"), cents(col("o_totalprice")).as("price_cents"))
      .withColumn("rnk", rank().over(w))
      .withColumn("drnk", dense_rank().over(w))
      .filter(col("rnk") <= 3)
  }

  val rankWindowSql: String =
    """SELECT * FROM (
      |  SELECT o_orderstatus,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
      |    CAST(rank() OVER (PARTITION BY o_orderstatus
      |      ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) DESC) AS INT) AS rnk,
      |    CAST(dense_rank() OVER (PARTITION BY o_orderstatus
      |      ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) DESC) AS INT) AS drnk
      |  FROM orders)
      |WHERE rnk <= 3""".stripMargin

  // ---------------------------------------------------------------------
  // Beyond-reference: cube (all grouping-set combinations; rollup's twin)
  // ---------------------------------------------------------------------
  def cubeOrders(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"),
        sum(cents(col("o_totalprice"))).as("total_cents"))

  val cubeOrdersSql: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin

  // ---------------------------------------------------------------------
  // §2.6 gap filled: set operations (intersect / except, DISTINCT
  // semantics in both engines)
  // ---------------------------------------------------------------------
  def intersectCustomers(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
      .intersect(o.filter(col("o_orderstatus") === "F").select(col("o_custkey")))
  }

  val intersectCustomersSql: String =
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |INTERSECT
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin

  def exceptCustomers(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
      .except(o.filter(col("o_orderstatus") === "F").select(col("o_custkey")))
  }

  val exceptCustomersSql: String =
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |EXCEPT
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin

  // ---------------------------------------------------------------------
  // §2.4 gap filled: distinct aggregation (exact count-distinct — the
  // expand+two-phase plan Spark generates is the scalable exact form;
  // swap to approx_count_distinct/HLL when a bounded error is fine)
  // ---------------------------------------------------------------------
  def countDistinctUsers(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("users"),
        count(lit(1)).as("cnt"))

  val countDistinctUsersSql: String =
    """SELECT event_type, count(DISTINCT user_id) AS users, count(*) AS cnt
      |FROM events GROUP BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // Beyond-reference: range (interval) join — bucketed equi-join, not a
  // nested-loop theta join (operators.RangeJoin). Intervals derived as
  // [ship_day, ship_day + quantity mod 30]; both sides modulo-sampled
  // so the demo stays interval-join-shaped (not a key join) at any SF.
  // ---------------------------------------------------------------------
  def rangeJoinShipments(s: SparkSession, dir: String): DataFrame = {
    val points = t(s, dir, "orders")
      .filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
          .cast("long").as("d"))
    val intervals = t(s, dir, "lineitem")
      .filter(col("l_orderkey") % 13 === 0)
      .withColumn("lo",
        datediff(to_date(col("l_shipdate")), lit("1970-01-01")).cast("long"))
      .select(col("lo"),
        (col("lo") + col("l_quantity").cast("long") % 30).as("hi"))
    RangeJoin.pointInInterval(points, intervals, "d", "lo", "hi",
        bucketWidth = 32)
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_within"))
  }

  val rangeJoinShipmentsSql: String =
    """SELECT o_orderkey, count(*) AS n_within
      |FROM (SELECT o_orderkey,
      |        CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS d
      |      FROM orders WHERE o_orderkey % 97 = 0) o
      |JOIN (SELECT CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS lo,
      |        CAST(l_shipdate AS DATE) - DATE '1970-01-01'
      |          + CAST(l_quantity AS BIGINT) % 30 AS hi
      |      FROM lineitem WHERE l_orderkey % 13 = 0) l
      |  ON o.d BETWEEN l.lo AND l.hi
      |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // Beyond-reference: interval x interval overlap join — the session/
  // shipment-window self-join Spark would otherwise plan as a nested
  // loop. Bucketed cells + overlap-start ownership emit each pair
  // exactly once (operators.RangeJoin.intervalOverlap); per-supplier
  // equi-key bounds the pair space, iid ordering dedups the self-join
  // mirror. Output: per-supplier overlapping-shipment pair counts and
  // total overlap days — all exact integers.
  // ---------------------------------------------------------------------
  def overlapJoinShipments(s: SparkSession, dir: String): DataFrame = {
    val lo = datediff(to_date(col("l_shipdate")), lit("1970-01-01"))
      .cast("long")
    val iv = t(s, dir, "lineitem")
      .filter(col("l_orderkey") % 7 === 0)
      .select(col("l_suppkey"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("iid"),
        lo.as("lo"),
        (lo + col("l_quantity").cast("long") % 30).as("hi"))
    val a = iv.select(col("l_suppkey"), col("iid").as("iid_a"),
      col("lo").as("lo_a"), col("hi").as("hi_a"))
    val b = iv.select(col("l_suppkey"), col("iid").as("iid_b"),
      col("lo").as("lo_b"), col("hi").as("hi_b"))
    RangeJoin.intervalOverlap(a, b, "lo_a", "hi_a", "lo_b", "hi_b",
        bucketWidth = 32, extraKeys = Seq("l_suppkey"))
      .filter(col("iid_a") < col("iid_b"))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("pairs"),
        sum(least(col("hi_a"), col("hi_b")) -
          greatest(col("lo_a"), col("lo_b")) + 1).as("overlap_days"))
  }

  val overlapJoinShipmentsSql: String =
    """WITH iv AS (
      |  SELECT l_suppkey,
      |         l_orderkey * 10 + l_linenumber AS iid,
      |         CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS lo,
      |         CAST(l_shipdate AS DATE) - DATE '1970-01-01'
      |           + CAST(l_quantity AS BIGINT) % 30 AS hi
      |  FROM lineitem WHERE l_orderkey % 7 = 0)
      |SELECT a.l_suppkey AS l_suppkey, count(*) AS pairs,
      |  CAST(sum(least(a.hi, b.hi) - greatest(a.lo, b.lo) + 1) AS BIGINT)
      |    AS overlap_days
      |FROM iv a JOIN iv b
      |  ON a.l_suppkey = b.l_suppkey AND a.iid < b.iid
      | AND a.lo <= b.hi AND b.lo <= a.hi
      |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // Beyond-reference: key-skew profile (Stats.keySkew) — the per-key
  // distribution diagnostic that decides salt-vs-broadcast-vs-AQE
  // before a 100 TB join. Exact-integer output, one summary row.
  // ---------------------------------------------------------------------
  def keySkewProfile(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.keySkew(t(s, dir, "events"), col("user_id"))

  val keySkewProfileSql: String =
    """WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1)
      |SELECT count(*) AS n_keys,
      |  CAST(sum(cnt) AS BIGINT) AS total_rows,
      |  max(cnt) AS max_cnt, min(cnt) AS min_cnt,
      |  CAST(sum(cnt) AS BIGINT) * 1000 // count(*) AS avg_x1000,
      |  max(cnt) * 1000000 // CAST(sum(cnt) AS BIGINT) AS top_share_ppm
      |FROM c""".stripMargin

  // ---------------------------------------------------------------------
  // Join-size estimator: exact events x lineitem-on-user/supp join
  // cardinality from per-key count tables — the gate also proves the
  // estimate equals the REAL join's count (same SQL shape both ways).
  // ---------------------------------------------------------------------
  def joinSizeEst(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").select(col("user_id").as("k"))
    val l = t(s, dir, "lineitem").select(col("l_suppkey").as("k"))
    graft.operators.Stats.joinSizeEstimate(e, l, "k")
  }

  val joinSizeEstSql: String =
    """SELECT CAST(sum(ca * cb) AS BIGINT) AS join_rows,
      |  count(*) AS matched_keys
      |FROM (SELECT user_id AS k, count(*) AS ca FROM events GROUP BY 1) a
      |JOIN (SELECT l_suppkey AS k, count(*) AS cb FROM lineitem GROUP BY 1) b
      |  USING (k)""".stripMargin

  // ---------------------------------------------------------------------
  // Grouped mode: each user's most frequent event_type (count-desc,
  // value-asc tiebreak) — Stats.modePerGroup.
  // ---------------------------------------------------------------------
  def modeEventType(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.modePerGroup(t(s, dir, "events"),
      "user_id", "event_type")

  val modeEventTypeSql: String =
    """SELECT user_id, event_type AS mode_value, cnt FROM (
      |  SELECT user_id, event_type, count(*) AS cnt,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY count(*) DESC, event_type ASC) AS rn
      |  FROM events GROUP BY user_id, event_type)
      |WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------------------
  // Equi-depth discretization: 8 near-equal-count value bins per
  // event_type with [lo, hi] cent bounds — Stats.equiDepthBins,
  // event_id tiebreak making the positional ntile deterministic.
  // ---------------------------------------------------------------------
  def equiDepthValueBins(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").select(col("event_type"),
      col("event_id"), cents(col("value")).as("value_cents"))
    graft.operators.Stats.equiDepthBins(e, "event_type", "value_cents",
      Seq("event_id"), k = 8)
  }

  val equiDepthValueBinsSql: String =
    """WITH e AS (SELECT event_type, event_id,
      |    CAST(round(value * 100) AS BIGINT) AS value_cents FROM events),
      |  b AS (SELECT event_type, value_cents,
      |    ntile(8) OVER (PARTITION BY event_type
      |      ORDER BY value_cents, event_id) AS bin FROM e)
      |SELECT event_type, CAST(bin AS INT) AS bin, count(*) AS n,
      |  min(value_cents) AS lo, max(value_cents) AS hi
      |FROM b GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // Skew tooling through the gate: salted join must be result-identical
  // to the plain join (the salt fans a hot key over `salts` reducers
  // without changing a single output row)
  // ---------------------------------------------------------------------
  def saltedJoinAgg(s: SparkSession, dir: String): DataFrame = {
    val events = t(s, dir, "events")
      .select(col("user_id").as("c_custkey"), cents(col("value")).as("value_cents"))
    val customers = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    ScaleOps.saltedJoin(events, customers, "c_custkey", salts = 8)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("cnt"), sum(col("value_cents")).as("value_cents"))
  }

  val saltedJoinAggSql: String =
    """SELECT c_mktsegment, count(*) AS cnt,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------------
  // S7 at scale: partitioned parquet write + partition-pruned read-back.
  // The write is the operator under test; the aggregate proves the
  // round-trip preserved every row and the partition column.
  // ---------------------------------------------------------------------
  // per-JVM unique scratch dir: two processes running the query set
  // concurrently (tests + bench) must not overwrite each other's files
  private lazy val partitionedWriteDir: String =
    java.nio.file.Files.createTempDirectory("graft_partitioned_docs")
      .toAbsolutePath.toString

  def partitionedWrite(s: SparkSession, dir: String): DataFrame = {
    val out = partitionedWriteDir
    graft.sources.ParquetSink(out, "documents", partitionBy = Seq("lang"))
      .write(t(s, dir, "documents"))
    s.read.parquet(s"$out/documents")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("cnt"), sum(col("doc_id")).as("id_sum"))
  }

  val partitionedWriteSql: String =
    """SELECT lang, count(*) AS cnt, CAST(sum(doc_id) AS BIGINT) AS id_sum
      |FROM documents GROUP BY lang""".stripMargin

  // ---------------------------------------------------------------------
  // Data skipping by per-file min/max stats (sources.FileSkipping):
  // lineitem is laid out value-clustered (repartitionByRange on
  // l_orderkey, 16 files), a stats table is collected in one scan, and
  // a ~10%-of-keyspace range query reads ONLY the files whose
  // [min, max] intersects the range — the Delta/Iceberg file-pruning
  // pattern over plain parquet. The aggregate proves the pruned scan
  // returned exactly the full scan's rows (oracle filters the full
  // table); FileSkippingSpec separately proves files were skipped.
  // Range bounds derive from max(l_orderkey) on BOTH sides, so the
  // query is SF-independent.
  // ---------------------------------------------------------------------
  private lazy val fileSkipDir: String =
    java.nio.file.Files.createTempDirectory("graft_fileskip")
      .toAbsolutePath.toString

  def fileSkipping(s: SparkSession, dir: String): DataFrame = {
    val out = s"$fileSkipDir/lineitem"
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"),
        col("l_extendedprice"))
      .repartitionByRange(16, col("l_orderkey"))
      .write.mode("overwrite").parquet(out)
    val stats = graft.sources.FileSkipping
      .collectStats(s, out, Seq("l_orderkey"))
    val mx = t(s, dir, "lineitem")
      .agg(max(col("l_orderkey"))).collect()(0).getLong(0)
    graft.sources.FileSkipping
      .prunedRead(s, out, stats, "l_orderkey", mx * 4 / 10, mx * 5 / 10)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("l_quantity").cast("long")).as("qty"),
        sum(cents(col("l_extendedprice"))).as("price_cents"))
  }

  val fileSkippingSql: String =
    """WITH b AS (SELECT max(l_orderkey) AS mx FROM lineitem)
      |SELECT l_returnflag, count(*) AS cnt,
      |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |    AS price_cents
      |FROM lineitem, b
      |WHERE l_orderkey >= mx * 4 // 10 AND l_orderkey <= mx * 5 // 10
      |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // Z-ORDER + 2-D data skipping composed (the Databricks OPTIMIZE
  // ZORDER BY story end-to-end): orders laid out by the interleaved
  // (o_custkey, epoch-day) Morton key (ScaleOps.zorderLayout, 16
  // files), per-file stats collected on BOTH columns, then a 2-D range
  // query — customer band x date band — prunes files on EACH dimension
  // independently. A 1-D sorted layout can only ever prune its sort
  // column; the z-curve clusters both, so the conjunction touches
  // ~the product of the per-dimension fractions. Bounds derive from
  // min/max on both sides (SF-independent); FileSkippingSpec proves
  // the pruning counts, this gate proves exactness.
  // ---------------------------------------------------------------------
  def zorderSkipping(s: SparkSession, dir: String): DataFrame = {
    val out = s"$fileSkipDir/orders_z"
    val base = t(s, dir, "orders").select(col("o_custkey"),
      datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
        .cast("long").as("o_day"),
      col("o_orderstatus"), col("o_totalprice"))
    operators.ScaleOps.zorderLayout(base, col("o_custkey"), col("o_day"), 16)
      .write.mode("overwrite").parquet(out)
    val stats = graft.sources.FileSkipping
      .collectStats(s, out, Seq("o_custkey", "o_day"))
    val b = base.agg(max(col("o_custkey")), min(col("o_day")),
      max(col("o_day"))).collect()(0)
    val (cMax, dMin, dMax) = (b.getLong(0), b.getLong(1), b.getLong(2))
    graft.sources.FileSkipping.prunedRead(s, out, stats, Seq(
        ("o_custkey", cMax * 2 / 10, cMax * 4 / 10),
        ("o_day", dMin + (dMax - dMin) * 3 / 10,
          dMin + (dMax - dMin) * 6 / 10)))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"),
        sum(cents(col("o_totalprice"))).as("price_cents"))
  }

  val zorderSkippingSql: String =
    """WITH o AS (SELECT o_custkey,
      |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
      |      AS o_day,
      |    o_orderstatus, o_totalprice FROM orders),
      |  b AS (SELECT max(o_custkey) AS cmax, min(o_day) AS dmin,
      |    max(o_day) AS dmax FROM o)
      |SELECT o_orderstatus, count(*) AS cnt,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS price_cents
      |FROM o, b
      |WHERE o_custkey >= cmax * 2 // 10 AND o_custkey <= cmax * 4 // 10
      |  AND o_day >= dmin + (dmax - dmin) * 3 // 10
      |  AND o_day <= dmin + (dmax - dmin) * 6 // 10
      |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // Small-file compaction (sources.Compaction): documents fragmented
  // into 64 tiny files, compacted to ~4 with the write-ahead/swap-late
  // discipline, then aggregated from the compacted table. The oracle
  // aggregates the original table — compaction must preserve content
  // as a multiset; CompactionSpec separately pins the file counts and
  // crash-safety layout.
  // ---------------------------------------------------------------------
  def compaction(s: SparkSession, dir: String): DataFrame = {
    val out = s"$fileSkipDir/docs_compact"
    val docs = t(s, dir, "documents")
    docs.repartition(64).write.mode("overwrite").parquet(out)
    val n = docs.count()
    val report = graft.sources.Compaction.compact(s, out, math.max(n / 4, 1L))
    require(report.filesAfter < report.filesBefore,
      s"compaction must reduce files: $report")
    s.read.parquet(out)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("cnt"), sum(col("doc_id")).as("id_sum"),
        sum(length(col("text")).cast("long")).as("chars"))
  }

  val compactionSql: String =
    """SELECT lang, count(*) AS cnt, CAST(sum(doc_id) AS BIGINT) AS id_sum,
      |  CAST(sum(length(text)) AS BIGINT) AS chars
      |FROM documents GROUP BY lang""".stripMargin

  // ---------------------------------------------------------------------
  // Versioned table + time travel (sources.VersionedTable): two
  // commits — a base write and an append — then BOTH snapshots are
  // read back (v1 must not see the append) and aggregated under a
  // version tag. The oracle reconstructs each snapshot's contents from
  // the orders table directly. Fresh scratch dir per run: commits are
  // immutable history, not overwrites.
  // ---------------------------------------------------------------------
  def timeTravel(s: SparkSession, dir: String): DataFrame = {
    val table = java.nio.file.Files.createTempDirectory("graft_vtable")
      .toAbsolutePath.toString + "/orders"
    val base = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"), col("o_totalprice"))
    graft.sources.VersionedTable.commit(s, table,
      base.filter(col("o_orderkey") % 3 === 0), append = false)
    graft.sources.VersionedTable.commit(s, table,
      base.filter(col("o_orderkey") % 3 === 1), append = true)
    def agg(v: Int) = graft.sources.VersionedTable
      .read(s, table, Some(v))
      .agg(count(lit(1)).as("cnt"),
        sum(cents(col("o_totalprice"))).as("price_cents"))
      .select(lit(v).as("version"), col("cnt"), col("price_cents"))
    agg(1).unionAll(agg(2))
  }

  val timeTravelSql: String =
    """SELECT 1 AS version, count(*) AS cnt,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS price_cents
      |FROM orders WHERE o_orderkey % 3 = 0
      |UNION ALL
      |SELECT 2, count(*),
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |FROM orders WHERE o_orderkey % 3 IN (0, 1)""".stripMargin

  // ---------------------------------------------------------------------
  // DYNAMIC PARTITION OVERWRITE (VersionedTable.commitPartitioned +
  // dynamicOverwrite): orders partitioned by order YEAR (manifest
  // pt-tags, one file per year via repartition-by-year before the
  // write), then a backfill re-run replaces EXACTLY the 1995
  // partition — half its rows, tripled price. In-query requires pin
  // the three contracts: untouched years' files carry VERBATIM (same
  // manifest lines), no 1995 file survives, and a partition-value
  // read proves manifest-level pruning (1 file of 7, zero stats
  // I/O). The gated output reads a carried year + the overwritten
  // year through readPartitions; the oracle reconstructs it
  // algebraically from orders. PartitionedTableSpec pins the rest
  // (null partitions, untagged-table guard, tombstone carry).
  // ---------------------------------------------------------------------
  def partitionOverwrite(s: SparkSession, dir: String): DataFrame = {
    val table = java.nio.file.Files.createTempDirectory("graft_vdpo")
      .toAbsolutePath.toString + "/orders"
    val VT = graft.sources.VersionedTable
    val base = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"), col("o_totalprice"),
      date_format(col("o_orderdate"), "yyyy").as("o_year"))
    // one file per year: co-locate each partition's rows before the
    // partitioned write (the optimized-write discipline — file count
    // stays O(partitions), not O(partitions x tasks))
    val v1 = VT.commitPartitioned(s, table,
      base.repartition(col("o_year")), "o_year", append = false)
    val backfill = base
      .filter(col("o_year") === "1995" && col("o_orderkey") % 2 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 3)
    val v2 = VT.dynamicOverwrite(s, table,
      backfill.repartition(col("o_year")), "o_year")
    val m1 = VT.manifest(s, table, v1); val m2 = VT.manifest(s, table, v2)
    val untouched1 = VT.partitionsOf(m1).filter(_._2 != "1995")
    require(untouched1.forall(VT.partitionsOf(m2).contains),
      "untouched partitions' files must carry verbatim")
    require(!VT.partitionsOf(m2).map(_._3)
      .exists(VT.partitionsOf(m1).filter(_._2 == "1995").map(_._3).toSet),
      "every replaced partition file must leave the manifest")
    // data-derived expectations (stable under fuzzed inputs): exactly
    // the 1993-tagged files survive the prune, strictly fewer than a
    // full scan would open
    val cand = VT.partitionCandidates(m2, "o_year", Seq("1993"))
    require(cand.size == VT.partitionsOf(m2).count(_._2 == "1993") &&
      cand.size < VT.dataFilesOf(m2).size,
      s"partition pruning must open only the 1993 files of " +
        s"${VT.dataFilesOf(m2).size}, kept ${cand.size}")
    VT.readPartitions(s, table, "o_year", Seq("1993", "1995"))
      .groupBy(col("o_year"), col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"),
        sum(cents(col("o_totalprice"))).as("price_cents"))
  }

  val partitionOverwriteSql: String =
    """WITH o AS (SELECT strftime(o_orderdate, '%Y') AS o_year,
      |    o_orderstatus, o_totalprice, o_orderkey FROM orders),
      |  merged AS (
      |    SELECT o_year, o_orderstatus, o_totalprice FROM o
      |    WHERE o_year = '1993'
      |    UNION ALL
      |    SELECT o_year, o_orderstatus, o_totalprice * 3 FROM o
      |    WHERE o_year = '1995' AND o_orderkey % 2 = 0)
      |SELECT o_year, o_orderstatus, count(*) AS cnt,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS price_cents
      |FROM merged GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // MULTI-COLUMN PARTITION SPEC (VersionedTable.commitPartitionedMulti
  // + readPartitionsMulti): orders partitioned on (year, status) —
  // the (date, region)-style spec real tables use — every file
  // manifest-tagged with BOTH (col, value) pairs. The gated read
  // prunes on the conjunction: the in-query require pins that exactly
  // the (1996, F) cell's files are opened (intersection of the two
  // columns' candidate sets, strictly fewer than either single-column
  // prune), from the manifest alone. A follow-up merge pins that
  // rewrites keep the full two-column spec alive. The oracle filters
  // orders on the same conjunction. PartitionedTableSpec pins spec
  // evolution (single→multi) and per-column fallback.
  // ---------------------------------------------------------------------
  def partitionMulti(s: SparkSession, dir: String): DataFrame = {
    val table = java.nio.file.Files.createTempDirectory("graft_vpm")
      .toAbsolutePath.toString + "/orders"
    val VT = graft.sources.VersionedTable
    val base = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"), col("o_totalprice"),
      date_format(col("o_orderdate"), "yyyy").as("o_year"))
    // one file per (year, status) cell — co-locate before the write
    VT.commitPartitionedMulti(s, table,
      base.repartition(col("o_year"), col("o_orderstatus")),
      Seq("o_year", "o_orderstatus"), append = false,
      statCols = Seq("o_orderkey"))
    val m1 = VT.manifest(s, table, 1)
    val filters = Seq("o_year" -> Seq("1996"), "o_orderstatus" -> Seq("F"))
    val cand = VT.partitionCandidatesMulti(m1, filters)
    val yearOnly = VT.partitionCandidates(m1, "o_year", Seq("1996"))
    val statusOnly = VT.partitionCandidates(m1, "o_orderstatus", Seq("F"))
    val yCell = VT.partitionsOf(m1)
      .collect { case ("o_year", "1996", p) => p }.toSet
    val fStat = VT.partitionsOf(m1)
      .collect { case ("o_orderstatus", "F", p) => p }.toSet
    require(cand.nonEmpty && cand.toSet == (yCell intersect fStat) &&
      cand.size < yearOnly.size && cand.size < statusOnly.size,
      s"conjunction must open exactly the (1996,F) cell and out-prune " +
        s"either column alone: cell=${cand.size} year=${yearOnly.size} " +
        s"status=${statusOnly.size}")
    // a keyed merge must keep every file tagged by BOTH columns
    val v2 = VT.mergeCommit(s, table,
      base.filter(col("o_orderkey") % 1001 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2), "o_orderkey")
    val m2 = VT.manifest(s, table, v2)
    val tagsByFile = VT.partitionsOf(m2).groupBy(_._3)
      .view.mapValues(_.map(_._1).sorted).toMap
    require(VT.dataFilesOf(m2).forall(f =>
      tagsByFile.get(f).contains(Seq("o_orderstatus", "o_year"))),
      "merge outputs must carry the full two-column spec")
    VT.readPartitionsMulti(s, table, filters, version = Some(1))
      .groupBy(col("o_year"), col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"),
        sum(cents(col("o_totalprice"))).as("price_cents"))
  }

  val partitionMultiSql: String =
    """SELECT strftime(o_orderdate, '%Y') AS o_year, o_orderstatus,
      |  count(*) AS cnt,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS price_cents
      |FROM orders
      |WHERE strftime(o_orderdate, '%Y') = '1996' AND o_orderstatus = 'F'
      |GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // MERGE INTO with file-level copy-on-write (VersionedTable
  // .mergeCommit): the base commit is key-clustered into 8 files, then
  // ONE merge applies updates (doubled price on 13-multiples not also
  // 17-multiples), deletes (17-multiples), and inserts (fresh keys
  // past the max) — only files whose key range intersects the source
  // are rewritten, the rest carry forward in the manifest. The oracle
  // reconstructs the merged table from orders algebraically;
  // VersionedTableSpec separately pins the carried-file behavior.
  // ---------------------------------------------------------------------
  def tableMerge(s: SparkSession, dir: String): DataFrame = {
    val table = java.nio.file.Files.createTempDirectory("graft_vmerge")
      .toAbsolutePath.toString + "/orders"
    val base = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"), col("o_totalprice"))
    // statCols: key stats persist IN the manifest, so the merge's
    // touched-file probe below reads zero data for its decision (the
    // in-query require pins full coverage of the merged manifest)
    graft.sources.VersionedTable.commit(s, table,
      base.repartitionByRange(8, col("o_orderkey")), append = false,
      statCols = Seq("o_orderkey"))
    val mx = base.agg(max(col("o_orderkey"))).collect()(0).getLong(0)
    val updates = base
      .filter(col("o_orderkey") % 13 === 0 && col("o_orderkey") % 17 =!= 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .withColumn("__del", lit(false))
    val deletes = base.filter(col("o_orderkey") % 17 === 0)
      .withColumn("__del", lit(true))
    val inserts = base.filter(col("o_orderkey") % 101 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + lit(10L) * mx)
      .withColumn("__del", lit(false))
    val v2 = graft.sources.VersionedTable.mergeCommit(s, table,
      updates.unionByName(deletes).unionByName(inserts),
      "o_orderkey", deleteCol = Some("__del"))
    val m2 = graft.sources.VersionedTable.manifest(s, table, v2)
    require(graft.sources.VersionedTable.statColsOf(m2) == Seq("o_orderkey"),
      "merge must keep the manifest stats-covered for the next decision")
    graft.sources.VersionedTable.read(s, table)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"),
        sum(cents(col("o_totalprice"))).as("price_cents"))
  }

  val tableMergeSql: String =
    """WITH b AS (SELECT max(o_orderkey) AS mx FROM orders),
      |  base AS (SELECT o_orderkey AS k, o_orderstatus, o_totalprice
      |    FROM orders),
      |  merged AS (
      |    SELECT o_orderstatus, o_totalprice FROM base
      |    WHERE k % 13 <> 0 AND k % 17 <> 0
      |    UNION ALL
      |    SELECT o_orderstatus, o_totalprice * 2 FROM base
      |    WHERE k % 13 = 0 AND k % 17 <> 0
      |    UNION ALL
      |    SELECT o_orderstatus, o_totalprice FROM base
      |    WHERE k % 101 = 0)
      |SELECT o_orderstatus, count(*) AS cnt,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS price_cents
      |FROM merged GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // TABLE-LAYER OPTIMIZE (VersionedTable.compactCommit): 64 small
  // fragment files plus a deletion-vector delete, then one compaction
  // commit — the rewrite is atomic (old versions time-travel), and
  // because every fragment qualified as small, ALL tombstones are
  // purged (in-query require: the compacted manifest has no dv lines
  // and ≤ 8 data files). The oracle aggregates orders under the
  // delete's complementary predicate — compaction must change layout,
  // never content. TableMaintenanceSpec pins the partial-compaction
  // and carried-tombstone cases.
  // ---------------------------------------------------------------------
  def tableCompact(s: SparkSession, dir: String): DataFrame = {
    val table = java.nio.file.Files.createTempDirectory("graft_vopt")
      .toAbsolutePath.toString + "/orders"
    val base = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"), col("o_totalprice"))
    // statCols: per-file row counts live in the manifest, so the
    // OPTIMIZE below picks its small files from O(files) metadata —
    // never the O(table) row scan a nightly compaction can't afford
    graft.sources.VersionedTable.commit(s, table,
      base.repartition(64), append = false, statCols = Seq("o_orderkey"))
    graft.sources.VersionedTable.deleteCommit(s, table,
      col("o_orderkey") % 7 === 0)
    val n = base.count()
    val v3 = graft.sources.VersionedTable.compactCommit(s, table,
      targetRows = math.max(n / 4, 1L))
    val m3 = graft.sources.VersionedTable.manifest(s, table, v3)
    require(graft.sources.VersionedTable.dataFilesOf(m3).size <= 8 &&
      graft.sources.VersionedTable.dvFilesOf(m3).isEmpty,
      "compaction must collapse the fragments and purge the tombstones")
    graft.sources.VersionedTable.read(s, table)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"),
        sum(cents(col("o_totalprice"))).as("price_cents"))
  }

  val tableCompactSql: String =
    """SELECT o_orderstatus, count(*) AS cnt,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS price_cents
      |FROM orders WHERE o_orderkey % 7 <> 0
      |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // BLOOM FILE INDEX (FileSkipping.collectBloomStats): the layout is
  // clustered by SHIP DATE, so a point lookup on the UNCLUSTERED
  // order key prunes nothing by [min,max] — the per-file Bloom index
  // is what answers it. The probed key is one mid-range order's; its
  // lineitems cluster in a handful of date-adjacent files, and the
  // in-query require pins that the index actually pruned the scan.
  // The oracle filters the full table (pruning must never change
  // results). BloomIndexSpec pins the zero-false-negative contract.
  // ---------------------------------------------------------------------
  def bloomSkipping(s: SparkSession, dir: String): DataFrame = {
    val out = s"$fileSkipDir/lineitem_bydate"
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"),
        col("l_quantity"), col("l_extendedprice"))
      .repartitionByRange(16, col("l_shipdate"))
      .write.mode("overwrite").parquet(out)
    // SIZE THE INDEX FROM THE DATA: a bloom filter saturates (fp -> 1,
    // zero pruning) once set keys exceed ~bits/8, so bits must scale
    // with keys-per-file — the sizing rule that holds at any SF
    // (measured: the fixed 2^18 default kept all 16 files at 10x)
    val agg = t(s, dir, "lineitem")
      .agg(max(col("l_orderkey")), count(lit(1))).collect()(0)
    val rowsPerFile = math.max(agg.getLong(1) / 16, 1L)
    val bitsLog2 = math.min(24,
      math.max(12, 64 - java.lang.Long.numberOfLeadingZeros(
        8 * rowsPerFile - 1)))
    val bloom = graft.sources.FileSkipping
      .collectBloomStats(s, out, "l_orderkey", bitsLog2 = bitsLog2)
    // the max key is guaranteed present (TPC-H orderkeys are sparse;
    // an arithmetic midpoint usually is not)
    val probe = agg.getLong(0)
    val cands = graft.sources.FileSkipping
      .candidateFilesBloom(s, bloom, probe, bitsLog2 = bitsLog2)
    require(cands.size < 16,
      s"bloom index must prune the 16-file scan, kept ${cands.size}")
    graft.sources.FileSkipping
      .prunedReadEquality(s, out, bloom, "l_orderkey", probe,
        bitsLog2 = bitsLog2)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("long").as("qty"),
        cents(col("l_extendedprice")).as("price_cents"))
  }

  val bloomSkippingSql: String =
    """WITH p AS (SELECT max(l_orderkey) AS probe FROM lineitem)
      |SELECT l_orderkey, l_linenumber,
      |  CAST(l_quantity AS BIGINT) AS qty,
      |  CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents
      |FROM lineitem, p WHERE l_orderkey = probe""".stripMargin

  // ---------------------------------------------------------------------
  // CHANGE DATA FEED (VersionedTable.readChanges): same merge history
  // as q_table_merge, but the gated output is the CHANGE SET between
  // the two versions — updates as delete/insert pairs, deletes, and
  // inserts, with every COW-copied survivor row cancelled out. The
  // oracle enumerates the change set algebraically from orders.
  // TableChangesSpec separately pins the file-level pruning (carried
  // files are never opened).
  // ---------------------------------------------------------------------
  def changeFeed(s: SparkSession, dir: String): DataFrame = {
    val table = java.nio.file.Files.createTempDirectory("graft_vcdf")
      .toAbsolutePath.toString + "/orders"
    val base = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"), col("o_totalprice"))
    graft.sources.VersionedTable.commit(s, table,
      base.repartitionByRange(8, col("o_orderkey")), append = false)
    val mx = base.agg(max(col("o_orderkey"))).collect()(0).getLong(0)
    val updates = base
      .filter(col("o_orderkey") % 13 === 0 && col("o_orderkey") % 17 =!= 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .withColumn("__del", lit(false))
    val deletes = base.filter(col("o_orderkey") % 17 === 0)
      .withColumn("__del", lit(true))
    val inserts = base.filter(col("o_orderkey") % 101 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + lit(10L) * mx)
      .withColumn("__del", lit(false))
    graft.sources.VersionedTable.mergeCommit(s, table,
      updates.unionByName(deletes).unionByName(inserts),
      "o_orderkey", deleteCol = Some("__del"))
    graft.sources.VersionedTable.readChanges(s, table, 1, 2)
      .select(col("o_orderkey"), col("o_orderstatus"),
        cents(col("o_totalprice")).as("price_cents"),
        col("change"), col("n"))
  }

  val changeFeedSql: String =
    """WITH b AS (SELECT max(o_orderkey) AS mx FROM orders),
      |  base AS (SELECT o_orderkey AS k, o_orderstatus, o_totalprice
      |    FROM orders)
      |SELECT k AS o_orderkey, o_orderstatus,
      |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
      |  'delete' AS change, CAST(1 AS BIGINT) AS n
      |FROM base WHERE k % 13 = 0 AND k % 17 <> 0
      |UNION ALL
      |SELECT k, o_orderstatus,
      |  CAST(round(o_totalprice * 2 * 100) AS BIGINT),
      |  'insert', CAST(1 AS BIGINT)
      |FROM base WHERE k % 13 = 0 AND k % 17 <> 0
      |UNION ALL
      |SELECT k, o_orderstatus,
      |  CAST(round(o_totalprice * 100) AS BIGINT),
      |  'delete', CAST(1 AS BIGINT)
      |FROM base WHERE k % 17 = 0
      |UNION ALL
      |SELECT k + 10 * mx, o_orderstatus,
      |  CAST(round(o_totalprice * 100) AS BIGINT),
      |  'insert', CAST(1 AS BIGINT)
      |FROM base, b WHERE k % 101 = 0""".stripMargin

  // ---------------------------------------------------------------------
  // DELETION VECTORS (VersionedTable.deleteCommit): two stacked
  // merge-on-read deletes — by key stride, then by a predicate over a
  // data column — and NO data file is rewritten (asserted in-query:
  // the data-file lists of all three versions are identical; the only
  // manifest delta is tombstone sidecars). The read applies the
  // tombstones as a broadcast anti-join; the oracle filters orders
  // with the complementary predicates.
  // ---------------------------------------------------------------------
  def deleteVectors(s: SparkSession, dir: String): DataFrame = {
    val table = java.nio.file.Files.createTempDirectory("graft_vdv")
      .toAbsolutePath.toString + "/orders"
    val base = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"), col("o_totalprice"))
    graft.sources.VersionedTable.commit(s, table,
      base.repartitionByRange(8, col("o_orderkey")), append = false)
    graft.sources.VersionedTable.deleteCommit(s, table,
      col("o_orderkey") % 7 === 0)
    graft.sources.VersionedTable.deleteCommit(s, table,
      col("o_orderstatus") === "F" && col("o_orderkey") % 5 === 0)
    val m = (v: Int) => graft.sources.VersionedTable
      .dataFilesOf(graft.sources.VersionedTable.manifest(s, table, v))
    require(m(2) == m(1) && m(3) == m(1),
      "deleteCommit must never rewrite a data file")
    graft.sources.VersionedTable.read(s, table)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"),
        sum(cents(col("o_totalprice"))).as("price_cents"))
  }

  val deleteVectorsSql: String =
    """SELECT o_orderstatus, count(*) AS cnt,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS price_cents
      |FROM orders
      |WHERE o_orderkey % 7 <> 0
      |  AND NOT (o_orderstatus = 'F' AND o_orderkey % 5 = 0)
      |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // SCHEMA EVOLUTION (VersionedTable append with added columns): v1
  // holds even keys WITHOUT the channel column, v2 appends odd keys
  // WITH it; the merged-schema read surfaces the column as NULL on v1
  // rows — add-column-without-rewrite. The oracle reconstructs the
  // same union with an explicit NULL branch.
  // ---------------------------------------------------------------------
  def schemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val table = java.nio.file.Files.createTempDirectory("graft_vevo")
      .toAbsolutePath.toString + "/orders"
    val base = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"), col("o_totalprice"))
    graft.sources.VersionedTable.commit(s, table,
      base.filter(col("o_orderkey") % 2 === 0), append = false)
    graft.sources.VersionedTable.commit(s, table,
      base.filter(col("o_orderkey") % 2 === 1)
        .withColumn("o_channel",
          when(col("o_orderkey") % 3 === 0, lit("web"))
            .otherwise(lit("store"))),
      append = true)
    graft.sources.VersionedTable.read(s, table)
      .groupBy(coalesce(col("o_channel"), lit("legacy")).as("channel"))
      .agg(count(lit(1)).as("cnt"),
        sum(cents(col("o_totalprice"))).as("price_cents"))
  }

  val schemaEvolutionSql: String =
    """WITH evolved AS (
      |  SELECT o_totalprice, CAST(NULL AS VARCHAR) AS o_channel
      |  FROM orders WHERE o_orderkey % 2 = 0
      |  UNION ALL
      |  SELECT o_totalprice,
      |    CASE WHEN o_orderkey % 3 = 0 THEN 'web' ELSE 'store' END
      |  FROM orders WHERE o_orderkey % 2 = 1)
      |SELECT coalesce(o_channel, 'legacy') AS channel, count(*) AS cnt,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS price_cents
      |FROM evolved GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // HIDDEN PARTITIONING (VersionedTable.commitTransformed): the table
  // partitions on floor(ts_ns / day) — an Iceberg-style partition
  // transform — and the query filters on the RAW timestamp; the read
  // maps the raw range to a tag range and prunes from the manifest
  // alone (required in-query: a one-week range over a 30-day table has
  // <= 8 candidate files of ~30). The oracle filters the raw column
  // directly — the pruned read must be row-identical to it.
  // ---------------------------------------------------------------------
  def hiddenPartitioning(s: SparkSession, dir: String): DataFrame = {
    val dayNs = 86400000000000L
    val table = java.nio.file.Files.createTempDirectory("graft_vhid")
      .toAbsolutePath.toString + "/events"
    val ev = graft.Tables.events(s, dir)
      .select(col("event_id"), col("ts_ns"), col("user_id"),
        col("event_type"))
    graft.sources.VersionedTable.commitTransformed(s, table, ev,
      "ts_ns", dayNs, append = false)
    val mn = ev.agg(min(col("ts_ns"))).collect()(0).getLong(0)
    val (lo, hi) = (mn + 7L * dayNs, mn + 14L * dayNs - 1L)
    val lines = graft.sources.VersionedTable.manifest(s, table,
      graft.sources.VersionedTable.versions(s, table).last)
    val cand = graft.sources.VersionedTable.transformCandidates(lines,
      s"__part_div_ts_ns_$dayNs",
      Math.floorDiv(lo, dayNs), Math.floorDiv(hi, dayNs))
    val total = graft.sources.VersionedTable.dataFilesOf(lines).size
    require(cand.size <= 8 && total >= 28,
      s"a one-week range must open <= 8 of ~30 day files, " +
        s"got ${cand.size} of $total")
    graft.sources.VersionedTable.readTransformRange(s, table, lo, hi)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("user_id")).as("sum_uid"))
  }

  val hiddenPartitioningSql: String =
    """WITH b AS (SELECT min(epoch_ns(ts)) AS mn FROM events)
      |SELECT event_type, count(*) AS cnt,
      |  CAST(sum(user_id) AS BIGINT) AS sum_uid
      |FROM events, b
      |WHERE epoch_ns(ts) >= mn + 7 * 86400000000000
      |  AND epoch_ns(ts) <= mn + 14 * 86400000000000 - 1
      |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // JOIN-DRIVEN FILE PRUNING (VersionedTable.readJoinPruned — dynamic
  // partition pruning as a manifest range probe): the fact is events
  // keyed and range-clustered by epoch day with manifest stats; the
  // dim is a calendar whose predicate (day-of-week) the fact query
  // CANNOT express statically — the star-schema date-dim case. The
  // build side's surviving keys probe the O(files) stat ranges (a
  // broadcast range join, no driver key list) and the read opens only
  // the matching day files (required in-query: ~1/7 of ~30). The
  // pruned join must be row-identical to the oracle's plain join.
  // ---------------------------------------------------------------------
  def dppJoin(s: SparkSession, dir: String): DataFrame = {
    val dayNs = 86400000000000L
    val table = java.nio.file.Files.createTempDirectory("graft_vdpp")
      .toAbsolutePath.toString + "/events"
    val ev = graft.Tables.events(s, dir)
      .withColumn("day", expr(s"ts_ns div $dayNs"))
      .select(col("event_id"), col("day"), col("user_id"),
        col("event_type"))
    graft.sources.VersionedTable.commit(s, table,
      ev.repartitionByRange(30, col("day")), append = false,
      statCols = Seq("day"))
    val dim = ev.select(col("day")).distinct()
      .withColumn("dow", col("day") % 7)
      .filter(col("dow") === 2)
    val lines = graft.sources.VersionedTable.manifest(s, table,
      graft.sources.VersionedTable.versions(s, table).last)
    val total = graft.sources.VersionedTable.dataFilesOf(lines).size
    val cand = graft.sources.VersionedTable.joinCandidates(s, lines,
      "day", dim.select("day"))
    require(total >= 25 && cand.size <= total / 3,
      s"a one-weekday dim must open ~1/7 of the day files, " +
        s"got ${cand.size} of $total")
    graft.sources.VersionedTable.readJoinPruned(s, table, "day",
      dim.select("day"))
      .join(dim, Seq("day"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("cnt"), sum(col("user_id")).as("sum_uid"))
  }

  val dppJoinSql: String =
    """WITH e AS (SELECT epoch_ns(ts) // 86400000000000 AS day, user_id
      |           FROM events)
      |SELECT day, count(*) AS cnt, CAST(sum(user_id) AS BIGINT) AS sum_uid
      |FROM e WHERE day % 7 = 2 GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // TABLE MAINTENANCE lifecycle (VersionedTable.compactCommitWhere +
  // vacuumRetention): a status-partitioned table lands fragmented in
  // two batches, OPTIMIZE targets ONE hot partition (required
  // in-query: scoped fragments collapse to one file, every
  // out-of-scope file carried verbatim — the nightly "compact today's
  // partition" shape), then a zero-window retention vacuum sweeps all
  // history but the head. The surviving snapshot must still be
  // row-identical to the oracle's plain aggregate.
  // ---------------------------------------------------------------------
  def tableMaintenance(s: SparkSession, dir: String): DataFrame = {
    val table = java.nio.file.Files.createTempDirectory("graft_vmnt")
      .toAbsolutePath.toString + "/orders"
    val base = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"), cents(col("o_totalprice")).as("price_cents"))
    graft.sources.VersionedTable.commitPartitioned(s, table,
      base.filter(col("o_orderkey") % 2 === 0).repartition(4),
      "o_orderstatus", append = false, statCols = Seq("o_orderkey"))
    graft.sources.VersionedTable.commitPartitioned(s, table,
      base.filter(col("o_orderkey") % 2 === 1).repartition(4),
      "o_orderstatus", append = true)
    val VT = graft.sources.VersionedTable
    val before = VT.manifest(s, table, VT.versions(s, table).last)
    val coldBefore = VT.partitionsOf(before)
      .collect { case ("o_orderstatus", v, f) if v != "O" => f }.toSet
    val hotBefore = VT.partitionsOf(before)
      .collect { case ("o_orderstatus", "O", f) => f }.toSet
    val v3 = VT.compactCommitWhere(s, table, targetRows = 1000000L,
      "o_orderstatus", Seq("O"))
    val after = VT.manifest(s, table, v3)
    val hotAfter = VT.partitionsOf(after)
      .collect { case ("o_orderstatus", "O", f) => f }.toSet
    val coldAfter = VT.partitionsOf(after)
      .collect { case ("o_orderstatus", v, f) if v != "O" => f }.toSet
    require(hotAfter.size == 1 && hotBefore.size >= 8,
      s"scoped OPTIMIZE must collapse the hot partition's " +
        s"${hotBefore.size} fragments to 1, got ${hotAfter.size}")
    require(coldAfter == coldBefore,
      "out-of-scope partitions must be carried verbatim")
    Thread.sleep(5)
    VT.vacuumRetention(s, table, retentionMs = 0L)
    require(VT.versions(s, table) == Seq(v3),
      "a zero-window retention vacuum keeps exactly the head")
    VT.read(s, table)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"), sum(col("price_cents")).as("price_cents"))
  }

  val tableMaintenanceSql: String =
    """SELECT o_orderstatus, count(*) AS cnt,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS price_cents
      |FROM orders GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // PER-PARTITION METADATA STATS (VersionedTable.partitionStats):
  // `SELECT part, count(*), min(k), max(k) GROUP BY part` served from
  // the manifest's per-file st lines (files are partition-pure, so
  // file stats roll up exactly) — only the delete's tombstoned files
  // are read for real. The oracle groups the surviving rows directly.
  // ---------------------------------------------------------------------
  def partitionStatsQ(s: SparkSession, dir: String): DataFrame = {
    val table = java.nio.file.Files.createTempDirectory("graft_vpst")
      .toAbsolutePath.toString + "/orders"
    val base = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"))
    graft.sources.VersionedTable.commitPartitioned(s, table, base,
      "o_orderstatus", append = false, statCols = Seq("o_orderkey"))
    graft.sources.VersionedTable.deleteCommit(s, table,
      col("o_orderkey") % 97 === 0)
    graft.sources.VersionedTable.partitionStats(s, table,
      "o_orderstatus", "o_orderkey")
      .select(col("o_orderstatus"), col("n_rows"),
        col("mn").as("min_key"), col("mx").as("max_key"))
  }

  val partitionStatsSql: String =
    """SELECT o_orderstatus, count(*) AS n_rows,
      |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
      |FROM orders WHERE o_orderkey % 97 <> 0 GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // INCREMENTAL CLUSTERING + IDEMPOTENT INGEST (VersionedTable
  // .clusterCommitIncremental / commitIdempotent): a clustered table
  // takes a fresh batch through an idempotent writer token (the
  // replayed commit must be a no-op — required in-query), then the
  // incremental cluster re-lays ONLY the fresh files (baseline files
  // carried verbatim — required in-query). The oracle sees the plain
  // union of both halves.
  // ---------------------------------------------------------------------
  def clusterIncremental(s: SparkSession, dir: String): DataFrame = {
    val table = java.nio.file.Files.createTempDirectory("graft_vcli")
      .toAbsolutePath.toString + "/orders"
    val VT = graft.sources.VersionedTable
    val base = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"), cents(col("o_totalprice")).as("price_cents"))
    VT.commit(s, table, base.filter(col("o_orderkey") % 2 === 0),
      append = false, statCols = Seq("o_orderkey"))
    val v2 = VT.clusterCommit(s, table, Seq("o_orderkey"), 8)
    val clustered = VT.dataFilesOf(VT.manifest(s, table, v2)).toSet
    val odd = base.filter(col("o_orderkey") % 2 === 1).repartition(4)
    VT.commitIdempotent(s, table, odd, append = true, "ingest", 1L)
    val replay = VT.commitIdempotent(s, table, odd, append = true,
      "ingest", 1L)
    require(replay == VT.versions(s, table).last &&
      VT.read(s, table).count() == base.count(),
      "the replayed idempotent commit must be a no-op")
    val v4 = VT.clusterCommitIncremental(s, table, Seq("o_orderkey"),
      targetRows = 100000L)
    val data4 = VT.dataFilesOf(VT.manifest(s, table, v4)).toSet
    require(clustered.subsetOf(data4),
      "incremental clustering must carry every baseline file verbatim")
    require((data4 -- clustered).nonEmpty, "fresh files must be re-laid")
    VT.read(s, table)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"), sum(col("price_cents")).as("price_cents"))
  }

  val clusterIncrementalSql: String =
    """SELECT o_orderstatus, count(*) AS cnt,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS price_cents
      |FROM orders GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // NULL-COUNT FILE SKIPPING (VersionedTable.readPrunedNull): the
  // backfill-hunting query `WHERE channel IS NULL` opens only files
  // whose st lines say nulls exist (required in-query) — on the
  // status-partitioned table the enrichment gap is status-correlated,
  // so whole partitions skip by metadata. The oracle filters the same
  // derived column directly.
  // ---------------------------------------------------------------------
  def nullSkipping(s: SparkSession, dir: String): DataFrame = {
    val table = java.nio.file.Files.createTempDirectory("graft_vnul")
      .toAbsolutePath.toString + "/orders"
    val VT = graft.sources.VersionedTable
    val base = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"))
      .withColumn("channel", when(col("o_orderstatus") === "F", lit(null)
        .cast("string"))
        .otherwise(concat(lit("web"), (col("o_orderkey") % 3))))
    VT.commitPartitioned(s, table, base, "o_orderstatus",
      append = false, statCols = Seq("o_orderkey", "channel"))
    val lines = VT.manifest(s, table, VT.versions(s, table).last)
    val total = VT.dataFilesOf(lines).size
    val cand = VT.nullCandidates(lines, "channel", wantNull = true)
    require(cand.size < total && total >= 3,
      s"IS NULL must skip the null-free partitions: ${cand.size}/$total")
    VT.readPrunedNull(s, table, "channel", wantNull = true)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"), sum(col("o_orderkey")).as("sum_key"))
  }

  val nullSkippingSql: String =
    """SELECT o_orderstatus, count(*) AS cnt,
      |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
      |FROM orders
      |WHERE (CASE WHEN o_orderstatus = 'F' THEN NULL
      |       ELSE 'web' || CAST(o_orderkey % 3 AS VARCHAR) END) IS NULL
      |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // STRING-RANGE FILE SKIPPING (VersionedTable.readPrunedString): the
  // table clusters on a yyyy-MM-dd date STRING and a one-quarter
  // range read prunes from the manifest's exact string stats
  // (required in-query: few of 8 date-clustered files open). The
  // oracle filters the same derived date string directly.
  // ---------------------------------------------------------------------
  def stringSkipping(s: SparkSession, dir: String): DataFrame = {
    val table = java.nio.file.Files.createTempDirectory("graft_vstr")
      .toAbsolutePath.toString + "/orders"
    val VT = graft.sources.VersionedTable
    val base = t(s, dir, "orders").select(col("o_orderkey"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_datestr"))
    VT.commit(s, table,
      base.repartitionByRange(8, col("o_datestr")), append = false,
      statCols = Seq("o_datestr"))
    val (lo, hi) = ("1996-04-01", "1996-06-30")
    val lines = VT.manifest(s, table, VT.versions(s, table).last)
    val total = VT.dataFilesOf(lines).size
    val fstats = VT.files(s, table, Seq("o_datestr"))
    val cand = fstats.filter(col("o_datestr_min") <= hi &&
      col("o_datestr_max") >= lo).count()
    require(total >= 8 && cand <= total / 2,
      s"a one-quarter range over ~6.5 years must open few of the " +
        s"date-clustered files: $cand of $total")
    VT.readPrunedString(s, table, "o_datestr", lo, hi)
      .groupBy(substring(col("o_datestr"), 1, 7).as("month"))
      .agg(count(lit(1)).as("cnt"), sum(col("o_orderkey")).as("sum_key"))
  }

  val stringSkippingSql: String =
    """SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS cnt,
      |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
      |FROM orders
      |WHERE strftime(o_orderdate, '%Y-%m-%d') >= '1996-04-01'
      |  AND strftime(o_orderdate, '%Y-%m-%d') <= '1996-06-30'
      |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // MERGE SCHEMA EVOLUTION (VersionedTable.mergeCommit with a source
  // carrying a NEW column): upserted/inserted rows land the column,
  // untouched rows surface it as NULL, and the cached schema line
  // evolves with the merge (required in-query) so later writers are
  // enforced against the merged shape. Oracle reconstructs the same
  // post-merge state algebraically.
  // ---------------------------------------------------------------------
  def mergeEvolution(s: SparkSession, dir: String): DataFrame = {
    val table = java.nio.file.Files.createTempDirectory("graft_vmev")
      .toAbsolutePath.toString + "/orders"
    val base = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"), cents(col("o_totalprice")).as("price_cents"))
    graft.sources.VersionedTable.commit(s, table,
      base.repartitionByRange(8, col("o_orderkey")), append = false,
      statCols = Seq("o_orderkey"))
    val mx = base.agg(max(col("o_orderkey"))).collect()(0).getLong(0)
    val cut = mx / 10
    // the merge source: repriced low keys + one new key, ALL carrying
    // a new `channel` column the table never had
    import s.implicits._
    val source = base.filter(col("o_orderkey") <= cut)
      .withColumn("price_cents", col("price_cents") + 500L)
      .withColumn("channel",
        when(col("o_orderkey") % 2 === 0, lit("web")).otherwise(lit("app")))
      .unionByName(Seq((mx * 2 + 1, "Z", 999L, "web"))
        .toDF("o_orderkey", "o_orderstatus", "price_cents", "channel"))
    graft.sources.VersionedTable.mergeCommit(s, table, source, "o_orderkey")
    require(graft.sources.VersionedTable.tableSchemaOf(s, table)
      .exists(_.fieldNames.contains("channel")),
      "the merge must evolve the cached schema line")
    graft.sources.VersionedTable.read(s, table)
      .groupBy(coalesce(col("channel"), lit("legacy")).as("channel"))
      .agg(count(lit(1)).as("cnt"), sum(col("price_cents")).as("price_cents"))
  }

  val mergeEvolutionSql: String =
    """WITH base AS (
      |  SELECT o_orderkey,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      |  FROM orders),
      |mx AS (SELECT max(o_orderkey) AS m FROM base),
      |merged AS (
      |  SELECT b.o_orderkey,
      |    CASE WHEN b.o_orderkey <= m // 10 THEN b.price_cents + 500
      |         ELSE b.price_cents END AS price_cents,
      |    CASE WHEN b.o_orderkey <= m // 10 THEN
      |      (CASE WHEN b.o_orderkey % 2 = 0 THEN 'web' ELSE 'app' END)
      |    END AS channel
      |  FROM base b, mx
      |  UNION ALL
      |  SELECT m * 2 + 1, 999, 'web' FROM mx)
      |SELECT coalesce(channel, 'legacy') AS channel, count(*) AS cnt,
      |  CAST(sum(price_cents) AS BIGINT) AS price_cents
      |FROM merged GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // CONDITIONAL MERGE (VersionedTable.mergeCommitWhen): the full
  // WHEN MATCHED [AND c] UPDATE/DELETE + WHEN NOT MATCHED [AND c]
  // INSERT + WHEN NOT MATCHED BY SOURCE [AND c] DELETE statement in
  // one commit — first-applicable-clause precedence, unclaimed rows
  // carry. The oracle replays the same algebra as a LEFT JOIN pair.
  // ---------------------------------------------------------------------
  def mergeWhen(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.VersionedTable
    import VersionedTable.MergeClause._
    val table = java.nio.file.Files.createTempDirectory("graft_vmw")
      .toAbsolutePath.toString + "/orders"
    val base = t(s, dir, "orders").select(col("o_orderkey").as("k"),
      col("o_orderstatus").as("status"),
      cents(col("o_totalprice")).as("cents"))
    VersionedTable.commit(s, table,
      base.repartitionByRange(8, col("k")), append = false,
      statCols = Seq("k"))
    val mx = base.agg(max(col("k"))).collect()(0).getLong(0)
    // source: even target keys (delta/flag derived), plus new keys
    // offset past the table's max — guaranteed not-matched
    val src = base.filter(col("k") % 2 === 0)
      .select(col("k"), (col("k") % 97).as("delta"), (col("k") % 5).as("flag"))
      .unionByName(base.filter(col("k") % 2 === 1)
        .select((col("k") + mx).as("k"), (col("k") % 97).as("delta"),
          (col("k") % 5).as("flag")))
    VersionedTable.mergeCommitWhen(s, table, src, "k",
      matched = Seq(
        whenMatchedUpdate(Map("cents" -> (col("t.cents") + col("s.delta")),
          "status" -> lit("U")), Some(col("s.flag") === 0)),
        whenMatchedDelete(Some(col("s.flag") === 1))),
      notMatched = Seq(
        whenNotMatchedInsert(Map("k" -> col("s.k"), "status" -> lit("N"),
          "cents" -> col("s.delta")), Some(col("s.delta") > 48))),
      notMatchedBySource = Seq(
        whenMatchedDelete(Some(col("t.k") % 1000 === 17))))
    VersionedTable.read(s, table).groupBy(col("status"))
      .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("cents"))
  }

  val mergeWhenSql: String =
    """WITH tt AS (SELECT o_orderkey AS k, o_orderstatus AS status,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
      |mx AS (SELECT max(k) AS m FROM tt),
      |ss AS (
      |  SELECT k, k % 97 AS delta, k % 5 AS flag FROM tt WHERE k % 2 = 0
      |  UNION ALL
      |  SELECT k + m, k % 97, k % 5 FROM tt, mx WHERE k % 2 = 1),
      |merged AS (
      |  SELECT CASE WHEN ss.k IS NOT NULL AND ss.flag = 0
      |              THEN 'U' ELSE tt.status END AS status,
      |         CASE WHEN ss.k IS NOT NULL AND ss.flag = 0
      |              THEN tt.cents + ss.delta ELSE tt.cents END AS cents
      |  FROM tt LEFT JOIN ss ON tt.k = ss.k
      |  WHERE NOT (ss.k IS NOT NULL AND ss.flag = 1)
      |    AND NOT (ss.k IS NULL AND tt.k % 1000 = 17)
      |  UNION ALL
      |  SELECT 'N', ss.delta FROM ss LEFT JOIN tt ON ss.k = tt.k
      |  WHERE tt.k IS NULL AND ss.delta > 48)
      |SELECT status, count(*) AS cnt, CAST(sum(cents) AS BIGINT) AS cents
      |FROM merged GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // SCAN PLANNER (VersionedTable.readWhere): one compound-WHERE read
  // composing partition-tag, numeric-range, string-range, and
  // null-count skipping — the candidate set is the INTERSECTION of
  // every manifest dimension's skip (required in-query: conjunction
  // candidates <= each single dimension's and < half the files).
  // ---------------------------------------------------------------------
  def scanPlanner(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.VersionedTable
    import VersionedTable.ScanPred._
    val table = java.nio.file.Files.createTempDirectory("graft_vsp")
      .toAbsolutePath.toString + "/orders"
    val base = t(s, dir, "orders").select(col("o_orderkey").as("k"),
      col("o_orderstatus").as("status"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("datestr"),
      when(col("o_orderkey") % 7 === 0, lit(null))
        .otherwise(concat(lit("c"), col("o_orderkey") % 10)).as("clerk"))
    VersionedTable.commitPartitioned(s, table,
      base.repartitionByRange(8, col("k")), "status", append = false,
      statCols = Seq("k", "datestr", "clerk"))
    val mx = base.agg(max(col("k"))).collect()(0).getLong(0)
    val (lo, hi) = (1L, mx / 4)
    val lines = VersionedTable.manifest(s, table,
      VersionedTable.versions(s, table).last)
    val total = VersionedTable.dataFilesOf(lines).size
    val byPart = VersionedTable.scanCandidates(lines,
      Seq(PartIn("status", Seq("F")))).size
    val byRange = VersionedTable.scanCandidates(lines,
      Seq(NumBetween("k", lo, hi))).size
    val preds = Seq(PartIn("status", Seq("F")), NumBetween("k", lo, hi),
      StrBetween("datestr", "1993-01-01", "1997-12-31"), NotNull("clerk"))
    val conj = VersionedTable.scanCandidates(lines, preds).size
    require(conj <= math.min(byPart, byRange) && conj < total / 2,
      s"conjunction must intersect the dimensions' skips: " +
        s"$conj vs part=$byPart range=$byRange of $total")
    VersionedTable.readWhere(s, table, preds)
      .groupBy(col("clerk"))
      .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_k"))
  }

  val scanPlannerSql: String =
    """WITH mx AS (SELECT max(o_orderkey) AS m FROM orders)
      |SELECT 'c' || CAST(o_orderkey % 10 AS VARCHAR) AS clerk,
      |  count(*) AS cnt, CAST(sum(o_orderkey) AS BIGINT) AS sum_k
      |FROM orders, mx
      |WHERE o_orderstatus = 'F'
      |  AND o_orderkey BETWEEN 1 AND m // 4
      |  AND strftime(o_orderdate, '%Y-%m-%d') >= '1993-01-01'
      |  AND strftime(o_orderdate, '%Y-%m-%d') <= '1997-12-31'
      |  AND o_orderkey % 7 <> 0
      |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // COLUMN MAPPING (VersionedTable.renameColumnCommit/dropColumnCommit):
  // metadata-only RENAME + DROP (required in-query: neither touches a
  // data file), then a COW merge THROUGH the renamed column — physical
  // names stay in the files, every seam translates. The oracle replays
  // the same algebra under the final names.
  // ---------------------------------------------------------------------
  def columnMapping(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.VersionedTable
    val table = java.nio.file.Files.createTempDirectory("graft_vcm")
      .toAbsolutePath.toString + "/orders"
    val base = t(s, dir, "orders").select(col("o_orderkey").as("k"),
      col("o_orderstatus").as("status"),
      cents(col("o_totalprice")).as("amount"),
      col("o_orderpriority").as("prio"))
    VersionedTable.commit(s, table,
      base.repartitionByRange(8, col("k")), append = false,
      statCols = Seq("k", "amount"))
    val files1 = VersionedTable.dataFilesOf(VersionedTable.manifest(s, table, 1))
    val v2 = VersionedTable.renameColumnCommit(s, table, "amount", "cents")
    val v3 = VersionedTable.dropColumnCommit(s, table, "prio")
    require(VersionedTable.dataFilesOf(VersionedTable.manifest(s, table, v2))
      == files1 &&
      VersionedTable.dataFilesOf(VersionedTable.manifest(s, table, v3))
        == files1,
      "rename and drop must be metadata-only commits")
    val mx = base.agg(max(col("k"))).collect()(0).getLong(0)
    // reprice the low tenth THROUGH the new name; one brand-new key
    import s.implicits._
    val src = VersionedTable.read(s, table)
      .filter(col("k") <= mx / 10)
      .withColumn("cents", col("cents") + 500L)
      .unionByName(Seq((mx * 2 + 1, "Z", 999L))
        .toDF("k", "status", "cents"))
    VersionedTable.mergeCommit(s, table, src, "k")
    VersionedTable.read(s, table).groupBy(col("status"))
      .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("cents"))
  }

  val columnMappingSql: String =
    """WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS status,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
      |mx AS (SELECT max(k) AS m FROM base),
      |merged AS (
      |  SELECT status,
      |    CASE WHEN k <= m // 10 THEN cents + 500 ELSE cents END AS cents
      |  FROM base, mx
      |  UNION ALL SELECT 'Z', 999 FROM mx)
      |SELECT status, count(*) AS cnt, CAST(sum(cents) AS BIGINT) AS cents
      |FROM merged GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // AUTO-MAINTENANCE POLICY (VersionedTable.maintain): one call
  // inspects the head manifest (O(files) metadata decisions) and runs
  // exactly what the churned table needs — DV-debt purge, OPTIMIZE,
  // incremental recluster — each reading only what it rewrites.
  // Required in-query: those three fire, a second call is a no-op,
  // and the post-maintain table serves a zero-scan pruned read. The
  // oracle sees only the content, which maintenance must preserve.
  // ---------------------------------------------------------------------
  def autoMaintain(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.VersionedTable
    val table = java.nio.file.Files.createTempDirectory("graft_vam")
      .toAbsolutePath.toString + "/orders"
    val base = t(s, dir, "orders").select(col("o_orderkey").as("k"),
      col("o_orderstatus").as("status"),
      cents(col("o_totalprice")).as("cents"))
    val mx = base.agg(max(col("k"))).collect()(0).getLong(0)
    VersionedTable.commit(s, table,
      base.filter(col("k") <= mx / 2).repartition(4), append = false,
      statCols = Seq("k"))
    VersionedTable.clusterCommit(s, table, Seq("k"), 4)
    // churn: fragmenting appends + DV deletes on the clustered files
    val rest = base.filter(col("k") > mx / 2)
    Seq(0, 1, 2, 3).foreach { i =>
      VersionedTable.commit(s, table,
        rest.filter(col("k") % 4 === i).repartition(3), append = true,
        statCols = Seq("k"))
    }
    (0 until 4).foreach { i =>
      VersionedTable.deleteCommit(s, table,
        col("k") === (i * 32 + 1).toLong)
    }
    // target ~8 right-sized files so the compact's own outputs still
    // trip the staleness check (recluster restores the z-layout)
    val target = math.max(1L, base.count() / 8)
    val report = VersionedTable.maintain(s, table, targetRows = target,
      maxSmallFiles = 8, maxDvFiles = 4, maxUnclustered = 4)
    require(report.map(_.kind) == Seq("purge-dv", "compact", "recluster"),
      s"the churned table needs all three: $report")
    // convergence check at target/2: right-sized outputs sit AT the
    // target, so re-checking against the same strict threshold would
    // flap on file-boundary noise — half-target is the honest "no
    // real debt left" bar
    require(VersionedTable.maintain(s, table,
      targetRows = math.max(1L, target / 2),
      maxSmallFiles = 8, maxDvFiles = 4, maxUnclustered = 4).isEmpty,
      "maintain must converge in one pass")
    val headLines = VersionedTable.manifest(s, table,
      VersionedTable.versions(s, table).last)
    require(VersionedTable.statsCovered(headLines, Seq("k")),
      "post-maintain pruning must be metadata-only (full st coverage)")
    VersionedTable.readPruned(s, table, Seq(("k", 1L, mx / 3)))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("cents"))
  }

  val autoMaintainSql: String =
    """WITH mx AS (SELECT max(o_orderkey) AS m FROM orders)
      |SELECT o_orderstatus AS status, count(*) AS cnt,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS cents
      |FROM orders, mx
      |WHERE o_orderkey BETWEEN 1 AND m // 3
      |  AND NOT (o_orderkey IN (1, 33, 65, 97))
      |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // VERSION TAGS (VersionedTable.tagVersion/readTag): a named ref pins
  // its snapshot against vacuum (Iceberg tags). The table evolves
  // through an append and a COW merge, gets aggressively vacuumed to
  // keepLast=1 — and the tagged mid-history snapshot must still read
  // exactly (required in-query: untagged mid versions are gone). The
  // oracle recomputes the tagged version's algebra.
  // ---------------------------------------------------------------------
  def tableTags(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.VersionedTable
    val table = java.nio.file.Files.createTempDirectory("graft_vtg")
      .toAbsolutePath.toString + "/orders"
    val base = t(s, dir, "orders").select(col("o_orderkey").as("k"),
      col("o_orderstatus").as("status"),
      cents(col("o_totalprice")).as("cents"))
    val mx = base.agg(max(col("k"))).collect()(0).getLong(0)
    // v1: the low half; v2: the rest appended (the tagged corpus cut)
    VersionedTable.commit(s, table,
      base.filter(col("k") <= mx / 2).repartitionByRange(4, col("k")),
      append = false, statCols = Seq("k"))
    VersionedTable.commit(s, table, base.filter(col("k") > mx / 2),
      append = true, statCols = Seq("k"))
    VersionedTable.tagVersion(s, table, "corpus-cut", 2)
    // v3: a merge reprices everything AFTER the cut
    VersionedTable.mergeCommit(s, table,
      base.withColumn("cents", col("cents") + 100L), "k")
    // v4: a delete after the cut
    VersionedTable.deleteCommit(s, table, col("k") % 100 === 0)
    VersionedTable.vacuum(s, table, keepLast = 1)
    val vs = VersionedTable.versions(s, table)
    require(vs == Seq(2, 4),
      s"vacuum must retire untagged history but keep the pin: $vs")
    VersionedTable.readTag(s, table, "corpus-cut")
      .groupBy(col("status"))
      .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("cents"))
  }

  val tableTagsSql: String =
    """SELECT o_orderstatus AS status, count(*) AS cnt,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS cents
      |FROM orders GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // METADATA-ONLY FILTERED COUNT (VersionedTable.countWhere): on a
  // date-clustered table, "count the quarter" = manifest nrows of the
  // range-interior files + a scan of only the files straddling the
  // quarter's edges (required in-query: contained > boundary, and an
  // all-covering range scans ZERO files). Composes with a partition
  // predicate and stays exact under a deletion-vector delete.
  // ---------------------------------------------------------------------
  def countWhereQ(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.VersionedTable
    import VersionedTable.ScanPred._
    val table = java.nio.file.Files.createTempDirectory("graft_vcw")
      .toAbsolutePath.toString + "/orders"
    val base = t(s, dir, "orders").select(col("o_orderkey").as("k"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"),
      col("o_orderstatus").as("status"))
    // 48 date ranges (~50 days each over the ~6.5-year span): a
    // one-quarter predicate fully CONTAINS interior files and only
    // straddles the two edge ones
    VersionedTable.commitPartitioned(s, table,
      base.repartitionByRange(48, col("d")), "status", append = false,
      statCols = Seq("k", "d"))
    // a one-DAY delete: its tombstones confine to the date-clustered
    // file(s) holding that day, so they alone become boundary files
    VersionedTable.deleteCommit(s, table, col("d") === "1995-07-04")
    val (q, qc, _) = VersionedTable.countWhereDetailed(s, table,
      Seq(StrBetween("d", "1995-04-01", "1995-06-30")))
    require(qc > 0,
      s"quarter-interior files must count from metadata: cont=$qc")
    val (fCnt, _, _) = VersionedTable.countWhereDetailed(s, table,
      Seq(StrBetween("d", "1995-04-01", "1995-06-30"),
        PartIn("status", Seq("F"))))
    val (oCnt, oc, ob) = VersionedTable.countWhereDetailed(s, table,
      Seq(StrBetween("d", "1000-01-01", "9999-12-31")))
    require(ob < oc,
      s"an all-covering range must scan only the tombstoned files: " +
        s"cont=$oc bound=$ob")
    import s.implicits._
    Seq((q, fCnt, oCnt)).toDF("quarter_cnt", "quarter_f_cnt", "all_cnt")
  }

  val countWhereSql: String =
    """SELECT
      |  (SELECT count(*) FROM orders
      |   WHERE strftime(o_orderdate, '%Y-%m-%d') >= '1995-04-01'
      |     AND strftime(o_orderdate, '%Y-%m-%d') <= '1995-06-30'
      |     AND strftime(o_orderdate, '%Y-%m-%d') <> '1995-07-04')
      |    AS quarter_cnt,
      |  (SELECT count(*) FROM orders
      |   WHERE strftime(o_orderdate, '%Y-%m-%d') >= '1995-04-01'
      |     AND strftime(o_orderdate, '%Y-%m-%d') <= '1995-06-30'
      |     AND o_orderstatus = 'F'
      |     AND strftime(o_orderdate, '%Y-%m-%d') <> '1995-07-04')
      |    AS quarter_f_cnt,
      |  (SELECT count(*) FROM orders
      |   WHERE strftime(o_orderdate, '%Y-%m-%d') <> '1995-07-04')
      |    AS all_cnt""".stripMargin

  // ---------------------------------------------------------------------
  // DNF SCAN PLANNING (VersionedTable.readWhereAny): an OR of
  // conjunctions opens the UNION of the branches' candidate files —
  // once — then re-applies the exact predicate (required in-query:
  // the union still skips files, and stays <= the branch sum).
  // ---------------------------------------------------------------------
  def scanPlannerOr(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.VersionedTable
    import VersionedTable.ScanPred._
    val table = java.nio.file.Files.createTempDirectory("graft_vspo")
      .toAbsolutePath.toString + "/orders"
    val base = t(s, dir, "orders").select(col("o_orderkey").as("k"),
      col("o_orderstatus").as("status"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"))
    VersionedTable.commitPartitioned(s, table,
      base.repartitionByRange(16, col("d")), "status", append = false,
      statCols = Seq("k", "d"))
    val lines = VersionedTable.manifest(s, table,
      VersionedTable.versions(s, table).last)
    val d1 = Seq(StrBetween("d", "1995-04-01", "1995-06-30"),
      PartIn("status", Seq("F")))
    val d2 = Seq(StrBetween("d", "1996-10-01", "1996-12-31"),
      PartIn("status", Seq("O")))
    val total = VersionedTable.dataFilesOf(lines).size
    val u = VersionedTable.scanCandidatesAny(lines, Seq(d1, d2)).size
    val (c1, c2) = (VersionedTable.scanCandidates(lines, d1).size,
      VersionedTable.scanCandidates(lines, d2).size)
    require(u < total / 2 && u <= c1 + c2 && u >= math.max(c1, c2),
      s"the DNF union must still skip: u=$u c1=$c1 c2=$c2 of $total")
    VersionedTable.readWhereAny(s, table, Seq(d1, d2))
      .groupBy(col("status"), substring(col("d"), 1, 4).as("year"))
      .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_k"))
  }

  val scanPlannerOrSql: String =
    """SELECT o_orderstatus AS status,
      |  strftime(o_orderdate, '%Y') AS year,
      |  count(*) AS cnt, CAST(sum(o_orderkey) AS BIGINT) AS sum_k
      |FROM orders
      |WHERE (strftime(o_orderdate, '%Y-%m-%d') BETWEEN '1995-04-01'
      |         AND '1995-06-30' AND o_orderstatus = 'F')
      |   OR (strftime(o_orderdate, '%Y-%m-%d') BETWEEN '1996-10-01'
      |         AND '1996-12-31' AND o_orderstatus = 'O')
      |GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // METADATA-ONLY FILTERED MIN/MAX (VersionedTable.minMaxWhere):
  // range-interior files bound the answer from their manifest stats;
  // only boundary/tombstoned files are read. Exact under a DV delete
  // that kills an extreme.
  // ---------------------------------------------------------------------
  def minMaxWhereQ(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.VersionedTable
    import VersionedTable.ScanPred._
    val table = java.nio.file.Files.createTempDirectory("graft_vmm")
      .toAbsolutePath.toString + "/orders"
    val base = t(s, dir, "orders").select(col("o_orderkey").as("k"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"),
      col("o_orderstatus").as("status"))
    VersionedTable.commitPartitioned(s, table,
      base.repartitionByRange(48, col("d")), "status", append = false,
      statCols = Seq("k", "d"))
    val mxk = base.agg(max(col("k"))).collect()(0).getLong(0)
    // DV-delete the global max key: the metadata answer must not
    // resurrect it (tombstoned files are read, not trusted)
    VersionedTable.deleteCommit(s, table, col("k") === mxk)
    val (qmn, qmx) = VersionedTable.minMaxWhere(s, table, "k",
      Seq(StrBetween("d", "1995-04-01", "1995-06-30"),
        PartIn("status", Seq("F"))))
    val (dmn, dmx) = VersionedTable.minMaxWhere(s, table, "d",
      Seq(NumBetween("k", 1L, mxk)))
    import s.implicits._
    Seq((qmn.get.toLong, qmx.get.toLong, dmn.get, dmx.get))
      .toDF("q_min_k", "q_max_k", "d_min", "d_max")
  }

  val minMaxWhereSql: String =
    """WITH mx AS (SELECT max(o_orderkey) AS m FROM orders)
      |SELECT
      |  (SELECT min(o_orderkey) FROM orders, mx
      |   WHERE strftime(o_orderdate, '%Y-%m-%d')
      |           BETWEEN '1995-04-01' AND '1995-06-30'
      |     AND o_orderstatus = 'F' AND o_orderkey <> m) AS q_min_k,
      |  (SELECT max(o_orderkey) FROM orders, mx
      |   WHERE strftime(o_orderdate, '%Y-%m-%d')
      |           BETWEEN '1995-04-01' AND '1995-06-30'
      |     AND o_orderstatus = 'F' AND o_orderkey <> m) AS q_max_k,
      |  (SELECT min(strftime(o_orderdate, '%Y-%m-%d')) FROM orders, mx
      |   WHERE o_orderkey <> m) AS d_min,
      |  (SELECT max(strftime(o_orderdate, '%Y-%m-%d')) FROM orders, mx
      |   WHERE o_orderkey <> m) AS d_max""".stripMargin

  // ---------------------------------------------------------------------
  // ANALYZE TABLE (VersionedTable.analyzeCommit): a LEGACY table
  // (committed without a stat schema) gets per-file stats backfilled
  // as a metadata-only commit; the merge AFTER it decides its touched
  // files from the manifest (required in-query: >= 6 of 8 clustered
  // files carried) and the analyze commit itself changes no row (the
  // oracle never sees it).
  // ---------------------------------------------------------------------
  def tableAnalyze(s: SparkSession, dir: String): DataFrame = {
    val table = java.nio.file.Files.createTempDirectory("graft_vana")
      .toAbsolutePath.toString + "/orders"
    val base = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"), cents(col("o_totalprice")).as("price_cents"))
    graft.sources.VersionedTable.commit(s, table,
      base.repartitionByRange(8, col("o_orderkey")), append = false)
    val va = graft.sources.VersionedTable.analyzeCommit(s, table,
      Seq("o_orderkey"))
    require(graft.sources.VersionedTable.metaOf(
      graft.sources.VersionedTable.manifest(s, table, va))
      .get("analyzed").contains("o_orderkey"))
    val mx = base.agg(max(col("o_orderkey"))).collect()(0).getLong(0)
    val cut = mx / 10
    import s.implicits._
    val source = base.filter(col("o_orderkey") <= cut)
      .withColumn("price_cents", col("price_cents") + 123L)
      .unionByName(Seq((mx * 2 + 1, "Z", 777L))
        .toDF("o_orderkey", "o_orderstatus", "price_cents"))
    graft.sources.VersionedTable.mergeCommit(s, table, source,
      "o_orderkey")
    val m = (v: Int) => graft.sources.VersionedTable
      .dataFilesOf(graft.sources.VersionedTable.manifest(s, table, v)).toSet
    require(m(va + 1).intersect(m(1)).size >= 6,
      "the post-ANALYZE merge must carry most clustered files")
    graft.sources.VersionedTable.read(s, table)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"), sum(col("price_cents")).as("price_cents"))
  }

  val tableAnalyzeSql: String =
    """WITH b AS (SELECT max(o_orderkey) // 10 AS cut FROM orders),
      |u AS (
      |  SELECT o_orderstatus,
      |    CASE WHEN o_orderkey <= (SELECT cut FROM b)
      |      THEN CAST(round(o_totalprice * 100) AS BIGINT) + 123
      |      ELSE CAST(round(o_totalprice * 100) AS BIGINT)
      |    END AS price_cents
      |  FROM orders
      |  UNION ALL SELECT 'Z', 777)
      |SELECT o_orderstatus, count(*) AS cnt,
      |  CAST(sum(price_cents) AS BIGINT) AS price_cents
      |FROM u GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // PARTITION-WISE METADATA COUNTS (VersionedTable.partitionCounts):
  // the daily-volume report "SELECT day, count(*) GROUP BY 1" answered
  // from the manifest — per tag value, the sum of its files' st-line
  // row counts; only tombstoned files are read for real (a pruned
  // delete tombstones the first three days here, so 3 of ~30 files
  // scan and the rest are pure metadata). Oracle reconstructs the
  // post-delete per-day counts from the raw timestamps.
  // ---------------------------------------------------------------------
  def partitionCountsQ(s: SparkSession, dir: String): DataFrame = {
    val dayNs = 86400000000000L
    val table = java.nio.file.Files.createTempDirectory("graft_vpc")
      .toAbsolutePath.toString + "/events"
    val ev = graft.Tables.events(s, dir)
      .select(col("event_id"), col("ts_ns"), col("user_id"))
    graft.sources.VersionedTable.commitTransformed(s, table, ev,
      "ts_ns", dayNs, append = false, statCols = Seq("ts_ns"))
    val mn = ev.agg(min(col("ts_ns"))).collect()(0).getLong(0)
    graft.sources.VersionedTable.deleteCommit(s, table,
      col("ts_ns") < mn + 3L * dayNs && col("user_id") % 2 === 0)
    val tcol = s"__part_div_ts_ns_$dayNs"
    graft.sources.VersionedTable.partitionCounts(s, table, tcol)
      .withColumnRenamed(tcol, "day_tag")
  }

  val partitionCountsSql: String =
    """WITH b AS (SELECT min(epoch_ns(ts)) AS mn FROM events)
      |SELECT CAST(epoch_ns(ts) // 86400000000000 AS VARCHAR) AS day_tag,
      |  count(*) AS n_rows
      |FROM events, b
      |WHERE NOT (epoch_ns(ts) < mn + 3 * 86400000000000
      |           AND user_id % 2 = 0)
      |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // UPDATE ... SET ... WHERE (VersionedTable.updateCommit): file-level
  // copy-on-write — a stats-pruned update on a key-clustered table
  // rewrites ONLY the candidate files that hold a matching row and
  // carries the rest verbatim (required in-query on the manifests); a
  // second, unpruned update exercises the match-probe path. SET
  // expressions see the pre-image; the two updates hit disjoint status
  // slices so the oracle is one CASE per branch.
  // ---------------------------------------------------------------------
  def tableUpdate(s: SparkSession, dir: String): DataFrame = {
    val table = java.nio.file.Files.createTempDirectory("graft_vupd")
      .toAbsolutePath.toString + "/orders"
    val base = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"), cents(col("o_totalprice")).as("price_cents"))
    graft.sources.VersionedTable.commit(s, table,
      base.repartitionByRange(8, col("o_orderkey")), append = false,
      statCols = Seq("o_orderkey"))
    val cut = base.agg(max(col("o_orderkey"))).collect()(0).getLong(0) / 10
    // pruned: the range covers ~1 of 8 clustered files
    graft.sources.VersionedTable.updateCommit(s, table,
      col("o_orderstatus") === "O",
      Map("price_cents" -> (col("price_cents") + 500L)),
      ranges = Seq(("o_orderkey", 1L, cut)))
    val m = (v: Int) => graft.sources.VersionedTable
      .dataFilesOf(graft.sources.VersionedTable.manifest(s, table, v)).toSet
    require(m(2).intersect(m(1)).size >= 6,
      "a 1-in-10 key-range update over 8 clustered files must carry most")
    // unpruned: probe finds the matching files across the table
    graft.sources.VersionedTable.updateCommit(s, table,
      col("o_orderstatus") === "F" && col("o_orderkey") % 10 === 3,
      Map("price_cents" -> (col("price_cents") * 2L)))
    require(graft.sources.VersionedTable.versions(s, table) == Seq(1, 2, 3))
    graft.sources.VersionedTable.read(s, table)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"), sum(col("price_cents")).as("price_cents"))
  }

  val tableUpdateSql: String =
    """WITH b AS (SELECT max(o_orderkey) // 10 AS cut FROM orders),
      |u AS (
      |  SELECT o_orderstatus,
      |    CASE
      |      WHEN o_orderstatus = 'O'
      |        AND o_orderkey >= 1 AND o_orderkey <= (SELECT cut FROM b)
      |        THEN CAST(round(o_totalprice * 100) AS BIGINT) + 500
      |      WHEN o_orderstatus = 'F' AND o_orderkey % 10 = 3
      |        THEN CAST(round(o_totalprice * 100) AS BIGINT) * 2
      |      ELSE CAST(round(o_totalprice * 100) AS BIGINT)
      |    END AS price_cents
      |  FROM orders)
      |SELECT o_orderstatus, count(*) AS cnt,
      |  CAST(sum(price_cents) AS BIGINT) AS price_cents
      |FROM u GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // SCHEMA ENFORCEMENT (VersionedTable write-time contract): appends
  // may ADD columns (evolution) but an append CHANGING an existing
  // column's type is rejected AT THE WRITER — files unstaged, head
  // untouched — instead of corrupting every later merged-schema read
  // (the Delta enforcement contract). The gate commits a base, proves
  // TWO conflicting appends reject (one against the original schema,
  // one against an evolved column), lands a legal evolution append
  // between them, and aggregates the final table; the oracle knows
  // nothing of the rejected writes — any residue they left would
  // hash-mismatch.
  // ---------------------------------------------------------------------
  def schemaEnforce(s: SparkSession, dir: String): DataFrame = {
    val table = java.nio.file.Files.createTempDirectory("graft_venf")
      .toAbsolutePath.toString + "/orders"
    val base = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"), cents(col("o_totalprice")).as("price_cents"))
    graft.sources.VersionedTable.commit(s, table,
      base.filter(col("o_orderkey") % 2 === 0), append = false)
    // conflict #1: price_cents arrives as a STRING — rejected, unstaged
    val bad1 = try {
      graft.sources.VersionedTable.commit(s, table,
        base.filter(col("o_orderkey") % 2 === 1)
          .withColumn("price_cents", col("price_cents").cast("string")),
        append = true); false
    } catch { case e: IllegalStateException =>
      e.getMessage.contains("schema conflict") }
    // legal evolution: odd keys arrive WITH a new column
    graft.sources.VersionedTable.commit(s, table,
      base.filter(col("o_orderkey") % 2 === 1)
        .withColumn("o_band",
          when(col("o_orderkey") % 3 === 0, lit("hi")).otherwise(lit("lo"))),
      append = true)
    // conflict #2: the EVOLVED column's type — the cached merged
    // schema (zero-I/O sc line) must know o_band is a string by now
    val bad2 = try {
      graft.sources.VersionedTable.commit(s, table,
        base.filter(col("o_orderkey") % 5 === 0)
          .withColumn("o_band", lit(7L)), append = true); false
    } catch { case e: IllegalStateException =>
      e.getMessage.contains("schema conflict") }
    require(bad1 && bad2, "conflicting appends must be rejected")
    require(graft.sources.VersionedTable.versions(s, table) == Seq(1, 2),
      "rejected commits must not advance the head")
    require(graft.sources.VersionedTable.tableSchemaOf(s, table).get
      .fieldNames.toSet ==
      Set("o_orderkey", "o_orderstatus", "price_cents", "o_band"),
      "the cached schema must have merged the evolved column")
    graft.sources.VersionedTable.read(s, table)
      .groupBy(coalesce(col("o_band"), lit("legacy")).as("band"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("price_cents")).as("price_cents"))
  }

  val schemaEnforceSql: String =
    """WITH evolved AS (
      |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
      |    CAST(NULL AS VARCHAR) AS o_band
      |  FROM orders WHERE o_orderkey % 2 = 0
      |  UNION ALL
      |  SELECT CAST(round(o_totalprice * 100) AS BIGINT),
      |    CASE WHEN o_orderkey % 3 = 0 THEN 'hi' ELSE 'lo' END
      |  FROM orders WHERE o_orderkey % 2 = 1)
      |SELECT coalesce(o_band, 'legacy') AS band, count(*) AS cnt,
      |  CAST(sum(price_cents) AS BIGINT) AS price_cents
      |FROM evolved GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // INCREMENTAL MATERIALIZED VIEW (sources.MaterializedView): a
  // grouped count/sum rollup built at v1, then maintained through a
  // file-level COW merge AND a deletion-vector delete by folding the
  // change feed — the refresh never rescans the source (feed I/O is
  // O(changed files), spec-pinned). The gate compares the final view
  // to the oracle's from-scratch aggregate of the final logical table.
  // ---------------------------------------------------------------------
  def incrementalMv(s: SparkSession, dir: String): DataFrame = {
    val scratch = java.nio.file.Files.createTempDirectory("graft_vmv")
      .toAbsolutePath.toString
    val table = scratch + "/orders"; val mv = scratch + "/mv"
    val base = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"), cents(col("o_totalprice")).as("price_cents"))
    graft.sources.VersionedTable.commit(s, table,
      base.repartitionByRange(8, col("o_orderkey")), append = false)
    graft.sources.MaterializedView.build(s, table, mv,
      Seq("o_orderstatus"), Seq("price_cents"))
    val mx = base.agg(max(col("o_orderkey"))).collect()(0).getLong(0)
    val updates = base
      .filter(col("o_orderkey") % 13 === 0 && col("o_orderkey") % 17 =!= 0)
      .withColumn("price_cents", col("price_cents") * 2)
      .withColumn("__del", lit(false))
    val deletes = base.filter(col("o_orderkey") % 17 === 0)
      .withColumn("__del", lit(true))
    val inserts = base.filter(col("o_orderkey") % 101 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + lit(10L) * mx)
      .withColumn("__del", lit(false))
    graft.sources.VersionedTable.mergeCommit(s, table,
      updates.unionByName(deletes).unionByName(inserts),
      "o_orderkey", deleteCol = Some("__del"))
    graft.sources.MaterializedView.refresh(s, table, mv)
    graft.sources.VersionedTable.deleteCommit(s, table,
      col("o_orderkey") % 19 === 0)
    graft.sources.MaterializedView.refresh(s, table, mv)
    require(graft.sources.MaterializedView.sourceVersion(s, mv) == 3,
      "view must have tracked the source head incrementally")
    graft.sources.MaterializedView.read(s, mv)
      .select(col("o_orderstatus"), col("cnt"), col("sum_price_cents"))
  }

  val incrementalMvSql: String =
    """WITH b AS (SELECT max(o_orderkey) AS mx FROM orders),
      |  base AS (SELECT o_orderkey AS k, o_orderstatus,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      |    FROM orders),
      |  merged AS (
      |    SELECT k, o_orderstatus, price_cents FROM base
      |    WHERE k % 13 <> 0 AND k % 17 <> 0
      |    UNION ALL
      |    SELECT k, o_orderstatus, price_cents * 2 FROM base
      |    WHERE k % 13 = 0 AND k % 17 <> 0
      |    UNION ALL
      |    SELECT k + 10 * mx, o_orderstatus, price_cents FROM base, b
      |    WHERE k % 101 = 0),
      |  final AS (SELECT * FROM merged WHERE k % 19 <> 0)
      |SELECT o_orderstatus, count(*) AS cnt,
      |  CAST(sum(price_cents) AS BIGINT) AS sum_price_cents
      |FROM final GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // TABLE CHANGE STREAM (TableChangeStream.drainToVersionedTable): the
  // change feed consumed AS A STREAM — a checkpointed drain runs twice
  // against a mutating table (first sees only the initial commit; the
  // second sees exactly the append + merge + delete committed in
  // between, never re-delivering version 1), landing each version's
  // feed exactly-once in a second versioned table. The gated output is
  // an aggregate of the FOLDED feed (net row multiplicities from the
  // drained deltas alone), and an in-query require pins that the fold
  // reconstructs the source's final snapshot row-for-row. The oracle
  // computes the final state algebraically from orders.
  // TableChangeStreamSpec pins crash-restart and marker idempotence.
  // ---------------------------------------------------------------------
  def tableChangeStream(s: SparkSession, dir: String): DataFrame = {
    val scratch = java.nio.file.Files.createTempDirectory("graft_vtcs")
      .toAbsolutePath.toString
    val table = scratch + "/orders"; val dest = scratch + "/feed"
    val ckpt = scratch + "/ckpt"
    val base = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"), cents(col("o_totalprice")).as("price_cents"))
    graft.sources.VersionedTable.commit(s, table,
      base.repartitionByRange(8, col("o_orderkey")), append = false)
    val d1 = graft.streaming.TableChangeStream
      .drainToVersionedTable(s, table, dest, ckpt)
    val mx = base.agg(max(col("o_orderkey"))).collect()(0).getLong(0)
    graft.sources.VersionedTable.commit(s, table,
      base.filter(col("o_orderkey") % 97 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(10L) * mx),
      append = true)
    val updates = base
      .filter(col("o_orderkey") % 13 === 0 && col("o_orderkey") % 17 =!= 0)
      .withColumn("price_cents", col("price_cents") * 2)
      .withColumn("__del", lit(false))
    val deletes = base.filter(col("o_orderkey") % 17 === 0)
      .withColumn("__del", lit(true))
    graft.sources.VersionedTable.mergeCommit(s, table,
      updates.unionByName(deletes), "o_orderkey", deleteCol = Some("__del"))
    graft.sources.VersionedTable.deleteCommit(s, table,
      col("o_orderkey") % 23 === 0)
    val d2 = graft.streaming.TableChangeStream
      .drainToVersionedTable(s, table, dest, ckpt)
    require(d1 == 1 && d2 == 3,
      s"drains must deliver exactly the pending commits, got $d1/$d2")
    val cols = Seq("o_orderkey", "o_orderstatus", "price_cents")
    val folded = graft.streaming.TableChangeStream
      .foldFeed(graft.sources.VersionedTable.read(s, dest))
      .select((cols :+ "n").map(col): _*)
    val snapG = graft.sources.VersionedTable.read(s, table)
      .groupBy(cols.map(col): _*).agg(count(lit(1)).as("n"))
      .select((cols :+ "n").map(col): _*)
    // multiset equality in ONE pass: signed union must cancel to zero
    // everywhere (cheaper than two exceptAll anti-joins)
    val mismatches = folded
      .unionByName(snapG.withColumn("n", -col("n")))
      .groupBy(cols.map(col): _*).agg(sum(col("n")).as("d"))
      .filter(col("d") =!= 0L).limit(1).count()
    require(mismatches == 0L,
      "folding the drained feed must reconstruct the final snapshot")
    folded.groupBy(col("o_orderstatus"))
      .agg(sum(col("n")).as("cnt"),
        sum(col("n") * col("price_cents")).as("sum_price_cents"))
  }

  val tableChangeStreamSql: String =
    """WITH b AS (SELECT max(o_orderkey) AS mx FROM orders),
      |  base AS (SELECT o_orderkey AS k, o_orderstatus,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      |    FROM orders),
      |  appended AS (SELECT k + 10 * mx AS k, o_orderstatus, price_cents
      |    FROM base, b WHERE k % 97 = 0),
      |  merged AS (
      |    SELECT k, o_orderstatus, price_cents FROM base
      |    WHERE k % 13 <> 0 AND k % 17 <> 0
      |    UNION ALL
      |    SELECT k, o_orderstatus, price_cents * 2 FROM base
      |    WHERE k % 13 = 0 AND k % 17 <> 0
      |    UNION ALL
      |    SELECT k, o_orderstatus, price_cents FROM appended),
      |  final AS (SELECT * FROM merged WHERE k % 23 <> 0)
      |SELECT o_orderstatus, count(*) AS cnt,
      |  CAST(sum(price_cents) AS BIGINT) AS sum_price_cents
      |FROM final GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // RESTORE (VersionedTable.restoreCommit): a delete and a COW merge
  // are rolled back by republishing version 1's manifest as version 4
  // — ZERO data I/O (in-query require: v4's file list is verbatim
  // v1's, tombstone-free), yet the rollback is itself a commit (time
  // travel to the undone states still works). The oracle is the plain
  // orders aggregate: restore must erase every trace of the
  // mutations. TableRestoreSpec pins feed-across-restore inversion
  // and vacuum-after-restore liveness.
  // ---------------------------------------------------------------------
  def tableRestore(s: SparkSession, dir: String): DataFrame = {
    val table = java.nio.file.Files.createTempDirectory("graft_vres")
      .toAbsolutePath.toString + "/orders"
    val base = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"), cents(col("o_totalprice")).as("price_cents"))
    graft.sources.VersionedTable.commit(s, table,
      base.repartitionByRange(8, col("o_orderkey")), append = false)
    graft.sources.VersionedTable.deleteCommit(s, table,
      col("o_orderkey") % 7 === 0)
    graft.sources.VersionedTable.mergeCommit(s, table,
      base.filter(col("o_orderkey") % 13 === 0)
        .withColumn("price_cents", col("price_cents") * 2),
      "o_orderkey")
    val v4 = graft.sources.VersionedTable.restoreCommit(s, table, 1)
    val m = (v: Int) => graft.sources.VersionedTable
      .manifest(s, table, v)
    require(graft.sources.VersionedTable.dataFilesOf(m(v4)) ==
      graft.sources.VersionedTable.dataFilesOf(m(1)) &&
      graft.sources.VersionedTable.dvFilesOf(m(v4)).isEmpty,
      "restore must republish version 1's file list verbatim, no data I/O")
    graft.sources.VersionedTable.read(s, table)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("price_cents")).as("sum_price_cents"))
  }

  val tableRestoreSql: String =
    """SELECT o_orderstatus, count(*) AS cnt,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS sum_price_cents
      |FROM orders GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // METADATA-ONLY AGGREGATES + FILE-SKIPPED DELETE
  // (VersionedTable.statsAggregate / deleteCommitPruned): count/min/max
  // of a stats-covered snapshot served from the manifest's st lines —
  // `SELECT count(*)` on 100 TB as an O(files) metadata fold — staying
  // EXACT through a deletion-vector delete (tombstoned files are read
  // for real, everything else from metadata; TableMetadataOpsSpec pins
  // the zero-scan property). The delete itself is a range delete whose
  // doomed-row scan is pruned by the same stats (a retention delete
  // must not scan the table to find what to tombstone). A timestamp
  // time-travel require rides along: the head resolves AS OF now.
  // Oracle: plain count/min/max over the algebraic reconstruction.
  // ---------------------------------------------------------------------
  def tableStatsAgg(s: SparkSession, dir: String): DataFrame = {
    val table = java.nio.file.Files.createTempDirectory("graft_vagg")
      .toAbsolutePath.toString + "/orders"
    val VT = graft.sources.VersionedTable
    val base = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"), cents(col("o_totalprice")).as("price_cents"))
    VT.commit(s, table,
      base.filter(col("o_orderkey") % 3 === 0)
        .repartitionByRange(6, col("o_orderkey")),
      append = false, statCols = Seq("o_orderkey", "price_cents"))
    VT.commit(s, table, base.filter(col("o_orderkey") % 3 === 1),
      append = true)
    // retention-style range delete: the doomed scan opens only the
    // files whose [min,max] intersects the band
    val v3 = VT.deleteCommitPruned(s, table, Seq(("o_orderkey", 1000L, 3000L)),
      lit(true))
    require(VT.versionAsOf(s, table, System.currentTimeMillis()) == v3,
      "TIMESTAMP AS OF now must resolve to the head version")
    VT.statsAggregate(s, table, Seq("o_orderkey", "price_cents"))
  }

  val tableStatsAggSql: String =
    """WITH o AS (
      |  SELECT o_orderkey,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      |  FROM orders WHERE o_orderkey % 3 IN (0, 1))
      |SELECT count(*) AS n_rows,
      |  min(o_orderkey) AS o_orderkey_min,
      |  max(o_orderkey) AS o_orderkey_max,
      |  min(price_cents) AS price_cents_min,
      |  max(price_cents) AS price_cents_max
      |FROM o WHERE o_orderkey NOT BETWEEN 1000 AND 3000""".stripMargin

  // ---------------------------------------------------------------------
  // BUCKET-MAP JOIN (VersionedTable.commitBucketed + bucketJoin): orders
  // and customer co-hash-bucketed on custkey; the join runs as one
  // broadcast-hash join PER BUCKET over manifest-paired files — the
  // in-query require pins a plan with ZERO shuffle exchanges (the fact
  // side never moves; this is the Hive bucket-map-join regime: a
  // dimension too big to broadcast whole, whose 1/n buckets each fit).
  // An append on the fact side and a DV delete ride along to prove the
  // bucket discipline composes with the table layer. Oracle: the plain
  // join, reconstructed algebraically.
  // ---------------------------------------------------------------------
  def bucketJoinOrders(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_vbkt")
      .toAbsolutePath.toString
    val (ta, tb) = (root + "/orders", root + "/customer")
    val VT = graft.sources.VersionedTable
    val o = t(s, dir, "orders").select(
      col("o_custkey").as("custkey"), col("o_orderkey"),
      cents(col("o_totalprice")).as("price_cents"))
    val c = t(s, dir, "customer").select(
      col("c_custkey").as("custkey"), col("c_mktsegment"))
    VT.commitBucketed(s, ta, o.filter(col("o_orderkey") % 4 =!= 0),
      "custkey", 8, append = false)
    VT.commitBucketed(s, ta, o.filter(col("o_orderkey") % 4 === 0),
      "custkey", 8, append = true)
    VT.commitBucketed(s, tb, c, "custkey", 8, append = false)
    VT.deleteCommit(s, ta, col("o_orderkey") % 9 === 0)
    val joined = VT.bucketJoin(s, ta, tb, "custkey")
    val plan = joined.queryExecution.executedPlan.toString
    require("Exchange (hash|range|roundrobin|Single)".r
      .findAllIn(plan).isEmpty,
      "bucket-map join must plan zero shuffle exchanges")
    joined.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("price_cents")).as("sum_price_cents"))
  }

  val bucketJoinOrdersSql: String =
    """SELECT c_mktsegment, count(*) AS cnt,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS sum_price_cents
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE o_orderkey % 9 <> 0
      |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // INCREMENTAL JOIN-VIEW MAINTENANCE (JoinMaterializedView): revenue-
  // by-segment over orders ⋈ customer, built once, then kept fresh
  // through a fact append, a fact DV delete, AND a dimension merge
  // (customers switching segment — the change that re-weights matching
  // fact rows) purely from the two change feeds and time travel:
  // Δ(A⋈B) = ΔA⋈B_old ∪ A_new⋈ΔB. The fact table is bucket-committed
  // on the join key, so the dim-delta term reads only the changed
  // keys' buckets (JoinMaterializedViewSpec pins the pruning; the
  // refresh==rebuild law holds on random two-table histories). Oracle:
  // the final state reconstructed algebraically.
  // ---------------------------------------------------------------------
  def joinMv(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_vjmv")
      .toAbsolutePath.toString
    val (fact, dim, mv) = (root + "/orders", root + "/customer",
      root + "/view")
    val VT = graft.sources.VersionedTable
    val JMV = graft.sources.JoinMaterializedView
    val o = t(s, dir, "orders").select(
      col("o_custkey").as("custkey"), col("o_orderkey"),
      cents(col("o_totalprice")).as("price_cents"))
    val c = t(s, dir, "customer").select(
      col("c_custkey").as("custkey"), col("c_mktsegment"))
    VT.commitBucketed(s, fact, o.filter(col("o_orderkey") % 4 =!= 0),
      "custkey", 8, append = false)
    VT.commit(s, dim, c, append = false)
    JMV.build(s, fact, dim, mv, "custkey",
      Seq("c_mktsegment"), Seq("price_cents"))
    // fact append, then refresh
    VT.commitBucketed(s, fact, o.filter(col("o_orderkey") % 4 === 0),
      "custkey", 8, append = true)
    JMV.refresh(s, fact, dim, mv)
    // fact DV delete, then refresh
    VT.deleteCommit(s, fact, col("o_orderkey") % 9 === 0)
    JMV.refresh(s, fact, dim, mv)
    // dimension merge: a tenth of the customers switch segment
    VT.mergeCommit(s, dim,
      c.filter(col("custkey") % 10 === 3)
        .withColumn("c_mktsegment", lit("MOVED")),
      "custkey")
    JMV.refresh(s, fact, dim, mv)
    JMV.read(s, mv)
  }

  val joinMvSql: String =
    """WITH f AS (
      |  SELECT o_custkey AS custkey,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      |  FROM orders WHERE o_orderkey % 9 <> 0),
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
  // CHECK CONSTRAINTS (VersionedTable.addConstraint): write-time
  // data-quality contracts in the table itself — a valid append
  // passes, then a violating append AND a violating merge are both
  // REJECTED atomically (in-query requires: the head version is
  // unchanged and the staged files were unstaged — no orphan residue).
  // Validation cost is O(new files) per commit, never a table rescan.
  // The oracle is orders + the valid appended slice: rejected commits
  // must leave no trace in the data.
  // ---------------------------------------------------------------------
  def tableConstraint(s: SparkSession, dir: String): DataFrame = {
    val table = java.nio.file.Files.createTempDirectory("graft_vchk")
      .toAbsolutePath.toString + "/orders"
    val base = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"), cents(col("o_totalprice")).as("price_cents"))
    graft.sources.VersionedTable.commit(s, table,
      base.repartitionByRange(8, col("o_orderkey")), append = false)
    graft.sources.VersionedTable.addConstraint(s, table,
      "price_positive", "price_cents > 0")
    val mx = base.agg(max(col("o_orderkey"))).collect()(0).getLong(0)
    graft.sources.VersionedTable.commit(s, table,
      base.filter(col("o_orderkey") % 97 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(10L) * mx),
      append = true) // valid: passes the check
    val head = graft.sources.VersionedTable.versions(s, table).last
    def rejected(op: => Unit): Boolean =
      try { op; false }
      catch { case e: IllegalStateException =>
        e.getMessage.contains("price_positive") }
    require(rejected {
      graft.sources.VersionedTable.commit(s, table,
        base.limit(5).withColumn("price_cents", lit(-1L)), append = true)
    }, "violating append must be rejected")
    require(rejected {
      graft.sources.VersionedTable.mergeCommit(s, table,
        base.filter(col("o_orderkey") % 11 === 0)
          .withColumn("price_cents", -col("price_cents")), "o_orderkey")
    }, "violating merge must be rejected")
    require(graft.sources.VersionedTable.versions(s, table).last == head,
      "rejected commits must not advance the version")
    require(graft.sources.VersionedTable
      .cleanOrphans(s, table, olderThanMs = -600000L).isEmpty,
      "rejected commits must unstage their files (no orphans)")
    graft.sources.VersionedTable.read(s, table)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("price_cents")).as("sum_price_cents"))
  }

  val tableConstraintSql: String =
    """WITH b AS (SELECT max(o_orderkey) AS mx FROM orders),
      |  base AS (SELECT o_orderkey AS k, o_orderstatus,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      |    FROM orders),
      |  final AS (
      |    SELECT k, o_orderstatus, price_cents FROM base
      |    UNION ALL
      |    SELECT k + 10 * mx, o_orderstatus, price_cents FROM base, b
      |    WHERE k % 97 = 0)
      |SELECT o_orderstatus, count(*) AS cnt,
      |  CAST(sum(price_cents) AS BIGINT) AS sum_price_cents
      |FROM final GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // SHALLOW CLONE (VersionedTable.cloneCommit): fork the table with
  // ONE manifest write — the clone's v1 references the source files
  // verbatim (in-query require: identical data-file lists, zero copy)
  // — then a COW merge runs ON THE CLONE while the source stays
  // byte-identical (require: its manifest is untouched). The merged
  // clone is the gated output; the oracle applies the merge algebra
  // to orders directly. TableCloneSpec pins vacuum ownership (a clone
  // vacuum never deletes source files) and tag travel.
  // ---------------------------------------------------------------------
  def tableClone(s: SparkSession, dir: String): DataFrame = {
    val scratch = java.nio.file.Files.createTempDirectory("graft_vcln")
      .toAbsolutePath.toString
    val src = scratch + "/orders"; val clone = scratch + "/clone"
    val base = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"), cents(col("o_totalprice")).as("price_cents"))
    graft.sources.VersionedTable.commit(s, src,
      base.repartitionByRange(8, col("o_orderkey")), append = false)
    val m1 = graft.sources.VersionedTable.manifest(s, src, 1)
    graft.sources.VersionedTable.cloneCommit(s, clone, src)
    require(graft.sources.VersionedTable.dataFilesOf(
      graft.sources.VersionedTable.manifest(s, clone, 1)) ==
      graft.sources.VersionedTable.dataFilesOf(m1),
      "shallow clone must reference the source files verbatim")
    val updates = base
      .filter(col("o_orderkey") % 11 === 0 && col("o_orderkey") % 19 =!= 0)
      .withColumn("price_cents", col("price_cents") * 2)
      .withColumn("__del", lit(false))
    val deletes = base.filter(col("o_orderkey") % 19 === 0)
      .withColumn("__del", lit(true))
    graft.sources.VersionedTable.mergeCommit(s, clone,
      updates.unionByName(deletes), "o_orderkey", deleteCol = Some("__del"))
    require(graft.sources.VersionedTable.versions(s, src) == Seq(1) &&
      graft.sources.VersionedTable.manifest(s, src, 1) == m1,
      "mutating the clone must leave the source byte-identical")
    graft.sources.VersionedTable.read(s, clone)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("price_cents")).as("sum_price_cents"))
  }

  val tableCloneSql: String =
    """WITH base AS (SELECT o_orderkey AS k, o_orderstatus,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      |    FROM orders)
      |SELECT o_orderstatus, count(*) AS cnt,
      |  CAST(sum(CASE WHEN k % 11 = 0 THEN price_cents * 2
      |    ELSE price_cents END) AS BIGINT) AS sum_price_cents
      |FROM base WHERE k % 19 <> 0
      |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // WRITE-AUDIT-PUBLISH (VersionedTable.adoptCommit): a batch stages
  // its output in a scratch versioned table nobody reads, audits it
  // there, and publishes by ADOPTING the files into the main table —
  // one O(files) metadata commit, zero data copy (in-query requires:
  // the adopted manifest lines point inside the main table's data dir,
  // and the staging table's own data dir holds no parquet afterwards).
  // The main table's CHECK constraint validates the adopted files at
  // publish. Oracle = orders + the staged slice.
  // ---------------------------------------------------------------------
  def tableWap(s: SparkSession, dir: String): DataFrame = {
    val scratch = java.nio.file.Files.createTempDirectory("graft_vwap")
      .toAbsolutePath.toString
    val table = scratch + "/orders"; val staging = scratch + "/staging"
    val base = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"), cents(col("o_totalprice")).as("price_cents"))
    graft.sources.VersionedTable.commit(s, table,
      base.repartitionByRange(8, col("o_orderkey")), append = false)
    graft.sources.VersionedTable.addConstraint(s, table,
      "price_positive", "price_cents > 0")
    val mx = base.agg(max(col("o_orderkey"))).collect()(0).getLong(0)
    // WRITE: the batch lands in staging, invisible to main readers
    graft.sources.VersionedTable.commit(s, staging,
      base.filter(col("o_orderkey") % 41 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(10L) * mx),
      append = false)
    // AUDIT: any check, against the staging snapshot only
    require(graft.sources.VersionedTable.read(s, staging)
      .filter(col("price_cents") <= 0).isEmpty, "audit failed")
    // PUBLISH: one metadata commit; main's constraints re-validate
    val v2 = graft.sources.VersionedTable.adoptCommit(s, table, staging)
    val m2 = graft.sources.VersionedTable.manifest(s, table, v2)
    val adoptedFiles = graft.sources.VersionedTable.dataFilesOf(m2)
      .filter(_.contains("-adopt-"))
    require(adoptedFiles.nonEmpty &&
      adoptedFiles.forall(_.contains("/orders/data/")),
      "adopted files must live inside the main table's data dir")
    val stagingData = new org.apache.hadoop.fs.Path(staging, "data")
    val fsys = stagingData.getFileSystem(
      s.sparkContext.hadoopConfiguration)
    val leftover = {
      val it = fsys.listFiles(stagingData, true)
      var n = 0
      while (it.hasNext) {
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    require(leftover == 0, "publish must MOVE the files, not copy them")
    graft.sources.VersionedTable.read(s, table)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("price_cents")).as("sum_price_cents"))
  }

  val tableWapSql: String =
    """WITH b AS (SELECT max(o_orderkey) AS mx FROM orders),
      |  base AS (SELECT o_orderkey AS k, o_orderstatus,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      |    FROM orders),
      |  final AS (
      |    SELECT k, o_orderstatus, price_cents FROM base
      |    UNION ALL
      |    SELECT k + 10 * mx, o_orderstatus, price_cents FROM base, b
      |    WHERE k % 41 = 0)
      |SELECT o_orderstatus, count(*) AS cnt,
      |  CAST(sum(price_cents) AS BIGINT) AS sum_price_cents
      |FROM final GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // TPC-H Q3-shaped: 3-way join + aggregate + distributed top-k.
  // The limit-after-sort plans as TakeOrderedAndProject — each
  // partition keeps its local top 10, the driver merges O(partitions
  // x 10) rows; NOT a global sort. Revenue in exact e4 integers so
  // the ordering (and the hash gate) is engine-portable.
  // ---------------------------------------------------------------------
  def shippingPriority(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      .join(t(s, dir, "orders"),
        col("c_custkey") === col("o_custkey") &&
          col("o_orderdate") < lit("1998-01-01"))
      .join(t(s, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > lit("1998-01-01"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        * 10000).cast("long")).as("revenue_e4"))
      .orderBy(col("revenue_e4").desc, col("l_orderkey").asc)
      .limit(10)

  val shippingPrioritySql: String =
    """SELECT l_orderkey, o_orderdate, o_orderpriority,
      |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000)
      |    AS BIGINT)) AS BIGINT) AS revenue_e4
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |JOIN lineitem ON o_orderkey = l_orderkey
      |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
      |WHERE c_mktsegment = 'BUILDING'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue_e4 DESC, l_orderkey ASC
      |LIMIT 10""".stripMargin

  // ---------------------------------------------------------------------
  // TPC-H Q18-shaped: large-order customers. The HAVING aggregate runs
  // FIRST — one partial-aggregated shuffle of lineitem on its join key
  // — and only the few thousand qualifying keys flow into the
  // orders/customer joins (AQE sees the tiny filtered side and
  // broadcasts it), so the 3-way join never touches disqualified rows.
  // The scale lesson: aggregate-then-join beats join-then-aggregate
  // whenever the HAVING is selective.
  // ---------------------------------------------------------------------
  val LargeOrderQty = 250L

  def largeOrders(s: SparkSession, dir: String): DataFrame = {
    val big = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(round(col("l_quantity")).cast("long")).as("sum_qty"))
      .filter(col("sum_qty") > LargeOrderQty)
    t(s, dir, "orders")
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(t(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
      .select(col("c_custkey"), col("o_orderkey"), col("o_orderdate"),
        cents(col("o_totalprice")).as("price_cents"), col("sum_qty"))
  }

  val largeOrdersSql: String =
    s"""SELECT c_custkey, o_orderkey, o_orderdate,
       |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
       |  CAST(sq.sum_qty AS BIGINT) AS sum_qty
       |FROM orders
       |JOIN (SELECT l_orderkey,
       |      sum(CAST(round(l_quantity) AS BIGINT)) AS sum_qty
       |    FROM lineitem GROUP BY 1
       |    HAVING sum(CAST(round(l_quantity) AS BIGINT)) > $LargeOrderQty) sq
       |  ON o_orderkey = sq.l_orderkey
       |JOIN customer ON c_custkey = o_custkey""".stripMargin

  // ---------------------------------------------------------------------
  // TPC-H Q5-shaped: 6-way star join (local supplier volume). The
  // region->nation->customer chain and supplier prune to broadcast
  // dims; only lineitem x orders shuffles — the canonical "one big
  // fact, many small dims" plan a 100 TB star schema wants.
  // ---------------------------------------------------------------------
  def localSupplierVolume(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "region").filter(col("r_name") === "ASIA")
      .join(t(s, dir, "nation"), col("n_regionkey") === col("r_regionkey"))
      .join(t(s, dir, "customer"), col("c_nationkey") === col("n_nationkey"))
      .join(t(s, dir, "orders"), col("o_custkey") === col("c_custkey"))
      .join(t(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "supplier"),
        col("s_suppkey") === col("l_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        * 10000).cast("long")).as("revenue_e4"),
        count(lit(1)).as("n_items"))

  val localSupplierVolumeSql: String =
    """SELECT n_name,
      |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000)
      |    AS BIGINT)) AS BIGINT) AS revenue_e4,
      |  count(*) AS n_items
      |FROM region
      |JOIN nation ON n_regionkey = r_regionkey
      |JOIN customer ON c_nationkey = n_nationkey
      |JOIN orders ON o_custkey = c_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
      |WHERE r_name = 'ASIA'
      |GROUP BY n_name""".stripMargin

  // ---------------------------------------------------------------------
  // registry
  // ---------------------------------------------------------------------
  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pricing_summary" -> (pricingSummary _),
    "q_shipping_priority" -> (shippingPriority _),
    "q_large_orders" -> (largeOrders _),
    "q_local_supplier_volume" -> (localSupplierVolume _),
    "q_filter_project" -> (filterProject _),
    "q_union_positional" -> (unionPositional _),
    "q_tokenize_explode" -> (tokenizeExplode _),
    "q_validate_clean" -> (validateClean _),
    "q_regexp_clean" -> (regexpClean _),
    "q_join_broadcast_left" -> (joinBroadcastLeft _),
    "q_join_using_inner" -> (joinUsingInner _),
    "q_window_user_total" -> (windowUserTotal _),
    "q_window_cond_sums" -> (windowCondSums _),
    "q_moving_avg" -> (movingAvg _),
    "q_range_window" -> (rangeWindow _),
    "q_covariance_nation" -> (covarianceByNation _),
    "q_funnel" -> (funnel _),
    "q_cohort_retention" -> (cohortRetention _),
    "q_min_cost_supplier" -> (minCostSupplier _),
    "q_unpivot_charges" -> (unpivotCharges _),
    "q_normalize_minmax" -> (normalizeMinMax _),
    "q_group_quantiles" -> (groupQuantiles _),
    "q_distinct_pairs" -> (distinctPairs _),
    "q_group_count" -> (groupCount _),
    "q_category_proportion" -> (categoryProportion _),
    "q_segment_quantile" -> (segmentQuantile _),
    "q_cast_when_repair" -> (castWhenRepair _),
    "q_json_extract" -> (jsonExtract _),
    "q_monthly_orders" -> (monthlyOrders _),
    "q_topk_orders" -> (topKOrders _),
    "q_anti_join" -> (antiJoin _),
    "q_semi_join" -> (semiJoin _),
    "q_rollup_orders" -> (rollupOrders _),
    "q_sessionize" -> (sessionize _),
    "q_concurrency" -> (concurrency _),
    "q_pivot_counts" -> (pivotCounts _),
    "q_rank_window" -> (rankWindow _),
    "q_cube_orders" -> (cubeOrders _),
    "q_intersect_customers" -> (intersectCustomers _),
    "q_except_customers" -> (exceptCustomers _),
    "q_count_distinct" -> (countDistinctUsers _),
    "q_range_join" -> (rangeJoinShipments _),
    "q_overlap_join" -> (overlapJoinShipments _),
    "q_key_skew" -> (keySkewProfile _),
    "q_mode_event" -> (modeEventType _),
    "q_equidepth_bins" -> (equiDepthValueBins _),
    "q_join_size_est" -> (joinSizeEst _),
    "q_partitioned_write" -> (partitionedWrite _),
    "q_file_skipping" -> (fileSkipping _),
    "q_zorder_skipping" -> (zorderSkipping _),
    "q_compaction" -> (compaction _),
    "q_time_travel" -> (timeTravel _),
    "q_partition_overwrite" -> (partitionOverwrite _),
    "q_partition_multi" -> (partitionMulti _),
    "q_table_merge" -> (tableMerge _),
    "q_bloom_skipping" -> (bloomSkipping _),
    "q_table_compact" -> (tableCompact _),
    "q_change_feed" -> (changeFeed _),
    "q_delete_vectors" -> (deleteVectors _),
    "q_schema_evolution" -> (schemaEvolution _),
    "q_schema_enforce" -> (schemaEnforce _),
    "q_table_update" -> (tableUpdate _),
    "q_hidden_partitioning" -> (hiddenPartitioning _),
    "q_dpp_join" -> (dppJoin _),
    "q_table_maintenance" -> (tableMaintenance _),
    "q_partition_stats" -> (partitionStatsQ _),
    "q_merge_evolution" -> (mergeEvolution _),
    "q_merge_when" -> (mergeWhen _),
    "q_scan_planner" -> (scanPlanner _),
    "q_column_mapping" -> (columnMapping _),
    "q_auto_maintain" -> (autoMaintain _),
    "q_table_tags" -> (tableTags _),
    "q_count_where" -> (countWhereQ _),
    "q_scan_planner_or" -> (scanPlannerOr _),
    "q_minmax_where" -> (minMaxWhereQ _),
    "q_cluster_incremental" -> (clusterIncremental _),
    "q_null_skipping" -> (nullSkipping _),
    "q_string_skipping" -> (stringSkipping _),
    "q_partition_counts" -> (partitionCountsQ _),
    "q_table_analyze" -> (tableAnalyze _),
    "q_incremental_mv" -> (incrementalMv _),
    "q_table_change_stream" -> (tableChangeStream _),
    "q_table_restore" -> (tableRestore _),
    "q_table_stats_agg" -> (tableStatsAgg _),
    "q_bucket_join" -> (bucketJoinOrders _),
    "q_join_mv" -> (joinMv _),
    "q_table_constraint" -> (tableConstraint _),
    "q_table_wap" -> (tableWap _),
    "q_table_clone" -> (tableClone _),
    "q_salted_join" -> (saltedJoinAgg _),
  )

  val oracles: Map[String, String] = Map(
    "q_pricing_summary" -> pricingSummarySql,
    "q_shipping_priority" -> shippingPrioritySql,
    "q_large_orders" -> largeOrdersSql,
    "q_local_supplier_volume" -> localSupplierVolumeSql,
    "q_filter_project" -> filterProjectSql,
    "q_union_positional" -> unionPositionalSql,
    "q_tokenize_explode" -> tokenizeExplodeSql,
    "q_validate_clean" -> validateCleanSql,
    "q_regexp_clean" -> regexpCleanSql,
    "q_join_broadcast_left" -> joinBroadcastLeftSql,
    "q_join_using_inner" -> joinUsingInnerSql,
    "q_window_user_total" -> windowUserTotalSql,
    "q_window_cond_sums" -> windowCondSumsSql,
    "q_moving_avg" -> movingAvgSql,
    "q_range_window" -> rangeWindowSql,
    "q_covariance_nation" -> covarianceByNationSql,
    "q_funnel" -> funnelSql,
    "q_cohort_retention" -> cohortRetentionSql,
    "q_min_cost_supplier" -> minCostSupplierSql,
    "q_unpivot_charges" -> unpivotChargesSql,
    "q_normalize_minmax" -> normalizeMinMaxSql,
    "q_group_quantiles" -> groupQuantilesSql,
    "q_distinct_pairs" -> distinctPairsSql,
    "q_group_count" -> groupCountSql,
    "q_category_proportion" -> categoryProportionSql,
    "q_segment_quantile" -> segmentQuantileSql,
    "q_cast_when_repair" -> castWhenRepairSql,
    "q_json_extract" -> jsonExtractSql,
    "q_monthly_orders" -> monthlyOrdersSql,
    "q_topk_orders" -> topKOrdersSql,
    "q_anti_join" -> antiJoinSql,
    "q_semi_join" -> semiJoinSql,
    "q_rollup_orders" -> rollupOrdersSql,
    "q_sessionize" -> sessionizeSql,
    "q_concurrency" -> concurrencySql,
    "q_pivot_counts" -> pivotCountsSql,
    "q_rank_window" -> rankWindowSql,
    "q_cube_orders" -> cubeOrdersSql,
    "q_intersect_customers" -> intersectCustomersSql,
    "q_except_customers" -> exceptCustomersSql,
    "q_count_distinct" -> countDistinctUsersSql,
    "q_range_join" -> rangeJoinShipmentsSql,
    "q_overlap_join" -> overlapJoinShipmentsSql,
    "q_key_skew" -> keySkewProfileSql,
    "q_mode_event" -> modeEventTypeSql,
    "q_equidepth_bins" -> equiDepthValueBinsSql,
    "q_join_size_est" -> joinSizeEstSql,
    "q_partitioned_write" -> partitionedWriteSql,
    "q_file_skipping" -> fileSkippingSql,
    "q_zorder_skipping" -> zorderSkippingSql,
    "q_compaction" -> compactionSql,
    "q_time_travel" -> timeTravelSql,
    "q_partition_overwrite" -> partitionOverwriteSql,
    "q_partition_multi" -> partitionMultiSql,
    "q_table_merge" -> tableMergeSql,
    "q_bloom_skipping" -> bloomSkippingSql,
    "q_table_compact" -> tableCompactSql,
    "q_change_feed" -> changeFeedSql,
    "q_delete_vectors" -> deleteVectorsSql,
    "q_schema_evolution" -> schemaEvolutionSql,
    "q_schema_enforce" -> schemaEnforceSql,
    "q_table_update" -> tableUpdateSql,
    "q_hidden_partitioning" -> hiddenPartitioningSql,
    "q_partition_counts" -> partitionCountsSql,
    "q_dpp_join" -> dppJoinSql,
    "q_table_maintenance" -> tableMaintenanceSql,
    "q_partition_stats" -> partitionStatsSql,
    "q_merge_evolution" -> mergeEvolutionSql,
    "q_merge_when" -> mergeWhenSql,
    "q_scan_planner" -> scanPlannerSql,
    "q_column_mapping" -> columnMappingSql,
    "q_auto_maintain" -> autoMaintainSql,
    "q_table_tags" -> tableTagsSql,
    "q_count_where" -> countWhereSql,
    "q_scan_planner_or" -> scanPlannerOrSql,
    "q_minmax_where" -> minMaxWhereSql,
    "q_cluster_incremental" -> clusterIncrementalSql,
    "q_null_skipping" -> nullSkippingSql,
    "q_string_skipping" -> stringSkippingSql,
    "q_table_analyze" -> tableAnalyzeSql,
    "q_incremental_mv" -> incrementalMvSql,
    "q_table_change_stream" -> tableChangeStreamSql,
    "q_table_restore" -> tableRestoreSql,
    "q_table_stats_agg" -> tableStatsAggSql,
    "q_bucket_join" -> bucketJoinOrdersSql,
    "q_join_mv" -> joinMvSql,
    "q_table_constraint" -> tableConstraintSql,
    "q_table_wap" -> tableWapSql,
    "q_table_clone" -> tableCloneSql,
    "q_salted_join" -> saltedJoinAggSql,
  )
}
