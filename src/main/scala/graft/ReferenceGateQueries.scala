package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.ReferenceEtl
import graft.sources.JdbcSource

/** The reference's whole deliverable through the hard gate: both output
  * tables of `ReferenceEtl.run` (products + clients), computed from a
  * Product-shaped fixture derived DETERMINISTICALLY from the standard
  * orders/lineitem/part tables — so the DuckDB oracle can recompute the
  * exact answers relationally, while the Spark side must round-trip the
  * reference's actual transport: `~`-packed `product|aisle|qty` detail
  * strings, an all-string JDBC half normalized by cast, positional
  * union, explode, repairs, broadcast dim join, validation, per-user
  * aggregate classification and quantile segmentation.
  *
  * Fixture field derivations (all pure functions of o_orderkey so the
  * oracle can mirror them):
  *  - order_number = o_orderkey % 10 + 1
  *  - order_dow    = o_orderkey % 7
  *  - hour0        = o_orderkey % 26 - 1   (exercises BOTH repairs:
  *    24 -> 0 in mergeAndTransform, abs(-1) -> 1 in validate)
  *  - dspo         = (o_orderkey % 30) + 0.5f (float; cast to int
  *    truncates to o_orderkey % 30 — covers the {8,9,20} segment gaps)
  *  - product      = p_name ' ' p_partkey (unique — p_name alone has 64
  *    distinct values, which would fan out the dim join)
  *  - department   = p_partkey % 8 mapped over the reference's
  *    department vocabulary (covers all three category sets)
  */
object ReferenceGateQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Orders subset: volume control that survives every sf. */
  val OrderFilterMod = 4L

  val Departments: Seq[String] = Seq("dairy eggs", "bakery", "canned goods",
    "meat seafood", "pets", "frozen", "snacks", "household")

  private def departmentOf(partkey: org.apache.spark.sql.Column) =
    Departments.zipWithIndex.foldRight(lit(null: String)) {
      case ((d, i), el) => when(partkey % 8 === i, lit(d)).otherwise(el)
    }

  /** (blobOrders, dbOrders, dim) — the reference's three inputs. The db
    * half is an ALL-STRING frame normalized through JdbcSource.castTo
    * (reference S5), the blob half is typed directly. */
  def fixture(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    val orders = t(s, dir, "orders")
      .filter(col("o_orderkey") % OrderFilterMod === 0)
    val part = t(s, dir, "part")
    val items = t(s, dir, "lineitem")
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(part, col("l_partkey") === col("p_partkey"))
      .select(col("o_orderkey"), col("o_custkey"),
        concat_ws(" ", col("p_name"), col("p_partkey")).as("product"),
        col("p_type").as("aisle"),
        col("l_quantity").cast("int").as("qty"))
    val packed = items.groupBy(col("o_orderkey"), col("o_custkey"))
      .agg(concat_ws("~",
        collect_list(concat_ws("|", col("product"), col("aisle"),
          col("qty")))).as("order_detail"))
    val shaped = packed.select(
      col("o_orderkey").cast("long").as("order_id"),
      col("o_custkey").cast("long").as("user_id"),
      (col("o_orderkey") % 10 + 1).cast("int").as("order_number"),
      (col("o_orderkey") % 7).cast("int").as("order_dow"),
      (col("o_orderkey") % 26 - 1).cast("int").as("order_hour_of_day"),
      ((col("o_orderkey") % 30).cast("float") + 0.5f)
        .as("days_since_prior_order"),
      col("order_detail"))
    val blob = shaped.filter(col("order_id") % 2 === 0)
    val dbAllString = shaped.filter(col("order_id") % 2 === 1)
      .select(shaped.columns.map(c => col(c).cast("string").as(c)): _*)
    val db = JdbcSource.castTo(dbAllString, ReferenceEtl.ProductSchema)
    val dim = part.select(
      concat_ws(" ", col("p_name"), col("p_partkey")).as("product_name"),
      col("p_type").as("aisle"),
      departmentOf(col("p_partkey")).as("department"))
    (blob, db, dim)
  }

  def referenceProducts(s: SparkSession, dir: String): DataFrame = {
    val (blob, db, dim) = fixture(s, dir)
    ReferenceEtl.validate(
      ReferenceEtl.joinProductDetails(
        ReferenceEtl.mergeAndTransform(blob, db), dim))
  }

  def referenceClients(s: SparkSession, dir: String): DataFrame = {
    val (blob, db, dim) = fixture(s, dir)
    val (products, clients) = ReferenceEtl.run(s, blob, db, dim,
      deterministicSegments = true, interpolatedQuantiles = true)
    // products stays cached while clients' three consumers evaluate;
    // re-invocations cache an identical frame and LRU eviction reclaims
    // old entries — never unpersist BEFORE the lazy clients runs, that
    // would silently disable the pipeline's one materialization win
    clients
  }

  // ---------------------------------------------------------------------
  // oracle SQL — recomputes relationally what Spark must round-trip
  // through the packed-string transport
  // ---------------------------------------------------------------------

  private val departmentCaseSql: String = {
    val arms = Departments.zipWithIndex
      .map { case (d, i) => s"WHEN p_partkey % 8 = $i THEN '$d'" }
      .mkString("\n      ")
    s"CASE\n      $arms\n      END"
  }

  /** Shared CTE: the products table as the oracle sees it. */
  private val productsCte: String =
    s"""items AS (
       |  SELECT o_orderkey, o_custkey,
       |    p_name || ' ' || CAST(p_partkey AS VARCHAR) AS product,
       |    p_type AS aisles,
       |    CAST(l_quantity AS INT) AS number_of_products,
       |    CAST(o_orderkey % 10 + 1 AS INT) AS order_number,
       |    CAST(o_orderkey % 7 AS INT) AS order_dow,
       |    CAST(o_orderkey % 26 - 1 AS INT) AS hour0,
       |    CAST(o_orderkey % 30 AS INT) AS dspo,
       |    $departmentCaseSql AS department
       |  FROM orders
       |  JOIN lineitem ON l_orderkey = o_orderkey
       |  JOIN part ON p_partkey = l_partkey
       |  WHERE o_orderkey % $OrderFilterMod = 0),
       |  products AS (
       |  SELECT CAST(o_orderkey AS BIGINT) AS order_id,
       |    CAST(o_custkey AS BIGINT) AS user_id,
       |    order_number, order_dow,
       |    CAST(abs(CASE WHEN hour0 = 24 THEN 0 ELSE hour0 END) AS INT)
       |      AS order_hour_of_day,
       |    dspo AS days_since_prior_order,
       |    product, aisles, number_of_products, department
       |  FROM items)""".stripMargin

  val referenceProductsSql: String =
    s"""WITH $productsCte
       |SELECT * FROM products""".stripMargin

  val referenceClientsSql: String = {
    def set(depts: Seq[String]) = depts.map(d => s"'$d'").mkString(", ")
    s"""WITH $productsCte,
       |  totals AS (
       |  SELECT user_id,
       |    CAST(sum(number_of_products) AS BIGINT) AS total,
       |    CAST(sum(CASE WHEN department IN (${set(ReferenceEtl.MomDepartments)})
       |      THEN number_of_products ELSE 0 END) AS BIGINT) AS mom,
       |    CAST(sum(CASE WHEN department IN (${set(ReferenceEtl.SingleDepartments)})
       |      THEN number_of_products ELSE 0 END) AS BIGINT) AS single_c,
       |    CAST(sum(CASE WHEN department IN (${set(ReferenceEtl.PetFriendlyDepartments)})
       |      THEN number_of_products ELSE 0 END) AS BIGINT) AS pet
       |  FROM products GROUP BY user_id),
       |  cat AS (
       |  SELECT user_id,
       |    CASE WHEN mom = total THEN 'Mom'
       |         WHEN single_c = total THEN 'Single'
       |         WHEN pet = total THEN 'Pet Friendly'
       |         ELSE 'A complete mystery' END AS category
       |  FROM totals),
       |  th AS (
       |  SELECT order_dow AS dow,
       |    quantile_cont(number_of_products, 0.25) AS q25,
       |    quantile_cont(number_of_products, 0.50) AS q50,
       |    quantile_cont(number_of_products, 0.75) AS q75
       |  FROM products GROUP BY order_dow),
       |  pick AS (
       |  SELECT *, row_number() OVER (PARTITION BY user_id
       |      ORDER BY order_number DESC, order_id DESC) AS rn
       |  FROM products),
       |  seg AS (
       |  SELECT p.user_id,
       |    CASE WHEN p.days_since_prior_order <= 7 AND t.total > th.q75
       |           THEN 'You''ve Got a Friend in Me'
       |         WHEN p.days_since_prior_order BETWEEN 10 AND 19
       |           AND t.total > th.q50 THEN 'Baby come Back'
       |         WHEN p.days_since_prior_order > 20 AND t.total > th.q25
       |           THEN 'Special Offers'
       |         ELSE 'Undefined' END AS client_segment
       |  FROM pick p
       |  JOIN th ON p.order_dow = th.dow
       |  JOIN totals t ON t.user_id = p.user_id
       |  WHERE p.rn = 1)
       |SELECT user_id, category, client_segment
       |FROM cat JOIN seg USING (user_id)""".stripMargin
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_reference_products" -> (referenceProducts _),
    "q_reference_clients" -> (referenceClients _))

  val oracles: Map[String, String] = Map(
    "q_reference_products" -> referenceProductsSql,
    "q_reference_clients" -> referenceClientsSql)
}
