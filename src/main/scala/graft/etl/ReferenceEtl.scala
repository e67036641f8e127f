package graft.etl

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.{Classify, Flatten, Quantiles, Validate}

/** Order row as ingested (reference Product, ApplaudoETL.scala:17-18). */
case class Product(order_id: Long, user_id: Long, order_number: Int,
                   order_dow: Int, order_hour_of_day: Int,
                   days_since_prior_order: Float, order_detail: String)

/** Dimension row (reference ProductDetail, ApplaudoETL.scala:15). */
case class ProductDetail(product_name: String, aisle: String,
                         department: String)

/** The reference pipeline (carlossegovia/scala-etl-test), re-expressed
  * Spark-first. Each stage is a pure DataFrame -> DataFrame function —
  * independently callable like the reference's public methods — built
  * from the generic operators in graft.operators.
  *
  * Deliberate differences at identical semantics (SURVEY.md §4):
  *  - both classification UDFs (ApplaudoETL.scala:200-211, 234-245) are
  *    native `when` chains -> whole pipeline is codegen-able;
  *  - all 21 quantile thresholds come from ONE job, not 7 serial
  *    driver actions (ApplaudoETL.scala:250-257);
  *  - per-user classification is one `groupBy` aggregate per stage,
  *    not window sums + `dropDuplicates` (SURVEY.md §3.2-3.3);
  *  - the validated frame is cached before fan-out (the reference
  *    recomputes it >= 9 times, SURVEY.md §3.3);
  *  - chained withColumn stages collapse into single selects.
  */
object ReferenceEtl {

  val ProductSchema: StructType = Encoders.product[Product].schema

  /** Department sets (reference ApplaudoETL.scala:196-198). */
  val MomDepartments: Seq[String] =
    Seq("dairy eggs", "bakery", "household", "babies")
  val SingleDepartments: Seq[String] =
    Seq("canned goods", "meat seafood", "alcohol", "snacks", "beverages")
  val PetFriendlyDepartments: Seq[String] =
    Seq("canned goods", "pets", "frozen")

  /** P1-P8 (reference mergeAndTransformProductData,
    * ApplaudoETL.scala:156-168): positional union of the two order
    * sources, explode the `~`-packed `product|aisle|qty` triples,
    * project + repair. All narrow — a pure map stage at any scale. */
  def mergeAndTransform(blobOrders: DataFrame, dbOrders: DataFrame): DataFrame = {
    val unioned = blobOrders.union(dbOrders) // positional, like the reference
    Flatten.explodeRecords(unioned, "order_detail", "~", "\\|",
        Seq(("product", 0, None), ("aisles", 1, None),
          ("number_of_products", 2, Some("int"))))
      .withColumn("product",
        regexp_replace(col("product"), "[^\\x00-\\x7F]", ""))
      .withColumn("days_since_prior_order",
        col("days_since_prior_order").cast("int"))
      .withColumn("order_hour_of_day",
        when(col("order_hour_of_day") === 24, 0)
          .otherwise(col("order_hour_of_day")))
  }

  /** J1 (ApplaudoETL.scala:39-44): broadcast LEFT join against the
    * product dimension; dim columns disambiguated then dropped. */
  def joinProductDetails(products: DataFrame, dim: DataFrame): DataFrame =
    products.join(
        broadcast(dim.withColumnRenamed("aisle", "aisle_pd")),
        products("product") === dim("product_name"), "left")
      .drop("aisle_pd", "product_name")

  /** P10-P12: schema-driven trim/abs repair. */
  def validate(df: DataFrame): DataFrame = Validate.clean(df)

  /** U1 (ApplaudoETL.scala:195-225): per-user category from one `groupBy`
    * of conditional sums (partial aggregation shuffles ~one row per user
    * per task), with the reference's integer-division semantics (label
    * applies iff 100% of the user's products are in the set).
    * Result: (user_id, category), one row per user, deterministic. */
  def clientsCategory(validated: DataFrame): DataFrame = {
    def condSum(depts: Seq[String]) =
      sum(when(col("department").isin(depts: _*),
        col("number_of_products")).otherwise(0))
    val category = Classify.allOrNothingCategory(
      Seq("Mom" -> condSum(MomDepartments),
        "Single" -> condSum(SingleDepartments),
        "Pet Friendly" -> condSum(PetFriendlyDepartments)),
      sum(col("number_of_products")), "A complete mystery")
    validated.groupBy(col("user_id")).agg(category.as("category"))
  }

  /** U2 + A3 (ApplaudoETL.scala:231-264): per-day exact quartiles of
    * number_of_products (ONE job, not 7), broadcast-joined; per-user
    * total; strict `>` thresholds with the reference's dspo gaps at
    * {8, 9, 20}.
    *
    * One `groupBy("user_id")` yields each user's total and picked row:
    * the highest (order_number, order_id) among rows whose non-null dow
    * can join a threshold row (no such row: the user drops out). This
    * resolves the reference's any-row dropDuplicates (SURVEY.md §3.3)
    * deterministically, so `deterministic` no longer changes the plan.
    */
  def clientsSegmentation(validated: DataFrame,
                          deterministic: Boolean = false,
                          interpolatedQuantiles: Boolean = false): DataFrame = {
    // default: element-based quantiles — the reference's
    // approxQuantile(err=0) convention, all 7 days x 3 quartiles in one
    // job. `interpolatedQuantiles` switches to percentile_cont (==
    // DuckDB quantile_cont) for cross-engine-exact oracle gating; both
    // flavors feed the same strict-> comparisons.
    val thresholds = (if (interpolatedQuantiles)
        Quantiles.perGroup(validated, "order_dow",
          "number_of_products", Seq(0.25, 0.5, 0.75))
      else
        Quantiles.perGroupElement(validated, "order_dow",
          "number_of_products", Seq(0.25, 0.5, 0.75)))
      .withColumnRenamed("order_dow", "dow")
    // struct max orders nulls lowest == ORDER BY ... DESC NULLS LAST
    val perUser = validated.groupBy(col("user_id")).agg(
      sum(col("number_of_products")).as("total"),
      max(when(col("order_dow").isNotNull, struct(col("order_number"),
        col("order_id"), col("order_dow"), col("days_since_prior_order"))))
        .as("pick"))
    val joined = perUser.join(broadcast(thresholds),
      col("pick.order_dow") === col("dow"))
    val dspo = col("pick.days_since_prior_order")
    val total = col("total")
    val segment =
      when(dspo <= 7 && total > col("q75"), "You've Got a Friend in Me")
      .when(dspo.between(10, 19) && total > col("q50"), "Baby come Back")
      .when(dspo > 20 && total > col("q25"), "Special Offers")
      .otherwise("Undefined")
    joined.select(col("user_id"), segment.as("client_segment"))
  }

  /** J2 (ApplaudoETL.scala:59): merge the two per-user classifications. */
  def clients(category: DataFrame, segmentation: DataFrame): DataFrame =
    category.join(segmentation, Seq("user_id"))

  /** Full pipeline: sources -> products + clients frames. The validated
    * frame is cached: three downstream consumers (products sink,
    * category, segmentation+quantiles) would otherwise re-read and
    * re-explode every source. */
  def run(spark: SparkSession, blobOrders: DataFrame, dbOrders: DataFrame,
          productDim: DataFrame,
          deterministicSegments: Boolean = false,
          interpolatedQuantiles: Boolean = false): (DataFrame, DataFrame) = {
    val merged = mergeAndTransform(blobOrders, dbOrders)
    val products = validate(joinProductDetails(merged, productDim)).cache()
    val cat = clientsCategory(products)
    val seg = clientsSegmentation(products, deterministicSegments,
      interpolatedQuantiles)
    (products, clients(cat, seg))
  }
}
