package graft.etl

import scala.util.Random

import graft.SparkSpec
import graft.operators.{Classify, Quantiles}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Deduplicate, Window => WindowNode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The per-user clients stages (`groupBy` aggregates) against the
  * reference's window formulation, kept here as the oracle: window sums +
  * `dropDuplicates` for the category, window total + threshold join +
  * any-row `dropDuplicates` or `row_number` pick for the segment. */
class ClientsEquivalenceSpec extends SparkSpec {

  // ---- oracle: the reference-shaped window formulation ------------------

  private def windowCategory(validated: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
    def condSum(depts: Seq[String]) =
      sum(when(col("department").isin(depts: _*),
        col("number_of_products")).otherwise(0)).over(w)
    val withSums = validated
      .withColumn("total", sum(col("number_of_products")).over(w))
      .withColumn("mom", condSum(ReferenceEtl.MomDepartments))
      .withColumn("single", condSum(ReferenceEtl.SingleDepartments))
      .withColumn("pet", condSum(ReferenceEtl.PetFriendlyDepartments))
    val category = Classify.allOrNothingCategory(
      Seq("Mom" -> col("mom"), "Single" -> col("single"),
        "Pet Friendly" -> col("pet")),
      col("total"), "A complete mystery")
    withSums.withColumn("category", category)
      .select(col("user_id"), col("category"))
      .dropDuplicates(Seq("user_id"))
  }

  /** Every joined row with its segment, before the per-user pick. */
  private def windowSegmentedRows(validated: DataFrame,
                                  interpolated: Boolean): DataFrame = {
    val thresholds = (if (interpolated)
        Quantiles.perGroup(validated, "order_dow", "number_of_products",
          Seq(0.25, 0.5, 0.75))
      else
        Quantiles.perGroupElement(validated, "order_dow",
          "number_of_products", Seq(0.25, 0.5, 0.75)))
      .withColumnRenamed("order_dow", "dow")
    val withTotal = validated.withColumn("total_products_bought",
      sum(col("number_of_products")).over(Window.partitionBy("user_id")))
    val joined = withTotal.join(broadcast(thresholds),
      col("order_dow") === col("dow"))
    val dspo = col("days_since_prior_order")
    val segment =
      when(dspo <= 7 && col("total_products_bought") > col("q75"),
        "You've Got a Friend in Me")
      .when(dspo.between(10, 19) && col("total_products_bought") > col("q50"),
        "Baby come Back")
      .when(dspo > 20 && col("total_products_bought") > col("q25"),
        "Special Offers")
      .otherwise("Undefined")
    joined.withColumn("client_segment", segment)
  }

  private def windowSegmentation(validated: DataFrame, deterministic: Boolean,
                                 interpolated: Boolean): DataFrame = {
    val segmented = windowSegmentedRows(validated, interpolated)
    if (deterministic) {
      val pick = Window.partitionBy("user_id")
        .orderBy(col("order_number").desc, col("order_id").desc)
      segmented.withColumn("__rn", row_number().over(pick))
        .filter(col("__rn") === 1)
        .select(col("user_id"), col("client_segment"))
    } else {
      segmented.select(col("user_id"), col("client_segment"))
        .dropDuplicates(Seq("user_id"))
    }
  }

  // ---- fixture -----------------------------------------------------------

  private val schema = StructType(Seq(
    StructField("order_id", LongType), StructField("user_id", LongType),
    StructField("order_number", IntegerType),
    StructField("order_dow", IntegerType),
    StructField("order_hour_of_day", IntegerType),
    StructField("days_since_prior_order", IntegerType),
    StructField("product", StringType), StructField("aisles", StringType),
    StructField("number_of_products", IntegerType),
    StructField("department", StringType)))

  /** One order exploded into items: every item shares the order's
    * (order_number, order_id, order_dow, dspo), so a user's top order ties
    * across its items. */
  private case class Order(id: java.lang.Long, user: java.lang.Long,
                           number: Integer, dow: Integer, dspo: Int,
                           items: Seq[(Integer, String)])

  private val NullDowUser = 101L     // only null-dow rows
  private val NullDowTopUser = 102L  // top order has a null dow
  private val TieUser = 103L         // top order has three items
  private val NullNumberUser = 104L  // one order with a null order_number
  private val NullQuantileUser = 105L // picked dow 6, all its counts null
  private val NullDeptUser = 107L    // every department null

  private lazy val orders: Seq[Order] = {
    val rnd = new Random(11)
    val depts = ReferenceEtl.MomDepartments ++ ReferenceEtl.SingleDepartments ++
      ReferenceEtl.PetFriendlyDepartments ++ Seq("produce", null)
    var id = 1L
    val random = for (u <- 1L to 40L; k <- 1 to 1 + rnd.nextInt(4)) yield {
      id += 1
      Order(id, u,
        if (rnd.nextInt(20) == 0) null else Int.box(k),
        if (rnd.nextInt(10) == 0) null else Int.box(rnd.nextInt(6)),
        rnd.nextInt(31),
        Seq.fill(1 + rnd.nextInt(3))(
          (if (rnd.nextInt(20) == 0) null else Int.box(1 + rnd.nextInt(12)),
            depts(rnd.nextInt(depts.length)))))
    }
    def items(n: Int*) = n.map(i => (Int.box(i), "dairy eggs"))
    random ++ Seq(
      Order(5001L, NullDowUser, 1, null, 3, items(4, 5)),
      Order(5002L, NullDowUser, 2, null, 12, items(6)),
      Order(5003L, NullDowTopUser, 9, null, 25, items(90)),
      Order(5004L, NullDowTopUser, 1, 2, 3, items(1, 1)),
      Order(5005L, TieUser, 5, 4, 15, Seq((Int.box(7), "snacks"),
        (Int.box(8), "beverages"), (Int.box(9), "alcohol"))),
      Order(5006L, TieUser, 2, 1, 30, items(2)),
      Order(6000L, NullNumberUser, null, 1, 25, items(30)),
      Order(5999L, NullNumberUser, 1, 3, 3, items(30)),
      Order(5007L, NullQuantileUser, 3, 6, 2, Seq((null, "pets"))),
      Order(5008L, NullQuantileUser, 1, 0, 25, Seq((Int.box(40), "pets"))),
      Order(5009L, NullDeptUser, 1, 5, 12, Seq((Int.box(3), null),
        (Int.box(11), null))),
      Order(5010L, null, 1, 2, 4, items(12)),
      Order(5011L, null, 2, 5, 22, items(3, 4)),
      Order(5012L, 108L, 1, 0, 5, items(10, 20)),
      Order(5013L, 109L, 1, 1, 15, Seq((Int.box(50), "snacks"))),
      Order(5014L, 110L, 1, 3, 28, Seq((Int.box(60), "frozen"))))
  }

  private lazy val validated: DataFrame = {
    val rows = orders.flatMap { o =>
      o.items.zipWithIndex.map { case ((n, dept), i) =>
        Row(o.id, o.user, o.number, o.dow, 10, o.dspo, s"p$i", "aisle", n, dept)
      }
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
      .cache()
  }

  private def rows(df: DataFrame): Set[Row] = df.collect().toSet

  // ---- equivalence -------------------------------------------------------

  test("category aggregate == window sums + dropDuplicates") {
    val got = rows(ReferenceEtl.clientsCategory(validated))
    assert(got == rows(windowCategory(validated)))
    val byUser = got.map(r => Option(r.get(0)) -> r.getString(1)).toMap
    assert(byUser.size == got.size)
    assert(byUser.contains(None), "null user_id keeps its own row")
    assert(byUser(Some(NullDowUser)) == "Mom")
    assert(byUser(Some(NullDeptUser)) == "A complete mystery")
    assert(byUser(Some(108L)) == "Mom")
    assert(byUser(Some(109L)) == "Single")
    assert(byUser(Some(110L)) == "Pet Friendly")
  }

  for (interpolated <- Seq(false, true); deterministic <- Seq(false, true)) {
    test(s"segmentation aggregate == window pick " +
        s"(deterministic=$deterministic, interpolated=$interpolated)") {
      val got = rows(ReferenceEtl.clientsSegmentation(validated,
        deterministic, interpolated))
      // the row_number pick is the oracle for both modes: ties on
      // (order_number, order_id) only occur within one order
      assert(got == rows(windowSegmentation(validated, deterministic = true,
        interpolated)))
      // and every answer is one the reference's any-row dedup may give
      val candidates = windowSegmentedRows(validated, interpolated)
        .select("user_id", "client_segment").collect()
        .groupBy(r => Option(r.get(0))).map { case (u, rs) =>
          u -> rs.map(_.getString(1)).toSet }
      val anyRow = rows(windowSegmentation(validated, deterministic = false,
        interpolated)).map(r => Option(r.get(0)))
      val byUser = got.map(r => Option(r.get(0)) -> r.getString(1)).toMap
      assert(byUser.size == got.size)
      assert(byUser.keySet == anyRow)
      byUser.foreach { case (u, seg) => assert(candidates(u)(seg), s"user $u") }
      // the fixture's edge cases are exercised
      assert(!byUser.contains(Some(NullDowUser)))
      assert(byUser.contains(None))
      assert(byUser(Some(NullDowTopUser)) == "You've Got a Friend in Me")
      assert(byUser(Some(NullNumberUser)) == "You've Got a Friend in Me")
      assert(byUser(Some(NullQuantileUser)) == "Undefined")
      assert(byUser.contains(Some(TieUser)))
    }
  }

  test("clients join matches the window formulation") {
    for (interpolated <- Seq(false, true)) {
      val got = ReferenceEtl.clients(ReferenceEtl.clientsCategory(validated),
        ReferenceEtl.clientsSegmentation(validated, interpolatedQuantiles =
          interpolated))
      val want = ReferenceEtl.clients(windowCategory(validated),
        windowSegmentation(validated, deterministic = true, interpolated))
      assert(rows(got) == rows(want), s"interpolated=$interpolated")
    }
  }

  // ---- plan shape --------------------------------------------------------

  test("clients plan has no Window and no Deduplicate; modes share one plan") {
    def clients(deterministic: Boolean) = ReferenceEtl.clients(
      ReferenceEtl.clientsCategory(validated),
      ReferenceEtl.clientsSegmentation(validated, deterministic))
    for (det <- Seq(false, true)) {
      val qe = clients(det).queryExecution
      for (plan <- Seq(qe.analyzed, qe.optimizedPlan)) {
        assert(plan.collectFirst { case w: WindowNode => w }.isEmpty,
          s"Window in plan:\n$plan")
        assert(plan.collectFirst { case d: Deduplicate => d }.isEmpty,
          s"Deduplicate in plan:\n$plan")
      }
    }
    assert(clients(false).queryExecution.optimizedPlan
      .sameResult(clients(true).queryExecution.optimizedPlan))
  }
}
