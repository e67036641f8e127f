package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.sql.{Connection, DriverManager}

import scala.collection.mutable

import graft.etl.{GraftEtl, ReferenceEtl}
import graft.sources.{CsvWatermarkSource, HttpJsonSource, JdbcSource, ParquetSink}

/** etl_reference: the paper's pipeline at a tenth of the notebook's volumes, driven
  * through `GraftEtl`'s source methods, `ReferenceEtl` and two
  * `ParquetSink`s. One operation is one full pass, sources to both
  * tables written. */
final class EtlReference extends Workload {

  private val Driver = "org.apache.derby.jdbc.EmbeddedDriver"
  private var in: Gen.EtlInputs = _
  private var etl: GraftEtl = _
  private var out: String = _
  private var conn: Connection = _ // keeps the in-memory database alive

  def digest(seed: Long): String = Gen.digest(Gen.etl(seed).digestParts)

  def setup(ctx: Ctx): Unit = {
    in = Gen.etl(ctx.seed)
    val csvDir = ctx.dir("orders")
    in.csvFiles.foreach { case (n, t) => Files.write(Paths.get(csvDir, n), t.getBytes(UTF_8)) }
    val url = "jdbc:derby:memory:perfbench"
    Class.forName(Driver)
    conn = DriverManager.getConnection(s"$url;create=true")
    val st = conn.createStatement()
    st.execute("CREATE TABLE ORDER_DETAILS (ORDER_ID VARCHAR(20), USER_ID VARCHAR(20), " +
      "ORDER_NUMBER VARCHAR(10), ORDER_DOW VARCHAR(10), ORDER_HOUR_OF_DAY VARCHAR(10), " +
      "DAYS_SINCE_PRIOR_ORDER VARCHAR(10), ORDER_DETAIL VARCHAR(32672))")
    st.close()
    conn.setAutoCommit(false)
    val ps = conn.prepareStatement("INSERT INTO ORDER_DETAILS VALUES (?, ?, ?, ?, ?, ?, ?)")
    in.dbRows.grouped(2000).foreach { batch =>
      batch.foreach { o =>
        Seq(o.orderId, o.userId, o.orderNumber, o.dow, o.hour, o.dspo, o.detail)
          .zipWithIndex.foreach { case (v, i) => ps.setString(i + 1, v.toString) }
        ps.addBatch()
      }
      ps.executeBatch()
    }
    conn.commit(); ps.close()
    out = ctx.dir("out")
    etl = new GraftEtl(ctx.spark,
      CsvWatermarkSource(csvDir, ReferenceEtl.ProductSchema, fileNumberGt = in.fileWatermark),
      JdbcSource(url, "ORDER_DETAILS", "", "", Driver,
        watermark = Some(("order_id", in.dbWatermark))),
      new HttpJsonSource("http://products.invalid/api/products", _ => in.payload),
      Some(out), deterministicSegments = true)
  }

  def warmup(ctx: Ctx): Unit = run(ctx, new OpRecord("pass", -1))

  def nextKind: String = "pass"

  def run(ctx: Ctx, op: OpRecord): Boolean = {
    val files = ctx.span("etl.read_files_ms")(etl.ordersFromFiles())
    val db = ctx.span("etl.read_jdbc_ms")(etl.ordersFromDb())
    val api = ctx.span("etl.read_api_ms")(etl.productDetails())
    val (products, clients) = ctx.span("etl.build_ms")(
      ReferenceEtl.run(ctx.spark, files, db, api, deterministicSegments = true))
    ctx.span("etl.write_products_ms")(ParquetSink(out, "products").write(products))
    ctx.span("etl.write_clients_ms")(ParquetSink(out, "clients").write(clients))
    true
  }

  def check(ctx: Ctx): Seq[String] = {
    val m = EtlModel(in)
    val spark = ctx.spark
    val products = Check.spark(spark.read.parquet(s"$out/products"), EtlModel.ProductCols)
    val got = spark.read.parquet(s"$out/clients")
      .select("user_id", "category", "client_segment").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    val bad = m.clients.count { case (u, v) => !got.get(u).contains(v) }
    Seq(
      if (m.products.same(products)) None
      else Some(s"products: got ${products._1} rows, hash sum ${products._2}; model ${m.products}"),
      if (got.size == m.clients.size && bad == 0) None
      else Some(s"clients: got ${got.size} rows, model ${m.clients.size}, $bad differ")
    ).flatten
  }

  def spaceAmp(ctx: Ctx): Double =
    Main.plainRatio(ctx, Seq(s"$out/products", s"$out/clients"))

  override def state(ctx: Ctx): Map[String, Double] = Map(
    "table.data_files" -> Layers.files(out, _.endsWith(".parquet")).toDouble)

}

/** The pipeline's expected output computed in plain Scala from the
  * generated orders: the products table as a fingerprint, the clients
  * table row by row (deterministic segments). */
final case class EtlModel(products: Check.Fingerprint, clients: Map[Long, (String, String)])

object EtlModel {

  val ProductCols = Seq("order_id", "user_id", "order_number", "order_dow",
    "order_hour_of_day", "days_since_prior_order", "product", "aisles",
    "number_of_products", "department")

  private def trim(s: String): String = {
    var a = 0; var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    s.substring(a, b)
  }

  def apply(in: Gen.EtlInputs): EtlModel = {
    val dept = in.dims.iterator.map(d => d.name -> d.department).toMap
    val fp = new Check.Fingerprint
    // per user: total, mom, single, pet sums and the latest order
    final class U(var total: Long = 0, var mom: Long = 0, var single: Long = 0,
                  var pet: Long = 0, var last: (Int, Long) = (Int.MinValue, Long.MinValue),
                  var dspo: Int = 0, var dow: Int = 0)
    val users = mutable.LongMap.empty[U]
    val qtyByDow = Array.fill(7)(mutable.ArrayBuffer.empty[Int])
    val mom = ReferenceEtl.MomDepartments.toSet
    val single = ReferenceEtl.SingleDepartments.toSet
    val pet = ReferenceEtl.PetFriendlyDepartments.toSet
    (in.csvOrders.iterator ++ in.dbOrders.iterator).foreach { o =>
      val hour = math.abs(if (o.hour == 24) 0 else o.hour)
      val dspo = math.abs(o.dspo.toFloat.toInt)
      val u = users.getOrElseUpdate(o.userId, new U)
      if (o.orderNumber > u.last._1 || (o.orderNumber == u.last._1 && o.orderId > u.last._2)) {
        u.last = (o.orderNumber, o.orderId); u.dspo = dspo; u.dow = o.dow
      }
      o.items.foreach { it =>
        val stripped = it.product.filter(_ <= '\u007f')
        val d = dept.get(stripped)
        fp.add(Seq(o.orderId, o.userId, o.orderNumber, o.dow, hour, dspo,
          trim(stripped), trim(it.aisle), it.qty, d.map(trim).getOrElse(Check.Null)).mkString("|"))
        u.total += it.qty
        d.foreach { x =>
          if (mom(x)) u.mom += it.qty
          if (single(x)) u.single += it.qty
          if (pet(x)) u.pet += it.qty
        }
        qtyByDow(o.dow) += it.qty
      }
    }
    // element quantiles: the value at rank ceil(p * n)
    val q = qtyByDow.map { vs =>
      val s = vs.toArray.sorted
      Seq(0.25, 0.5, 0.75).map(p => s(math.ceil(p * s.length).toInt - 1).toLong)
    }
    val clients = users.iterator.map { case (id, u) =>
      val category =
        if (u.mom == u.total) "Mom" else if (u.single == u.total) "Single"
        else if (u.pet == u.total) "Pet Friendly" else "A complete mystery"
      val Seq(q25, q50, q75) = q(u.dow)
      val segment =
        if (u.dspo <= 7 && u.total > q75) "You've Got a Friend in Me"
        else if (u.dspo >= 10 && u.dspo <= 19 && u.total > q50) "Baby come Back"
        else if (u.dspo > 20 && u.total > q25) "Special Offers"
        else "Undefined"
      id -> (category, segment)
    }.toMap
    EtlModel(fp, clients)
  }
}
