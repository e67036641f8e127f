package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{ConsoleSink, GraftConfig, JdbcSource, ParquetSink, Sink, Source}

/** Drop-in-shaped entry point mirroring the reference's public API
  * (`ApplaudoETL(spark, resultPath, productsTableName, clientsTableName)`
  * with `start()` and independently callable stage methods,
  * ApplaudoETL.scala:21-66): a user of the reference switches by
  * constructing this with their three sources and calling `start()`.
  *
  * Differences by design: sources arrive as [[graft.sources.Source]]
  * values (constructed from [[GraftConfig]] by the caller or
  * [[GraftEtlMain]]) instead of hard-wired connection strings, and no
  * credential ever lives in the code or repo.
  * `deterministicSegments` no longer changes the plan: segments always
  * come from each user's highest (order_number, order_id) row, see
  * [[ReferenceEtl.clientsSegmentation]].
  */
class GraftEtl(spark: SparkSession,
               ordersFiles: Source,
               ordersDb: Source,
               productDim: Source,
               resultPath: Option[String],
               productsTable: String = "products",
               clientsTable: String = "clients",
               deterministicSegments: Boolean = false) {

  /** Reference getDataFromBlobStorage: watermarked file batch. */
  def ordersFromFiles(): DataFrame = ordersFiles.read(spark)

  /** Reference getDataFromSQLServer incl. the S5 all-string
    * normalization to the Product schema. */
  def ordersFromDb(): DataFrame =
    JdbcSource.castTo(ordersDb.read(spark), ReferenceEtl.ProductSchema)

  /** Reference getDataFromAPI: small dimension table. */
  def productDetails(): DataFrame = productDim.read(spark)

  private def sinkFor(table: String): Sink =
    resultPath.map(p => ParquetSink(p, table): Sink).getOrElse(ConsoleSink())

  /** Reference start(): run the full pipeline and store (parquet under
    * resultPath) or show (no result path) both output tables. */
  def start(): Unit = {
    val (products, clientsDf) = ReferenceEtl.run(spark, ordersFromFiles(),
      ordersFromDb(), productDetails(), deterministicSegments)
    sinkFor(productsTable).write(products)
    sinkFor(clientsTable).write(clientsDf)
  }
}

/** CLI contract of the reference `StartETL` (StartETL.scala:19-30):
  * optional `-r <resultPath>`, unknown options fail with usage text.
  * Source endpoints come from [[GraftConfig]] (env or properties), so
  * the binary carries no connection details.
  */
object GraftEtlMain {

  val Usage = "Usage: GraftEtlMain [-r <resultPath>]"

  /** Recursive option parse, same shape as the reference's nextOption. */
  @annotation.tailrec
  def parseArgs(args: List[String],
                acc: Option[String] = None): Option[String] = args match {
    case Nil => acc
    case "-r" :: path :: rest => parseArgs(rest, Some(path))
    case other :: _ =>
      throw new IllegalArgumentException(s"unknown option '$other'. $Usage")
  }

  def main(args: Array[String]): Unit = {
    val resultPath = parseArgs(args.toList)
    val spark = SparkSession.builder()
      .appName("GraftEtl")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    val cfg = new GraftConfig(resource = Some("graft.properties"))
    val etl = new GraftEtl(
      spark,
      graft.sources.CsvWatermarkSource(cfg("orders.files.path"),
        ReferenceEtl.ProductSchema,
        fileNumberGt = cfg.get("orders.files.watermark").fold(-1)(_.toInt)),
      JdbcSource(cfg("orders.jdbc.url"), cfg("orders.jdbc.table"),
        cfg("orders.jdbc.user"), cfg("orders.jdbc.password"),
        cfg("orders.jdbc.driver"),
        watermark = cfg.get("orders.jdbc.watermark")
          .map(v => ("order_id", v.toLong))),
      new graft.sources.HttpJsonSource(cfg("products.api.url")),
      resultPath)
    etl.start()
    spark.stop()
  }
}
