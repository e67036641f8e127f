package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row => SRow, SparkSession}
import org.apache.spark.sql.types._

import Gen._

/** SQL through the `gt` catalog ([[graft.sources.GraftCatalog]]). */
object TableSql {

  val Schema: StructType = StructType(Seq(StructField("k", LongType),
    StructField("grp", IntegerType), StructField("v", LongType),
    StructField("s", StringType)))
  val Cols = Seq("k", "grp", "v", "s")

  def create(spark: SparkSession, table: String): Unit =
    spark.sql(s"CREATE TABLE gt.$table (k BIGINT, grp INT, v BIGINT, s STRING) " +
      "TBLPROPERTIES ('write.stats.columns'='k', 'write.delete.mode'='merge-on-read')")

  def view(spark: SparkSession, name: String, rows: Seq[Gen.Row]): Unit =
    spark.createDataFrame(rows.map(r => SRow(r.k, r.grp, r.v, r.s)).asJava, Schema)
      .createOrReplaceTempView(name)

  /** The SQL of one statement; registers its source view first. */
  def sql(spark: SparkSession, table: String, st: Stmt): String = st match {
    case Insert(rows) =>
      view(spark, "src", rows)
      s"INSERT INTO gt.$table SELECT k, grp, v, s FROM src"
    case Merge(rows) =>
      view(spark, "src", rows)
      s"""MERGE INTO gt.$table t USING src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET grp = s.grp, v = s.v, s = s.s
         |WHEN NOT MATCHED THEN INSERT (k, grp, v, s) VALUES (s.k, s.grp, s.v, s.s)""".stripMargin
    case Delete(lo, hi, g) => s"DELETE FROM gt.$table WHERE k BETWEEN $lo AND $hi AND grp % 4 = $g"
    case Update(lo, hi, d) => s"UPDATE gt.$table SET v = v + $d WHERE k BETWEEN $lo AND $hi"
    case Optimize() => s"CALL gt.system.optimize(`table` => '$table', target_rows => 1000000)"
    case Purge() => s"CALL gt.system.purge_tombstones('$table', 1000000)"
  }

  def headVersion(spark: SparkSession, table: String): Int =
    spark.sql(s"SELECT max(version) FROM gt.$table.history").head().getAs[Number](0).intValue

  /** On-disk state of a table directory: manifests, data and
    * deletion-vector files, metadata bytes. */
  def state(dir: String): Map[String, Double] = {
    val root = new File(dir)
    val manifests = Option(new File(root, "_manifests").listFiles()).getOrElse(Array.empty)
    Map(
      "table.versions" -> manifests.count(_.getName.matches("v\\d+\\.json")).toDouble,
      "table.data_files" -> Layers.files(s"$dir/data",
        p => p.endsWith(".parquet") && !p.contains("-dv-")).toDouble,
      "table.dv_files" -> Layers.files(s"$dir/data",
        p => p.endsWith(".parquet") && p.contains("-dv-")).toDouble,
      "table.meta_bytes" -> root.listFiles().filter(_.getName != "data")
        .map(f => Main.dirBytes(f.getPath)).sum.toDouble)
  }
}

/** The table replayed from the statement log: key -> row. */
final class TableModel {
  val rows = mutable.LongMap.empty[Gen.Row]

  /** Applies a statement; returns the number of rows it changed. */
  def apply(st: Stmt): Long = st match {
    case Insert(rs) => rs.foreach(r => rows(r.k) = r); rs.length
    case Merge(rs) => rs.foreach(r => rows(r.k) = r); rs.length
    case Delete(lo, hi, g) =>
      val gone = rows.valuesIterator.filter(r => r.k >= lo && r.k <= hi && r.grp % 4 == g)
        .map(_.k).toVector
      gone.foreach(rows.remove); gone.length
    case Update(lo, hi, d) =>
      val hit = rows.valuesIterator.filter(r => r.k >= lo && r.k <= hi).toVector
      hit.foreach(r => rows(r.k) = r.copy(v = r.v + d)); hit.length
    case _ => 0L
  }

  def fingerprint: Check.Fingerprint = {
    val fp = new Check.Fingerprint
    rows.valuesIterator.foreach(r => fp.add(s"${r.k}|${r.grp}|${r.v}|${r.s}"))
    fp
  }

}

/** table_write: DML through SQL on a 200k-row table. One operation is
  * one statement; the output check compares the head and one
  * `VERSION AS OF` snapshot with the replayed statement log. */
final class TableWrite extends Workload {
  private val table = "tw"
  private var stream: WriteStream = _
  private val model = new TableModel
  private var pending: Stmt = _
  private var done = 0
  private var pinned: Option[(Int, Check.Fingerprint)] = None
  private var amp: Option[Double] = None
  private var dir: String = _
  private var bytesPerRow = 0.0

  def digest(seed: Long): String = Gen.digest(new WriteStream(seed).digestParts(200))

  private def exec(ctx: Ctx, st: Stmt): Long = {
    ctx.spark.sql(TableSql.sql(ctx.spark, table, st))
    model(st)
  }

  def setup(ctx: Ctx): Unit = {
    stream = new WriteStream(ctx.seed)
    dir = new File(ctx.work, s"warehouse/$table").getAbsolutePath
    TableSql.create(ctx.spark, table)
    ctx.spark.sql(s"INSERT INTO gt.$table ${Gen.seedSql(ctx.seed)}")
    stream.seedRows.foreach(r => model.rows(r.k) = r)
    pending = stream.next()
  }

  def warmup(ctx: Ctx): Unit = stream.warmup.foreach { st => exec(ctx, st); Main.tidy(ctx.spark) }

  def nextKind: String = pending.kind

  def run(ctx: Ctx, op: OpRecord): Boolean = {
    val st = pending
    pending = stream.next()
    val span = st match { case _: Optimize | _: Purge => "maintain"; case _ => st.kind }
    op.rows = ctx.span(s"table.${span}_ms")(exec(ctx, st))
    done += 1
    true
  }

  /** Untimed, between statements: pin a version for the time-travel
    * check after the fourth, and take space_amp after the fifth, so it
    * does not depend on how many statements fit in the window. */
  override def tidy(ctx: Ctx): Unit = {
    Main.tidy(ctx.spark)
    if (done == 4 && pinned.isEmpty)
      pinned = Some((TableSql.headVersion(ctx.spark, table), model.fingerprint))
    if (done == 5 && amp.isEmpty) amp = Some(measureAmp(ctx))
  }

  override def rowBytes: Double = bytesPerRow

  /** The DML statements; the maintenance calls run in the window but are
    * not statements a writer waits on. */
  override def timedKinds: Set[String] = Set("insert", "merge", "delete", "update")

  def check(ctx: Ctx): Seq[String] = {
    val head = Check.spark(ctx.spark.table(s"gt.$table"), TableSql.Cols)
    val fp = model.fingerprint
    val tt = pinned.map { case (v, pfp) =>
      (v, pfp, Check.spark(ctx.spark.sql(s"SELECT * FROM gt.$table VERSION AS OF $v"), TableSql.Cols))
    }
    Seq(
      if (fp.same(head)) None else Some(s"head: got ${head._1} rows, hash ${head._2}; model $fp"),
      tt.collect { case (v, pfp, got) if !pfp.same(got) =>
        s"VERSION AS OF $v: got ${got._1} rows, hash ${got._2}; model $pfp" }
    ).flatten
  }

  /** Bytes under the table directory / the live rows written once as
    * plain parquet; also sets the plain bytes per row (write_amp's base). */
  private def measureAmp(ctx: Ctx): Double = {
    val plain = ctx.dir("plain_head")
    ctx.spark.table(s"gt.$table").write.mode("overwrite").parquet(plain)
    val bytes = Main.dirBytes(plain).toDouble
    bytesPerRow = bytes / model.rows.size
    Main.dirBytes(dir) / bytes
  }

  def spaceAmp(ctx: Ctx): Double = amp.getOrElse(measureAmp(ctx))

  override def state(ctx: Ctx): Map[String, Double] = TableSql.state(dir)
}
