package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Everything a workload needs while it runs. */
final class Ctx(val spark: SparkSession, val work: String, val seed: Long,
                val cores: Int, val tracer: Option[Tracer]) {
  val spans = new Spans
  /** The operation now running (-1 during set-up and checks). */
  var op: Int = -1
  def span[T](name: String)(body: => T): T =
    if (tracer.isEmpty) body else spans(name, op)(body)
  def dir(name: String): String = {
    val d = new File(work, name); d.mkdirs(); d.getAbsolutePath
  }
}

/** One benchmark workload: a fixture, a seeded operation stream run in a
  * closed loop, and an output check against an independent model. */
trait Workload {
  /** Builds the inputs and loads them into the program's sources. */
  def setup(ctx: Ctx): Unit
  /** Operations run after setup and billed to it (JIT, codegen, caches). */
  def warmup(ctx: Ctx): Unit
  /** Kind of the next operation (a statement kind or "pass"). */
  def nextKind: String
  /** Runs the next operation; records the rows it produced in `op`.
    * Returns false on a wrong answer. */
  def run(ctx: Ctx, op: OpRecord): Boolean
  /** Between operations, untimed: drop temp views and caches. */
  def tidy(ctx: Ctx): Unit = Main.tidy(ctx.spark)
  /** Output checks after the window; returns the failures. */
  def check(ctx: Ctx): Seq[String]
  /** End-of-window state metrics of the traced run (table.*). */
  def state(ctx: Ctx): Map[String, Double] = Map.empty
  /** Bytes of one output row written once as plain parquet (write_amp). */
  def rowBytes: Double = 0.0
  /** Bytes the output occupies on disk / the same live rows written once
    * as plain parquet. */
  def spaceAmp(ctx: Ctx): Double
  /** The generated inputs, hashed (the seeded-generator test). */
  def digest(seed: Long): String
  /** Operation kinds the latency metrics cover. */
  def timedKinds: Set[String] = Set("pass")
}

object Main {

  val Workloads: Map[String, () => Workload] = Map(
    "etl_reference" -> (() => new EtlReference),
    "table_write" -> (() => new TableWrite),
    "curation_dedup" -> (() => new CurationDedup))

  case class Args(workload: String = "", seed: Long = 1, seconds: Double = 10,
                  trace: Boolean = false, work: String = "", traceOut: String = "",
                  digest: Boolean = false, train: Boolean = false)

  @annotation.tailrec
  def parse(a: List[String], acc: Args = Args()): Args = a match {
    case Nil => acc
    case "--workload" :: v :: t => parse(t, acc.copy(workload = v))
    case "--seed" :: v :: t => parse(t, acc.copy(seed = BigInt(v).longValue))
    case "--seconds" :: v :: t => parse(t, acc.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, acc.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, acc.copy(work = v))
    case "--trace-out" :: v :: t => parse(t, acc.copy(traceOut = v))
    case "--digest" :: t => parse(t, acc.copy(digest = true))
    case "--train" :: t => parse(t, acc.copy(train = true))
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  def tidy(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.listTables().collect().filter(_.isTemporary)
      .foreach(t => spark.catalog.dropTempView(t.name))
  }

  def session(work: String, cores: Int, trace: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getAbsolutePath)
      .config("spark.sql.catalog.gt", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.gt.warehouse", new File(work, "warehouse").getAbsolutePath)
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def quantile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = p * (s.length - 1)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def dirBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally st.close()
    }
  }

  /** Bytes under `dirs` / the same rows rewritten as plain parquet. */
  def plainRatio(ctx: Ctx, dirs: Seq[String]): Double = {
    val plain = dirs.zipWithIndex.map { case (d, i) =>
      val p = ctx.dir(s"plain/$i")
      ctx.spark.read.parquet(d).write.mode("overwrite").parquet(p)
      dirBytes(p)
    }
    dirs.map(dirBytes).sum.toDouble / plain.sum
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def json(correct: Boolean, attempted: Int, failed: Int,
           metrics: Seq[(String, Double, String)]): String =
    metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""", ", ", "}}")

  /** Sets up and warms every workload once in one JVM: the class-loading
    * run the build records its class-data-sharing archive from. */
  def train(work: String): Unit = {
    val spark = session(work, Runtime.getRuntime.availableProcessors(), trace = false)
    Workloads.toSeq.sortBy(_._1).foreach { case (name, w) =>
      val ctx = new Ctx(spark, new File(work, name).getPath, 0, 1, None)
      val wl = w()
      wl.setup(ctx); wl.warmup(ctx); wl.tidy(ctx)
    }
    spark.stop()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    if (a.train) { train(a.work); return }
    val w = Workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload '${a.workload}'"))()
    if (a.digest) { println(w.digest(a.seed)); return }
    require(a.work.nonEmpty, "--work <dir> is required")
    val code = try run(a, w) catch { case NonFatal(e) =>
      System.err.println(s"[perfbench] run aborted: $e"); e.printStackTrace(); 2 }
    System.out.flush()
    sys.exit(code)
  }

  def run(a: Args, w: Workload): Int = {
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = session(a.work, cores, a.trace)
    val ctx = new Ctx(spark, a.work, a.seed, cores,
      if (a.trace) Some(new Tracer(spark)) else None)
    val tSession = System.nanoTime()
    w.setup(ctx)
    val tFixture = System.nanoTime()
    w.warmup(ctx)
    w.tidy(ctx)
    val tReady = System.nanoTime()
    val setupS = (tReady - t0) / 1e9
    System.err.println(f"[perfbench] setup ${setupS}%.2f s (session ${(tSession - t0) / 1e9}%.2f, " +
      f"fixture ${(tFixture - tSession) / 1e9}%.2f, warm-up ${(tReady - tFixture) / 1e9}%.2f)")

    // the closed loop: one client, operations back to back
    val ops = mutable.ArrayBuffer.empty[OpRecord]
    var wrong = 0
    val deadline = tReady + (a.seconds * 1e9).toLong
    while (System.nanoTime() < deadline) {
      val op = new OpRecord(w.nextKind, ops.length)
      ctx.op = op.index
      val s = System.nanoTime()
      val right = try ctx.tracer.fold(w.run(ctx, op))(_.around(op)(w.run(ctx, op)))
        catch { case NonFatal(e) =>
          System.err.println(s"[perfbench] op ${op.index} (${op.kind}) failed: $e")
          op.ok = false; true }
      op.wallMs = (System.nanoTime() - s) / 1e6
      if (!right) { wrong += 1; op.ok = false }
      ops += op
      ctx.op = -1
      w.tidy(ctx)
    }
    val windowS = (System.nanoTime() - tReady) / 1e9
    val failed = ops.count(!_.ok)
    val state = if (a.trace) w.state(ctx) else Map.empty[String, Double]
    val problems = w.check(ctx) ++
      (if (wrong > 0) Seq(s"$wrong operation(s) returned a wrong answer") else Nil)
    problems.foreach(p => System.err.println(s"[perfbench] CHECK FAILED: $p"))
    val correct = problems.isEmpty && failed == 0
    // per kind, then combined with each kind weighing the same, so the
    // kind a window happens to end on does not move the figures; p50 is
    // the geometric mean of the kinds' medians, so a fast kind's noise
    // counts as much as a slow kind's and four kinds average it down
    val byKind = ops.filter(o => o.ok && w.timedKinds(o.kind)).groupBy(_.kind).values
      .map(_.map(_.wallMs).toSeq).toSeq
    def perKind(f: Seq[Double] => Double) =
      if (byKind.isEmpty) Double.NaN else byKind.map(f).sum / byKind.length
    val p50 = math.exp(perKind(k => math.log(quantile(k, 0.5))))
    System.err.println(f"[perfbench] ${ops.length} ops in $windowS%.2f s; p50 $p50%.1f ms")
    ctx.tracer.foreach(_.stop())

    val metrics =
      if (!a.trace) Seq(
        ("setup_s", setupS, "s"),
        ("p50_ms", p50, "ms"),
        ("ops_per_s", 1e3 / perKind(k => k.sum / k.length), "1/s"),
        ("space_amp", w.spaceAmp(ctx), "ratio"))
      else Layers.metrics(ctx, w, ops.toSeq, state)
    if (a.trace && a.traceOut.nonEmpty) Layers.writeTrace(a.traceOut, ctx, ops.toSeq, state)
    println(json(correct, ops.length, failed, metrics))
    spark.stop()
    if (correct) 0 else 1
  }
}
