package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths}

/** Per-layer metrics of a traced run, per operation, and the trace file
  * with each operation's raw counts. */
object Layers {

  /** (name, unit) of every per-layer metric, in report order. */
  val Metrics: Seq[(String, String)] = Seq(
    "plan.statements" -> "count", "plan.analysis_ms" -> "ms",
    "plan.optimization_ms" -> "ms", "plan.planning_ms" -> "ms",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.failed_tasks" -> "count", "exec.job_wall_ms" -> "ms", "exec.task_ms" -> "ms",
    "exec.task_cpu_ms" -> "ms", "exec.gc_ms" -> "ms", "exec.input_rows" -> "rows",
    "exec.input_bytes" -> "bytes", "exec.output_bytes" -> "bytes",
    "exec.shuffle_write_bytes" -> "bytes", "exec.shuffle_read_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes", "exec.slot_use" -> "ratio",
    "driver.gap_ms" -> "ms", "driver.other_ms" -> "ms",
    "fs.open" -> "count", "fs.create" -> "count", "fs.get_file_status" -> "count",
    "fs.list_status" -> "count", "fs.rename" -> "count", "fs.delete" -> "count",
    "fs.mkdirs" -> "count", "fs.bytes_read" -> "bytes", "fs.bytes_written" -> "bytes",
    "table.insert_ms" -> "ms", "table.merge_ms" -> "ms", "table.delete_ms" -> "ms",
    "table.update_ms" -> "ms", "table.maintain_ms" -> "ms",
    "table.versions" -> "count", "table.data_files" -> "count", "table.dv_files" -> "count",
    "table.meta_bytes" -> "bytes", "table.write_amp" -> "ratio", "table.scan_amp" -> "ratio",
    "etl.read_files_ms" -> "ms", "etl.read_jdbc_ms" -> "ms", "etl.read_api_ms" -> "ms",
    "etl.build_ms" -> "ms", "etl.write_products_ms" -> "ms", "etl.write_clients_ms" -> "ms",
    "ops.quality_ms" -> "ms", "ops.exact_dedup_ms" -> "ms", "ops.candidates_ms" -> "ms",
    "ops.verify_ms" -> "ms", "ops.cluster_ms" -> "ms", "ops.write_ms" -> "ms",
    "ops.candidate_pairs" -> "count", "ops.pair_yield" -> "ratio",
    "trace.overhead_ms" -> "ms")

  def files(dir: String, keep: String => Boolean): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.filter(f => Files.isRegularFile(f) && keep(f.toString)).count()
      finally st.close()
    }
  }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Span self times folded into each operation's record. */
  private def spanTimes(ctx: Ctx, ops: Seq[OpRecord]): Unit = {
    val byIndex = ops.map(o => o.index -> o).toMap
    ctx.spans.all.foreach { s =>
      byIndex.get(s.op).foreach { o =>
        o.spans(s.name) = o.spans.getOrElse(s.name, 0.0) + ctx.spans.selfMs(s) }
    }
  }

  def metrics(ctx: Ctx, w: Workload, all: Seq[OpRecord],
              state: Map[String, Double]): Seq[(String, Double, String)] = {
    spanTimes(ctx, all)
    val ops = all.filter(_.ok)
    def c(o: OpRecord, k: String) = o.counts.getOrElse(k, 0.0)
    def per(k: String) = mean(ops.map(c(_, k)))
    def total(k: String) = ops.map(c(_, k)).sum
    def planMs(o: OpRecord) =
      c(o, "plan.analysis_ms") + c(o, "plan.optimization_ms") + c(o, "plan.planning_ms")
    val rows = ops.map(_.rows).sum.toDouble
    val derived = Map(
      "exec.slot_use" -> total("exec.task_ms") / math.max(1.0, total("exec.job_wall_ms") * ctx.cores),
      "driver.gap_ms" -> mean(ops.map(o => o.wallMs - o.traceMs - c(o, "exec.job_wall_ms"))),
      "driver.other_ms" -> mean(ops.map(o =>
        o.wallMs - o.traceMs - c(o, "exec.job_wall_ms") - planMs(o))),
      "table.write_amp" -> (if (w.rowBytes > 0 && rows > 0)
        total("fs.bytes_written") / (rows * w.rowBytes) else 0.0),
      "table.scan_amp" -> (if (rows > 0) total("exec.input_rows") / rows else 0.0),
      "ops.pair_yield" -> (if (total("ops.candidate_pairs") > 0)
        total("ops.verified_pairs") / total("ops.candidate_pairs") else 0.0),
      "trace.overhead_ms" -> mean(ops.map(_.traceMs)))
    Metrics.map { case (name, unit) =>
      val v = derived.get(name).orElse(state.get(name)).getOrElse {
        if (Seq("table.", "etl.", "ops.").exists(name.startsWith) && name.endsWith("_ms")) {
          val xs = ops.flatMap(_.spans.get(name))
          if (xs.isEmpty) 0.0 else Main.quantile(xs, 0.5)
        } else per(name)
      }
      (name, v, unit)
    }
  }

  private def obj(m: Iterable[(String, Double)]): String =
    m.map { case (k, v) => s""""$k": ${java.math.BigDecimal.valueOf(v).toPlainString}""" }
      .mkString("{", ", ", "}")

  /** One JSON object: per operation its kind, wall and trace time, rows,
    * counts and span self times; then the end-of-window table state. */
  def writeTrace(path: String, ctx: Ctx, ops: Seq[OpRecord], state: Map[String, Double]): Unit = {
    new File(path).getAbsoluteFile.getParentFile.mkdirs()
    val pw = new PrintWriter(path, "UTF-8")
    try {
      pw.println("{\"ops\": [")
      pw.println(ops.map { o =>
        s"""  {"index": ${o.index}, "kind": "${o.kind}", "ok": ${o.ok}, "wall_ms": ${o.wallMs}, """ +
          s""""trace_ms": ${o.traceMs}, "rows": ${o.rows}, "counts": ${obj(o.counts)}, """ +
          s""""spans": ${obj(o.spans)}}"""
      }.mkString(",\n"))
      pw.println(s"""], "state": ${obj(state)}}""")
    } finally pw.close()
  }
}
