package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The `file:` FileSystem of a traced run (registered through
  * `spark.hadoop.fs.file.impl`): the local filesystem with a counter
  * per metadata and data operation. Byte totals come from Hadoop's own
  * per-scheme statistics. */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._
  override def open(f: Path, bufferSize: Int) = { opens.incrementAndGet(); super.open(f, bufferSize) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable) = {
    creates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def getFileStatus(f: Path): FileStatus = { statuses.incrementAndGet(); super.getFileStatus(f) }
  override def listStatus(f: Path): Array[FileStatus] = { lists.incrementAndGet(); super.listStatus(f) }
  override def rename(src: Path, dst: Path): Boolean = { renames.incrementAndGet(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { deletes.incrementAndGet(); super.delete(f, recursive) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { dirs.incrementAndGet(); super.mkdirs(f, permission) }
}

object CountingFileSystem {
  val opens, creates, statuses, lists, renames, deletes, dirs = new AtomicLong

  private def schemeBytes: (Long, Long) = {
    var r = 0L; var w = 0L
    FileSystem.getAllStatistics.forEach { s =>
      if (s.getScheme == "file") { r += s.getBytesRead; w += s.getBytesWritten } }
    (r, w)
  }

  /** Counter values now, keyed by their per-layer metric names. */
  def snapshot(): Map[String, Long] = {
    val (r, w) = schemeBytes
    Map("fs.open" -> opens.get, "fs.create" -> creates.get,
      "fs.get_file_status" -> statuses.get, "fs.list_status" -> lists.get,
      "fs.rename" -> renames.get, "fs.delete" -> deletes.get,
      "fs.mkdirs" -> dirs.get, "fs.bytes_read" -> r, "fs.bytes_written" -> w)
  }
}

/** Counts and times attributed to one operation of the closed loop. */
final class OpRecord(val kind: String, val index: Int) {
  var wallMs = 0.0
  var traceMs = 0.0
  var ok = true
  var rows = 0L // rows the operation returned, changed or wrote
  val counts = mutable.LinkedHashMap.empty[String, Double]
  /** Span self times: span name -> milliseconds. */
  val spans = mutable.LinkedHashMap.empty[String, Double]
  def add(k: String, v: Double): Unit = counts(k) = counts.getOrElse(k, 0.0) + v
}

/** Collects the per-layer record of a traced run from outside the
  * program: a [[SparkListener]] (jobs, stages, tasks), a
  * [[QueryExecutionListener]] (planning phases per statement), the
  * [[CountingFileSystem]] counters and in-memory spans around each call
  * the benchmark makes into a module. One client thread issues the
  * operations, so everything between an operation's start and the
  * drained listener bus after its end belongs to it. */
final class Tracer(spark: SparkSession) {

  private val lock = new Object
  private var cur: OpRecord = null
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  private def inOp(f: OpRecord => Unit): Unit = lock.synchronized {
    if (cur != null) f(cur)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = inOp { op =>
      op.add("exec.jobs", 1); jobStart(e.jobId) = e.time }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = inOp { _ =>
      jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time))) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      inOp(_.add("exec.stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = inOp { op =>
      op.add("exec.tasks", 1)
      if (e.reason != Success) op.add("exec.failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        op.add("exec.task_ms", m.executorRunTime.toDouble)
        op.add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
        op.add("exec.gc_ms", m.jvmGCTime.toDouble)
        op.add("exec.input_rows", m.inputMetrics.recordsRead.toDouble)
        op.add("exec.input_bytes", m.inputMetrics.bytesRead.toDouble)
        op.add("exec.output_bytes", m.outputMetrics.bytesWritten.toDouble)
        op.add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        op.add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        op.add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = inOp { op =>
      op.add("plan.statements", 1)
      qe.tracker.phases.foreach { case (phase, s) =>
        phase match {
          case "analysis" => op.add("plan.analysis_ms", s.durationMs.toDouble)
          case "optimization" => op.add("plan.optimization_ms", s.durationMs.toDouble)
          case "planning" => op.add("plan.planning_ms", s.durationMs.toDouble)
          case _ =>
        }
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)

  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  private def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** Runs `body` as operation `op`: counters before and after, then the
    * listener bus drained so late events land on this operation. */
  def around[T](op: OpRecord)(body: => T): T = {
    val t0 = System.nanoTime()
    drain()
    val fs0 = CountingFileSystem.snapshot()
    lock.synchronized { cur = op; jobStart.clear(); jobIntervals.clear() }
    val traceSetup = System.nanoTime() - t0
    try body finally {
      val t1 = System.nanoTime()
      drain()
      val fs1 = CountingFileSystem.snapshot()
      lock.synchronized {
        cur = null
        fs1.foreach { case (k, v) => op.add(k, (v - fs0(k)).toDouble) }
        op.add("exec.job_wall_ms", unionMs(jobIntervals.toSeq))
      }
      op.traceMs = (traceSetup + System.nanoTime() - t1) / 1e6
    }
  }

  private def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s >= end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total.toDouble
  }
}

/** Spans of one run, kept in memory: name, start, end, parent span and
  * the operation that caused it. A span's self time is its duration
  * minus the part its child spans cover. */
final class Spans {
  final case class Span(id: Int, name: String, parent: Int, op: Int,
                        start: Long, var end: Long = -1L)
  val all = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]

  def apply[T](name: String, op: Int)(body: => T): T = {
    val s = Span(all.length, name, stack.headOption.getOrElse(-1), op, System.nanoTime())
    all += s; stack = s.id :: stack
    try body finally { s.end = System.nanoTime(); stack = stack.tail }
  }

  def selfMs(s: Span): Double = {
    val children = all.iterator.filter(_.parent == s.id).map(c => c.end - c.start).sum
    (s.end - s.start - children) / 1e6
  }
}
