package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** A [[FileIndex]] fed straight from the manifest — the table-format
  * answer to file listing (guide §6: "table formats with manifest
  * metadata avoid directory listing altogether"). `spark.read
  * .parquet(files: _*)` re-LISTS every explicit path through
  * `InMemoryFileIndex` at DataFrame creation: one getFileStatus RPC
  * per file, and past `spark.sql.sources.parallelPartitionDiscovery
  * .threshold` (32) a whole Spark JOB just to stat paths the manifest
  * already describes. This index serves the scan from pre-known
  * `FileStatus` entries — zero listing RPCs, zero listing jobs, at
  * any file count.
  *
  * File lengths come from the manifest's `fz` lines; files the caller
  * has no size for are stat-ed once, in parallel, on the driver pool.
  * Modification times are irrelevant to a parquet scan (splits are
  * length-based, `_metadata.row_index` is reader-computed) and are
  * recorded as 0 — a KNOWN LIMITATION for user queries selecting
  * `_metadata.file_modification_time`, which reads as epoch here
  * (manifests don't record mtimes; backup/restore loses them anyway,
  * which is why commit time is a manifest fact, not an FS accident —
  * use the table's history/commit_ts for provenance).
  *
  * TAG MODE (`tagged`): the index exposes one string partition column,
  * the file identity `__gf` ([[GraftFileIndex.fileTag]]), and lists one
  * `PartitionDirectory` per file whose partition value is that file's
  * tag — computed once per file on the driver, so the parquet reader
  * fills the column as a constant vector instead of evaluating an
  * expression per row. Spark treats partition-column filters as
  * answered by the listing and does NOT re-apply them after the scan,
  * so [[listFiles]] evaluates every static partition filter against
  * each file's tag and lists only the files it admits (dynamic-pruning
  * filters are evaluated by the scan itself over the listed values). */
private[sources] final class GraftFileIndex(
    spark: SparkSession,
    statuses: Seq[FileStatus],
    tagged: Boolean = false) extends FileIndex {

  override def rootPaths: Seq[Path] = statuses.map(_.getPath)

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression])
      : Seq[PartitionDirectory] =
    if (!tagged) Seq(PartitionDirectory(InternalRow.empty, statuses.toArray))
    else {
      val dirs = statuses.map(s => PartitionDirectory(
        InternalRow(UTF8String.fromString(GraftFileIndex.fileTag(s.getPath))),
        Array(s)))
      partitionFilters.reduceOption(And) match {
        case None => dirs
        case Some(filter) =>
          // the single partition column binds to ordinal 0
          val keep = Predicate.createInterpreted(filter.transform {
            case a: AttributeReference =>
              BoundReference(0, a.dataType, nullable = true)
          })
          dirs.filter(d => keep.eval(d.values))
      }
    }

  override def inputFiles: Array[String] =
    statuses.map(_.getPath.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = statuses.map(_.getLen).sum

  override def partitionSchema: StructType =
    if (tagged) GraftFileIndex.TagSchema else StructType(Nil)
}

private[sources] object GraftFileIndex {

  /** The tag mode's one partition column: the file identity, never
    * null (every listed file has one). */
  private val TagSchema = StructType(Seq(
    StructField(VersionedTable.FileColName, StringType, nullable = false)))

  /** `scheme://authority` prefix of a path string. */
  private[sources] val SchemeAuthorityRe = "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*"

  /** Authority-free `scheme:` prefix of a path string. */
  private[sources] val SchemeRe = "^[a-zA-Z][a-zA-Z0-9+.-]*:"

  /** A file's identity as deletion-vector sidecars store it (`__gf`,
    * FORMAT.md `dv`): the string Spark's `input_file_name()` reports
    * for the file's status path (its URL-encoded URI), with the
    * `scheme://authority` prefix and then an authority-free `scheme:`
    * prefix removed — byte-identical to the per-row expression older
    * builds evaluated, so existing sidecars keep matching. */
  private[sources] def fileTag(p: Path): String =
    SparkPath.fromPath(p).urlEncoded
      .replaceAll(SchemeAuthorityRe, "").replaceAll(SchemeRe, "")

  /** A parquet DataFrame over `files` with the EXPLICIT physical
    * schema, planned from manifest metadata: sizes from `knownSizes`
    * (the fz lines), missing ones stat-ed in parallel on the driver
    * pool. Row-identical to `spark.read.schema(phys).parquet(files)`
    * — same relation shape (LogicalRelation over HadoopFsRelation /
    * ParquetFileFormat, metadata columns included), minus the
    * listing. `tagged` appends the file identity column `__gf` (tag
    * mode, see [[GraftFileIndex]]). */
  def parquetFrame(spark: SparkSession, files: Seq[String],
                   phys: StructType,
                   knownSizes: String => Option[Long],
                   tagged: Boolean = false): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val unsized = files.count(knownSizes(_).isEmpty)
    if (unsized > 0)
      VersionedTable.fileSizeRpcNotifier("parquetFrame", unsized)
    val statuses = DriverPool.mapParallel(files) { f =>
      val p = new Path(f)
      knownSizes(f) match {
        case Some(len) =>
          new FileStatus(len, false, 1, 134217728L, 0L, p)
        case None => p.getFileSystem(conf).getFileStatus(p)
      }
    }
    val index = new GraftFileIndex(spark, statuses, tagged)
    val relation = HadoopFsRelation(
      location = index,
      partitionSchema = index.partitionSchema,
      dataSchema = phys,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat(),
      options = Map.empty)(spark)
    spark.baseRelationToDataFrame(relation)
  }
}
