package graft.sources

import java.io.{ObjectInputStream, ObjectOutputStream}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._

import VersionedTable.ScanPred

/** SQL `UPDATE` and `MERGE INTO` over the versioned table — the DSv2
  * GROUP-BASED (copy-on-write) row-level operation seam
  * ([[org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations]]),
  * the same architecture Iceberg's Spark COW mode rides:
  *
  *  1. Spark's rewrite rules (`RewriteUpdateTable` /
  *     `RewriteMergeIntoTable`) replace the DML with a
  *     `ReplaceData` plan: read the affected GROUPS (files), compute
  *     every replacement row (CASE WHEN for UPDATE; the merge join
  *     with carry-over for MERGE), write them back.
  *  2. `GroupBasedRowLevelOperationScanPlanning` pushes the COMMAND
  *     condition into [[GraftRowLevelScanBuilder]] — used for FILE
  *     PRUNING ONLY through [[VersionedTable.scanCandidates]]'
  *     cannot-rule-out contract. The scan claims nothing row-level:
  *     it returns EVERY logical row of each candidate file (group
  *     replacement needs the unmatched rows carried), so an
  *     `UPDATE ... WHERE k BETWEEN a AND b` on a clustered table
  *     reads and rewrites only the files whose manifest stats admit
  *     a match — O(candidate files), never O(table).
  *  3. The write side ([[GraftReplaceBatchWrite]]) streams the
  *     replacement rows into fresh parquet files from the EXECUTORS
  *     (physical column names per the cm mapping; identity partition
  *     specs split per-task so pt tags survive the rewrite), then
  *     commits once via [[VersionedTable.replaceFilesCommit]]:
  *     candidates out, new files in, untouched files carried with
  *     stats, tombstones consolidated, CHECK constraints enforced —
  *     one atomic manifest publish against the statement's pinned
  *     snapshot (a concurrent commit fails the statement loudly
  *     rather than losing its rows).
  *
  * SQL `DELETE` keeps its dedicated [[GraftTable.deleteWhere]] path
  * (`OptimizeMetadataOnlyDeleteFromTable` restores it whenever every
  * conjunct translates); a DELETE with predicates the filter language
  * cannot express now falls back to this group-based path instead of
  * failing. Reference analog: the library-level `updateCommit` /
  * `mergeCommit` semantics already gated at sf0.01 — this lifts them
  * to the SQL surface.
  */
private[sources] class GraftRowLevelOperationBuilder(
    path: String, pinned: Int, info: RowLevelOperationInfo)
    extends RowLevelOperationBuilder {

  /** COW vs MOR per command — Iceberg's dial: `write.update.mode` /
    * `write.merge.mode` / `write.delete.mode` = 'merge-on-read'
    * routes this statement through the delta-based operation
    * (positional deletion vectors + appended files; NOTHING
    * rewritten); anything else stays group-based copy-on-write. */
  override def build(): RowLevelOperation = {
    val spark = SparkSession.active
    val key = info.command() match {
      case RowLevelOperation.Command.DELETE => "write.delete.mode"
      case RowLevelOperation.Command.UPDATE => "write.update.mode"
      case RowLevelOperation.Command.MERGE => "write.merge.mode"
    }
    if (VersionedTable.tablePropertyOf(spark, path, key)
        .contains("merge-on-read"))
      new GraftDeltaOperation(path, pinned, info.command())
    else new GraftRowLevelOperation(path, pinned, info.command())
  }
}

/** What the operation scan needs from either operation flavor. */
private[sources] trait GraftRowLevelLike {
  def path: String
  def pinned: Int
  /** Carry the row ordinal through the scan (delta rowId). */
  def withPos: Boolean
  /** The scan's (possibly runtime-narrowed) candidate set — the
    * group-based write replaces exactly this; the delta write ignores
    * it (nothing is replaced). */
  def onCandidates(files: Seq[String]): Unit
}

private[sources] class GraftRowLevelOperation(
    val path: String, val pinned: Int,
    cmd: RowLevelOperation.Command) extends RowLevelOperation
    with GraftRowLevelLike {

  /** Normalized paths of the files the operation scan planned — what
    * the write REPLACES. None until the scan builds (then: the
    * statement's candidate set); a write committing without a planned
    * scan replaces everything (full rewrite — correct, never lossy,
    * because the query then read everything too). */
  @volatile private[sources] var plannedCandidates
      : Option[Seq[String]] = None

  override def withPos: Boolean = false
  override def onCandidates(files: Seq[String]): Unit =
    plannedCandidates = Some(files)

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : ScanBuilder =
    new GraftRowLevelScanBuilder(this)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new GraftReplaceBatchWrite(GraftRowLevelOperation.this,
            info.schema(), info.queryId())
      }
    }

  /** Declaring the file-identity metadata attribute routes the
    * replace-data write through Spark's projecting task
    * (`DataAndMetadataWritingSparkTask`): the writer receives the ROW
    * part exactly in the declared write schema — the engine's own
    * split of data vs bookkeeping columns (the same contract
    * Iceberg's COW operation rides with `_file`/`_pos`). */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(VersionedTable.MetaFileCol))

  override def description(): String = s"graft-$cmd $path v$pinned"
}

/** The operation scan: pushed filters prune FILES only (nothing is
  * claimed — every row of a surviving file is returned, tombstones
  * applied, columns mapped, declared schema widened). */
private[sources] class GraftRowLevelScanBuilder(
    op: GraftRowLevelLike)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private def spark: SparkSession = SparkSession.active
  private lazy val lines: Seq[String] =
    VersionedTable.manifest(spark, op.path, op.pinned)
  private lazy val fullSchema: StructType =
    VersionedTable.tableSchemaAt(spark, op.path, op.pinned)
      .getOrElse(VersionedTable.read(spark, op.path, Some(op.pinned))
        .schema)
  private var required: Option[StructType] = None
  private var preds: Seq[ScanPred] = Nil

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val partCols = VersionedTable.partitionsOf(lines).map(_._1).toSet
    preds = filters.toSeq.flatMap(f =>
      GraftFilterTranslation.translate(f, fullSchema, partCols)
        .getOrElse(Nil))
    GraftRowLevelScanBuilder.pushNotifier(filters.toSeq, preds)
    filters // group replacement: every filter stays Spark-side
  }

  /** Claim NOTHING: the scan's row set is "all rows of candidate
    * files", not "rows matching the condition" — the engine keeps the
    * full condition in the rewrite plan either way. */
  override def pushedFilters(): Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = Some(requiredSchema)

  override def build(): Scan = {
    val cand = VersionedTable.scanCandidates(lines, preds)
    op.onCandidates(cand)
    new GraftRowLevelScan(op, cand, required.getOrElse(fullSchema))
  }
}

private[sources] object GraftRowLevelScanBuilder {
  /** Test seam: fired `(pushed filters, translated preds)` on every
    * row-level pushdown negotiation — what specs pin to prove a DML's
    * claimed condition actually reached the group-pruning probe. */
  private[sources] var pushNotifier
      : (Seq[Filter], Seq[ScanPred]) => Unit = (_, _) => ()

  /** Test seam: fired `(runtimeMatchedFiles, staticCandidates)` when
    * the engine's runtime group filter narrows the scan — what specs
    * pin to prove a MERGE/UPDATE rewrites only files holding a real
    * match, not every static candidate. */
  private[sources] var runtimeFilterNotifier: (Int, Int) => Unit =
    (_, _) => ()
}

/** The row-level operation's scan. [[SupportsRuntimeFiltering]] on
  * `_file` enables Spark's `RowLevelOperationRuntimeGroupFiltering`:
  * the engine plans a matching-rows subquery (the command condition
  * over a second, ordinary pruned scan), collects the DISTINCT file
  * identities holding a match, and hands them back here as an IN
  * filter BEFORE partitions are planned — so a MERGE whose ON keys
  * touch three files reads and rewrites three files, not every static
  * candidate. The write's replace set narrows with it (the scan and
  * the commit must agree on the group set). Iceberg's COW scan rides
  * the identical contract. */
private[sources] class GraftRowLevelScan(op: GraftRowLevelLike,
                                         staticCandidates: Seq[String],
                                         required: StructType)
    extends Scan
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {
  private def spark: SparkSession = SparkSession.active

  @volatile private var candidates: Seq[String] = staticCandidates

  override def readSchema(): StructType = required

  override def description(): String =
    s"graft-rowlevel ${op.path} v${op.pinned} files=${candidates.size}"

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(VersionedTable.MetaFileCol))

  override def filter(filters: Array[Filter]): Unit =
    filters.foreach {
      case sources.In(c, vs)
          if c.equalsIgnoreCase(VersionedTable.MetaFileCol) =>
        val keep = vs.toSeq.collect { case s: String =>
          VersionedTable.norm(s) }.toSet
        val narrowed = candidates.filter(f =>
          keep(VersionedTable.norm(f)))
        GraftRowLevelScanBuilder.runtimeFilterNotifier(
          narrowed.size, staticCandidates.size)
        candidates = narrowed
        // the group-based commit must replace exactly what the scan
        // reads (the delta commit replaces nothing — no-op there)
        op.onCandidates(narrowed)
      case _ => () // pruning-only contract: unknown filters are hints
    }

  override def toBatch: Batch = {
    import org.apache.spark.sql.functions.lit
    val lines = VersionedTable.manifest(spark, op.path, op.pinned)
    val base =
      if (candidates.isEmpty) {
        val empty = VersionedTable.read(spark, op.path, Some(op.pinned))
          .limit(0)
          .withColumn(VersionedTable.MetaFileCol,
            lit(null).cast(StringType))
        if (op.withPos)
          empty.withColumn(VersionedTable.MetaPosCol,
            lit(null).cast(org.apache.spark.sql.types.LongType))
        else empty
      } else {
        val sub = candidates ++ VersionedTable.readContextOf(lines)
        if (op.withPos)
          VersionedTable.readSnapshotTaggedWithPos(spark, sub)
            .withColumnRenamed(VersionedTable.FileColName,
              VersionedTable.MetaFileCol)
            .withColumnRenamed(VersionedTable.PosCol,
              VersionedTable.MetaPosCol)
        else VersionedTable.readSnapshotTagged(spark, sub)
          .withColumnRenamed(VersionedTable.FileColName,
            VersionedTable.MetaFileCol)
      }
    val projected = base.select(required.fieldNames.toSeq.map(col): _*)
    new RddBackedBatch(projected.queryExecution.toRdd)
  }
}

/** A DSv2 `Batch` over an already-planned Spark RDD — how the
  * library's own gated read (deletion vectors, column mapping,
  * declared-schema widening) serves a scan surface that offers no V1
  * fallback. Each input partition is one RDD partition and CARRIES
  * its RDD (runtime group filtering replans the batch, so partitions
  * and reader factory may come from different toBatch calls — the
  * slice must be self-contained); the reader computes it inside the
  * running task (standard task semantics: broadcasts and shuffle
  * state resolve exactly as they would for the plan's own job). */
private[sources] class RddBackedBatch(rdd: RDD[InternalRow])
    extends Batch {
  // ROW-LEVEL READ CONTRACT: the wrapped plan's RDD is computed inside
  // FOREIGN DSv2 tasks, where only narrow lineage, broadcasts, and
  // already-materialized shuffle stages resolve — an UN-materialized
  // ShuffleDependency would make those tasks fetch map outputs from
  // stages that never ran and fail confusingly deep in the scan.
  // Today's snapshot read is shuffle-free by construction (the dv
  // anti-join is a broadcast); this check makes the invariant
  // self-enforcing against future read-path changes, while still
  // admitting exchanges AQE materialized at toRdd time.
  locally {
    val bad = org.apache.spark.GraftShuffleGuard
      .unmaterializedShuffles(rdd)
    if (bad.nonEmpty) throw new IllegalStateException(
      s"row-level operation read contract violated: the snapshot plan " +
        s"carries un-materialized shuffle(s) ${bad.mkString(", ")} — " +
        "RddBackedBatch computes the plan inside foreign DSv2 tasks, " +
        "where that shuffle state cannot resolve. Keep the row-level " +
        "snapshot read narrow (broadcast the dv anti-join) or " +
        "materialize the exchange before wrapping.")
  }

  override def planInputPartitions(): Array[InputPartition] =
    rdd.partitions.map(p => RddSlice(rdd, p)): Array[InputPartition]
  override def createReaderFactory(): PartitionReaderFactory =
    new RddReaderFactory
}

private[sources] final case class RddSlice(rdd: RDD[InternalRow],
                                           part: org.apache.spark.Partition)
    extends InputPartition

private[sources] class RddReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = {
    val slice = p.asInstanceOf[RddSlice]
    val it = slice.rdd.iterator(slice.part, TaskContext.get())
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}

/** One replaced-group commit: executors write the replacement rows as
  * parquet (physical names; identity-spec partition values split into
  * per-value files so pt tags survive), the driver publishes one
  * [[VersionedTable.replaceFilesCommit]]. */
private[sources] class GraftReplaceBatchWrite(
    op: GraftRowLevelOperation, rowSchema: StructType, queryId: String)
    extends BatchWrite {

  private def spark: SparkSession = SparkSession.active

  private val lines = VersionedTable.manifest(spark, op.path, op.pinned)
  private val renames = VersionedTable.renameMapOf(lines)
  private val physSchema = StructType(rowSchema.fields.map(f =>
    f.copy(name = renames.getOrElse(f.name, f.name))))
  private val writeDir =
    s"${op.path}/data/rlo-${java.util.UUID.randomUUID().toString.take(12)}"

  /** Identity partition spec, split-able only when every spec column
    * is in the row schema with an exactly-renderable type (the string
    * cast [[VersionedTable.commitPartitioned]] itself applies);
    * otherwise the rewrite emits untagged files — reads stay correct
    * (untagged = never prunable), OPTIMIZE re-tags later. */
  private val specIdx: Seq[(String, Int, DataType)] =
    GraftRowLevelSpec.specIdx(lines, rowSchema)

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory = {
    val conf = GraftParquetWriteConf.prepared(spark, physSchema)
    val codec = spark.conf.get("spark.sql.parquet.compression.codec")
    new GraftReplaceWriterFactory(writeDir,
      new SerializableHadoopConf(conf), specIdx, codec)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val newFiles = messages.toSeq.flatMap {
      case GraftFilesWritten(files) => files
      case other => sys.error(s"unexpected commit message: $other")
    }
    val remove = op.plannedCandidates
      .getOrElse(VersionedTable.dataFilesOf(lines))
      .map(VersionedTable.norm).toSet
    VersionedTable.replaceFilesCommit(spark, op.path, remove, newFiles,
      op.pinned)
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(writeDir)
    val f = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(dir, true)
    ()
  }
}

/** A Hadoop Configuration prepared for writing `physSchema` through
  * Spark's own [[ParquetWriteSupport]]: every key the support /
  * SparkToParquetSchemaConverter reads raw from the Configuration,
  * pinned from the session (the same prep the built-in parquet
  * writer's prepareWrite does). */
private[sources] object GraftParquetWriteConf {
  def prepared(spark: SparkSession,
               physSchema: StructType): Configuration = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    ParquetWriteSupport.setSchema(physSchema, conf)
    Seq("spark.sql.parquet.writeLegacyFormat" -> "false",
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
      "spark.sql.parquet.fieldId.write.enabled" -> "true",
      "spark.sql.parquet.variant.annotateLogicalType.enabled" -> "false",
      "spark.sql.parquet.datetimeRebaseModeInWrite" -> "EXCEPTION",
      "spark.sql.parquet.int96RebaseModeInWrite" -> "EXCEPTION",
      "spark.sql.session.timeZone" ->
        java.util.TimeZone.getDefault.getID)
      .foreach { case (k, dflt) =>
        conf.set(k, scala.util.Try(spark.conf.get(k)).toOption
          .filter(v => v != null && v != "null").getOrElse(dflt))
      }
    conf
  }
}

/** `(path, pt tag pairs)` per file one task wrote. */
private[sources] final case class GraftFilesWritten(
    files: Seq[(String, Seq[(String, String)])])
    extends WriterCommitMessage

private[sources] class GraftReplaceWriterFactory(
    dir: String, conf: SerializableHadoopConf,
    specIdx: Seq[(String, Int, DataType)], codec: String)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] =
    new GraftReplaceDataWriter(dir, conf.value, specIdx, codec,
      partitionId, taskId)
}

/** Streams InternalRows into parquet via Spark's own
  * [[ParquetWriteSupport]] (same encoder the built-in writer uses —
  * full type fidelity), one file per (task, partition-value combo);
  * null spec values tag [[VersionedTable.NullPartitionTag]]. Opens
  * lazily: an empty task writes nothing. */
private[sources] class GraftReplaceDataWriter(
    dir: String, conf: Configuration,
    specIdx: Seq[(String, Int, DataType)], codec: String,
    partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {

  private val open = mutable.LinkedHashMap.empty[
    List[String], (ParquetWriter[InternalRow], String)]

  private def codecName: CompressionCodecName = codec.toLowerCase match {
    case "snappy" => CompressionCodecName.SNAPPY
    case "gzip" => CompressionCodecName.GZIP
    case "zstd" => CompressionCodecName.ZSTD
    case "lz4" | "lz4raw" | "lz4_raw" => CompressionCodecName.LZ4_RAW
    case "brotli" => CompressionCodecName.BROTLI
    case "none" | "uncompressed" => CompressionCodecName.UNCOMPRESSED
    case _ => CompressionCodecName.SNAPPY
  }

  private def render(row: InternalRow, idx: Int, dt: DataType): String =
    if (row.isNullAt(idx)) VersionedTable.NullPartitionTag
    else VersionedTable.escapeVal(dt match {
      case StringType => row.getUTF8String(idx).toString
      case ByteType => row.getByte(idx).toString
      case ShortType => row.getShort(idx).toString
      case IntegerType => row.getInt(idx).toString
      case LongType => row.getLong(idx).toString
      case BooleanType => row.getBoolean(idx).toString
      case other => sys.error(s"unrenderable partition type $other")
    })

  private def writerFor(key: List[String])
      : ParquetWriter[InternalRow] =
    open.getOrElseUpdate(key, {
      val path = s"$dir/part-$partitionId-$taskId-${open.size}.parquet"
      val hp = new Path(path)
      val w = new InternalRowParquetBuilder(
        HadoopOutputFile.fromPath(hp, conf))
        .withConf(conf)
        .withCompressionCodec(codecName)
        .build()
      (w, path)
    })._1

  override def write(row: InternalRow): Unit =
    writerFor(specIdx.map { case (_, i, dt) => render(row, i, dt) }.toList)
      .write(row)

  /** The projecting write task hands (metadata, row) — the file
    * identity already did its job selecting the replaced groups; only
    * the row lands. */
  override def write(metadata: InternalRow, row: InternalRow): Unit =
    write(row)

  override def commit(): WriterCommitMessage = {
    val files = open.toSeq.map { case (key, (w, path)) =>
      w.close()
      (path, specIdx.map(_._1).zip(key))
    }
    GraftFilesWritten(files)
  }

  override def abort(): Unit = {
    open.values.foreach { case (w, path) =>
      scala.util.Try(w.close())
      val p = new Path(path)
      scala.util.Try(p.getFileSystem(conf).delete(p, false))
    }
  }

  override def close(): Unit = ()
}

private[sources] class InternalRowParquetBuilder(file: HadoopOutputFile)
    extends ParquetWriter.Builder[InternalRow, InternalRowParquetBuilder](
      file) {
  override def self(): InternalRowParquetBuilder = this
  override def getWriteSupport(conf: Configuration)
      : WriteSupport[InternalRow] = new ParquetWriteSupport
}

/** Shared identity-partition-spec resolution for the row-level
  * writers. The spec comes from the manifest's per-file pt tags
  * ([[VersionedTable.fullSpecOf]]) or — when the snapshot holds no
  * tagged files, e.g. a truncated partitioned table — the
  * `partitioned_by` declaration meta; split-able only when every spec
  * column is in the row schema with an exactly-renderable type (the
  * string cast [[VersionedTable.commitPartitioned]] itself applies).
  * Otherwise the rewrite emits untagged files — reads stay correct
  * (untagged = never prunable), OPTIMIZE re-tags later. Derived tag
  * columns (`__bucket_*`, `__part_div_*`) are not row columns — their
  * specs cannot split here. */
private[sources] object GraftRowLevelSpec {
  def specIdx(lines: Seq[String],
              rowSchema: StructType): Seq[(String, Int, DataType)] = {
    val renames = VersionedTable.renameMapOf(lines)
    val spec = VersionedTable.identitySpecOf(lines)
    def renderable(dt: DataType): Boolean = dt match {
      case StringType | ByteType | ShortType | IntegerType | LongType |
           BooleanType => true
      case _ => false
    }
    if (spec.nonEmpty && spec.forall(c =>
        rowSchema.fieldNames.contains(c) &&
          renderable(rowSchema(c).dataType)))
      spec.map(c => (renames.getOrElse(c, c),
        rowSchema.fieldIndex(c), rowSchema(c).dataType))
    else Seq.empty
  }
}

/** Hadoop Configuration with Java serialization — the writer factory
  * ships the prepared parquet conf (schema + session parquet settings)
  * to executors. */
private[sources] class SerializableHadoopConf(
    @transient var value: Configuration) extends Serializable {
  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

// ---------------------------------------------------------------------
// DELTA-BASED (merge-on-read) row-level operations — SupportsDelta
// ---------------------------------------------------------------------

/** SQL UPDATE / MERGE / fallback-DELETE as MERGE-ON-READ — the DSv2
  * DELTA seam ([[org.apache.spark.sql.connector.write.SupportsDelta]],
  * the architecture Iceberg's MOR mode rides; Spark's
  * `RewriteUpdateTable`/`RewriteMergeIntoTable` plan a `WriteDelta`
  * when the operation implements it):
  *
  *  - the scan carries each row's STABLE IDENTITY — `(_file, _pos)`,
  *    the data file plus the row's parquet ordinal ([[rowId]]) — and
  *    is still file-pruned by the command condition and runtime group
  *    filtering exactly like the COW scan;
  *  - the engine hands the writer per-row OPERATIONS: `delete(id)`
  *    and the old-image side of `update` become POSITIONAL TOMBSTONES
  *    (`(__gf, __gpos)` sidecar rows — the same deletion vectors
  *    [[VersionedTable.deleteCommit]] writes);
  *    `insert(row)` and the new-image side land in fresh parquet;
  *  - ONE atomic [[VersionedTable.deltaFilesCommit]] publishes:
  *    every existing file carries VERBATIM, the sidecars and new
  *    files append. A point UPDATE touching 100 rows spread over 100
  *    big files commits 100 tombstone keys + 100 new rows instead of
  *    rewriting 100 files — the write-amplification fix;
  *    `purge_tombstones` / OPTIMIZE pay the read-side debt down.
  *
  * Selected per command by `write.update.mode` / `write.merge.mode` /
  * `write.delete.mode` = 'merge-on-read'
  * ([[GraftRowLevelOperationBuilder.build]]). */
private[sources] class GraftDeltaOperation(
    val path: String, val pinned: Int,
    cmd: RowLevelOperation.Command) extends RowLevelOperation
    with org.apache.spark.sql.connector.write.SupportsDelta
    with GraftRowLevelLike {

  override def withPos: Boolean = true
  override def onCandidates(files: Seq[String]): Unit = ()

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : ScanBuilder =
    new GraftRowLevelScanBuilder(this)

  /** The stable row identity the delta plan projects and hands back
    * to the writer with every delete/update. */
  override def rowId()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(
      org.apache.spark.sql.connector.expressions.Expressions
        .column(VersionedTable.MetaFileCol),
      org.apache.spark.sql.connector.expressions.Expressions
        .column(VersionedTable.MetaPosCol))

  /** The id already names the row completely — no extra metadata. */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array.empty

  override def newWriteBuilder(info: LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriteBuilder =
    new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
      override def build()
          : org.apache.spark.sql.connector.write.DeltaWrite =
        new org.apache.spark.sql.connector.write.DeltaWrite {
          override def toBatch
              : org.apache.spark.sql.connector.write.DeltaBatchWrite =
            new GraftDeltaBatchWrite(GraftDeltaOperation.this,
              info.schema(),
              info.rowIdSchema().orElse(null))
        }
    }

  override def description(): String = s"graft-delta-$cmd $path v$pinned"
}

/** One merge-on-read commit: executors write tombstone sidecars (old
  * images) + fresh data files (new images / inserts); the driver
  * publishes one [[VersionedTable.deltaFilesCommit]]. */
private[sources] class GraftDeltaBatchWrite(
    op: GraftDeltaOperation, rowSchema: StructType,
    rowIdSchema: StructType)
    extends org.apache.spark.sql.connector.write.DeltaBatchWrite {

  private def spark: SparkSession = SparkSession.active

  private val lines = VersionedTable.manifest(spark, op.path, op.pinned)
  private val renames = VersionedTable.renameMapOf(lines)
  private val physSchema = StructType(rowSchema.fields.map(f =>
    f.copy(name = renames.getOrElse(f.name, f.name))))
  private val writeDir =
    s"${op.path}/data/dlt-${java.util.UUID.randomUUID().toString.take(12)}"

  /** id-row accessor positions, from the engine's declared rowId
    * schema (never assume order). */
  private val (fileIdx, posIdx) = {
    require(rowIdSchema != null,
      "delta write without a rowId schema — engine contract violation")
    (rowIdSchema.fieldIndex(VersionedTable.MetaFileCol),
      rowIdSchema.fieldIndex(VersionedTable.MetaPosCol))
  }

  /** Same identity-spec splitting contract as the COW write: new rows
    * land pt-tagged when the spec is renderable from the row schema. */
  private val specIdx: Seq[(String, Int, DataType)] =
    GraftRowLevelSpec.specIdx(lines, rowSchema)

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriterFactory = {
    val dataConf = GraftParquetWriteConf.prepared(spark, physSchema)
    val tombConf = GraftParquetWriteConf.prepared(spark,
      VersionedTable.DvSchema)
    val codec = spark.conf.get("spark.sql.parquet.compression.codec")
    new GraftDeltaWriterFactory(writeDir,
      new SerializableHadoopConf(dataConf),
      new SerializableHadoopConf(tombConf),
      specIdx, codec, fileIdx, posIdx)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val (data, tombs) = messages.toSeq.map {
      case GraftDeltaFilesWritten(d, t) => (d, t)
      case other => sys.error(s"unexpected commit message: $other")
    }.unzip
    VersionedTable.deltaFilesCommit(spark, op.path, tombs.flatten,
      data.flatten, op.pinned)
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(writeDir)
    val f = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(dir, true)
    ()
  }
}

/** `(data files with pt tags, tombstone sidecar paths)` per task. */
private[sources] final case class GraftDeltaFilesWritten(
    dataFiles: Seq[(String, Seq[(String, String)])],
    tombFiles: Seq[String])
    extends WriterCommitMessage

private[sources] class GraftDeltaWriterFactory(
    dir: String, dataConf: SerializableHadoopConf,
    tombConf: SerializableHadoopConf,
    specIdx: Seq[(String, Int, DataType)], codec: String,
    fileIdx: Int, posIdx: Int)
    extends org.apache.spark.sql.connector.write.DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] =
    new GraftDeltaWriter(dir, dataConf.value, tombConf.value, specIdx,
      codec, fileIdx, posIdx, partitionId, taskId)
}

/** Per-task delta writer: inserts/new images stream through the same
  * [[GraftReplaceDataWriter]] the COW path uses (pt-splitting
  * included); deletes/old images stream into ONE tombstone parquet
  * per task, opened lazily (a task that deletes nothing writes no
  * sidecar). Rows are consumed synchronously by the parquet encoder,
  * so the engine's reused id buffers are safe without copies. */
private[sources] class GraftDeltaWriter(
    dir: String, dataConf: Configuration, tombConf: Configuration,
    specIdx: Seq[(String, Int, DataType)], codec: String,
    fileIdx: Int, posIdx: Int, partitionId: Int, taskId: Long)
    extends org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] {

  private val dataWriter = new GraftReplaceDataWriter(dir, dataConf,
    specIdx, codec, partitionId, taskId)

  private var tomb: ParquetWriter[InternalRow] = _
  private var tombPath: String = _

  private def codecName: CompressionCodecName = codec.toLowerCase match {
    case "gzip" => CompressionCodecName.GZIP
    case "zstd" => CompressionCodecName.ZSTD
    case "lz4" | "lz4raw" | "lz4_raw" => CompressionCodecName.LZ4_RAW
    case "none" | "uncompressed" => CompressionCodecName.UNCOMPRESSED
    case _ => CompressionCodecName.SNAPPY
  }

  private def tombWriter(): ParquetWriter[InternalRow] = {
    if (tomb == null) {
      tombPath = s"$dir/dv-$partitionId-$taskId.parquet"
      tomb = new InternalRowParquetBuilder(
        HadoopOutputFile.fromPath(new Path(tombPath), tombConf))
        .withConf(tombConf)
        .withCompressionCodec(codecName)
        .build()
    }
    tomb
  }

  override def delete(metadata: InternalRow, id: InternalRow): Unit =
    tombWriter().write(
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](id.getUTF8String(fileIdx), id.getLong(posIdx))))

  override def update(metadata: InternalRow, id: InternalRow,
                      row: InternalRow): Unit = {
    delete(metadata, id)
    insert(row)
  }

  override def insert(row: InternalRow): Unit = dataWriter.write(row)

  override def commit(): WriterCommitMessage = {
    val dataMsg = dataWriter.commit() match {
      case GraftFilesWritten(files) => files
    }
    val tombs =
      if (tomb == null) Seq.empty[String]
      else { tomb.close(); Seq(tombPath) }
    GraftDeltaFilesWritten(dataMsg, tombs)
  }

  override def abort(): Unit = {
    dataWriter.abort()
    if (tomb != null) {
      scala.util.Try(tomb.close())
      val p = new Path(tombPath)
      scala.util.Try(p.getFileSystem(tombConf).delete(p, false))
    }
  }

  override def close(): Unit = ()
}
