package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** Resumable exactly-once file ingest: stream new files from a source
  * directory through a transform into a parquet sink, with progress
  * durably tracked in a checkpoint — the production form of the
  * reference's incremental ingest (SURVEY.md §2.1 models it as a
  * basename-watermark batch re-read; Structured Streaming's file
  * source commit log is the same idea with crash safety and
  * exactly-once sink semantics for free).
  *
  * Each call drains everything new since the last checkpointed offset
  * (`Trigger.AvailableNow`) and terminates — the cron/Airflow-friendly
  * shape: schedule the job, let the checkpoint remember where it was,
  * re-run after failures without duplicating output. At 100 TB the
  * file-source listing is the driver-side cost — partition the source
  * directory by arrival date so each listing touches one day, and let
  * `maxFilesPerTrigger` bound a single run's bite.
  */
object IncrementalIngest {

  /** Drain all unprocessed files under `sourceDir` through `transform`
    * into parquet at `outDir`; `checkpointDir` carries source offsets
    * AND the sink's transactional file log across runs (re-running
    * after a crash never double-writes a batch). Returns the number of
    * micro-batches this drain executed (0 = nothing new). */
  def drainToParquet(spark: SparkSession, sourceDir: String,
                     schema: StructType, outDir: String,
                     checkpointDir: String,
                     maxFilesPerTrigger: Option[Int] = None)
                    (transform: DataFrame => DataFrame): Long = {
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(m =>
      reader.option("maxFilesPerTrigger", m.toString))
    val q = transform(reader.parquet(sourceDir))
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val batches = q.recentProgress.count(_.numInputRows >= 0)
    q.stop()
    batches.toLong
  }

  /** Drain new files into a keyed warehouse table via
    * [[graft.sources.JdbcUpsertSink]]: each micro-batch is first
    * reduced to its latest row per key (one window — intra-batch
    * dedup), then MERGEd with the sink's newer-than guard (cross-batch
    * ordering), so the target converges to "latest row per key over
    * everything drained" regardless of how arrivals split into
    * batches or replays. The streaming CDC → warehouse path. */
  def drainToJdbcUpsert(spark: SparkSession, sourceDir: String,
                        schema: StructType,
                        sink: graft.sources.JdbcUpsertSink,
                        checkpointDir: String): Unit = {
    val q = spark.readStream.schema(schema).parquet(sourceDir)
      .writeStream
      // per-key newest-row dedup lives INSIDE the sink (MERGE precondition)
      .foreachBatch { (batch: DataFrame, _: Long) => sink.write(batch) }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Drain new files into a [[graft.sources.VersionedTable]]: each
    * micro-batch becomes ONE append commit, made idempotent across
    * replays by a per-batch marker published with the same atomic
    * discipline as the manifests — after a crash between the commit
    * and the checkpoint advance, the replayed batch sees its marker
    * and skips, so the table never holds a batch twice. The streaming
    * half of the table layer: downstream readers time-travel over
    * micro-batch granularity, and [[graft.sources.Compaction]] +
    * [[graft.sources.VersionedTable.vacuum]] absorb the small-file
    * accumulation this necessarily produces. */
  def drainToVersionedTable(spark: SparkSession, sourceDir: String,
                            schema: StructType, table: String,
                            checkpointDir: String)
                           (transform: DataFrame => DataFrame): Unit =
    drainToVersionedTablePartitioned(spark, sourceDir, schema, table,
      checkpointDir, partitionBy = None)(transform)

  /** Streaming CDC upsert INTO a [[graft.sources.VersionedTable]] —
    * the foreachBatch-MERGE lakehouse recipe (the Delta pattern every
    * CDC pipeline copies), exactly-once: each micro-batch
    *
    *  1. collapses to its NEWEST row per key (`orderCols`
    *     lexicographic, intra-batch dedup),
    *  2. drops rows the table already supersedes — the cross-batch
    *     newer-guard that makes out-of-order and replayed batches
    *     harmless. The guard reads only the files whose key range can
    *     hold the batch's keys ([[graft.sources.VersionedTable.readPruned]]:
    *     manifest-stats candidates, zero stats I/O on a covered
    *     table), never the whole table,
    *  3. lands as ONE [[graft.sources.VersionedTable.mergeCommit]],
    *     marker-guarded like [[drainToVersionedTable]] so a crash
    *     between commit and checkpoint never double-merges.
    *
    * Deletes are SOFT: a row matching `deleteExpr` upserts as a
    * tombstone (`__deleted = true`) rather than vanishing — removing
    * it would erase the key's order state, and a later batch carrying
    * an OLDER event would silently resurrect it (the classic CDC
    * resurrection bug; the parity-split gate fails the hash on it).
    * Readers filter `__deleted`; once a stream is retired (or
    * retention guarantees no older events can still arrive), one
    * `deleteCommit(col("__deleted"))` purges the
    * tombstones for good.
    *
    * The first batch creates the table with `keyCol` declared as a
    * stat column, so every later merge's touched-file decision is
    * metadata-only. The table converges to "latest row per key over
    * everything drained, tombstones included" regardless of how
    * arrivals split into batches — the versioned-table twin of
    * [[drainToJdbcUpsert]], gated end-to-end by q_stream_table_cdc. */
  def drainCdcToVersionedTable(spark: SparkSession, sourceDir: String,
                               schema: StructType, table: String,
                               checkpointDir: String, keyCol: String,
                               orderCols: Seq[String],
                               deleteExpr: Option[org.apache.spark.sql.Column]
                                 = None): Unit = {
    import org.apache.spark.sql.functions._
    require(orderCols.nonEmpty, "need at least one order column")
    val q = spark.readStream.schema(schema).parquet(sourceDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val marker = new org.apache.hadoop.fs.Path(table,
          s"_batches/cdc-b$batchId")
        val fsys = marker.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        if (!fsys.exists(marker)) {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col(keyCol))
            .orderBy(orderCols.map(col(_).desc): _*)
          val latest = batch.withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1).drop("__rn")
            .withColumn("__deleted",
              coalesce(deleteExpr.getOrElse(lit(false)), lit(false)))
          val tableEmpty =
            graft.sources.VersionedTable.versions(spark, table).isEmpty
          if (tableEmpty) {
            if (!latest.isEmpty)
              graft.sources.VersionedTable.commit(spark, table, latest,
                append = false, statCols = Seq(keyCol))
          } else {
            // strictly-newer lexicographic guard vs the current table
            // row of each batch key; the comparison set comes from a
            // stats-pruned read bounded by the batch's key range
            // cast to long so any integral key type (Int/Short/Long)
            // yields the Long range readPruned expects — bare getLong
            // would ClassCastException on an int-typed key
            val bounds = latest.agg(
                min(col(keyCol).cast("long")),
                max(col(keyCol).cast("long")))
              .collect()(0)
            val src =
              if (bounds.isNullAt(0)) latest.limit(0)
              else {
                val cur = graft.sources.VersionedTable.readPruned(spark,
                  table, Seq((keyCol, bounds.getLong(0), bounds.getLong(1))))
                  .select(col(keyCol) +:
                    orderCols.map(c => col(c).as(s"__cur_$c")): _*)
                def lexNewer(sc: Seq[org.apache.spark.sql.Column],
                             cc: Seq[org.apache.spark.sql.Column])
                    : org.apache.spark.sql.Column =
                  sc.zip(cc).foldRight(lit(false)) { case ((a, b), rest) =>
                    a > b || (a <=> b && rest) }
                latest.join(cur, Seq(keyCol), "left")
                  .filter(col(s"__cur_${orderCols.head}").isNull ||
                    lexNewer(orderCols.map(col),
                      orderCols.map(c => col(s"__cur_$c"))))
                  .drop(orderCols.map(c => s"__cur_$c"): _*)
              }
            if (!src.isEmpty)
              graft.sources.VersionedTable.mergeCommit(spark, table, src,
                keyCol)
          }
          fsys.mkdirs(marker.getParent)
          fsys.create(marker, false).close() // idempotence publish
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** [[drainToVersionedTable]] with PARTITION-TAGGED commits: when
    * `partitionBy` is set, each micro-batch lands as one
    * [[graft.sources.VersionedTable.commitPartitioned]] append, its
    * rows co-located per partition value before the write (one file
    * per value per batch, not per task) — so a table fed by streaming
    * ingest serves manifest-pruned partition reads
    * ([[graft.sources.VersionedTable.readPartitions]]) from the first
    * commit on. The 100 TB shape: ingest partitioned by event date,
    * daily consumers open one day's files, and the prune index is the
    * txn log the commits were already writing. */
  def drainToVersionedTablePartitioned(
      spark: SparkSession, sourceDir: String, schema: StructType,
      table: String, checkpointDir: String, partitionBy: Option[String],
      maintainEvery: Option[(Int, Long)] = None)
      (transform: DataFrame => DataFrame): Unit = {
    maintainEvery.foreach { case (k, tr) =>
      require(k > 0 && tr > 0, "maintainEvery wants (batches > 0, rows > 0)")
    }
    val q = transform(spark.readStream.schema(schema).parquet(sourceDir))
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val marker = new org.apache.hadoop.fs.Path(table,
          s"_batches/b$batchId")
        val fsys = marker.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        if (!fsys.exists(marker)) {
          partitionBy match {
            case Some(p) =>
              graft.sources.VersionedTable.commitPartitioned(spark, table,
                batch.repartition(org.apache.spark.sql.functions.col(p)),
                p, append = true)
            case None =>
              graft.sources.VersionedTable.commit(spark, table, batch,
                append = true)
          }
          fsys.mkdirs(marker.getParent)
          fsys.create(marker, false).close() // idempotence publish
          // AUTO-MAINTENANCE under streaming ingest (the Delta
          // autoCompact shape): every k-th batch runs the metadata-
          // driven policy, so a long-running drain's file count stays
          // bounded instead of growing one fragment per trigger.
          // After the marker: a crash mid-maintenance replays as a
          // no-op batch and maintenance re-decides from the manifest.
          maintainEvery.foreach { case (k, targetRows) =>
            if ((batchId + 1) % k == 0)
              graft.sources.VersionedTable.maintain(spark, table,
                targetRows)
          }
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
