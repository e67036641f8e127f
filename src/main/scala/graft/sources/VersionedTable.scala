package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The table carries a `_protocol` feature requirement this build does
  * not implement (Delta's protocol-version error). A dedicated type so
  * namespace LISTING can classify "real table, gated for THIS build"
  * without also swallowing transient IO errors — every other caller
  * still sees it as the loud RuntimeException it is. */
final class GraftProtocolException(message: String)
    extends RuntimeException(message)

/** A minimal versioned-table layer over parquet — manifest-based
  * commits with time travel, the core mechanism of the table formats
  * (Delta/Iceberg txn logs) expressed in ~100 lines so the engine's
  * maintenance operators ([[Compaction]], [[FileSkipping]]) have a
  * snapshot story to compose with.
  *
  * Layout:
  * {{{
  *   table/
  *     data/<commit>-<uuid>/part-*.parquet   (immutable once committed)
  *     _manifests/v00000001.json             (file list of version 1)
  *     _manifests/v00000002.json             ...
  * }}}
  *
  * The COMMIT is the manifest rename: data files are written first
  * (invisible to readers — nothing references them), then the manifest
  * is published via write-to-temp + atomic rename. A reader resolves
  * the latest version by listing `_manifests` and loads exactly the
  * files that manifest names — so readers never see a half-written
  * commit, appends never rewrite existing data files, and any old
  * version stays readable until [[vacuum]] retires it. Version numbers
  * are dense integers; on a filesystem with atomic rename two racing
  * writers cannot both publish the same version (the second rename
  * fails) — the loser retries with the next number.
  *
  * Manifest lines are either a plain data-file path or
  * `dv<TAB><path>` naming a DELETION-VECTOR sidecar (parquet of
  * `(__gf, key...)` tombstones, see [[deleteCommit]]); readers apply
  * every listed sidecar as a (file, key) anti-join, so a delete
  * commits in O(matching rows) without rewriting any data file —
  * merge-on-read, purged back to pure files whenever [[mergeCommit]]
  * rewrites the underlying data.
  *
  * This is deliberately the local/HDFS realization (atomic rename);
  * on an object store the publish step becomes a conditional PUT, and
  * everything else is unchanged.
  */
object VersionedTable {

  private lazy val log =
    org.slf4j.LoggerFactory.getLogger("graft.sources.VersionedTable")

  /** Tombstone-file manifest-line prefix (`dv<TAB>`). */
  private val DvPrefix = "dv\t"

  /** Internal file-identity column used to scope deletion-vector
    * tombstones to the one data file the deleted row lives in. */
  private val FileCol = "__gf"

  /** Reserved POSITIONAL tombstone key: the row's ordinal within its
    * data file, materialized from the parquet reader's
    * `_metadata.row_index` — stable forever because data files are
    * immutable (only ever replaced whole). A sidecar keyed
    * `(__gf, __gpos)` identifies rows with NO table key at all, which
    * is what SQL merge-on-read DELETE writes (Delta's deletion
    * vectors / Iceberg's positional deletes key the same way). */
  private[sources] val PosCol = "__gpos"

  /** [[FileCol]] for the package's DSv2 surfaces (the tagged reads
    * keep the file identity under this internal name until the public
    * rename to [[MetaFileCol]]). */
  private[sources] def FileColName: String = FileCol

  /** The SQL-facing file-identity metadata column (`SELECT _file FROM
    * gt.t`, and the handle group-based row-level operations project):
    * the normalized path of the data file each row lives in. */
  val MetaFileCol = "_file"

  /** The SQL-facing row-position metadata column (`SELECT _pos FROM
    * gt.t`): the row's ordinal within its data file — with
    * [[MetaFileCol]] the stable row identity delta-based (merge-on-
    * read) row-level operations key their deletion vectors by
    * (Iceberg's `_pos` parity). */
  val MetaPosCol = "_pos"

  /** Snapshot read carrying [[MetaFileCol]] (and, `withPos`,
    * [[MetaPosCol]]) — tombstones applied, columns mapped, declared
    * schema widened, plus the row identity per row. `preds` restrict
    * to [[scanCandidates]] and are NOT re-applied (callers needing
    * the filtered rows apply it themselves) — the row-level operation
    * scan wants ALL rows of candidate files. */
  private[sources] def readCandidatesTagged(
      spark: SparkSession, table: String, preds: Seq[ScanPred],
      version: Option[Int], withPos: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in $vs")
    val lines = readManifest(spark, table, v)
    val cand = scanCandidates(lines, preds)
    if (cand.isEmpty) {
      val empty = readSnapshot(spark, lines).limit(0)
        .withColumn(MetaFileCol, lit(null)
          .cast(org.apache.spark.sql.types.StringType))
      if (withPos) empty.withColumn(MetaPosCol,
        lit(null).cast(org.apache.spark.sql.types.LongType))
      else empty
    } else {
      val sub = cand ++ dvLinesOf(lines) ++ cmLinesOf(lines) ++
        scLinesOf(lines)
      if (withPos)
        readSnapshotTaggedWithPos(spark, sub)
          .withColumnRenamed(FileCol, MetaFileCol)
          .withColumnRenamed(PosCol, MetaPosCol)
      else readSnapshotTagged(spark, sub)
        .withColumnRenamed(FileCol, MetaFileCol)
    }
  }

  /** Commit-metadata manifest-line prefix (`meta<TAB>key=value`) —
    * properties published atomically WITH the commit (e.g. the source
    * version a materialized view was computed from). Not carried by
    * append commits: metadata describes its own commit. */
  private val MetaPrefix = "meta\t"

  /** Partition-tagged data-file manifest-line prefix
    * (`pt<TAB><col>=<escVal>[/<col2>=<escVal2>…]<TAB><path>`): the
    * file holds ONLY rows whose tagged column(s) render as the
    * (dir-escaped) value(s) — the Iceberg-style partition metadata
    * that lets [[readPartitions]] and [[dynamicOverwrite]] decide
    * per-file relevance from the manifest alone, zero data I/O.
    * Values are stored in Spark's partition-dir escaping (tab/newline/
    * '='/'/'-free by construction, so both the line format and the
    * '/'-joined multi-column form are safe for arbitrary column
    * values); the COLUMN NAME in each pair is what makes
    * partition-spec EVOLUTION safe: a read pruning on column X treats
    * files not tagged by X (untagged, or tagged only by other columns)
    * as never-prunable — always read and filtered. Untagged data-file
    * lines coexist (mixed tables read fine). */
  private val PtPrefix = "pt\t"

  private[sources] def escapeVal(v: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .escapePathName(v)
  private def unescapeVal(v: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .unescapePathName(v)
  private def ptLine(col: String, escapedValue: String, path: String) =
    s"$PtPrefix$col=$escapedValue\t$path"
  private def ptLineMulti(pairs: Seq[(String, String)], path: String) =
    s"$PtPrefix${pairs.map { case (c, v) => s"$c=$v" }.mkString("/")}\t$path"

  /** The tag Spark's partitioned write gives null/empty partition
    * values; files so tagged may hold nulls, so partition-value reads
    * treat them as always-candidates (like untagged files). */
  val NullPartitionTag = "__HIVE_DEFAULT_PARTITION__"

  /** Per-file STATISTICS manifest-line prefix
    * (`st<TAB><col>=<min>,<max>,<nulls>,<nrows><TAB><path>`): the
    * Delta/Iceberg txn-log per-file stats, persisted AT COMMIT TIME so
    * every later O(files) decision — [[mergeCommit]]'s touched-file
    * probe, [[readPruned]]'s candidates, [[compactCommit]]'s
    * small-file pick, [[files]] — reads the manifest instead of paying
    * an O(table) column scan. min/max are URL-encoded string
    * renderings of the column values (cast back to the column type at
    * use; an EMPTY field means the file is all-null in that column);
    * nulls/nrows are plain longs. One line per (file, stat column);
    * files without st lines simply fall back to the on-the-fly scan —
    * mixed tables stay correct, just slower. */
  private val StPrefix = "st\t"

  /** SCHEMA LINE `sc<TAB><StructType JSON>`: the snapshot's logical
    * schema, cached in the manifest so write-time schema enforcement
    * and [[tableSchemaOf]] cost zero I/O (Delta's metaData action).
    * Written fresh by the ingesting commit paths (appends merge the
    * incoming fields in; overwrites restart the lineage at the new
    * shape) and carried verbatim by maintenance rewrites — a manifest
    * without one (legacy, or post-[[adoptCommit]] evolution) falls
    * back to a footers-only merged-schema read. Not commit metadata:
    * [[metaOf]]/[[history]] never see it. */
  private val ScPrefix = "sc\t"

  /** COLUMN MAPPING LINE `cm<TAB><logical>=<physical>` (rename) or
    * `cm<TAB>=<physical>` (drop): data files, st keys, pt tags, and
    * dv sidecar key columns always store PHYSICAL names — the name a
    * column was FIRST written under, its immutable identity — while
    * every public API speaks LOGICAL names. The cm lines of a
    * manifest define the (bijective) physical→logical view of THAT
    * version, so RENAME/DROP COLUMN are metadata-only commits (zero
    * data I/O on a 100 TB table) and time travel shows each version
    * under its own names. Reads translate at the [[readSnapshot]]
    * seam (after the dv anti-join, which runs physical); writes
    * translate at [[toPhysicalDf]] before any file is produced.
    * Tables with cm lines demand the `column-mapping` reader feature
    * ([[requireFeature]]) — an old build would surface physical
    * columns as data. */
  private val CmPrefix = "cm\t"

  /** FILE SIZE LINE `fz<TAB><bytes><TAB><path>`: each data file's
    * byte length, recorded once at commit time (the writer just
    * produced the file — one listing, no extra I/O class) and carried
    * forward by [[writeManifest]] itself, so PLAN-TIME consumers —
    * [[GraftScan.estimateStatistics]]'s sizeInBytes for join
    * planning, capacity audits — answer from the manifest with ZERO
    * filesystem RPCs. Without it every SQL statement over a 100k-file
    * table would pay 100k serial getFileStatus calls before the first
    * task launches (the reason Delta/Iceberg log file sizes).
    * Files without fz lines (legacy manifests) fall back to
    * getFileStatus at use — correct, just slower. */
  private val FzPrefix = "fz\t"

  /** NO-COLUMN LINE `nc<TAB><physicalCol><TAB><path>`: the file
    * PREDATES column `physicalCol`'s [[addColumnCommit]] with a
    * DEFAULT value, so reads serve the declared default for its rows
    * instead of null — Iceberg v3's initial-default / Delta's
    * exists-default, realized as per-file manifest tags (stamped once
    * at the metadata-only evolution commit, zero data I/O at any
    * size). Files written after the evolution carry the column
    * physically; files REWRITTEN after it (compaction, COW DML) have
    * the default materialized by the rewrite's logical read and lose
    * the tag with their old path. Carried across rewrites by
    * [[stLinesFor]] exactly like st stats; stale tags (departed
    * paths) are reconciled away by [[writeManifest]]. Tables with nc
    * lines demand the `column-defaults` reader feature — an old build
    * would misread the tag as a data path and serve nulls.
    *
    * Belt and braces: Spark's parquet reader ALSO serves
    * EXISTS_DEFAULT from the requested schema's field metadata (the
    * sc schema rides every explicit-schema read), so on this engine a
    * column missing from a file already reads as its default. The nc
    * tags keep the semantics a FORMAT-level contract — which files
    * serve which defaults is manifest arithmetic any reader can
    * implement, not a Spark reader behavior the format depends on. */
  private val NcPrefix = "nc\t"

  private def ncColOf(l: String): String =
    l.substring(NcPrefix.length, l.indexOf('\t', NcPrefix.length))
  private def ncPathOf(l: String): String =
    l.substring(l.indexOf('\t', NcPrefix.length) + 1)

  /** Parsed nc lines: normalized path → physical columns the file
    * predates (and must serve declared defaults for). */
  private[sources] def ncTagsOf(lines: Seq[String])
      : Map[String, Set[String]] =
    lines.filter(_.startsWith(NcPrefix))
      .groupBy(l => norm(ncPathOf(l)))
      .view.mapValues(_.map(ncColOf).toSet).toMap

  /** Parsed fz lines: normalized path → byte length. */
  private[sources] def fileSizesOf(lines: Seq[String]): Map[String, Long] =
    lines.collect { case l if l.startsWith(FzPrefix) =>
      val cut = l.indexOf('\t', FzPrefix.length)
      norm(l.substring(cut + 1)) -> l.substring(FzPrefix.length, cut).toLong
    }.toMap

  /** Test seam: fired `(where, nCalls)` whenever file sizes must come
    * from live getFileStatus/listStatus instead of manifest fz lines
    * — what specs pin to prove plan-time statistics are RPC-free on
    * current-format tables. */
  private[sources] var fileSizeRpcNotifier: (String, Int) => Unit =
    (_, _) => ()

  /** [[writeManifest]]'s fz reconciliation: every data file of the
    * new version gets exactly one fz line — carried from the incoming
    * lines or the predecessor manifest when known, fetched (one
    * listStatus per parent directory of the commit's NEW files —
    * O(new dirs) RPCs, at commit time, once ever per file) otherwise.
    * Stale fz lines of departed files are dropped. Central here so
    * every commit path — appends, COW rewrites, merges, maintenance —
    * inherits the bookkeeping without threading it. */
  private def withFileSizes(spark: SparkSession, lines: Seq[String],
                            prevLines: Seq[String]): Seq[String] = {
    // dv sidecars get fz lines too: tombstone probes then plan through
    // [[GraftFileIndex]] with ZERO getFileStatus calls, same as data
    val data = dataFilesOf(lines) ++ dvFilesOf(lines)
    val bare = lines.filterNot(_.startsWith(FzPrefix))
    if (data.isEmpty) return bare
    val known = fileSizesOf(prevLines) ++ fileSizesOf(lines)
    val missing = data.filterNot(f => known.contains(norm(f)))
    val fetched: Map[String, Long] =
      if (missing.isEmpty) Map.empty
      else {
        val byDir = missing.groupBy(f => new Path(f).getParent)
        fileSizeRpcNotifier("writeManifest", byDir.size)
        byDir.flatMap { case (dir, fs0) =>
          val want = fs0.map(norm).toSet
          val f = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
          scala.util.Try(f.listStatus(dir).toSeq).getOrElse(Seq.empty)
            .collect { case s if want(norm(s.getPath.toString)) =>
              norm(s.getPath.toString) -> s.getLen }
        }
      }
    val sizes = known ++ fetched
    bare ++ data.flatMap(f => sizes.get(norm(f))
      .map(b => s"$FzPrefix$b\t${norm(f)}")).distinct
  }

  private[sources] def cmLinesOf(lines: Seq[String]): Seq[String] =
    lines.filter(_.startsWith(CmPrefix))

  /** The deletion-vector sidecar lines — carried into subset reads so
    * tombstones apply ([[readSnapshot]]). */
  private[sources] def dvLinesOf(lines: Seq[String]): Seq[String] =
    lines.filter(_.startsWith(DvPrefix))

  /** The declared-schema (`sc`) lines — carried alongside cm/dv lines
    * into every subset read so [[widenToDeclared]] can surface
    * metadata-only added columns ([[addColumnCommit]]). */
  private[sources] def scLinesOf(lines: Seq[String]): Seq[String] =
    lines.filter(_.startsWith(ScPrefix))

  /** logical → physical for RENAMED columns only (identity pairs are
    * never stored). */
  private[sources] def renameMapOf(lines: Seq[String]): Map[String, String] =
    lines.collect {
      case l if l.startsWith(CmPrefix) &&
        !l.startsWith(CmPrefix + "=") =>
        val kv = l.substring(CmPrefix.length)
        val eq = kv.indexOf('=')
        kv.take(eq) -> kv.drop(eq + 1)
    }.toMap

  /** The PHYSICAL names of dropped columns — present in old files,
    * surfaced by no read. */
  private def droppedPhysOf(lines: Seq[String]): Set[String] =
    lines.collect {
      case l if l.startsWith(CmPrefix + "=") =>
        l.substring(CmPrefix.length + 1)
    }.toSet

  /** Rename a LOGICAL-named frame to physical spelling for a file
    * write — a single simultaneous Project (sequential renames would
    * corrupt swap chains like a→b, z→a). Columns without a mapping
    * keep their name (their physical identity IS their name). */
  private def toPhysicalDf(df: DataFrame,
                           lines: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val renames = renameMapOf(lines)
    if (renames.isEmpty) df
    else df.select(df.columns.toSeq.map(c =>
      col(c).as(renames.getOrElse(c, c))): _*)
  }

  private def toPhysicalCols(lines: Seq[String],
                             cols: Seq[String]): Seq[String] = {
    val renames = renameMapOf(lines)
    cols.map(c => renames.getOrElse(c, c))
  }

  /** Apply a manifest's column mapping to a PHYSICAL-named frame:
    * drop the dropped, rename the renamed (one simultaneous Project).
    * Extra columns (e.g. [[FileCol]]) pass through untouched. */
  private def applyMapping(df: DataFrame,
                           lines: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val renames = renameMapOf(lines)
    val dropped = droppedPhysOf(lines)
    if (renames.isEmpty && dropped.isEmpty) return df
    val phys2log = renames.map(_.swap)
    df.select(df.columns.toSeq.filterNot(dropped.contains).map(c =>
      col(c).as(phys2log.getOrElse(c, c))): _*)
  }

  /** Tab/newline/comma/'='-free rendering for stat values (URL
    * encoding; comma is the field separator, '=' the tag separator). */
  private def encStat(v: String): String =
    java.net.URLEncoder.encode(v, "UTF-8")
  private def decStat(v: String): String =
    java.net.URLDecoder.decode(v, "UTF-8")

  private def stLine(c: String, mn: Option[String], mx: Option[String],
                     nulls: Long, nrows: Long, path: String): String =
    s"$StPrefix$c=${mn.fold("")(encStat)},${mx.fold("")(encStat)}," +
      s"$nulls,$nrows\t$path"

  /** Parsed st lines: `(col, (minOpt, maxOpt, nulls, nrows), path)`.
    * Column names come back LOGICAL (st keys store physical — the cm
    * translation happens here, the single st parse point — and
    * dropped columns' stats surface to no one). */
  private def statsOf(lines: Seq[String])
      : Seq[(String, (Option[String], Option[String], Long, Long), String)] = {
    val phys2log = renameMapOf(lines).map(_.swap)
    val dropped = droppedPhysOf(lines)
    lines.collect { case l if l.startsWith(StPrefix) =>
      val cut = l.indexOf('\t', StPrefix.length)
      val tag = l.substring(StPrefix.length, cut)
      val eq = tag.indexOf('=')
      val fields = tag.drop(eq + 1).split(",", -1)
      def opt(s: String) = if (s.isEmpty) None else Some(decStat(s))
      (tag.take(eq),
        (opt(fields(0)), opt(fields(1)), fields(2).toLong, fields(3).toLong),
        l.substring(cut + 1))
    }.collect { case (c, st, p) if !dropped.contains(c) =>
      (phys2log.getOrElse(c, c), st, p)
    }
  }

  /** The columns a manifest carries per-file stats for (on at least
    * one file) — the table's declared stat schema, inherited by every
    * rewrite path so maintenance never strips it. */
  def statColsOf(lines: Seq[String]): Seq[String] =
    statsOf(lines).map(_._1).distinct

  /** True when EVERY data file of `lines` carries st stats for ALL of
    * `cols` — the condition under which every stats-driven decision
    * (pruned reads, merge probes, OPTIMIZE) is metadata-only. */
  def statsCovered(lines: Seq[String], cols: Seq[String]): Boolean = {
    val have = statsOf(lines).map(st => (norm(st._3), st._1)).toSet
    val data = dataFilesOf(lines)
    data.nonEmpty && cols.nonEmpty &&
      data.forall(f => cols.forall(c => have((norm(f), c))))
  }

  /** Per-file ANNOTATION lines (st stats + nc default-era tags) of
    * `lines` whose file is in `paths` — how carry paths keep carried
    * files' stats AND default-era membership alive across rewrites
    * (a rewritten file materializes defaults and must NOT keep the
    * tag; it never appears in `paths` with its old path). */
  private def stLinesFor(lines: Seq[String],
                         paths: Seq[String]): Seq[String] = {
    val keep = paths.map(norm).toSet
    lines.filter(l =>
      (l.startsWith(StPrefix) &&
        keep.contains(norm(
          l.substring(l.indexOf('\t', StPrefix.length) + 1)))) ||
      (l.startsWith(NcPrefix) && keep.contains(norm(ncPathOf(l)))))
  }

  /** Compute st manifest lines for freshly written `files`. Fast
    * path: the PARQUET FOOTERS the write already produced
    * ([[FileSkipping.footerStats]] — O(new files) metadata reads,
    * ZERO data I/O; exact for unannotated numeric/boolean columns
    * always, and for strings when THIS engine wrote the files —
    * `trustedWriter`, the in-house commit paths). EXTERNAL files
    * (adopt, analyze over foreign histories) pass false: foreign
    * writers may truncate BINARY footer stats (max rounded up to a
    * value absent from the data), so their string columns take the
    * exact scan. Anything the footers can't serve exactly
    * (untrusted strings, annotated types, missing chunk stats)
    * falls back to ONE column-pruned scan of exactly the new files
    * (the commit-time incremental discipline
    * [[FileSkipping.updateStats]] documents). Both paths render
    * identically, so a table can mix them freely. */
  private def computeStatLines(spark: SparkSession, files: Seq[String],
                               cols0: Seq[String],
                               renames: Map[String, String] = Map.empty,
                               trustedWriter: Boolean = true)
      : Seq[String] = {
    // callers pass LOGICAL column names; the files on disk — and the
    // st keys rendered here — are PHYSICAL (the cm contract)
    val cols = cols0.map(c => renames.getOrElse(c, c))
    if (cols.isEmpty || files.isEmpty) return Seq.empty
    FileSkipping.footerStats(spark, files, cols,
      trustStringStats = trustedWriter).foreach { byFile =>
      return files.flatMap { f =>
        val (nrows, perCol) = byFile(f)
        cols.map { c =>
          val (mn, mx, nulls) = perCol(c)
          stLine(c, mn, mx, nulls, nrows, f)
        }
      }
    }
    statsScanNotifier("computeStatLines", files.size)
    // trusted fresh files are schema-homogeneous (one df.write): the
    // head footer's recorded StructType plans the fallback scan with
    // no listing/inference job; foreign files keep the inference read
    val phys =
      if (!trustedWriter) None
      else footerSparkSchema(spark, files.head).map(s =>
        org.apache.spark.sql.types.StructType(
          s.fields.map(_.copy(nullable = true))))
    val stats = FileSkipping.collectStatsFiles(spark, files, cols,
      phys).collect()
    // input_file_name spellings differ from listing spellings — key new
    // files by normalized path so the manifest carries the LISTING form
    val byNorm = files.map(f => norm(f) -> f).toMap
    stats.toSeq.flatMap { r =>
      val file = byNorm.getOrElse(norm(r.getString(r.fieldIndex("file"))),
        r.getString(r.fieldIndex("file")))
      val nrows = r.getLong(r.fieldIndex("n_rows"))
      cols.map { c =>
        def s(f: String): Option[String] = {
          val i = r.fieldIndex(f)
          if (r.isNullAt(i)) None else Some(r.get(i).toString)
        }
        stLine(c, s(s"${c}_min"), s(s"${c}_max"),
          r.getLong(r.fieldIndex(s"${c}_nulls")), nrows, file)
      }
    }
  }

  /** [[FileSkipping.collectStatsFiles]] for a LOGICAL column list on
    * physical files: scans under the physical names, returns the
    * stats frame under the logical ones — so manifest-stats fallbacks
    * stay correct on column-mapped tables. */
  private def collectStatsLogical(spark: SparkSession, files: Seq[String],
                                  cols: Seq[String],
                                  lines: Seq[String]): DataFrame = {
    val renames = renameMapOf(lines)
    // sc-covered manifests plan the fallback scan through the file
    // index (fz sizes, explicit physical schema — same read semantics
    // the snapshot scan itself uses); legacy manifests keep inference
    val raw = FileSkipping.collectStatsFiles(spark, files,
      cols.map(c => renames.getOrElse(c, c)),
      physSchemaOf(lines), fzLookup(lines))
    cols.filter(renames.contains).foldLeft(raw) { (df, l) =>
      val pfx = renames(l)
      df.withColumnRenamed(s"${pfx}_min", s"${l}_min")
        .withColumnRenamed(s"${pfx}_max", s"${l}_max")
        .withColumnRenamed(s"${pfx}_nulls", s"${l}_nulls")
    }
  }

  /** Test seam: fired with the version a maintenance rewrite is about
    * to claim, BEFORE its publish — how specs inject a deterministic
    * interloper to exercise [[compactCommitOptimistic]]'s retry. */
  private[sources] var maintenanceAttemptNotifier: Int => Unit = _ => ()

  /** Test seam: fired `(operation, nFiles)` whenever a consumer falls
    * back to an on-the-fly stats SCAN because the manifest lacks st
    * coverage — what specs pin to prove a stats-tagged table's merge/
    * compact/pruned-read makes its decision from metadata alone. */
  private[sources] var statsScanNotifier: (String, Int) => Unit =
    (_, _) => ()

  /** Test seam: fired `(candidates, totalFiles)` by
    * [[deleteCommitPruned]]'s doomed scan after file skipping — what
    * the spec pins to prove a range delete opens only candidate
    * files. */
  private[sources] var deletePruneNotifier: (Int, Int) => Unit =
    (_, _) => ()

  /** Test seam: fired `(rewrittenFiles, totalFiles)` by
    * [[updateCommit]] after match detection — what the spec pins to
    * prove a pruned update rewrites only files holding a real match. */
  private[sources] var updatePruneNotifier: (Int, Int) => Unit =
    (_, _) => ()

  /** Test seam: fired `(probeCandidates, totalFiles)` by the COW
    * rewrite tail BEFORE the match scan — what the spec pins to prove
    * a string-partition / string-range DELETE or UPDATE probes only
    * the files its [[ScanPred]]s admit, not the whole table. */
  private[sources] var rewriteProbeNotifier: (Int, Int) => Unit =
    (_, _) => ()

  /** Test seam: fired `(candidates, totalFiles)` by
    * [[readJoinPruned]] after the manifest range probe — what the
    * spec pins to prove a join-driven read opens only files whose
    * stat range can hold a build-side key. */
  private[sources] var joinPruneNotifier: (Int, Int) => Unit =
    (_, _) => ()

  /** Manifest-served per-file stats for `cols`, as a DataFrame shaped
    * like [[FileSkipping.collectStatsFiles]] with min/max cast through
    * `typeOf` — Some only when EVERY data file of the manifest carries
    * st lines for ALL requested columns (partial coverage falls back
    * to the scan: pruning decisions must never silently use stale or
    * missing bounds). O(files) driver work, zero data I/O. */
  private def manifestStats(spark: SparkSession, lines: Seq[String],
                            cols: Seq[String],
                            typeOf: String => org.apache.spark.sql.types.DataType)
      : Option[DataFrame] = {
    import org.apache.spark.sql.functions.{col => c, lit}
    val data = dataFilesOf(lines).map(norm)
    if (data.isEmpty || cols.isEmpty) return None
    val parsed = statsOf(lines)
    val byFileCol = parsed.map(s => (norm(s._3), s._1) -> s._2).toMap
    val covered = cols.forall(cc => data.forall(f => byFileCol.contains(f -> cc)))
    if (!covered) return None
    // keep the manifest's own path spelling for the output `file` col
    val spellings = dataFilesOf(lines).map(f => norm(f) -> f).toMap
    import spark.implicits._
    val rows = data.map { f =>
      val nrows = byFileCol(f -> cols.head)._4
      (spellings(f), nrows,
        cols.map(cc => byFileCol(f -> cc))
          .flatMap(t => Seq(t._1.orNull, t._2.orNull, t._3.toString)))
    }
    val base = rows.toDF("file", "n_rows", "__s")
    Some(cols.zipWithIndex.foldLeft(base) { case (df, (cc, i)) =>
      df.withColumn(s"${cc}_min", c("__s").getItem(3 * i).cast(typeOf(cc)))
        .withColumn(s"${cc}_max", c("__s").getItem(3 * i + 1).cast(typeOf(cc)))
        .withColumn(s"${cc}_nulls", c("__s").getItem(3 * i + 2).cast("long"))
    }.drop("__s"))
  }

  /** Per-file row counts from the manifest's st lines — Some only when
    * every data file is covered (any stat column's nrows serves). The
    * O(files) metadata [[compactCommit]] decides from. */
  private[sources] def manifestRowCounts(lines: Seq[String])
      : Option[Map[String, Long]] = {
    val data = dataFilesOf(lines).map(norm)
    if (data.isEmpty) return None
    val byFile = statsOf(lines).groupBy(s => norm(s._3))
      .view.mapValues(_.head._2._4).toMap
    if (data.forall(byFile.contains)) Some(byFile) else None
  }

  /** The data-file entries of a manifest line list (what a snapshot
    * scans) — partition-tagged lines contribute their bare path. */
  def dataFilesOf(lines: Seq[String]): Seq[String] =
    lines.collect {
      case l if l.startsWith(PtPrefix) =>
        l.substring(l.indexOf('\t', PtPrefix.length) + 1)
      case l if !l.startsWith(DvPrefix) && !l.startsWith(MetaPrefix) &&
        !l.startsWith(StPrefix) && !l.startsWith(ScPrefix) &&
        !l.startsWith(CmPrefix) && !l.startsWith(FzPrefix) &&
        !l.startsWith(NcPrefix) => l
    }

  /** `(partition column, value, path)` of every PARTITION-TAGGED data
    * file in a manifest line list, values unescaped (untagged files
    * are absent — callers decide their fate). Manifest-only, no data
    * I/O. */
  def partitionsOf(lines: Seq[String]): Seq[(String, String, String)] = {
    // pt tags store PHYSICAL names (cm translation here, the single
    // pt parse point; dropping a partition column is refused)
    val phys2log = renameMapOf(lines).map(_.swap)
    lines.flatMap {
      case l if l.startsWith(PtPrefix) =>
        val cut = l.indexOf('\t', PtPrefix.length)
        val tag = l.substring(PtPrefix.length, cut)
        val path = l.substring(cut + 1)
        // multi-column tags join pairs with '/' — safe to split on:
        // escaped values are '/'-free by construction
        tag.split("/").toSeq.map { pair =>
          val eq = pair.indexOf('=')
          (phys2log.getOrElse(pair.take(eq), pair.take(eq)),
            unescapeVal(pair.drop(eq + 1)), path)
        }
      case _ => Seq.empty
    }
  }

  /** The partition columns EVERY data file of a manifest is tagged by
    * (in tag order), when the table has one coherent spec — the
    * precondition under which a rewrite path ([[mergeCommit]],
    * [[compactCommit]]) can RE-TAG its output files and keep
    * [[dynamicOverwrite]]/pruning alive across maintenance. Mixed
    * specs (evolution in progress) and partially-tagged tables return
    * empty: their rewrites emit untagged files, which reads treat as
    * never-prunable (correct, just unpruned) and dynamicOverwrite
    * rejects until a full `commitPartitioned(append = false)`. */
  private[sources] def fullSpecOf(lines: Seq[String]): Seq[String] = {
    val data = dataFilesOf(lines).map(norm)
    val byFile = partitionsOf(lines).groupBy(t => norm(t._3))
      .view.mapValues(_.map(_._1)).toMap
    val first = data.headOption.flatMap(byFile.get).getOrElse(Seq.empty)
    if (data.nonEmpty && first.nonEmpty &&
        data.forall(f => byFile.get(f).contains(first))) first
    else Seq.empty
  }

  /** The `(value, path)` pairs of files tagged BY `partCol` — the
    * slice of [[partitionsOf]] a read pruning on that column can
    * trust. */
  def partitionsFor(lines: Seq[String],
                    partCol: String): Seq[(String, String)] =
    partitionsOf(lines).collect { case (c, v, p) if c == partCol =>
      (v, p) }

  /** The commit-metadata properties of a manifest line list. */
  def metaOf(lines: Seq[String]): Map[String, String] =
    lines.collect { case l if l.startsWith(MetaPrefix) =>
      val kv = l.substring(MetaPrefix.length)
      val i = kv.indexOf('=')
      kv.take(i) -> kv.drop(i + 1)
    }.toMap

  /** The deletion-vector sidecar paths of a manifest line list. */
  def dvFilesOf(lines: Seq[String]): Seq[String] =
    lines.collect { case l if l.startsWith(DvPrefix) =>
      l.substring(DvPrefix.length) }

  /** The shared schema of a snapshot's dv sidecars from ONE footer
    * open — all live sidecars of one table share one key schema
    * (FORMAT.md `dv`), and Spark wrote them, so the footer's
    * StructType JSON is the exact answer. `spark.read.parquet(dvs)`
    * pays an InMemoryFileIndex listing PLUS a schema-inference footer
    * read per call for the same information; at sidecar counts past
    * the parallel-discovery threshold the listing alone is a whole
    * Spark job. Falls back to the inference read if the metadata key
    * is ever absent (a non-Spark writer — never our own sidecars). */
  private[sources] def dvSchemaOf(spark: SparkSession, dvs: Seq[String])
      : org.apache.spark.sql.types.StructType =
    footerSparkSchema(spark, dvs.head)
      .getOrElse(spark.read.parquet(dvs: _*).schema)

  /** The Spark StructType a Spark writer recorded in one parquet
    * file's footer metadata — ONE footer open, no listing, no
    * inference job. None when the key is absent (a non-Spark writer)
    * or the open fails; callers fall back to the inference read. */
  private def footerSparkSchema(spark: SparkSession, file: String)
      : Option[org.apache.spark.sql.types.StructType] =
    try {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new Path(file), spark.sparkContext.hadoopConfiguration))
      val meta =
        try reader.getFooter.getFileMetaData.getKeyValueMetaData
        finally reader.close()
      Option(meta.get("org.apache.spark.sql.parquet.row.metadata"))
        .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Size lookup over a manifest's fz lines — what [[dvFrame]] /
    * [[dvFileColFrame]] feed [[GraftFileIndex]] so sized sidecars plan
    * with zero getFileStatus calls (pre-fz sidecars stat once, in
    * parallel, on the driver pool). */
  private def fzLookup(lines: Seq[String]): String => Option[Long] = {
    val m = fileSizesOf(lines)
    f => m.get(norm(f))
  }

  /** Writer for INTERNAL staged writes: the MANIFEST is this format's
    * commit protocol — a file is live only once its manifest line
    * publishes — so the Hadoop committer's v1 rename-twice safety and
    * the _SUCCESS marker buy nothing here and cost driver-side
    * commitJob renames plus a forked `chmod` per file (profiled: the
    * largest driver-gap bucket across the commit lifecycles,
    * `Shell.runCommand` + `eagerlyExecuteCommands`). Algorithm v2
    * moves task output on task commit (one rename, executor-side);
    * a failed job leaves unreferenced files that no manifest names —
    * exactly the debris the orphan sweep already owns. */
  private def stagedWriter(df: DataFrame)
      : org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] =
    df.write
      .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")

  /** Total row count of freshly written parquet files straight from
    * their FOOTERS — one driver-side open per file (fanned out on the
    * driver pool), no listing job, no inference job, no Spark job.
    * The emptiness probe after a tombstone write used to pay all
    * three for a number the writer's own footer already records. */
  private def footerRowCount(spark: SparkSession,
                             files: Seq[Path]): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    DriverPool.mapParallel(files) { p =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** A snapshot's dv sidecars as a DataFrame planned from known
    * metadata: explicit schema (one footer open), manifest-fed
    * [[GraftFileIndex]] scan with fz sizes — no listing job, no
    * inference job, no stats for sized sidecars. */
  private def dvFrame(spark: SparkSession, dvs: Seq[String],
                      sizes: String => Option[Long]): DataFrame =
    GraftFileIndex.parquetFrame(spark, dvs,
      org.apache.spark.sql.types.StructType(
        dvSchemaOf(spark, dvs).fields.map(_.copy(nullable = true))),
      sizes)

  /** The dv sidecars projected to [[FileCol]] only — the shape every
    * tombstoned-file probe takes. The fixed one-column schema needs
    * ZERO footer opens and unions sidecar generations with different
    * key schemas (e.g. a diff across two versions' manifests). */
  private def dvFileColFrame(spark: SparkSession, dvs: Seq[String],
                             sizes: String => Option[Long]): DataFrame =
    GraftFileIndex.parquetFrame(spark, dvs,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(FileCol,
          org.apache.spark.sql.types.StringType))), sizes)

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[sources] def manifestDir(table: String) =
    new Path(table, "_manifests")

  private[sources] def manifestPath(table: String, v: Int) =
    new Path(manifestDir(table), f"v$v%08d.json")

  /** A retired version's manifest kept ONLY because surviving delta
    * manifests resolve through it ([[vacuum]] renames `.json` →
    * `.base`). Hidden from [[versions]] — the version is logically
    * gone — but [[readRawManifest]] falls back to it when chasing a
    * delta chain across the retention boundary. */
  private def baseManifestPath(table: String, v: Int) =
    new Path(manifestDir(table), f"v$v%08d.base")

  // -------------------------------------------------------------------
  // Physical manifest encoding — a Delta-style commit log
  // -------------------------------------------------------------------
  //
  // A manifest FILE is either a full snapshot (one logical line per
  // row, the original format — every pre-existing table reads
  // unchanged) or a DELTA frame:
  //
  //   delta\t<baseVersion>      (always <baseVersion> = v - 1)
  //   -\t<logical line removed vs base>
  //   +\t<logical line added vs base>
  //
  // Readers reconstruct the logical line list by folding the chain
  // back to the nearest full manifest. Writers emit a delta whenever
  // it is strictly smaller than the snapshot, and a full CHECKPOINT
  // every [[CheckpointInterval]] versions (and at v1), bounding every
  // chain. This is what keeps a commit's manifest WRITE O(changed
  // lines) instead of O(table files): at 100 TB an append of one
  // partition must not rewrite a multi-million-line file list to
  // publish (the Delta txn-log/Iceberg-snapshot discipline; the
  // O(files) manifest READ to know the snapshot is inherent to any
  // log design and stays). The tag prefixes are unambiguous: every
  // logical line kind is either a path (tab-free) or starts with a
  // known `<tag>\t` none of which collide with `delta\t`/`+\t`/`-\t`.
  private val DeltaHeaderPrefix = "delta\t"
  private val AddLinePrefix = "+\t"
  private val RemoveLinePrefix = "-\t"

  /** The in-commit timestamp's meta-line spelling (see
    * [[writeManifest]]): full frames carry it as a normal meta line,
    * delta frames in the header's optional third field. */
  private val CommitTsPrefix = s"${MetaPrefix}commit_ts="

  /** Every Nth version is written as a full snapshot manifest, however
    * small its delta — the checkpoint that bounds delta-chain length
    * (and so [[readManifest]] resolution cost) to < N hops. */
  private[sources] val CheckpointInterval = 10

  /** Dense, sorted list of committed versions. */
  def versions(spark: SparkSession, table: String): Seq[Int] = {
    checkReaderProtocol(spark, table) // every public entry starts here
    val dir = manifestDir(table)
    val f = fs(spark, dir)
    if (!f.exists(dir)) return Seq.empty
    val names = f.listStatus(dir).toSeq.map(_.getPath.getName)
    val all = names
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        n.substring(1, n.length - 5).toInt }
      .sorted
    // MULTI-TABLE TXN visibility ([[TableTxn]]): a version whose
    // manifest was published under a still-marked transaction is
    // visible IFF the txn's decision file says committed — the single
    // atomic decision-create is the commit point for every
    // participant table at once. Zero extra I/O on the no-txn path:
    // the markers come from the SAME listing; only marked versions
    // (in-flight or unsealed txns, normally none) pay the two small
    // reads.
    val marked = names.collect {
      case n if n.startsWith("v") && n.contains(".json.pending.") =>
        n.substring(1, n.indexOf(".json.pending.")).toInt -> n
    }.toMap
    if (marked.isEmpty) all
    else all.filter { v =>
      marked.get(v) match {
        case None => true
        case Some(markerName) =>
          TableTxn.decisionOf(f, new Path(dir, markerName)) match {
            case TableTxn.Committed => true
            case TableTxn.Sealed => true // marker vanished mid-read
            case _ => false // in-flight or aborted: invisible
          }
      }
    }
  }

  /** The exact file list version `v` reads — the table-format
    * DESCRIBE DETAIL surface, and how specs assert file-level
    * copy-on-write (carried files appear verbatim across versions). */
  def manifest(spark: SparkSession, table: String, v: Int): Seq[String] =
    readManifest(spark, table, v)

  /** The PHYSICAL lines of version `v`'s manifest file — a full
    * snapshot or a delta frame (see the encoding note above). Falls
    * back to the `.base` spelling for retired-but-still-referenced
    * chain bases left by [[vacuum]]. */
  private[sources] def readRawManifest(spark: SparkSession, table: String,
                                       v: Int): Seq[String] = {
    val json = manifestPath(table, v)
    val f = fs(spark, json)
    val p = if (f.exists(json)) json else baseManifestPath(table, v)
    val in = f.open(p)
    val raw = try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n > 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      bytes.toString("UTF-8")
    } finally in.close()
    // manifest body: one line per entry (JSON-free on purpose:
    // no parser dependency, diff-friendly, trivially streamable)
    raw.linesIterator.filter(_.nonEmpty).toSeq
  }

  /** The LOGICAL line list of version `v`: full manifests verbatim;
    * delta frames folded back to the nearest checkpoint (≤
    * [[CheckpointInterval]] hops, each a small metadata file). */
  private def readManifest(spark: SparkSession, table: String,
                           v: Int): Seq[String] = {
    val raw = readRawManifest(spark, table, v)
    raw.headOption match {
      case Some(h) if h.startsWith(DeltaHeaderPrefix) =>
        // header: `delta\t<base>[\t<commit_ts>]` — the frame's own
        // commit time rides the header (zero delta-size cost), so the
        // resolution must drop the BASE's inherited commit_ts line
        val fields = h.substring(DeltaHeaderPrefix.length).split("\t")
        val base = fields(0).toInt
        val hdrTs = fields.lift(1)
        val removed = raw.iterator
          .filter(_.startsWith(RemoveLinePrefix))
          .map(_.substring(RemoveLinePrefix.length)).toSet
        val added = raw
          .filter(_.startsWith(AddLinePrefix))
          .map(_.substring(AddLinePrefix.length))
        val resolved = readManifest(spark, table, base)
          .filterNot(l => removed.contains(l) ||
            (hdrTs.isDefined && l.startsWith(CommitTsPrefix))) ++ added
        hdrTs.fold(resolved)(t => resolved :+ (CommitTsPrefix + t))
      case _ => raw
    }
  }

  /** The retired versions a delta chain still resolves through: walk
    * raw frames back from `v` until a full manifest. What [[vacuum]]
    * must keep (as `.base`) when it retires everything below `v`. */
  private def baseChainOf(spark: SparkSession, table: String,
                          v: Int): Set[Int] = {
    val acc = scala.collection.mutable.Set.empty[Int]
    var raw = readRawManifest(spark, table, v)
    while (raw.headOption.exists(_.startsWith(DeltaHeaderPrefix))) {
      val base = raw.head.substring(DeltaHeaderPrefix.length)
        .split("\t")(0).toInt
      acc += base
      raw = readRawManifest(spark, table, base)
    }
    acc.toSet
  }

  private[sources] def writeManifest(spark: SparkSession, table: String, v: Int,
                                     files0: Seq[String]): Unit = {
    // IN-COMMIT TIMESTAMP (Delta's inCommitTimestamp): the commit's
    // wall-clock is a manifest fact, not a filesystem accident —
    // backup/restore and file copies lose mtimes, and [[versionAsOf]]
    // must keep resolving afterwards. writeManifest owns the stamp
    // (verbatim-republishing paths like restore must not carry a
    // stale one): full frames append it as a meta line, delta frames
    // ride it in the header so the stamp never costs delta lines.
    checkWriterProtocol(spark, table) // every commit path ends here
    val ts = System.currentTimeMillis()
    val target = manifestPath(table, v)
    val f = fs(spark, target)
    f.mkdirs(manifestDir(table))
    val prevResolvable = v > 1 &&
      (f.exists(manifestPath(table, v - 1)) ||
        f.exists(baseManifestPath(table, v - 1)))
    val prevLines: Seq[String] =
      if (!prevResolvable) Seq.empty
      else readManifest(spark, table, v - 1)
        .filterNot(_.startsWith(CommitTsPrefix))
    val payload0 = withFileSizes(spark,
      files0.filterNot(_.startsWith(CommitTsPrefix)), prevLines)
    // nc reconciliation (same central discipline as fz): default-era
    // tags of DEPARTED files drop — path-keyed annotations never
    // outlive their file in a published manifest
    val payload =
      if (!payload0.exists(_.startsWith(NcPrefix))) payload0
      else {
        val dataSet = dataFilesOf(payload0).map(norm).toSet
        payload0.filterNot(l => l.startsWith(NcPrefix) &&
          !dataSet.contains(norm(ncPathOf(l)))).distinct
      }
    val files = payload :+ (CommitTsPrefix + ts)
    // choose the physical encoding: delta vs v-1 when strictly smaller
    // than the snapshot (the common append/merge/delete case — O(changed
    // lines) written, not O(table files)); full at v1, at checkpoints,
    // and whenever the history doesn't help (first commit, overwrites,
    // restores to distant versions)
    val body: Seq[String] =
      if (v <= 1 || v % CheckpointInterval == 0 || !prevResolvable) files
      else {
        val prevSet = prevLines.toSet
        val nextSet = payload.toSet
        val removed = prevLines.filterNot(nextSet)
        val added = payload.filterNot(prevSet)
        val delta = (DeltaHeaderPrefix + (v - 1) + "\t" + ts) +:
          (removed.map(RemoveLinePrefix + _) ++ added.map(AddLinePrefix + _))
        if (delta.size < files.size) delta else files
      }
    val tmp = new Path(manifestDir(table), s".tmp-v$v-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, false)
    try out.write((body.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    // the COMMIT: atomic CREATE-EXCLUSIVE publish; fails if the
    // version already exists
    if (!publishNoReplace(f, tmp, target)) {
      f.delete(tmp, false)
      sys.error(s"version $v already committed (concurrent writer) — retry")
    }
  }

  /** Filesystem schemes whose Hadoop `rename` contract REFUSES an
    * existing destination atomically (the HDFS NameNode family) —
    * plain rename IS a no-replace publish there. */
  private val NoReplaceRenameSchemes =
    Set("hdfs", "viewfs", "webhdfs", "swebhdfs")

  /** Opt-in escape hatch for single-writer deployments on filesystems
    * with no atomic no-replace primitive: `graft.commit.force-rename`
    * (Hadoop conf, so `spark.hadoop.graft.commit.force-rename=true`)
    * accepts the documented exists+rename race instead of refusing. */
  private[sources] val ForceRenameKey = "graft.commit.force-rename"

  /** Registered per-scheme commit publishers — the OBJECT-STORE seam.
    * A publisher must implement putIfAbsent semantics: atomically
    * publish `tmp`'s content at `target` iff `target` does not exist,
    * returning false (without publishing) when it does. Real
    * deployments back this with the store's conditional put
    * (S3 If-None-Match, GCS if-generation-match=0, Azure lease) or an
    * external commit coordinator — the same contract Delta's LogStore
    * and Iceberg's catalog swap provide. */
  private val commitPublishers = new java.util.concurrent.ConcurrentHashMap[
    String, (org.apache.hadoop.fs.FileSystem, Path, Path) => Boolean]()

  /** Register the atomic putIfAbsent publisher commits on `scheme`
    * will use. The publisher sees (filesystem, staged tmp file, final
    * target); it must publish iff the target is absent, return false
    * when a concurrent writer already won, and delete `tmp` on
    * success (or leave it for `clean_orphans`). */
  def registerCommitPublisher(scheme: String)(
      publish: (org.apache.hadoop.fs.FileSystem, Path, Path) => Boolean)
      : Unit = {
    commitPublishers.put(
      scheme.toLowerCase(java.util.Locale.ROOT), publish)
    ()
  }

  /** Drop a registered publisher (tests; idempotent). */
  def unregisterCommitPublisher(scheme: String): Unit = {
    commitPublishers.remove(scheme.toLowerCase(java.util.Locale.ROOT))
    ()
  }

  /** Atomic no-replace publish of `tmp` as `target` — false when the
    * target already exists (the losing writer of a version race).
    *
    * On POSIX local filesystems Hadoop's `rename` maps to rename(2),
    * which silently REPLACES an existing target: two truly concurrent
    * writers could both "win" the same version and one commit would
    * vanish (its files written but never referenced). link(2) fails
    * EEXIST atomically, so the local path hard-links the target into
    * place instead. The HDFS family keeps the plain rename — its
    * rename contract already refuses an existing destination
    * atomically. Every OTHER scheme (s3a, gs, abfs, wasb, ...) has no
    * no-replace primitive behind Hadoop rename (object-store "rename"
    * is copy+delete, last-writer-wins): such schemes REFUSE loudly
    * unless a [[registerCommitPublisher]] publisher provides real
    * putIfAbsent semantics or [[ForceRenameKey]] explicitly accepts
    * the race — atomicity must be a seam, never an assumption. */
  private[sources] def publishNoReplace(f: org.apache.hadoop.fs.FileSystem,
                                        tmp: Path, target: Path): Boolean = {
    val scheme = Option(f.getUri.getScheme).getOrElse("file")
      .toLowerCase(java.util.Locale.ROOT)
    val custom = commitPublishers.get(scheme)
    if (custom != null) custom(f, tmp, target)
    else if (scheme == "file") {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(target.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
        f.delete(tmp, false)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case e: Exception if linkUnsupported(e) =>
          // 'file' mounts WITHOUT hard-link support (CIFS/VFAT/some
          // FUSE): degrade to the rename publish rather than failing
          // every commit — the no-replace guarantee then rests on the
          // version-listing check, as it always did on such mounts.
          // ONLY link-unsupported errors degrade: a transient IO error
          // rethrows, so it can never silently weaken the guarantee.
          !f.exists(target) && f.rename(tmp, target)
      }
    }
    else if (NoReplaceRenameSchemes(scheme)) f.rename(tmp, target)
    else if (f.getConf.getBoolean(ForceRenameKey, false))
      !f.exists(target) && f.rename(tmp, target)
    else sys.error(
      s"cannot publish a commit on '$scheme://': its rename has no " +
        "no-replace guarantee, so two concurrent writers could both " +
        "win a version and one commit would silently vanish. Register " +
        "an atomic putIfAbsent publisher for the scheme " +
        s"""(VersionedTable.registerCommitPublisher("$scheme")(...)) """ +
        "backed by the store's conditional put or a commit " +
        s"coordinator, or set $ForceRenameKey=true (Hadoop conf) to " +
        "accept the race on a single-writer deployment")
  }

  /** True for the errno family meaning "this mount cannot hard-link"
    * (ENOTSUP/EPERM/EACCES renderings and Java's capability error) —
    * the ONLY failures [[publishNoReplace]] may degrade on. */
  private def linkUnsupported(e: Exception): Boolean = e match {
    case _: UnsupportedOperationException => true
    case fse: java.nio.file.FileSystemException =>
      val why = (Option(fse.getReason) ++ Option(fse.getMessage))
        .mkString(" ").toLowerCase(java.util.Locale.ROOT)
      why.contains("not supported") || why.contains("not permitted") ||
        why.contains("permission denied")
    case _ => false
  }

  /** Commit `df` as the next version. `append = true` carries the
    * previous version's files forward (delta commit: only new rows are
    * written — tombstone sidecars carry too, so appended-over deletes
    * stay deleted); `append = false` is a logical overwrite (old files
    * stay on disk for time travel until vacuumed). `meta` key=value
    * properties are published atomically with the commit and readable
    * via [[metaOf]].
    *
    * `statCols` declares columns to persist per-file min/max/null/row
    * stats for IN the manifest (st lines, computed from one
    * O(new files) column-pruned scan of just this commit's files) —
    * the table's stat schema. Appends inherit the previous version's
    * stat columns automatically, so declaring once at table creation
    * keeps every later commit covered and every [[mergeCommit]]/
    * [[readPruned]]/[[compactCommit]] decision metadata-only. Returns
    * the committed version number. */
  def commitSized(spark: SparkSession, table: String, df: DataFrame,
                  append: Boolean, targetBytes: Long = 128L << 20,
                  meta: Map[String, String] = Map.empty,
                  statCols: Seq[String] = Nil): Int = {
    // OPTIMIZED WRITE (Databricks optimizeWrite / Spark's REBALANCE
    // hint): route the frame through an AQE rebalance shuffle so the
    // commit lands ~targetBytes files regardless of the incoming
    // partitioning — ingest stops MANUFACTURING the fragments
    // maintain()/OPTIMIZE would later pay to fix. One extra shuffle
    // per commit, bought back by every later read's open count. The
    // advisory size is session-scoped in Spark, so set-and-restore.
    require(targetBytes > 0, "targetBytes must be positive")
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, targetBytes.toString)
    try commit(spark, table, df.hint("rebalance"), append, meta, statCols)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  def commit(spark: SparkSession, table: String, df: DataFrame,
             append: Boolean,
             meta: Map[String, String] = Map.empty,
             statCols: Seq[String] = Nil): Int = {
    val staged = stageCommitData(spark, table, df, append, meta, statCols)
    writeManifest(spark, table, staged.version, staged.lines)
    staged.version
  }

  /** A fully-prepared but UNPUBLISHED commit: the data files are on
    * disk and every manifest line is computed; only the atomic
    * [[writeManifest]] rename remains. The seam atomic CTAS / RTAS
    * ([[GraftStagedTable]]) rides: stage the whole data write while
    * the table stays invisible (or the old snapshot stays live), then
    * publish — or [[discard]] — in one step. */
  private[sources] final case class StagedCommit(table: String,
                                                 version: Int,
                                                 lines: Seq[String],
                                                 dataDir: String) {
    /** Abort: remove the staged data files (nothing was published). */
    def discard(spark: SparkSession): Unit = {
      val p = new Path(dataDir)
      fs(spark, p).delete(p, true)
      ()
    }
  }

  /** SQL TRUNCATE TABLE's commit: an overwrite to the EMPTY snapshot
    * as pure metadata — one manifest carrying only the logical schema
    * (`sc`) and, when the table is partitioned, the spec meta so the
    * next INSERT stays partition-tagged. ZERO data I/O at any table
    * size (writing an empty DataFrame would still pay a Spark job and
    * leave an empty part file); history time-travels as usual and the
    * truncated versions vacuum away on retention. */
  def truncateCommit(spark: SparkSession, table: String,
                     schema: org.apache.spark.sql.types.StructType,
                     partCols: Seq[String] = Nil): Int = {
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val metaLines = metaLinesOf(
      if (partCols.isEmpty) Map.empty
      else Map("partitioned_by" -> partCols.mkString(",")))
    val next = vs.last + 1
    writeManifest(spark, table, next, metaLines ++ schemaLineOf(schema))
    next
  }

  /** PARTITION-SPEC EVOLUTION (Iceberg's `REPLACE PARTITION FIELD`):
    * re-declare the table's identity partition spec as PURE METADATA
    * — one manifest commit, zero data I/O at any table size. Existing
    * files keep their old-era pt tags: reads already treat files
    * tagged by another column as never-prunable ([[ScanPred.PartIn]]'s
    * evolution discipline), so old-era files stay correct candidates
    * and prune by st stats where covered, while files written AFTER
    * the evolution tag by the new spec and prune by it. No rewrite
    * ever happens on this path — re-laying old data is [[OPTIMIZE]]'s
    * job ([[clusterCommit]]), explicitly and separately. `newSpec`
    * empty = explicitly unpartitioned (later INSERTs stop tagging).
    * Returns the committed version. */
  def setSpecCommit(spark: SparkSession, table: String,
                    newSpec: Seq[String]): Int = {
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    newSpec.foreach(pc => require(!pc.contains('=') &&
      !pc.contains('\t') && !pc.contains('\n') && !pc.contains('/'),
      "partition column names must be =/tab/newline/slash-free"))
    require(newSpec.distinct.size == newSpec.size,
      s"duplicate partition column in ${newSpec.mkString(",")}")
    // spec columns must exist in the current logical schema (derived
    // transform tags '__*' excepted — they name transforms, not columns)
    val sc = tableSchemaAt(spark, table, vs.last)
    newSpec.filterNot(_.startsWith("__")).foreach(c =>
      require(sc.forall(_.fieldNames.contains(c)),
        s"partition column '$c' is not in the table schema"))
    val lines = readManifest(spark, table, vs.last)
    // per-commit meta (txn stamps, restored_from, prop.* records)
    // drops — only the spec declaration carries, the same discipline
    // as every other commit path (stageCommitData etc.); writeManifest
    // re-stamps commit_ts
    writeManifest(spark, table, vs.last + 1,
      lines.filterNot(_.startsWith(MetaPrefix)) ++
        metaLinesOf(Map("partitioned_by" -> newSpec.mkString(","))))
    vs.last + 1
  }

  /** [[commit]] minus the publish — identical data write, stats,
    * validation, and schema lines; returns the staged frame instead of
    * renaming the manifest. The version is resolved NOW: a concurrent
    * commit taking it first makes the later publish fail loudly (the
    * staged data is then orphaned and [[StagedCommit.discard]] or
    * `clean_orphans` reclaims it). */
  private[sources] def stageCommitData(spark: SparkSession, table: String,
                                       df: DataFrame, append: Boolean,
                                       meta: Map[String, String] = Map.empty,
                                       statCols: Seq[String] = Nil)
      : StagedCommit = {
    val metaLines = metaLinesOf(meta) // validate BEFORE any data write
    val next = versions(spark, table).lastOption.getOrElse(0) + 1
    val (carried, prevSchema) =
      if (append && next > 1) {
        val prev = readManifest(spark, table, next - 1)
        // per-commit meta (txn stamps etc.) drops, but the partition
        // SPEC declaration is table SHAPE: a plain append must not
        // silently un-declare it (the appended files are untagged —
        // never-prunable — but later INSERTs keep partition-routing)
        (prev.filterNot(l => l.startsWith(MetaPrefix) ||
            l.startsWith(ScPrefix)) ++ // fresh sc written below
          (if (meta.contains("partitioned_by")) Seq.empty
           else specDeclLines(prev)), schemaOfLines(prev))
      }
      // overwrite: fresh lineage, column mapping + declarations reset
      else (Seq.empty, None)
    // GENERATED columns an append omits materialize here (the
    // declared expression over the incoming rows — logical names,
    // toPhysicalDf renames below); explicitly-provided values are
    // validated post-write instead
    val dfG = prevSchema.map(generatedColsOf).getOrElse(Map.empty)
      .foldLeft(df) { case (d, (g, (dt, e))) =>
        if (d.columns.contains(g)) d
        else d.withColumn(g,
          org.apache.spark.sql.functions.expr(e).cast(dt))
      }
    val dataDir = new Path(table,
      s"data/$next-${java.util.UUID.randomUUID().toString.take(8)}")
    val physDf = toPhysicalDf(dfG, carried)
    stagedWriter(physDf).parquet(dataDir.toString)
    val f = fs(spark, dataDir)
    val newFiles = f.listStatus(dataDir).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).map(_.toString)
    val effStatCols = (statCols ++ statColsOf(carried)).distinct
    val stLines = computeStatLines(spark, newFiles, effStatCols,
      renameMapOf(carried))
    // CHECK constraints + (on appends) schema enforcement, O(new data);
    // an overwrite starts a fresh lineage — nothing to conflict with
    validateNewFiles(spark, table, newFiles, checkSchema = append,
      writtenSchema = Some(physDf.schema))
    val schemaMeta = if (append) mergedSchemaLine(spark, table, dfG)
      else schemaLineOf(df.schema)
    StagedCommit(table, next,
      carried ++ newFiles ++ stLines ++ metaLines ++ schemaMeta,
      dataDir.toString)
  }

  /** IDEMPOTENT WRITES (Delta's txnAppId/txnVersion contract): an
    * external orchestrator retrying a failed job step must not land
    * the same batch twice. The writer names itself (`appId`) and
    * monotonically numbers its batches (`txnVersion`); a replay whose
    * txnVersion is <= the last one this table committed for that app
    * is a NO-OP returning the current head. The authoritative record
    * is the commit's own metadata (`txn_app`/`txn_version` — atomic
    * with the manifest publish, so a crash between data write and
    * marker can't open a duplicate window); a `_txn/<appId>` cache
    * file makes the replay check O(1) instead of an O(versions)
    * history scan. Caveat (same as Delta's): vacuum retires old
    * manifests' metadata — keep retention longer than the slowest
    * orchestrator's replay horizon, or the history fallback can't see
    * pre-retention txns (the cache file survives vacuum and covers
    * the common case). */
  def commitIdempotent(spark: SparkSession, table: String, df: DataFrame,
                       append: Boolean, appId: String, txnVersion: Long,
                       meta: Map[String, String] = Map.empty,
                       statCols: Seq[String] = Nil): Int =
    idempotentGuard(spark, table, appId, txnVersion) { txnMeta =>
      commit(spark, table, df, append, meta ++ txnMeta, statCols)
    }

  /** [[commitIdempotent]] for PARTITIONED commits — the same
    * txnAppId/txnVersion replay contract around
    * [[commitPartitionedMulti]], so a partitioned streaming sink
    * ([[graft.streaming.GraftStreamSinkProvider]]) keeps pt tags AND
    * exactly-once across restarts. */
  def commitPartitionedIdempotent(spark: SparkSession, table: String,
                                  df: DataFrame, partCols: Seq[String],
                                  append: Boolean, appId: String,
                                  txnVersion: Long,
                                  meta: Map[String, String] = Map.empty,
                                  statCols: Seq[String] = Nil): Int =
    idempotentGuard(spark, table, appId, txnVersion) { txnMeta =>
      commitPartitionedMulti(spark, table, df, partCols, append,
        meta ++ txnMeta, statCols)
    }

  /** The shared txnAppId/txnVersion replay check: runs `doCommit`
    * (handing it the txn metadata to stamp) only when this
    * (appId, txnVersion) has not already committed. */
  private def idempotentGuard(spark: SparkSession, table: String,
                              appId: String, txnVersion: Long)
                             (doCommit: Map[String, String] => Int): Int = {
    require(appId.matches("[A-Za-z0-9_.-]+"),
      s"appId must be [A-Za-z0-9_.-]+, got '$appId'")
    val cache = new Path(table, s"_txn/$appId")
    val f = fs(spark, cache)
    def cached(): Option[Long] =
      if (!f.exists(cache)) None
      else scala.util.Try {
        val in = f.open(cache)
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim.toLong
        finally in.close()
      }.toOption
    def writeCache(v: Long): Unit = {
      val tmp = new Path(table, s"_txn/.$appId.tmp")
      f.mkdirs(cache.getParent)
      val out = f.create(tmp, true)
      out.write(v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.close()
      f.delete(cache, false)
      f.rename(tmp, cache)
    }
    val vs = versions(spark, table)
    if (vs.nonEmpty && cached().exists(_ >= txnVersion))
      return vs.last
    // cache miss/stale: the commit metadata is authoritative
    val recorded = vs.reverse.iterator
      .map(v => metaOf(readManifest(spark, table, v)))
      .collectFirst { case m if m.get("txn_app").contains(appId) =>
        m("txn_version").toLong }
    if (recorded.exists(_ >= txnVersion)) {
      recorded.foreach(writeCache) // repair the cache
      return vs.last
    }
    val v = doCommit(Map("txn_app" -> appId,
      "txn_version" -> txnVersion.toString))
    writeCache(txnVersion)
    v
  }

  /** Carry an idempotent writer's replay watermark from one appId to
    * another — the UPGRADE seam for identity-derivation changes (e.g.
    * the streaming sink's checkpoint-hash formula): if `toApp` has no
    * record yet and `fromApp` does, the old watermark is copied into
    * `toApp`'s `_txn` cache, so a batch committed under the OLD
    * identity and replayed under the NEW one is still a no-op.
    * Idempotent; no-op when `toApp` already has any record or
    * `fromApp` has none.
    *
    * The migration TRIGGER is `fromApp`'s `_txn` cache file — written
    * by every commit under that identity. Without that gate, the
    * O(versions) manifest walk would run on the FIRST batch of every
    * brand-new query, and a 32-bit murmur legacy id colliding with
    * ANOTHER query's would silently inherit that query's watermark
    * (no-op'ing this query's first batches). The one case the gate
    * misses — a legacy writer that crashed after its very first
    * publish and before its first cache write — replays that single
    * batch once, exactly the pre-upgrade behavior. When the cache
    * EXISTS, the manifest record stays authoritative and may be ahead
    * of it (crash between publish and cache write): the carried
    * watermark is the MAX of both. */
  def migrateTxnAppId(spark: SparkSession, table: String,
                      fromApp: String, toApp: String): Unit = {
    require(toApp.matches("[A-Za-z0-9_.-]+"),
      s"appId must be [A-Za-z0-9_.-]+, got '$toApp'")
    if (versions(spark, table).isEmpty) return
    def cached(app: String): Option[Long] = {
      val cache = new Path(table, s"_txn/$app")
      val f = fs(spark, cache)
      if (!f.exists(cache)) None
      else scala.util.Try {
        val in = f.open(cache)
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim.toLong
        finally in.close()
      }.toOption
    }
    if (cached(toApp).isDefined) return
    val legacyCache = new Path(table, s"_txn/$fromApp")
    if (!fs(spark, legacyCache).exists(legacyCache)) return
    // ONE newest-first history pass finds whichever identity recorded
    // last; hitting toApp first means it's already live — no-op
    var fromRecorded: Option[Long] = None
    val it = versions(spark, table).reverse.iterator
      .map(v => metaOf(readManifest(spark, table, v)))
    while (it.hasNext && fromRecorded.isEmpty) {
      val m = it.next()
      if (m.get("txn_app").contains(toApp)) return
      if (m.get("txn_app").contains(fromApp))
        fromRecorded = Some(m("txn_version").toLong)
    }
    // the MANIFEST record is authoritative and may be AHEAD of the
    // cache (crash after publish, before the cache write — exactly
    // the replay window this migration protects): carry the MAX of
    // both, never the possibly-stale cache alone
    val watermark = (cached(fromApp).toSeq ++ fromRecorded.toSeq)
      .maxOption
    watermark.foreach { wm =>
      log.info(s"migrating idempotent-writer watermark on $table: " +
        s"$fromApp -> $toApp (txnVersion $wm)")
      val f = fs(spark, new Path(table, "_txn"))
      val tmp = new Path(table, s"_txn/.$toApp.tmp")
      f.mkdirs(new Path(table, "_txn"))
      val out = f.create(tmp, true)
      out.write(wm.toString.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      out.close()
      f.rename(tmp, new Path(table, s"_txn/$toApp"))
      ()
    }
  }

  /** Meta lines durably recording a CREATE/REPLACE statement's
    * TBLPROPERTIES inside the commit manifest itself (`m:prop.<key>`)
    * — the atomic publish then carries them with the table, so a
    * crash between the publish and the `_props/` registry
    * materialization can never lose what the statement declared.
    * Property keys are already `[A-Za-z0-9._-]+` and values one-line
    * ([[validateTableProperty]]), so the lines are always valid. */
  private[sources] def propMetaLines(props: Map[String, String])
      : Seq[String] =
    metaLinesOf(props.map { case (k, v) => (s"prop.$k", v) })

  /** Validated manifest lines for commit metadata — a '=' in a key or
    * a newline anywhere would corrupt the line-oriented manifest. */
  private def metaLinesOf(meta: Map[String, String]): Seq[String] = {
    require(meta.keys.forall(k => !k.contains('=') && !k.contains('\n')) &&
      meta.values.forall(v => !v.contains('\n')),
      "meta keys must be '='-free; values newline-free")
    meta.toSeq.sortBy(_._1).map { case (k, v) => s"$MetaPrefix$k=$v" }
  }

  /** Snapshot read: the named version, or the latest. Empty table →
    * error (there is no schema to synthesize).
    *
    * Commits may EVOLVE the schema (append with added columns): the
    * read merges the file schemas, and rows from files written before
    * a column existed surface it as NULL — the standard
    * add-column-without-rewrite contract. Deletion-vector sidecars in
    * the manifest are applied as a broadcast (file, key) anti-join;
    * with no sidecars the read is a plain pruned parquet scan. */
  def read(spark: SparkSession, table: String,
           version: Option[Int] = None): DataFrame = {
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in $vs")
    readSnapshot(spark, readManifest(spark, table, v))
  }

  /** TIMESTAMP AS OF: the latest version committed at or before
    * `tsMillis` (epoch millis). A manifest's publish rename IS the
    * commit, so its file modification time is the commit time — the
    * same resolution rule as Delta's `timestampAsOf` (which reads the
    * log files' mtimes too). O(versions) metadata listing, zero data
    * I/O; errors when the timestamp predates the table (nothing
    * existed to read). Vacuumed versions are gone here exactly as they
    * are for version-number travel. */
  /** A version's commit wall-clock: the manifest's in-commit
    * `commit_ts` stamp when present (survives file copies), the
    * publish mtime for legacy manifests. */
  private def commitTimeOf(spark: SparkSession, table: String,
                           v: Int): Long =
    metaOf(readManifest(spark, table, v)).get("commit_ts")
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .getOrElse(fs(spark, manifestDir(table))
        .getFileStatus(manifestPath(table, v)).getModificationTime)

  def versionAsOf(spark: SparkSession, table: String,
                  tsMillis: Long): Int = {
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val at = vs.filter(v => commitTimeOf(spark, table, v) <= tsMillis)
    require(at.nonEmpty,
      s"timestamp $tsMillis predates the oldest retained commit of $table")
    at.last
  }

  /** [[read]] at [[versionAsOf]] the timestamp. */
  def readAsOf(spark: SparkSession, table: String,
               tsMillis: Long): DataFrame =
    read(spark, table, Some(versionAsOf(spark, table, tsMillis)))

  /** [[readChanges]] between TIMESTAMPS: the row changes between the
    * snapshots in force at `fromTs` and `toTs` — "what changed since
    * yesterday 06:00" without knowing version numbers. Same
    * O(changed files) cost; same mtime resolution as [[versionAsOf]]. */
  def readChangesAsOf(spark: SparkSession, table: String,
                      fromTsMillis: Long, toTsMillis: Long): DataFrame =
    readChanges(spark, table,
      versionAsOf(spark, table, fromTsMillis),
      versionAsOf(spark, table, toTsMillis))

  /** Materialize a manifest's logical content: merged-schema scan of
    * its data files minus every deletion-vector tombstone. Tombstones
    * are keyed (file, key...): only the row with that key IN that
    * exact file dies, so a later commit re-inserting the key in a new
    * file is unaffected. The sidecar union is O(deleted rows) and
    * broadcast — at 100 TB the anti-join costs one broadcast probe
    * per scanned row, zero shuffle of the data side. */
  /** The base parquet frame over a snapshot's data files. When the
    * manifest carries the declared schema (sc line) the reader gets
    * it EXPLICITLY (spelled physical per the cm mapping, nullable —
    * inference's own convention): NO schema-inference job runs, where
    * `mergeSchema` costs an O(files) distributed footer read at
    * DataFrame creation — per read, per query, on a 100k-file table.
    * The explicit read serves evolution natively: files missing a
    * declared column surface it as typed nulls, files carrying
    * retired physical columns have them ignored. Legacy manifests
    * (no sc line — pre-sc history, adopted trees) keep the
    * merged-footer inference. */
  private def baseSnapshotRead(spark: SparkSession, lines: Seq[String],
                               data: Seq[String]): DataFrame =
    physSchemaOf(lines) match {
      case Some(phys) =>
        // manifest-planned scan ([[GraftFileIndex]]): file sizes from
        // fz lines (subset reads that drop them stat once, in parallel,
        // on the driver pool) — no InMemoryFileIndex listing job/RPCs
        GraftFileIndex.parquetFrame(spark, data, phys, fzLookup(lines))
      case None =>
        spark.read.option("mergeSchema", "true").parquet(data: _*)
    }

  /** The PHYSICAL read schema of a manifest: the sc line's fields
    * renamed logical → physical, all-nullable (inference's
    * convention) — what every explicit-schema scan of the snapshot
    * plans with. None on legacy manifests without an sc line. */
  private def physSchemaOf(lines: Seq[String])
      : Option[org.apache.spark.sql.types.StructType] =
    schemaOfLines(lines).map { sc =>
      val renames = renameMapOf(lines) // logical -> physical
      org.apache.spark.sql.types.StructType(sc.fields.map(
        f => f.copy(name = renames.getOrElse(f.name, f.name),
          nullable = true)))
    }

  private[sources] def readSnapshot(spark: SparkSession,
                                    lines: Seq[String]): DataFrame = {
    val data = dataFilesOf(lines)
    if (data.isEmpty) {
      // a legitimately EMPTY snapshot (TRUNCATE TABLE / a freshly
      // created table): the sc line names the schema, zero files to
      // scan — serve the typed empty frame with the sc schema AS-IS
      // (declared nullability included: an empty frame cannot violate
      // a non-null field, and forcing nullable here would make the
      // scan schema disagree with the catalog schema). File-less
      // manifests WITHOUT a schema line stay loud (malformed).
      val sc = schemaOfLines(lines).getOrElse(sys.error(
        "manifest lists no data files and no schema line"))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sc)
    }
    val dvs = dvFilesOf(lines)
    val defaults = schemaOfLines(lines)
      .map(sc => columnDefaultsOf(sc) ++ generatedColsOf(sc))
      .getOrElse(Map.empty)
    val nc =
      if (defaults.isEmpty) Map.empty[String, Set[String]]
      else ncTagsOf(lines)
    if (nc.isEmpty) {
      // no default-era files in this snapshot: the original single
      // explicit-schema scan
      val base = baseSnapshotRead(spark, lines, data)
      // dv sidecars key on PHYSICAL names: the anti-join runs before
      // the cm translation, so tombstones survive any later rename
      widenToDeclared(applyMapping(if (dvs.isEmpty) base
      else applyTombstones(spark,
        base.withColumn(FileCol, normFileExpr), dvs,
        fzLookup(lines)).drop(FileCol),
        lines), lines)
    } else {
      // DECLARED DEFAULTS over pre-evolution files: group the scan by
      // each file's nc-tag set (one group per evolution era — a
      // handful, not O(files)) and serve the declared default where
      // the file predates the column; rows from post-era files keep
      // their physical values (NULL included). Scan-level pseudo
      // columns (file identity, row position) materialize INSIDE each
      // branch — they cannot resolve above a union.
      val posNeeded = dvs.nonEmpty &&
        dvSchemaOf(spark, dvs).fieldNames.contains(PosCol)
      def scanCols(df: DataFrame): DataFrame =
        if (dvs.isEmpty) df
        else {
          val d = df.withColumn(FileCol, normFileExpr)
          if (posNeeded) d.withColumn(PosCol,
            org.apache.spark.sql.functions.col("_metadata.row_index"))
          else d
        }
      val renames = renameMapOf(lines) // logical -> physical
      val physDefault = defaults.map { case (lg, d) =>
        renames.getOrElse(lg, lg) -> d }
      val base = data
        .groupBy(f => nc.getOrElse(norm(f), Set.empty)
          .intersect(physDefault.keySet)).toSeq
        .map { case (missing, files) =>
          val df = scanCols(baseSnapshotRead(spark, lines, files))
          missing.foldLeft(df) { (d, physCol) =>
            val (dt, sqlText) = physDefault(physCol)
            // a GENERATED expression references OTHER columns by
            // LOGICAL name; this scan sees physical names — translate
            // the references (a constant default has none)
            d.withColumn(physCol,
              exprWithPhysicalRefs(spark, sqlText, renames).cast(dt))
          }
        }.reduce(_.unionByName(_))
      val afterDv = if (dvs.isEmpty) base
        else applyTombstones(spark, base, dvs, fzLookup(lines))
          .drop(FileCol, PosCol)
      widenToDeclared(applyMapping(afterDv, lines), lines)
    }
  }

  /** A default/generation SQL text as a Column with its column
    * references translated logical → physical (identity when the
    * table has no renames). */
  private def exprWithPhysicalRefs(spark: SparkSession, sqlText: String,
                                   renames: Map[String, String])
      : org.apache.spark.sql.Column = {
    val parsed = spark.sessionState.sqlParser.parseExpression(sqlText)
    if (renames.isEmpty)
      return org.apache.spark.sql.GraftSqlShims.column(parsed)
    val mapped = parsed.transformUp {
      case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          if ua.nameParts.length == 1 &&
            renames.contains(ua.nameParts.head) =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
          Seq(renames(ua.nameParts.head)))
    }
    org.apache.spark.sql.GraftSqlShims.column(mapped)
  }

  /** Apply a snapshot's deletion-vector sidecars to `base` (which must
    * already carry [[FileCol]]): one broadcast (file, key…) anti-join —
    * O(deleted rows) broadcast, zero shuffle of the data side. A
    * POSITIONAL sidecar (keyed [[PosCol]]) has no table key columns to
    * join on; the row's file ordinal is materialized from the parquet
    * reader's `_metadata.row_index` just for the join and dropped
    * after — data files are immutable, so positions never shift. */
  private def applyTombstones(spark: SparkSession, base: DataFrame,
                              dvs: Seq[String],
                              sizes: String => Option[Long]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    if (dvs.isEmpty) return base
    val tomb = dvFrame(spark, dvs, sizes)
    val keyCols = tomb.columns.filterNot(_ == FileCol).toSeq
    val needPos = keyCols.contains(PosCol) && !base.columns.contains(PosCol)
    val joined =
      (if (needPos) base.withColumn(PosCol, col("_metadata.row_index"))
       else base)
        .join(broadcast(tomb), FileCol +: keyCols, "left_anti")
    if (needPos) joined.drop(PosCol) else joined
  }

  /** Reconcile a snapshot read with the DECLARED schema (sc line):
    * a column added metadata-only ([[addColumnCommit]]) exists in no
    * file yet, so the merged footers can't surface it — it appears
    * here as a typed null column. Columns only ever APPEND (declared
    * order is not imposed on the merged read). */
  private def widenToDeclared(df: DataFrame,
                              lines: Seq[String]): DataFrame =
    schemaOfLines(lines) match {
      case Some(sc) =>
        val have = df.columns.toSet
        sc.fields.filterNot(f => have.contains(f.name))
          .foldLeft(df)((d, f) => d.withColumn(f.name,
            org.apache.spark.sql.functions.lit(null).cast(f.dataType)))
      case None => df
    }

  /** `input_file_name()` normalized to a bare path (scheme/authority
    * stripped) so it compares equal to manifest entries regardless of
    * `file:/` vs `file:///` spelling. */
  private def normFileExpr: org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.expr(
      // `scheme://authority/path` first, then authority-free `scheme:/path`
      "regexp_replace(regexp_replace(input_file_name()," +
        " '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*', '')," +
        " '^[a-zA-Z][a-zA-Z0-9+.-]*:', '')")

  /** DELETE via deletion vectors — merge-on-read, the Delta
    * deletion-vector / Iceberg positional-delete pattern: instead of
    * rewriting every file that holds a matching row (copy-on-write,
    * which turns a 3-row delete on a 1 GB file into a 1 GB write),
    * the matching rows' `(file, key)` identities are written to a
    * small tombstone sidecar and the new manifest references it. Data
    * files are untouched; [[read]] applies the tombstones as a
    * broadcast anti-join. A later [[mergeCommit]] that rewrites a
    * file purges its tombstones (the rewrite starts from the LOGICAL
    * rows), re-consolidating toward pure files.
    *
    * `keyCols` must identify rows uniquely WITHIN each data file
    * (table-unique keys, the same precondition [[mergeCommit]]
    * documents); a duplicated key inside one file would take its
    * twin down with it. All deletes on one table must use the SAME
    * key columns (enforced against the live sidecars): the read-side
    * anti-join matches tombstones by one key schema, and a sidecar
    * keyed differently would read as NULL keys and silently match
    * nothing. Tombstones for rows already deleted by an earlier
    * sidecar are not re-emitted (the predicate runs on the logical
    * snapshot). Returns the new version; a predicate matching nothing
    * still commits (empty-sidecar-free: no dv line added). */
  def deleteCommit(spark: SparkSession, table: String,
                   predicate: org.apache.spark.sql.Column,
                   keyCols: Seq[String]): Int =
    try deleteCommitAttempt(spark, table, predicate, keyCols, _ => ())
    catch { case c: VersionConflict => sys.error(c.getMessage) }

  /** [[deleteCommit]] with FILE SKIPPING on the doomed-row scan: the
    * effective predicate is `ranges AND predicate`, and the manifest's
    * st lines prune the scan to the ranges' candidate files — a
    * retention delete (`ts < cutoff`) on a 100 TB time-clustered table
    * must tombstone from O(old files) of reads, not a table scan
    * (the same min/max discipline [[readPruned]] applies to reads and
    * [[mergeCommit]] to touched-file probes). Falls back to one
    * on-the-fly stats scan when the manifest doesn't cover the range
    * columns; row-identical to
    * `deleteCommit(ranges AND predicate)` either way — min/max
    * intersection is necessary, never sufficient, so excluded files
    * provably hold no matching row. Pass `lit(true)` as `predicate`
    * for a pure range delete. */
  def deleteCommitPruned(spark: SparkSession, table: String,
                         ranges: Seq[(String, Long, Long)],
                         predicate: org.apache.spark.sql.Column,
                         keyCols: Seq[String]): Int =
    try deleteCommitAttempt(spark, table, predicate, keyCols, _ => (),
      pruneRanges = ranges)
    catch { case c: VersionConflict => sys.error(c.getMessage) }

  /** [[deleteCommit]] with optimistic concurrency — same conflict
    * re-evaluation as [[mergeCommitOptimistic]]: a concurrent commit
    * that left this delete's tombstoned files in place (appends,
    * disjoint rewrites) triggers a recompute-and-retry from the new
    * head; one that rewrote them aborts loudly (the tombstones' file
    * identities would dangle). `onAttempt` is the pre-publish hook
    * seam of [[mergeCommitOptimistic]]. */
  def deleteCommitOptimistic(
      spark: SparkSession, table: String,
      predicate: org.apache.spark.sql.Column, keyCols: Seq[String],
      maxRetries: Int = 5, onAttempt: Int => Unit = _ => ()): Int =
    retryReadModifyWrite(spark, table, maxRetries, "delete") { hook =>
      deleteCommitAttempt(spark, table, predicate, keyCols, hook)
    }(onAttempt)

  private def deleteCommitAttempt(spark: SparkSession, table: String,
                                  predicate: org.apache.spark.sql.Column,
                                  keyCols: Seq[String],
                                  onAttempt: Int => Unit,
                                  pruneRanges: Seq[(String, Long, Long)] =
                                    Nil): Int = {
    import org.apache.spark.sql.functions.col
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val lines = readManifest(spark, table, vs.last)
    // a file-less snapshot (TRUNCATE / freshly created): nothing can
    // match — the delete is a no-op, no version published
    if (dataFilesOf(lines).isEmpty) return vs.last
    val liveDvs = dvFilesOf(lines)
    if (liveDvs.nonEmpty) {
      val existing = dvSchemaOf(spark, liveDvs).fieldNames
        .filterNot(_ == FileCol).toSet
      require(existing == toPhysicalCols(lines, keyCols).toSet,
        s"table's live tombstones are keyed by $existing; a delete " +
          s"keyed by $keyCols would not compose — use the same key " +
          "columns (or mergeCommit/compactCommit to purge first)")
    }
    // file skipping for the doomed scan ([[deleteCommitPruned]]): only
    // the ranges' candidate files can hold a matching row — the rest
    // are never opened. `lines` keeps only candidate data lines (dv
    // sidecars stay: tombstones must keep composing on the files read)
    val scanLines =
      if (pruneRanges.isEmpty) lines
      else {
        val data = dataFilesOf(lines)
        val rangeCols = pruneRanges.map(_._1).distinct
        val stats = manifestStats(spark, lines, rangeCols,
          _ => org.apache.spark.sql.types.DoubleType).getOrElse {
          statsScanNotifier("deleteCommit", data.size)
          collectStatsLogical(spark, data, rangeCols, lines)
        }
        val cand = FileSkipping.candidateFiles(stats, pruneRanges)
        deletePruneNotifier(cand.size, data.size)
        cand ++ lines.filter(l =>
        l.startsWith(DvPrefix) || l.startsWith(CmPrefix) ||
        l.startsWith(FzPrefix) ||
        l.startsWith(ScPrefix))
      }
    val rangePred = pruneRanges
      .map { case (c, lo, hi) => col(c) >= lo && col(c) <= hi }
      .foldLeft(predicate)(_ && _)
    val doomed = toPhysicalDf(
      (if (dataFilesOf(scanLines).isEmpty)
        readSnapshotTagged(spark, lines).limit(0)
      else readSnapshotTagged(spark, scanLines))
        .filter(rangePred)
        .select(FileCol, keyCols: _*), lines) // sidecar keys: PHYSICAL
    val next = vs.last + 1
    val dvDir = new Path(table,
      s"data/$next-dv-${java.util.UUID.randomUUID().toString.take(8)}")
    // tombstones are tiny — one file keeps the manifest and the
    // read-side broadcast compact
    stagedWriter(doomed.coalesce(1)).parquet(dvDir.toString)
    val f = fs(spark, dvDir)
    val dvFiles = f.listStatus(dvDir).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    val hasRows = footerRowCount(spark, dvFiles) > 0
    val dvLines =
      if (hasRows) dvFiles.map(p => DvPrefix + p.toString)
      else { f.delete(dvDir, true); Seq.empty }
    onAttempt(next)
    // metadata describes its own commit — never carried (same rule as
    // commit's carry path)
    try writeManifest(spark, table, next,
      lines.filterNot(_.startsWith(MetaPrefix)) ++ specDeclLines(lines) ++
        dvLines)
    catch { case e: RuntimeException
        if e.getMessage != null && e.getMessage.contains("already committed") =>
      // the conflict's touched set = the files these tombstones target
      // (O(deleted rows) sidecar read, only paid on the loss path)
      val tombstoned =
        if (!hasRows) Set.empty[String]
        else dvFileColFrame(spark, dvFiles.map(_.toString), _ => None)
          .distinct().collect().map(r => norm(r.getString(0))).toSet
      throw VersionConflict(vs.last, tombstoned, e.getMessage)
    }
    next
  }

  /** UPDATE ... SET ... WHERE with FILE-LEVEL copy-on-write: only
    * files that actually HOLD a matching row are rewritten (their rows
    * re-projected through the SET expressions, their tombstones purged
    * by materialization); every other file — and its tombstones, tags,
    * and st lines — carries verbatim. `set` maps EXISTING column names
    * to replacement expressions; all expressions see the PRE-image row
    * (standard UPDATE semantics: `SET a = b, b = a` swaps). `ranges`
    * prunes the match scan by the manifest's st lines exactly as
    * [[deleteCommitPruned]] does — `UPDATE ... WHERE ts BETWEEN ...`
    * on a time-clustered 100 TB table opens O(candidate files) and of
    * those rewrites only the ones with a real match. A SET expression
    * that would CHANGE the column's type cannot land: the projection
    * unifies each SET with its column's type (incompatible values die
    * in the rewrite's ANSI cast, before any publish), and the appends'
    * write-time schema enforcement backstops non-coercible shapes.
    * An update matching nothing still commits (a carry-all
    * manifest write — cheap, and keeps "one logical op = one version"
    * for audit/CDF consumers). The change feed reports each updated
    * row as its delete/insert pair; untouched rows of rewritten files
    * cancel in the multiset diff. Single attempt under writer
    * contention — use [[updateCommitOptimistic]]. */
  def updateCommit(spark: SparkSession, table: String,
                   predicate: org.apache.spark.sql.Column,
                   set: Map[String, org.apache.spark.sql.Column],
                   ranges: Seq[(String, Long, Long)] = Nil): Int =
    updateCommitPruned(spark, table, predicate, set, rangePreds(ranges))

  /** [[updateCommit]] with the probe pruned by the FULL [[ScanPred]]
    * language — string ranges, partition tags, and null tests prune
    * alongside integral ranges, so an `UPDATE ... WHERE region = 'X'`
    * on a partitioned/stated table probes only that slice's files. */
  def updateCommitPruned(spark: SparkSession, table: String,
                         predicate: org.apache.spark.sql.Column,
                         set: Map[String, org.apache.spark.sql.Column],
                         preds: Seq[ScanPred]): Int =
    try updateCommitAttempt(spark, table, predicate, set, preds, _ => ())
    catch { case c: VersionConflict => sys.error(c.getMessage) }

  /** Integral prune ranges in [[ScanPred]] form — the tuple-based
    * public signatures' bridge into the generalized probe. */
  private def rangePreds(ranges: Seq[(String, Long, Long)]): Seq[ScanPred] =
    ranges.map { case (c, lo, hi) => ScanPred.NumBetween(c, lo, hi) }

  /** [[updateCommit]] with optimistic concurrency — same conflict
    * re-evaluation as [[mergeCommitOptimistic]]: retries from the new
    * head unless the interloper rewrote a file this update touched.
    * `onAttempt` is the pre-publish hook seam of
    * [[mergeCommitOptimistic]]. */
  def updateCommitOptimistic(
      spark: SparkSession, table: String,
      predicate: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column],
      ranges: Seq[(String, Long, Long)] = Nil, maxRetries: Int = 5,
      onAttempt: Int => Unit = _ => ()): Int =
    retryReadModifyWrite(spark, table, maxRetries, "update") { hook =>
      updateCommitAttempt(spark, table, predicate, set,
        rangePreds(ranges), hook)
    }(onAttempt)

  private def updateCommitAttempt(spark: SparkSession, table: String,
                                  predicate: org.apache.spark.sql.Column,
                                  set: Map[String, org.apache.spark.sql.Column],
                                  prunePreds: Seq[ScanPred],
                                  onAttempt: Int => Unit): Int = {
    import org.apache.spark.sql.functions.{col, when}
    require(set.nonEmpty, "update needs at least one SET column")
    tableSchemaOf(spark, table).foreach { sch =>
      set.keys.foreach(k => require(sch.fieldNames.contains(k),
        s"UPDATE cannot introduce column $k — it SETs existing " +
          "columns only (add columns via an evolving append)"))
    }
    rewriteCommitAttempt(spark, table, predicate, prunePreds,
      onAttempt) { (rows, rangePred) =>
      // ONE Project: every SET expression evaluates against the
      // pre-image row, never a half-updated one
      rows.select(rows.columns.toSeq.map { c =>
        set.get(c)
          .map(e => when(rangePred, e).otherwise(col(c)).as(c))
          .getOrElse(col(c))
      }: _*)
    }
  }

  /** COPY-ON-WRITE DELETE by predicate — no key columns: where
    * [[deleteCommit]] tombstones rows into a deletion-vector sidecar
    * (merge-on-read, needs per-file row identity), this REWRITES
    * exactly the files holding a match, minus their matching rows
    * (SQL `DELETE FROM ... WHERE` semantics: rows where the predicate
    * is null survive). Same pruned probe as [[updateCommit]]: `ranges`
    * narrow the match scan by manifest stats, and only files with a
    * real match are rewritten — O(matched files) of I/O. Tombstones of
    * rewritten files are purged by the rewrite (their logical rows
    * materialize); the change feed reports exactly the deleted rows.
    * This is the seam SQL `DELETE FROM` ([[GraftTable]]) lands on. */
  def deleteCommitWhere(spark: SparkSession, table: String,
                        predicate: org.apache.spark.sql.Column,
                        ranges: Seq[(String, Long, Long)] = Nil): Int =
    deleteCommitWherePruned(spark, table, predicate, rangePreds(ranges))

  /** [[deleteCommitWhere]] with the probe pruned by the FULL
    * [[ScanPred]] language — what SQL DELETE passes: every claimed
    * conjunct (string ranges and partition tags included) narrows the
    * matched-file probe, so a one-partition DELETE opens only that
    * partition's files. */
  def deleteCommitWherePruned(spark: SparkSession, table: String,
                              predicate: org.apache.spark.sql.Column,
                              preds: Seq[ScanPred]): Int = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    try rewriteCommitAttempt(spark, table, predicate, preds, _ => ()) {
      (rows, rangePred) =>
        rows.filter(not(coalesce(rangePred, lit(false))))
    }
    catch { case c: VersionConflict => sys.error(c.getMessage) }
  }

  /** MERGE-ON-READ DELETE by predicate — NO key columns needed: the
    * matched rows' `(file, position)` identities land in a
    * deletion-vector sidecar ([[PosCol]] = the row's parquet ordinal,
    * stable because data files are immutable) and every data file
    * carries verbatim. A point DELETE commits O(matched rows) of
    * sidecar where [[deleteCommitWhere]] (copy-on-write) rewrites
    * O(matched file BYTES) — the Delta-DV / Iceberg-positional-delete
    * trade: reads pay a broadcast anti-join until `purge_tombstones` /
    * OPTIMIZE consolidates the debt. `preds` prune the doomed scan by
    * the full [[ScanPred]] language, same as the COW paths. Composes
    * with earlier positional deletes (positions name original-file
    * rows, and already-dead rows are filtered before the scan);
    * refuses when live sidecars are keyed by table columns — the read
    * applies ONE tombstone key schema per table. */
  def deleteCommitPositional(spark: SparkSession, table: String,
                             predicate: org.apache.spark.sql.Column,
                             preds: Seq[ScanPred] = Nil): Int = {
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val lines = readManifest(spark, table, vs.last)
    val liveDvs = dvFilesOf(lines)
    if (liveDvs.nonEmpty) {
      val existing = dvSchemaOf(spark, liveDvs).fieldNames
        .filterNot(_ == FileCol).toSet
      require(existing == Set(PosCol),
        s"table's live tombstones are keyed by $existing; a positional " +
          "delete would not compose — purge_tombstones (or " +
          "compactCommit) first, or keep deleting by those keys")
    }
    val data = dataFilesOf(lines)
    // a file-less snapshot (TRUNCATE / freshly created): nothing can
    // match — the DELETE is a no-op, no version published
    if (data.isEmpty) return vs.last
    val scanLines =
      if (preds.isEmpty) lines
      else scanCandidates(lines, preds) ++ dvLinesOf(lines) ++
        cmLinesOf(lines) ++ scLinesOf(lines)
    deletePruneNotifier(dataFilesOf(scanLines).size, data.size)
    val effPred =
      if (preds.isEmpty) predicate else predicate && predExpr(preds)
    val doomed =
      if (dataFilesOf(scanLines).isEmpty) None
      else Some(readSnapshotTaggedWithPos(spark, scanLines)
        .filter(effPred).select(FileCol, PosCol))
    publishTombstoneCommit(spark, table, lines, doomed, vs.last)
  }

  /** Shared positional/keyed tombstone publish tail: write the doomed
    * identities as ONE sidecar file under the next version's data dir,
    * re-publish every carried line plus the new dv line. An empty
    * doomed set still commits (carry-all — one logical op, one
    * version). */
  private def publishTombstoneCommit(spark: SparkSession, table: String,
                                     lines: Seq[String],
                                     doomed: Option[DataFrame],
                                     head: Int): Int = {
    val next = head + 1
    val dvDir = new Path(table,
      s"data/$next-dv-${java.util.UUID.randomUUID().toString.take(8)}")
    val dvLines = doomed match {
      case None => Seq.empty[String]
      case Some(df) =>
        // tombstones are tiny — one file keeps the manifest and the
        // read-side broadcast compact
        stagedWriter(df.coalesce(1)).parquet(dvDir.toString)
        val f = fs(spark, dvDir)
        val files = f.listStatus(dvDir).toSeq.map(_.getPath)
          .filter(_.getName.endsWith(".parquet"))
        if (footerRowCount(spark, files) > 0)
          files.map(p => DvPrefix + p.toString)
        else { f.delete(dvDir, true); Seq.empty }
    }
    try writeManifest(spark, table, next,
      lines.filterNot(_.startsWith(MetaPrefix)) ++ specDeclLines(lines) ++
        dvLines)
    catch { case e: RuntimeException
        if e.getMessage != null &&
          e.getMessage.contains("already committed") =>
      sys.error(s"version conflict on $table: the delete planned " +
        s"against v$head but a concurrent commit took v$next — " +
        "re-run the delete")
    }
    next
  }

  /** Test seam: fired `(chosenMode, matchedRows, matchedFileRows)` by
    * [[deleteCommitRouted]] after its routing decision — what specs
    * pin to prove a point DELETE goes merge-on-read (zero parquet
    * rewrites) while a bulk DELETE still rewrites copy-on-write.
    * matchedRows/matchedFileRows are -1 when the mode was forced by
    * the table property (no probe ran). */
  private[sources] var deleteModeNotifier
      : (String, Long, Long) => Unit = (_, _, _) => ()

  /** The `write.delete.mode` table property key. */
  val DeleteModeProp = "write.delete.mode"

  /** The `write.update.mode` / `write.merge.mode` table property keys
    * (COW vs merge-on-read per row-level command — Iceberg's dial). */
  val UpdateModeProp = "write.update.mode"
  val MergeModeProp = "write.merge.mode"

  /** The `write.stats.columns` table property key: a comma-separated
    * column list every SQL write (INSERT / CTAS / streaming sink
    * batch) stamps per-file min/max/null st stats for — so a table
    * created and operated purely through SQL gets manifest file
    * skipping from its first commit, without knowing to `CALL
    * gt.system.analyze`. Columns absent from a given write are
    * skipped (schema evolution safe); the library API's explicit
    * `statCols` parameters are unaffected. */
  val StatsColsProp = "write.stats.columns"

  /** The table's IDENTITY partition spec from a manifest: the
    * `partitioned_by` DECLARATION meta when present (the current
    * spec — what [[setSpecCommit]] evolves; present-but-empty means
    * explicitly unpartitioned), else the coherent per-file pt tags
    * ([[fullSpecOf]] — legacy and adopted manifests that predate the
    * declaration). The single resolution rule every SQL surface
    * shares (INSERT routing, row-level re-tagging, TRUNCATE spec
    * carry, DESCRIBE partitioning). Declaration-first matters after
    * an evolution: a snapshot still holding only old-era files keeps
    * coherent OLD tags, and tag-first resolution would silently
    * re-route the next INSERT to the retired spec. */
  private[sources] def identitySpecOf(lines: Seq[String]): Seq[String] =
    metaOf(lines).get("partitioned_by")
      .map(_.split(",").toSeq.filter(_.nonEmpty))
      .getOrElse(fullSpecOf(lines))

  /** The table's declared stats columns ([[StatsColsProp]]) restricted
    * to `available` — what a SQL write path passes as statCols. */
  private[graft] def declaredStatCols(spark: SparkSession,
                                      table: String,
                                      available: Seq[String])
      : Seq[String] =
    tablePropertyOf(spark, table, StatsColsProp)
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Nil)
      .filter(available.contains)

  /** SQL DELETE's routing seam — copy-on-write vs merge-on-read:
    *
    *  - table property `write.delete.mode = 'copy-on-write'` →
    *    [[deleteCommitWherePruned]] (rewrite matched files);
    *  - `= 'merge-on-read'` → [[deleteCommitPositional]] (sidecar
    *    tombstones, zero data rewrites);
    *  - unset / `'auto'` → COST-BASED: one pruned probe counts the
    *    matched rows per file; when they are a small fraction
    *    (≤ 10%) of the matched files' total rows (manifest st
    *    nrows — zero extra I/O), a rewrite would copy ≥ 10× the
    *    bytes it deletes, so the delete goes merge-on-read; bulk
    *    deletes (or tables without st coverage, or tables whose live
    *    sidecars are keyed by table columns) stay copy-on-write. The
    *    probe is never paid twice: the COW branch reuses its matched
    *    set (the rewrite skips its own probe), the MOR branch re-reads
    *    only the matched files for their row positions.
    *
    * On a 100 TB table this is the difference between a compliance
    * point-DELETE committing O(deleted rows) of sidecar and it
    * rewriting every file that holds one doomed row. */
  def deleteCommitRouted(spark: SparkSession, table: String,
                         predicate: org.apache.spark.sql.Column,
                         preds: Seq[ScanPred],
                         predsExact: Boolean = false): Int = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    def cow(preMatched: Option[(Set[String], Int)],
            dropNorm: Set[String] = Set.empty): Int =
      try rewriteCommitAttempt(spark, table, predicate, preds, _ => (),
        preMatched, dropNorm) { (rows, rangePred) =>
        rows.filter(not(coalesce(rangePred, lit(false))))
      }
      catch { case c: VersionConflict => sys.error(c.getMessage) }
    tablePropertyOf(spark, table, DeleteModeProp) match {
      case Some("copy-on-write") =>
        deleteModeNotifier("copy-on-write", -1L, -1L)
        cow(None)
      case Some("merge-on-read") =>
        deleteModeNotifier("merge-on-read", -1L, -1L)
        deleteCommitPositional(spark, table, predicate, preds)
      case Some(other) if other != "auto" =>
        sys.error(s"unknown $DeleteModeProp '$other' on $table — " +
          "use 'copy-on-write', 'merge-on-read' or 'auto'")
      case _ =>
        val vs = versions(spark, table)
        require(vs.nonEmpty, s"no committed versions in $table")
        val head = vs.last
        val lines = readManifest(spark, table, head)
        val rowCounts = manifestRowCounts(lines)
        val liveDvs = dvFilesOf(lines)
        val posCompatible = liveDvs.isEmpty ||
          dvSchemaOf(spark, liveDvs).fieldNames
            .filterNot(_ == FileCol).toSet == Set(PosCol)
        if (rowCounts.isEmpty || !posCompatible) {
          // no O(files) row counts to decide from (or the sidecar key
          // schema forbids positional) — today's behavior, one probe
          deleteModeNotifier("copy-on-write", -1L, -1L)
          cow(None)
        } else {
          val candidates = scanCandidates(lines, preds)
          // STATS-ONLY FAST PATH: when the claimed conjuncts ARE the
          // whole predicate (`predsExact` — every SQL filter
          // translated), a candidate file whose st/pt evidence proves
          // EVERY row matches needs no probing: it is dropped whole,
          // as pure metadata. A retention DELETE on a time-clustered
          // 100 TB table (`ts < cutoff`) then commits without a
          // single data-reading job — only the files straddling the
          // cutoff (boundary) are probed, and only they are rewritten
          // or tombstoned. Tombstoned files are never trusted as
          // contained (their manifest nrows over-counts).
          val tombstoned: Set[String] =
            if (liveDvs.isEmpty) Set.empty
            else dvFileColFrame(spark, liveDvs, fzLookup(lines))
              .distinct().collect()
              .map(r => norm(r.getString(0))).toSet
          val containedBy = containmentOf(lines)
          val contained: Seq[String] =
            if (!predsExact) Seq.empty
            else candidates.filter(f => !tombstoned(norm(f)) &&
              rowCounts.get.contains(norm(f)) &&
              preds.forall(containedBy(f, _)))
          val containedNorm = contained.map(norm).toSet
          val containedRows =
            contained.map(f => rowCounts.get(norm(f))).sum
          val boundary = candidates.filterNot(f => containedNorm(norm(f)))
          if (predsExact && boundary.isEmpty) {
            // every candidate proved fully matched (or none exists):
            // one metadata-only commit, zero probe jobs
            deleteModeNotifier("metadata-only", containedRows,
              containedRows)
            try replaceFilesCommit(spark, table, containedNorm,
              Seq.empty, head)
            catch { case c: VersionConflict => sys.error(c.getMessage) }
          } else {
            val probeLines =
              boundary ++ dvLinesOf(lines) ++ cmLinesOf(lines) ++
                scLinesOf(lines)
            val effPred =
              if (preds.isEmpty) predicate
              else predicate && predExpr(preds)
            val perFile: Map[String, Long] =
              if (boundary.isEmpty) Map.empty
              else readSnapshotTagged(spark, probeLines).filter(effPred)
                .groupBy(org.apache.spark.sql.functions.col(FileCol))
                .count().collect()
                .map(r => norm(r.getString(0)) -> r.getLong(1)).toMap
            val matchedRows = containedRows + perFile.valuesIterator.sum
            val matchedFileRows = containedRows + perFile.keysIterator
              .map(f => rowCounts.get.getOrElse(f, 0L)).sum
            if (matchedRows > 0 &&
                matchedRows * 10L <= matchedFileRows) {
              deleteModeNotifier("merge-on-read", matchedRows,
                matchedFileRows)
              // re-read ONLY the matched files for their row
              // positions — tiny by the decision just made (contained
              // files contribute O(their rows), inside the
              // O(matched rows) merge-on-read contract)
              val lineOf = dataLineByPath(lines)
              val matchedLines =
                (containedNorm ++ perFile.keys).toSeq.map(lineOf) ++
                  dvLinesOf(lines) ++ cmLinesOf(lines) ++
                  scLinesOf(lines)
              val doomed = readSnapshotTaggedWithPos(spark, matchedLines)
                .filter(effPred).select(FileCol, PosCol)
              publishTombstoneCommit(spark, table, lines, Some(doomed),
                head)
            } else {
              deleteModeNotifier("copy-on-write", matchedRows,
                matchedFileRows)
              // contained files DROP as metadata; only the boundary
              // files with real matches pay the rewrite
              cow(Some((perFile.keySet, head)), containedNorm)
            }
          }
        }
    }
  }

  /** The shared COW rewrite tail of UPDATE and predicate DELETE:
    * stats-pruned candidate probe, matched-file detection, transform
    * of exactly the matched files' logical rows, atomic publish with
    * untouched files carried verbatim (stats included). `transform`
    * receives (matched rows, effective predicate) and returns the
    * replacement rows.
    *
    * Pruning takes the FULL [[ScanPred]] language — integral ranges,
    * string ranges, partition-tag membership, null tests — through
    * [[scanCandidates]]' cannot-rule-out contract, the same metadata
    * walk the read path uses. A `DELETE FROM t WHERE status = 'X'` or
    * a delete scoped to one string partition therefore probes only
    * the files whose st stats / pt tags admit a match, not the whole
    * table; files the manifest does not cover stay candidates
    * (conservative, never wrong). The probe's scan lines carry dv,
    * cm, AND sc lines so tombstones apply, column-mapped names
    * resolve, and predicates on metadata-only added columns (null
    * everywhere in old files) still analyze. */
  private def rewriteCommitAttempt(spark: SparkSession, table: String,
                                   predicate: org.apache.spark.sql.Column,
                                   prunePreds: Seq[ScanPred],
                                   onAttempt: Int => Unit,
                                   preMatched: Option[(Set[String], Int)] =
                                     None,
                                   dropNorm: Set[String] = Set.empty)
                                  (transform: (DataFrame,
                                    org.apache.spark.sql.Column) => DataFrame)
      : Int = {
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    // a caller-supplied matched set was probed against a specific head
    // — publishing it over a NEWER head could lose that writer's rows
    preMatched.foreach { case (_, probedHead) =>
      if (vs.last != probedHead)
        sys.error(s"version conflict on $table: the delete probed " +
          s"against v$probedHead but the head is now v${vs.last} — " +
          "re-run the statement")
    }
    val lines = readManifest(spark, table, vs.last)
    val data = dataFilesOf(lines)
    // a file-less snapshot (TRUNCATE / freshly created): nothing can
    // match — the statement is a no-op, no version published
    if (data.isEmpty) return vs.last
    val dvLines = lines.filter(_.startsWith(DvPrefix))
    // candidate files by manifest metadata, then ONLY files with a
    // real match get rewritten: the match probe reads candidates once
    // and reports the file identities it matched in (O(files) set)
    val scanLines =
      if (prunePreds.isEmpty) lines
      else scanCandidates(lines, prunePreds) ++ dvLines ++
        cmLinesOf(lines) ++ scLinesOf(lines) ++
        lines.filter(_.startsWith(FzPrefix))
    rewriteProbeNotifier(dataFilesOf(scanLines).size, data.size)
    val rangePred =
      if (prunePreds.isEmpty) predicate
      else predicate && predExpr(prunePreds)
    val matched = preMatched.map(_._1).getOrElse {
      if (dataFilesOf(scanLines).isEmpty) Set.empty[String]
      else readSnapshotTagged(spark, scanLines).filter(rangePred)
        .select(FileCol).distinct().collect()
        .map(r => norm(r.getString(0))).toSet
    }
    // `dropNorm` files are PROVED fully matched by manifest stats
    // (deleteCommitRouted's containment fast path): they leave the
    // manifest as pure metadata — neither carried nor read for a
    // rewrite that would produce zero rows
    val kept = data.filterNot(f => dropNorm.contains(norm(f)))
    val (rewrite, carry) = kept.partition(f => matched.contains(norm(f)))
    updatePruneNotifier(rewrite.size, data.size)
    val next = vs.last + 1
    var rewrittenSchema: Option[org.apache.spark.sql.types.StructType] = None
    val newLines =
      if (rewrite.isEmpty) Seq.empty[String]
      else {
        val rows = readSnapshot(spark,
          rewrite ++ dvLines ++ cmLinesOf(lines) ++ scLinesOf(lines) ++
            lines.filter(l => l.startsWith(NcPrefix) ||
              l.startsWith(FzPrefix)))
        val out = transform(rows, rangePred)
        rewrittenSchema = Some(toPhysicalDf(out, cmLinesOf(lines)).schema)
        writeRewrite(spark, table, next, out,
          identitySpecOf(lines), cmLinesOf(lines))
      }
    // CHECK constraints + schema enforcement over the rewrite only
    validateNewFiles(spark, table, dataFilesOf(newLines),
      writtenSchema = rewrittenSchema)
    val keptDv = consolidateTombstones(spark, dvLines, carry, table, next,
      fzLookup(lines))
    val lineOf = dataLineByPath(lines)
    onAttempt(next)
    try writeManifest(spark, table, next,
      carry.map(p => lineOf(norm(p))) ++ stLinesFor(lines, carry) ++
        keptDv ++ newLines ++
        computeStatLines(spark, dataFilesOf(newLines), statColsOf(lines),
          renameMapOf(lines)) ++
        lines.filter(_.startsWith(ScPrefix)) ++ cmLinesOf(lines) ++
        specDeclLines(lines))
    catch { case e: RuntimeException
        if e.getMessage != null && e.getMessage.contains("already committed") =>
      throw VersionConflict(vs.last, matched, e.getMessage)
    }
    next
  }

  /** GROUP-REPLACEMENT COMMIT — the publish seam SQL UPDATE and MERGE
    * INTO land on ([[GraftRowLevelOperation]]): the DSv2 engine has
    * already read exactly `removeNorm`'s files (all their logical
    * rows), recomputed the replacement rows, and written them as
    * `newFiles` (physical-name parquet under the table dir, tagged
    * pairs carrying identity-spec partition values when the writer
    * could split); this turns that into ONE atomic manifest publish:
    *  - untouched files carry verbatim — data line, st stats, fz size;
    *  - removed files' tombstones are purged (their logical rows
    *    materialized through the replacement read), carried files'
    *    tombstones consolidate;
    *  - new files get st stats (footer pass), CHECK-constraint and
    *    schema enforcement, and pt tags when provided;
    *  - the commit lands at `expectedHead` + 1 or fails loudly
    *    ([[VersionConflict]] semantics) when a concurrent writer got
    *    there first — the statement read snapshot `expectedHead`, so
    *    publishing over a newer head could lose that writer's rows.
    * Cost: O(removed + new files) of metadata and the stats footer
    * pass — never O(table). */
  private[sources] def replaceFilesCommit(
      spark: SparkSession, table: String, removeNorm: Set[String],
      newFiles: Seq[(String, Seq[(String, String)])],
      expectedHead: Int): Int = {
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    if (vs.last != expectedHead)
      sys.error(s"version conflict on $table: the statement planned " +
        s"against v$expectedHead but the head is now v${vs.last} — " +
        "re-run the statement")
    val lines = readManifest(spark, table, expectedHead)
    val data = dataFilesOf(lines)
    val (removed, carry) = data.partition(f => removeNorm.contains(norm(f)))
    require(removed.map(norm).toSet == removeNorm,
      s"replace set names ${removeNorm.size - removed.size} files not " +
        s"in v$expectedHead")
    val newPaths = newFiles.map(_._1)
    validateNewFiles(spark, table, newPaths)
    val dvLines = lines.filter(_.startsWith(DvPrefix))
    val next = expectedHead + 1
    val keptDv = consolidateTombstones(spark, dvLines, carry, table, next,
      fzLookup(lines))
    val lineOf = dataLineByPath(lines)
    val newDataLines = newFiles.map {
      case (p, Nil) => p
      case (p, tags) => ptLineMulti(tags, p)
    }
    try writeManifest(spark, table, next,
      carry.map(p => lineOf(norm(p))) ++ stLinesFor(lines, carry) ++
        keptDv ++ newDataLines ++
        computeStatLines(spark, newPaths, statColsOf(lines),
          renameMapOf(lines)) ++
        lines.filter(_.startsWith(ScPrefix)) ++ cmLinesOf(lines) ++
        specDeclLines(lines))
    catch { case e: RuntimeException
        if e.getMessage != null && e.getMessage.contains("already committed") =>
      throw VersionConflict(expectedHead, removeNorm, e.getMessage)
    }
    next
  }

  /** The partition-spec DECLARATION meta line (`partitioned_by`), when
    * the source manifest carries one. Row-level / tombstone commits
    * drop per-commit meta (txn stamps etc.) by design, but the spec
    * declaration is table SHAPE: dropping it from a commit that left
    * zero tagged files (e.g. a full rewrite of a truncated partitioned
    * table) would silently un-partition later INSERTs. */
  private def specDeclLines(lines: Seq[String]): Seq[String] =
    lines.filter(_.startsWith(MetaPrefix + "partitioned_by="))

  /** DELTA COMMIT — the publish seam MERGE-ON-READ SQL DML lands on
    * ([[GraftDeltaOperation]], Spark's `SupportsDelta`/`WriteDelta`
    * plan): executors have written the statement's row-level effects
    * as (a) positional tombstone sidecars — the DELETEd rows' and
    * UPDATEd rows' OLD images, keyed `(__gf, __gpos)` — and (b) fresh
    * data files holding the INSERTed rows and UPDATEd rows' new
    * images. This publishes them in ONE manifest write: every
    * existing data line, dv line, tag, stat, and mapping carries
    * VERBATIM (nothing is rewritten — that is the point), the new
    * sidecars and files append. Cost: O(changed rows) of sidecar +
    * O(new rows) of data + one footer stats pass over the new files —
    * a point UPDATE on a 100 TB table commits kilobytes. Conflicts
    * with a concurrent writer fail loudly against the statement's
    * pinned snapshot, exactly as [[replaceFilesCommit]]. */
  private[sources] def deltaFilesCommit(
      spark: SparkSession, table: String, tombFiles: Seq[String],
      newFiles: Seq[(String, Seq[(String, String)])],
      expectedHead: Int): Int = {
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    if (vs.last != expectedHead)
      sys.error(s"version conflict on $table: the statement planned " +
        s"against v$expectedHead but the head is now v${vs.last} — " +
        "re-run the statement")
    val lines = readManifest(spark, table, expectedHead)
    val newPaths = newFiles.map(_._1)
    validateNewFiles(spark, table, newPaths)
    val next = expectedHead + 1
    val newDataLines = newFiles.map {
      case (p, Nil) => p
      case (p, tags) => ptLineMulti(tags, p)
    }
    try writeManifest(spark, table, next,
      lines.filterNot(_.startsWith(MetaPrefix)) ++ specDeclLines(lines) ++
        tombFiles.map(p => DvPrefix + p) ++ newDataLines ++
        computeStatLines(spark, newPaths, statColsOf(lines),
          renameMapOf(lines)))
    catch { case e: RuntimeException
        if e.getMessage != null &&
          e.getMessage.contains("already committed") =>
      sys.error(s"version conflict on $table: a concurrent commit " +
        s"took v$next — re-run the statement")
    }
    next
  }

  /** CHANGE DATA FEED: the logical row changes between two committed
    * versions, computed from O(changed files) of I/O. Output schema is
    * the (merged) table schema plus `change` ('insert' | 'delete') and
    * `n` (how many copies of the row appeared/disappeared).
    *
    * The manifest diff alone decides what to read: data files present
    * in both versions with an unchanged tombstone set CANNOT
    * contribute a change and are never opened — on a 100 TB table a
    * point merge's feed costs the handful of rewritten files, not the
    * table. Within the touched files, rows that were merely COPIED by
    * a copy-on-write rewrite (same values, new file) cancel in the
    * multiset diff, so the feed reports the semantic change set:
    * an update surfaces as its delete/insert pair, same as the
    * Delta CDF `update_preimage`/`update_postimage` split. */
  def readChanges(spark: SparkSession, table: String,
                  fromV: Int, toV: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    require(fromV <= toV, s"fromV $fromV > toV $toV")
    val vs = versions(spark, table)
    require(vs.contains(fromV) && vs.contains(toV),
      s"versions ($fromV, $toV) must both be committed; have $vs")
    val linesA = readManifest(spark, table, fromV)
    val linesB = readManifest(spark, table, toV)
    val (touchedA, touchedB) = changedFiles(spark, linesA, linesB)
    if (touchedA.isEmpty && touchedB.isEmpty) {
      // no-change fast path (identical manifests): the merged-schema
      // footer read here is the ONLY cost — the touched branches below
      // never scan metadata beyond the changed files
      val schema = readSnapshot(spark, linesB).schema
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(schema.fields ++ Seq(
          org.apache.spark.sql.types.StructField("change",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n",
            org.apache.spark.sql.types.LongType, nullable = false))))
    }
    val a = restrictedRows(spark, linesA, touchedA)
      .map(applyMapping(_, linesB))
    val b = restrictedRows(spark, linesB, touchedB)
      .map(applyMapping(_, linesB))
    // column types come from the restricted reads themselves (B wins
    // on evolution — its spelling is the current one); never from a
    // full-table schema scan
    def typeOf(c: String): org.apache.spark.sql.types.DataType =
      b.flatMap(_.schema.fields.find(_.name == c))
        .orElse(a.flatMap(_.schema.fields.find(_.name == c)))
        .map(_.dataType)
        .getOrElse(org.apache.spark.sql.types.StringType)
    val cols = (a.map(_.columns.toSeq) orElse b.map(_.columns.toSeq))
      .getOrElse(Seq.empty)
    def aligned(side: Option[DataFrame]): DataFrame = {
      val want = (cols ++ b.map(_.columns.toSeq).getOrElse(Seq.empty) ++
        a.map(_.columns.toSeq).getOrElse(Seq.empty)).distinct
      val base = side.getOrElse {
        // one side touched nothing: synthesize its empty twin
        (a orElse b).get.limit(0)
      }
      val withAll = want.foldLeft(base)((d, c) =>
        if (d.columns.contains(c)) d
        else d.withColumn(c, lit(null).cast(typeOf(c))))
      withAll.select(want.map(col): _*)
    }
    val aAll = aligned(a); val bAll = aligned(b)
    val allCols = aAll.columns.toSeq
    // per-side column renames keep the join unambiguous even when both
    // sides restrict to the SAME files (shared lineage)
    val ga = aAll.groupBy(allCols.map(col): _*).agg(count(lit(1)).as("__na"))
      .select(allCols.map(c => col(c).as(s"__a_$c")) :+ col("__na"): _*)
    val gb = bAll.groupBy(allCols.map(col): _*).agg(count(lit(1)).as("__nb"))
      .select(allCols.map(c => col(c).as(s"__b_$c")) :+ col("__nb"): _*)
    // NULL-SAFE key equality: null cells must line up as equal groups
    val cond = allCols.map(c => col(s"__a_$c") <=> col(s"__b_$c"))
      .reduce(_ && _)
    ga.join(gb, cond, "full_outer")
      .select(allCols.map(c =>
        coalesce(col(s"__a_$c"), col(s"__b_$c")).as(c)) ++ Seq(
        (coalesce(col("__nb"), lit(0L)) - coalesce(col("__na"), lit(0L)))
          .as("__net")): _*)
      .filter(col("__net") =!= 0L)
      .withColumn("change",
        when(col("__net") > 0, lit("insert")).otherwise(lit("delete")))
      .withColumn("n", abs(col("__net")))
      .drop("__net")
  }

  /** The file-level pruning decision behind [[readChanges]], exposed
    * so specs (and operators composing on the feed) can assert what a
    * version transition will actually read: per side, the data files
    * that can contribute changes — the symmetric difference of the
    * data-file sets, plus any carried file whose applicable tombstone
    * set changed. Carried files outside this set are provably
    * change-free and are never opened. */
  def changedFiles(spark: SparkSession, linesA: Seq[String],
                   linesB: Seq[String]): (Seq[String], Seq[String]) = {
    val dataA = dataFilesOf(linesA); val dataB = dataFilesOf(linesB)
    val setA = dataA.map(norm).toSet; val setB = dataB.map(norm).toSet
    val dvA = dvFilesOf(linesA).toSet; val dvB = dvFilesOf(linesB).toSet
    val dvChanged = (dvA diff dvB) ++ (dvB diff dvA)
    val dvTouched: Set[String] =
      if (dvChanged.isEmpty) Set.empty
      else dvFileColFrame(spark, dvChanged.toSeq,
        fzLookup(linesA ++ linesB)).distinct()
        .collect().map(r => norm(r.getString(0))).toSet
    def touched(data: Seq[String], other: Set[String]) =
      data.filter(f => !other.contains(norm(f)) || dvTouched.contains(norm(f)))
    (touched(dataA, setB), touched(dataB, setA))
  }

  /** Logical rows of a manifest restricted to `files` (with the
    * manifest's tombstones applied); None when the restriction is
    * empty. */
  private def restrictedRows(spark: SparkSession, lines: Seq[String],
                             files: Seq[String]): Option[DataFrame] =
    if (files.isEmpty) None
    else Some(readSnapshot(spark,
      files ++ lines.filter(l => l.startsWith(DvPrefix) ||
        l.startsWith(CmPrefix) || l.startsWith(ScPrefix) ||
        l.startsWith(NcPrefix))))

  private[sources] def norm(s: String): String = new Path(s).toUri.getPath

  /** Original manifest line of each data file, keyed by normalized
    * path — how rewrite paths that carry files forward as bare paths
    * ([[mergeCommit]], [[compactCommit]]) preserve partition tags. */
  private def dataLineByPath(lines: Seq[String]): Map[String, String] = {
    // each line paired with ITS OWN extracted path — never a parallel
    // zip, which a new manifest line type would silently misalign
    lines.flatMap(l => dataFilesOf(Seq(l)).map(p => norm(p) -> l)).toMap
  }

  /** [[readSnapshot]] keeping the normalized file-identity column
    * `__gf` — the delete path needs to know which file each surviving
    * row lives in. */
  private[sources] def readSnapshotTagged(spark: SparkSession,
                                 lines: Seq[String]): DataFrame =
    readSnapshotTaggedImpl(spark, lines, withPos = false)

  /** Shared body of the tagged reads: the nc-era grouped scan runs
    * here too, so row-level DML predicates on DEFAULTED / GENERATED
    * columns see the declared values for pre-era rows — constant
    * defaults were silently saved by Spark's native EXISTS_DEFAULT
    * fill on the imposed read schema, but a generated column has no
    * such fallback (a delete keyed on one would have matched NOTHING
    * in pre-era files). */
  private def readSnapshotTaggedImpl(spark: SparkSession,
                                     lines: Seq[String],
                                     withPos: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.col
    val data = dataFilesOf(lines)
    require(data.nonEmpty, "manifest lists no data files")
    val dvs = dvFilesOf(lines)
    val defaults = schemaOfLines(lines)
      .map(sc => columnDefaultsOf(sc) ++ generatedColsOf(sc))
      .getOrElse(Map.empty)
    val nc =
      if (defaults.isEmpty) Map.empty[String, Set[String]]
      else ncTagsOf(lines)
    // positional tombstones join on the row's file ordinal, which can
    // only materialize at SCAN level — inside each era branch, never
    // above the union
    val posNeeded = withPos || (nc.nonEmpty && dvs.nonEmpty &&
      dvSchemaOf(spark, dvs).fieldNames.contains(PosCol))
    def scanCols(df: DataFrame): DataFrame = {
      val d = df.withColumn(FileCol, normFileExpr)
      if (posNeeded) d.withColumn(PosCol, col("_metadata.row_index"))
      else d
    }
    val base =
      if (nc.isEmpty) scanCols(baseSnapshotRead(spark, lines, data))
      else {
        val renames = renameMapOf(lines)
        val physDefault = defaults.map { case (lg, d) =>
          renames.getOrElse(lg, lg) -> d }
        data.groupBy(f => nc.getOrElse(norm(f), Set.empty)
            .intersect(physDefault.keySet)).toSeq
          .map { case (missing, files) =>
            val df = scanCols(baseSnapshotRead(spark, lines, files))
            missing.foldLeft(df) { (d, physCol) =>
              val (dt, sqlText) = physDefault(physCol)
              d.withColumn(physCol,
                exprWithPhysicalRefs(spark, sqlText, renames).cast(dt))
            }
          }.reduce(_.unionByName(_))
      }
    val afterDv = applyTombstones(spark, base, dvs, fzLookup(lines))
    widenToDeclared(applyMapping(
      if (posNeeded && !withPos) afterDv.drop(PosCol) else afterDv,
      lines), lines)
  }

  /** [[readSnapshotTagged]] also carrying [[PosCol]], the row's
    * ordinal in its PHYSICAL file (materialized before tombstone
    * application, so positions name original-file rows) — what the
    * positional-delete doomed scan reads. */
  private[sources] def readSnapshotTaggedWithPos(
      spark: SparkSession, lines: Seq[String]): DataFrame =
    readSnapshotTaggedImpl(spark, lines, withPos = true)

  /** MERGE INTO with FILE-LEVEL copy-on-write — the composition the
    * table layer exists for: instead of rewriting the whole table
    * (naive overwrite) or the matched rows in place (impossible on
    * immutable parquet), only the files whose key `[min, max]` can
    * contain a source key are rewritten; every other file is carried
    * into the new manifest untouched. On a key-clustered 100 TB table
    * a point-ish merge rewrites a handful of files.
    *
    * Semantics per source row: key exists → row is REPLACED; key new →
    * row is INSERTED; `deleteCol` true → key is DELETED (the flag
    * column itself is not stored). `source` must have one row per key.
    *
    * The touched-file set comes from a distributed stats⋈source range
    * join (never a driver-side key list); stats for the key column are
    * served from the manifest's st lines when the table carries them
    * (commit with `statCols` — zero data I/O), else one column-pruned
    * scan. Returns the new version.
    *
    * Under writer contention this single attempt fails on the version
    * rename (read-modify-write must not be blindly replayed) — use
    * [[mergeCommitOptimistic]] for conflict re-evaluation. */
  def mergeCommit(spark: SparkSession, table: String, source: DataFrame,
                  keyCol: String, deleteCol: Option[String] = None): Int =
    try mergeCommitAttempt(spark, table, source, keyCol, deleteCol, _ => ())
    catch { case c: VersionConflict => sys.error(c.getMessage) }

  /** [[mergeCommit]] under the txnAppId/txnVersion replay contract —
    * what an Update-mode streaming sink
    * ([[graft.streaming.GraftStreamSinkProvider]]) commits per
    * micro-batch: a keyed upsert that is a metadata-checked NO-OP when
    * the batch replays after a crash (the txn record is commit
    * metadata, atomic with the manifest publish — same guard as
    * [[commitIdempotent]]). */
  def mergeCommitIdempotent(spark: SparkSession, table: String,
                            source: DataFrame, keyCol: String,
                            appId: String, txnVersion: Long,
                            deleteCol: Option[String] = None,
                            statCols: Seq[String] = Nil): Int =
    idempotentGuard(spark, table, appId, txnVersion) { txnMeta =>
      try mergeCommitAttempt(spark, table, source, keyCol, deleteCol,
        _ => (), txnMeta, statCols)
      catch { case c: VersionConflict => sys.error(c.getMessage) }
    }

  /** A concurrent writer published the version this read-modify-write
    * attempt computed against `baseV` was about to claim; `touched` is
    * the normalized file set the attempt rewrote/tombstoned — what
    * conflict re-evaluation intersects against the interloper's
    * changes. */
  private final case class VersionConflict(baseV: Int,
                                           touched: Set[String],
                                           msg: String)
    extends RuntimeException(msg)

  /** `statCols` DECLARES extra stat columns for the rewrite's new
    * files (unioned with the table's existing stat schema) — how an
    * Update-mode streaming sink keeps its merge-key st coverage on a
    * table that pre-existed without stats, so every later batch's
    * touched-file probe stays metadata-only. */
  private def mergeCommitAttempt(spark: SparkSession, table: String,
                                 source: DataFrame, keyCol: String,
                                 deleteCol: Option[String],
                                 onAttempt: Int => Unit,
                                 meta: Map[String, String] = Map.empty,
                                 statCols: Seq[String] = Nil): Int = {
    import org.apache.spark.sql.functions._
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val currentLines = readManifest(spark, table, vs.last)
    val current = dataFilesOf(currentLines)
    val dvLines = currentLines.filter(_.startsWith(DvPrefix))
    // the touched-file decision reads the MANIFEST's per-file stats
    // when the table carries them (st lines — zero data I/O, the 100 TB
    // path); only an uncovered table pays the column-pruned stats scan.
    // A FILE-LESS snapshot (TRUNCATE / freshly created) touches
    // nothing: every source row is an insert.
    val touchedNorm: Set[String] =
      if (current.isEmpty) Set.empty
      else {
        val stats = manifestStats(spark, currentLines, Seq(keyCol),
          _ => source.schema(keyCol).dataType).getOrElse {
          statsScanNotifier("mergeCommit", current.size)
          collectStatsLogical(spark, current, Seq(keyCol), currentLines)
        }
        // source keys x BROADCAST stats: each source partition probes
        // the O(files) stats list locally — distributed in the big
        // dimension (keys), never a driver-side key set. (At very
        // large file counts swap in RangeJoin.pointInInterval for a
        // bucketed equi-join.)
        source.select(col(keyCol).as("__mk"))
          .join(broadcast(stats),
            col(s"${keyCol}_min") <= col("__mk") &&
              col(s"${keyCol}_max") >= col("__mk"))
          .select("file").distinct().collect().map(_.getString(0))
          .toSet.map(norm) // manifest paths vs input_file_name URIs
      }
    val (rewrite, carry) = current.partition(f => touchedNorm.contains(norm(f)))
    val upserts = deleteCol.fold(source)(d =>
      source.filter(!col(d)).drop(d))
    val survivors =
      if (rewrite.isEmpty) upserts
      else readSnapshot(spark,
        rewrite ++ dvLines ++ cmLinesOf(currentLines) ++
        scLinesOf(currentLines) ++
        currentLines.filter(l => l.startsWith(NcPrefix) ||
          l.startsWith(FzPrefix)))
        .join(source.select(col(keyCol)), Seq(keyCol), "left_anti")
        .unionByName(upserts, allowMissingColumns = true)
    val next = vs.last + 1
    // on a partitioned table the rewrite RE-TAGS its output
    // (partitioned write + pt lines), so one merge never strips the
    // table of the tags dynamicOverwrite and partition pruning need;
    // identitySpecOf also covers a TRUNCATED partitioned table (spec
    // declared in meta, zero tagged files) so a merge that re-populates
    // it re-tags from the first row
    val newLines = writeRewrite(spark, table, next, survivors,
      identitySpecOf(currentLines), cmLinesOf(currentLines))
    // CHECK constraints over the rewrite's output only (upserts land
    // there; carried files were validated by their own commits) —
    // BEFORE tombstone consolidation, so a rejected merge stages
    // nothing beyond the dirs the validator itself unstages
    validateNewFiles(spark, table, dataFilesOf(newLines), writtenSchema =
      Some(toPhysicalDf(survivors, cmLinesOf(currentLines)).schema))
    // the rewrite purged its files' tombstones (the logical rows were
    // materialized); tombstones on CARRIED files must survive. They
    // consolidate into one fresh sidecar — old sidecars stay on disk
    // for older versions' time travel but leave this manifest.
    val keptDv = consolidateTombstones(spark, dvLines, carry, table, next,
      fzLookup(currentLines))
    // carried files keep their original manifest spelling (partition
    // tags survive a merge that doesn't touch their files) AND their
    // st lines; rewritten files get fresh stats on the table's stat
    // schema — maintenance never strips the metadata later decisions
    // depend on
    val lineOf = dataLineByPath(currentLines)
    // MERGE SCHEMA EVOLUTION: a source carrying NEW columns (allowed —
    // enforcement only rejects type CHANGES) must evolve the cached sc
    // line too, or tableSchemaOf would go stale and a LATER writer
    // could land the evolved column at a conflicting type unnoticed.
    // Same current ∪ new-fields merge as [[mergedSchemaLine]]; a
    // legacy table without an sc line stays legacy (footer reads).
    val scLines = schemaOfLines(currentLines) match {
      case None => currentLines.filter(_.startsWith(ScPrefix))
      case Some(cur) =>
        val have = cur.fieldNames.toSet
        schemaLineOf(upserts.schema.fields
          .filterNot(f => have.contains(f.name)).foldLeft(cur)(_ add _))
    }
    onAttempt(next)
    try writeManifest(spark, table, next,
      carry.map(p => lineOf(norm(p))) ++ stLinesFor(currentLines, carry) ++
        keptDv ++ newLines ++
        computeStatLines(spark, dataFilesOf(newLines),
          (statCols ++ statColsOf(currentLines)).distinct,
          renameMapOf(currentLines)) ++
        scLines ++ cmLinesOf(currentLines) ++ specDeclLines(currentLines) ++
        metaLinesOf(meta))
    catch { case e: RuntimeException
        if e.getMessage != null && e.getMessage.contains("already committed") =>
      throw VersionConflict(vs.last, touchedNorm, e.getMessage)
    }
    next
  }

  /** [[mergeCommit]] with OPTIMISTIC CONCURRENCY (conflict
    * re-evaluation, the Delta/Iceberg commit protocol): when a
    * concurrent writer claims the version first, the merge does NOT
    * replay its stale result — it re-reads the new head, checks
    * whether the interloper REWROTE any file this attempt touched, and
    *  - disjoint (pure appends; merges/compacts/overwrites of OTHER
    *    files): recomputes the whole merge against the new snapshot
    *    and retries — the outcome is the serializable "their commit,
    *    then this merge";
    *  - overlapping (a concurrent writer rewrote the same files —
    *    likely the same keys): aborts loudly with
    *    `ConcurrentModificationException`, because silently
    *    re-applying this merge over theirs may not be what either
    *    writer intended. Re-run deliberately after review.
    * Failed attempts' data files become orphans ([[cleanOrphans]]
    * reclaims them). Returns the committed version.
    *
    * `onAttempt` is the pre-publish hook seam (same contract as
    * [[commitWithRetryHook]]) — how specs inject a deterministic
    * interloper between this merge's read and publish. */
  def mergeCommitOptimistic(
      spark: SparkSession, table: String, source: DataFrame,
      keyCol: String, deleteCol: Option[String] = None,
      maxRetries: Int = 5, onAttempt: Int => Unit = _ => ()): Int =
    retryReadModifyWrite(spark, table, maxRetries, "merge") { hook =>
      mergeCommitAttempt(spark, table, source, keyCol, deleteCol, hook)
    }(onAttempt)

  /** One WHEN clause of a [[mergeCommitWhen]]: fires for a row in its
    * branch (matched / not-matched / not-matched-by-source) when
    * `condition` holds (None = always). Conditions and SET/VALUES
    * expressions address the two sides through the `t` (target) and
    * `s` (source) aliases — `col("t.cents") + col("s.delta")`. */
  final case class MergeClause(condition: Option[Column],
                               action: MergeClause.Action)
  object MergeClause {
    sealed trait Action
    /** SET existing target columns from t/s-aliased expressions. */
    final case class Update(set: Map[String, Column]) extends Action
    /** Drop the target row. */
    case object Delete extends Action
    /** Insert a row built from t/s-aliased expressions; target
      * columns absent from `values` land NULL. */
    final case class Insert(values: Map[String, Column]) extends Action
    /** Insert the source row: same-named target columns take the
      * source value, the rest land NULL. */
    case object InsertRow extends Action

    def whenMatchedUpdate(set: Map[String, Column],
                          condition: Option[Column] = None): MergeClause =
      MergeClause(condition, Update(set))
    def whenMatchedDelete(condition: Option[Column] = None): MergeClause =
      MergeClause(condition, Delete)
    def whenNotMatchedInsert(values: Map[String, Column],
                             condition: Option[Column] = None): MergeClause =
      MergeClause(condition, Insert(values))
    def whenNotMatchedInsertRow(condition: Option[Column] = None): MergeClause =
      MergeClause(condition, InsertRow)
  }

  /** CONDITIONAL MERGE — the full `MERGE INTO ... WHEN MATCHED [AND c]
    * THEN UPDATE/DELETE, WHEN NOT MATCHED [AND c] THEN INSERT, WHEN NOT
    * MATCHED BY SOURCE [AND c] THEN UPDATE/DELETE` statement
    * ([[mergeCommit]] is the keyed-upsert special case). Per-row, the
    * FIRST clause of the row's branch whose condition holds applies;
    * a matched / not-matched-by-source row no clause claims carries
    * unchanged, an unclaimed source row is ignored.
    *
    * Semantics guards (the ANSI/Delta rules): matched and
    * not-matched-by-source clauses may only UPDATE or DELETE,
    * not-matched clauses only INSERT; within a branch every clause but
    * the last needs a condition (later ones would be unreachable); a
    * source with duplicate keys is rejected (one target row must not
    * merge against two source rows — nondeterministic which wins).
    *
    * Scale shape: identical to [[mergeCommit]] — the touched-file set
    * comes from source keys probing the manifest's broadcast st
    * ranges (exact stats, so a key present in the target is ALWAYS in
    * a touched file — unclaimed source rows are genuinely new), only
    * touched files rewrite (ONE full-outer join on the key), carried
    * files keep their lines/stats/tombstones verbatim. EXCEPTION: any
    * not-matched-by-source clause makes every target row a candidate,
    * so the whole table rewrites — inherent to the semantics (Delta's
    * `whenNotMatchedBySource` pays the same), use a keyed delete when
    * the doomed set is expressible as a predicate. Single attempt
    * under contention; wrap via [[mergeCommitWhenOptimistic]]. */
  def mergeCommitWhen(spark: SparkSession, table: String,
                      source: DataFrame, keyCol: String,
                      matched: Seq[MergeClause] = Nil,
                      notMatched: Seq[MergeClause] = Nil,
                      notMatchedBySource: Seq[MergeClause] = Nil): Int =
    try mergeCommitWhenAttempt(spark, table, source, keyCol, matched,
      notMatched, notMatchedBySource, _ => ())
    catch { case c: VersionConflict => sys.error(c.getMessage) }

  /** [[mergeCommitWhen]] under [[mergeCommitOptimistic]]'s conflict
    * re-evaluation loop: disjoint interlopers retry from the new
    * head, true overlap aborts loudly. `onAttempt` is the pre-publish
    * hook seam of [[mergeCommitOptimistic]]. */
  def mergeCommitWhenOptimistic(
      spark: SparkSession, table: String, source: DataFrame,
      keyCol: String, matched: Seq[MergeClause] = Nil,
      notMatched: Seq[MergeClause] = Nil,
      notMatchedBySource: Seq[MergeClause] = Nil,
      maxRetries: Int = 5, onAttempt: Int => Unit = _ => ()): Int =
    retryReadModifyWrite(spark, table, maxRetries, "merge") { hook =>
      mergeCommitWhenAttempt(spark, table, source, keyCol, matched,
        notMatched, notMatchedBySource, hook)
    }(onAttempt)

  private def mergeCommitWhenAttempt(spark: SparkSession, table: String,
                                     source: DataFrame, keyCol: String,
                                     matched: Seq[MergeClause],
                                     notMatched: Seq[MergeClause],
                                     notMatchedBySource: Seq[MergeClause],
                                     onAttempt: Int => Unit): Int = {
    import org.apache.spark.sql.functions._
    import MergeClause._
    matched.foreach(c => require(
      c.action.isInstanceOf[Update] || c.action == Delete,
      "WHEN MATCHED clauses may only UPDATE or DELETE"))
    notMatchedBySource.foreach(c => require(
      c.action.isInstanceOf[Update] || c.action == Delete,
      "WHEN NOT MATCHED BY SOURCE clauses may only UPDATE or DELETE"))
    notMatched.foreach(c => require(
      c.action.isInstanceOf[Insert] || c.action == InsertRow,
      "WHEN NOT MATCHED clauses may only INSERT"))
    Seq(matched, notMatched, notMatchedBySource).foreach(br =>
      br.dropRight(1).foreach(c => require(c.condition.isDefined,
        "only a branch's LAST clause may omit its condition — later " +
          "clauses would be unreachable")))
    require((matched ++ notMatched ++ notMatchedBySource).nonEmpty,
      "merge needs at least one clause")
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val currentLines = readManifest(spark, table, vs.last)
    val current = dataFilesOf(currentLines)
    val dvLines = currentLines.filter(_.startsWith(DvPrefix))
    // cardinality guard: one aggregate over the source, O(source)
    require(source.groupBy(col(keyCol)).count()
      .filter(col("count") > 1).limit(1).count() == 0,
      s"source has duplicate $keyCol values — a target row must not " +
        "merge against two source rows")
    // touched files: source keys x broadcast manifest st ranges, the
    // [[mergeCommit]] probe — unless a not-matched-by-source clause
    // makes every target row a candidate
    val touchedNorm: Set[String] =
      if (notMatchedBySource.nonEmpty) current.map(norm).toSet
      else {
        val stats = manifestStats(spark, currentLines, Seq(keyCol),
          _ => source.schema(keyCol).dataType).getOrElse {
          statsScanNotifier("mergeCommitWhen", current.size)
          collectStatsLogical(spark, current, Seq(keyCol), currentLines)
        }
        source.select(col(keyCol).as("__mk"))
          .join(broadcast(stats),
            col(s"${keyCol}_min") <= col("__mk") &&
              col(s"${keyCol}_max") >= col("__mk"))
          .select("file").distinct().collect()
          .map(r => norm(r.getString(0))).toSet
      }
    val (rewrite, carry) = current.partition(f => touchedNorm.contains(norm(f)))
    val targetSchema = readSnapshot(spark, currentLines).schema
    val tRows = (if (rewrite.isEmpty)
      readSnapshot(spark, currentLines).limit(0)
    else readSnapshot(spark,
      rewrite ++ dvLines ++ cmLinesOf(currentLines) ++
        scLinesOf(currentLines) ++
        currentLines.filter(l => l.startsWith(NcPrefix) ||
          l.startsWith(FzPrefix))))
      .withColumn("__graft_t", lit(true))
    val sRows = source.withColumn("__graft_s", lit(true))
    val joined = tRows.alias("t").join(sRows.alias("s"),
      col(s"t.$keyCol") === col(s"s.$keyCol"), "full_outer")
    val isM = col("t.__graft_t").isNotNull && col("s.__graft_s").isNotNull
    val isT = col("t.__graft_t").isNotNull && col("s.__graft_s").isNull
    val isS = col("t.__graft_t").isNull && col("s.__graft_s").isNotNull
    // first-applicable-clause index across the three (disjoint) branches
    val all: Seq[(Column, MergeClause)] =
      matched.map((isM, _)) ++ notMatched.map((isS, _)) ++
        notMatchedBySource.map((isT, _))
    val act = all.zipWithIndex.foldRight(lit(-1)) {
      case (((branch, cl), i), els) =>
        when(branch && cl.condition.getOrElse(lit(true)), lit(i))
          .otherwise(els)
    }
    val acted = joined.withColumn("__graft_act", act)
    val deleteIdx = all.zipWithIndex.collect {
      case ((_, MergeClause(_, Delete)), i) => i }
    val insertIdx = all.zipWithIndex.collect {
      case ((_, MergeClause(_, Insert(_) | InsertRow)), i) => i }
    def isin(c: Column, idx: Seq[Int]): Column =
      if (idx.isEmpty) lit(false) else c.isin(idx: _*)
    val a = col("__graft_act")
    val kept = acted.filter(
      when(isS, isin(a, insertIdx)).otherwise(!isin(a, deleteIdx)))
    val sCols = source.columns.toSet
    // output schema == target schema: each column folds the UPDATE
    // SETs and INSERT VALUES into one when-chain over the clause
    // index — every expression sees the pre-image row (ONE Project),
    // and every result casts to the target column's type
    val survivors = kept.select(targetSchema.fields.toSeq.map { f =>
      val carryV = col(s"t.${f.name}")
      val v = all.zipWithIndex.foldLeft(carryV) {
        case (els, ((_, MergeClause(_, action)), i)) =>
          val value = action match {
            case Update(set) => set.get(f.name)
            case Insert(values) =>
              Some(values.getOrElse(f.name, lit(null)))
            case InsertRow =>
              Some(if (sCols.contains(f.name)) col(s"s.${f.name}")
              else lit(null))
            case Delete => None
          }
          value.fold(els)(x => when(a === i, x).otherwise(els))
      }
      v.cast(f.dataType).as(f.name)
    }: _*)
    val next = vs.last + 1
    val newLines = writeRewrite(spark, table, next, survivors,
      fullSpecOf(currentLines), cmLinesOf(currentLines))
    validateNewFiles(spark, table, dataFilesOf(newLines), writtenSchema =
      Some(toPhysicalDf(survivors, cmLinesOf(currentLines)).schema))
    val keptDv = consolidateTombstones(spark, dvLines, carry, table, next,
      fzLookup(currentLines))
    val lineOf = dataLineByPath(currentLines)
    onAttempt(next)
    try writeManifest(spark, table, next,
      carry.map(p => lineOf(norm(p))) ++ stLinesFor(currentLines, carry) ++
        keptDv ++ newLines ++
        computeStatLines(spark, dataFilesOf(newLines),
          statColsOf(currentLines), renameMapOf(currentLines)) ++
        currentLines.filter(_.startsWith(ScPrefix)) ++
        cmLinesOf(currentLines))
    catch { case e: RuntimeException
        if e.getMessage != null && e.getMessage.contains("already committed") =>
      throw VersionConflict(vs.last, touchedNorm, e.getMessage)
    }
    next
  }

  /** The shared conflict-re-evaluation loop of the optimistic
    * read-modify-write commits: run `attempt`; on a version-rename
    * loss, abort iff any file the attempt touched was REMOVED from the
    * new head's manifest by the interloper (true overlap), else try
    * again from the new head. The hook fires once per attempt. */
  private def retryReadModifyWrite(spark: SparkSession, table: String,
                                   maxRetries: Int, what: String)
                                  (attempt: (Int => Unit) => Int)
                                  (onAttempt: Int => Unit): Int = {
    var tries = 0
    while (true) {
      try return attempt(onAttempt)
      catch {
        case c: VersionConflict =>
          val head = versions(spark, table).last
          val baseData = dataFilesOf(readManifest(spark, table, c.baseV))
            .map(norm).toSet
          val headData = dataFilesOf(readManifest(spark, table, head))
            .map(norm).toSet
          val removed = baseData diff headData
          val overlap = removed intersect c.touched
          if (overlap.nonEmpty)
            throw new java.util.ConcurrentModificationException(
              s"concurrent commit rewrote ${overlap.size} file(s) this " +
                s"$what touched (e.g. ${overlap.head}) — re-run after review")
          if (tries >= maxRetries) throw c
          tries += 1 // disjoint: recompute everything from the new head
      }
    }
    -1 // unreachable
  }

  /** Write a rewrite path's output rows under version `v`, re-tagging
    * them when the table's spec says to: with a non-empty `spec` (all
    * columns present — a rewrite of evolved data may lack one) the
    * rows go through the partitioned write and come back as `pt`
    * manifest lines; otherwise a plain parquet write and bare paths. */
  private def writeRewrite(spark: SparkSession, table: String, v: Int,
                           rows: DataFrame, spec: Seq[String],
                           mapLines: Seq[String] = Seq.empty): Seq[String] = {
    // rows and spec arrive LOGICAL; files and pt tags store PHYSICAL
    val phys = toPhysicalDf(rows, mapLines)
    if (spec.nonEmpty && spec.forall(rows.columns.contains))
      writePartitionedDataMulti(spark, table, v, phys,
        toPhysicalCols(mapLines, spec))
        .map { case (pairs, p) => ptLineMulti(pairs, p) }
    else {
      val dataDir = new Path(table,
        s"data/$v-${java.util.UUID.randomUUID().toString.take(8)}")
      stagedWriter(phys).parquet(dataDir.toString)
      val f = fs(spark, dataDir)
      f.listStatus(dataDir).toSeq.map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).map(_.toString)
    }
  }

  /** Rewrite the tombstones of `dvLines` that target a file in
    * `carried` into one new sidecar under version `v`'s data dir;
    * returns the manifest lines for it (empty when nothing survives). */
  private def consolidateTombstones(spark: SparkSession,
                                    dvLines: Seq[String],
                                    carried: Seq[String],
                                    table: String, v: Int,
                                    sizes: String => Option[Long])
      : Seq[String] = {
    val dvs = dvFilesOf(dvLines)
    if (dvs.isEmpty) return Seq.empty
    val carriedSet = carried.map(norm).toSet
    val tomb = dvFrame(spark, dvs, sizes)
    // O(files) literal list — file counts are manifest-sized, never data-sized
    val keep = tomb.filter(org.apache.spark.sql.functions
      .col(FileCol).isin(carriedSet.toSeq: _*))
    if (keep.limit(1).count() == 0) return Seq.empty
    val dvDir = new Path(table,
      s"data/$v-dv-${java.util.UUID.randomUUID().toString.take(8)}")
    stagedWriter(keep.coalesce(1)).parquet(dvDir.toString)
    fs(spark, dvDir).listStatus(dvDir).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
      .map(p => DvPrefix + p.toString)
  }

  /** OPTIMIZE: compact the snapshot's SMALL files (< `targetRows`
    * rows) into right-sized ones as a new version — the table-layer
    * twin of [[Compaction]], plus two things only the table layer can
    * do: the rewrite is an atomic COMMIT (readers never see the half-
    * rewritten state, old versions still time-travel), and it PURGES
    * the rewritten files' deletion-vector tombstones (merge-on-read
    * debt consolidates back to pure files). Right-sized files and
    * their tombstones-on-carried-files are untouched — cost is
    * O(small files), not O(table). Returns the new version, or the
    * current one when fewer than two files qualify (nothing to gain). */
  def compactCommit(spark: SparkSession, table: String,
                    targetRows: Long): Int = {
    import org.apache.spark.sql.functions._
    require(targetRows > 0, "targetRows must be positive")
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val lines = readManifest(spark, table, vs.last)
    val data = dataFilesOf(lines)
    // "which files are small" is an O(files) decision — take the row
    // counts from the manifest's st lines when the table carries them
    // (zero data I/O; a nightly OPTIMIZE on a 100 TB table must not
    // scan the table to find its fragments), scan only when uncovered
    val counts = manifestRowCounts(lines).getOrElse {
      statsScanNotifier("compactCommit", data.size)
      spark.read.parquet(data: _*)
        .groupBy(input_file_name().as("file"))
        .agg(count(lit(1)).as("n_rows"))
        .collect().map(r => norm(r.getString(0)) -> r.getLong(1)).toMap
    }
    val (small, big) = data.partition(f =>
      counts.getOrElse(norm(f), 0L) < targetRows)
    if (small.size < 2) return vs.last
    val smallRows = small.map(f => counts.getOrElse(norm(f), 0L)).sum
    val nOut = math.max(1L, (smallRows + targetRows - 1) / targetRows).toInt
    try rewriteSmallFiles(spark, table, lines, small, big, nOut)
    catch { case c: VersionConflict => sys.error(c.getMessage) }
  }

  /** [[compactCommit]] under optimistic conflict re-evaluation: a
    * maintenance rewrite is content-preserving, so losing the version
    * race to ANY interloper (append, merge, even another OPTIMIZE) is
    * always safely answered by re-deciding from the new head — there
    * is no lost update to abort over. The nightly OPTIMIZE should not
    * die to one ingest batch. */
  def compactCommitOptimistic(spark: SparkSession, table: String,
                              targetRows: Long, maxRetries: Int = 5): Int =
    retryMaintenance(maxRetries) { compactCommit(spark, table, targetRows) }

  /** Retry loop for CONTENT-PRESERVING maintenance commits: unlike
    * [[retryReadModifyWrite]] there is no overlap abort — re-deciding
    * from the new head is always the serializable outcome. */
  private def retryMaintenance(maxRetries: Int)(attempt: => Int): Int = {
    var tries = 0
    while (true) {
      try return attempt
      catch {
        case e: RuntimeException
            if e.getMessage != null &&
              e.getMessage.contains("already committed") &&
              tries < maxRetries =>
          tries += 1
      }
    }
    -1 // unreachable
  }

  /** PURGE merge-on-read debt: rewrite exactly the files the live
    * deletion vectors reference (materializing their logical rows)
    * and drop every sidecar — O(tombstoned files) data I/O, the rest
    * of the table carried verbatim. [[compactCommit]] purges only the
    * tombstones of files it happens to rewrite (the small ones); this
    * is the targeted "reconcile DV debt" maintenance a table
    * accumulating point deletes on BIG files needs. No-op (current
    * version) when no sidecars exist. */
  def purgeTombstonesCommit(spark: SparkSession, table: String,
                            targetRows: Long): Int = {
    import org.apache.spark.sql.functions.col
    require(targetRows > 0, "targetRows must be positive")
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val lines = readManifest(spark, table, vs.last)
    val dvs = dvFilesOf(lines)
    if (dvs.isEmpty) return vs.last
    // O(deleted rows) driver probe — the sidecars a delete writes are
    // tiny by construction
    val tombstoned = dvFileColFrame(spark, dvs, fzLookup(lines)).distinct()
      .collect().map(r => norm(r.getString(0))).toSet
    val data = dataFilesOf(lines)
    val (debt, clean) = data.partition(f => tombstoned.contains(norm(f)))
    if (debt.isEmpty) return vs.last
    val nOut = manifestRowCounts(lines) match {
      case Some(counts) =>
        val rows = debt.map(f => counts.getOrElse(norm(f), 0L)).sum
        math.max(1L, (rows + targetRows - 1) / targetRows).toInt
      case None => debt.size
    }
    try rewriteSmallFiles(spark, table, lines, debt, clean, nOut)
    catch { case c: VersionConflict => sys.error(c.getMessage) }
  }

  // -------------------------------------------------------------------
  // VERSION TAGS (Iceberg tags / git-style refs): named pointers to
  // committed versions. A tag PINS its snapshot — vacuum never retires
  // a tagged version however old, so "the eval-v3 training corpus" or
  // "the audited quarter close" stays readable for exactly as long as
  // the name exists. `_refs/<name>` holds the version; create is
  // exclusive (no silent retarget — drop first), drop is idempotent.
  // -------------------------------------------------------------------

  private def refsDir(table: String) = new Path(table, "_refs")

  /** Tag `version` as `name`. Fails if the name exists (retargeting a
    * published ref silently would defeat its promise) or the version
    * is not committed. */
  def tagVersion(spark: SparkSession, table: String, name: String,
                 version: Int): Unit = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '_' || c == '-' || c == '.'),
      s"tag name '$name' must be [A-Za-z0-9._-]+")
    require(versions(spark, table).contains(version),
      s"version $version is not committed")
    val p = new Path(refsDir(table), name)
    val f = fs(spark, p)
    f.mkdirs(refsDir(table))
    val out = f.create(p, false) // create-exclusive
    try out.write(s"$version\n".getBytes("UTF-8")) finally out.close()
  }

  /** The table's tags (name → version). */
  def tagsOf(spark: SparkSession, table: String): Map[String, Int] = {
    val dir = refsDir(table)
    val f = fs(spark, dir)
    if (!f.exists(dir)) Map.empty
    else f.listStatus(dir).toSeq.filterNot(_.getPath.getName.startsWith("."))
      .flatMap { st =>
        val in = f.open(st.getPath)
        val body = try new String(in.readAllBytes(), "UTF-8").trim
        finally in.close()
        scala.util.Try(body.toInt).toOption.map(st.getPath.getName -> _)
      }.toMap
  }

  /** Snapshot read of the tagged version — `VERSION AS OF` by name. */
  def readTag(spark: SparkSession, table: String, name: String): DataFrame = {
    val v = tagsOf(spark, table).getOrElse(name,
      sys.error(s"no tag '$name' on $table"))
    read(spark, table, Some(v))
  }

  /** Drop a tag (idempotent) — its version becomes vacuumable again. */
  def dropTag(spark: SparkSession, table: String, name: String): Unit = {
    val p = new Path(refsDir(table), name)
    fs(spark, p).delete(p, false)
  }

  // -------------------------------------------------------------------
  // NAMED BRANCHES (Iceberg branches / git-style WRITABLE refs). A
  // branch is a zero-copy fork of one snapshot living under
  // `_branch/<name>/` — itself a full versioned table (its v1 is a
  // [[cloneCommit]] of the base snapshot, one manifest write, no data
  // copied), so EVERY operation works on a branch unchanged: commits,
  // DML, constraints, maintenance, time travel within the branch. The
  // WAP staging-table flow (q_table_wap) generalized to a ref with a
  // name and a recorded base:
  //  - experiment: write to the branch; main readers never see it;
  //  - audit: read the branch (SQL: `gt.t.branch_<name>` or
  //    `VERSION AS OF '<name>'`);
  //  - publish: [[fastForwardCommit]] — branch-era files MOVE into
  //    the main data dir and the branch head publishes as main's next
  //    version, one atomic manifest rename (refused when main
  //    advanced past the base: re-branch and replay — true
  //    fast-forward only, never a silent merge).
  // Main's vacuum/dry-run treat branch-head-referenced files as LIVE
  // ([[branchLivePaths]]), so forking is safe under retention; the
  // branch's own history vacuums independently.
  // -------------------------------------------------------------------

  private def branchesDir(table: String) = new Path(table, "_branch")

  /** The on-disk table path of branch `name` (validated). */
  private[sources] def branchPath(table: String, name: String): String = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '_' || c == '-' || c == '.'),
      s"branch name '$name' must be [A-Za-z0-9._-]+")
    new Path(branchesDir(table), name).toString
  }

  /** Create branch `name` from the head (or `version`): one manifest
    * write, zero data copy at any size. Fails if the name exists. */
  def branchCommit(spark: SparkSession, table: String, name: String,
                   version: Option[Int] = None): Int = {
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val base = version.getOrElse(vs.last)
    require(vs.contains(base), s"version $base not in $vs")
    val dir = branchPath(table, name)
    require(versions(spark, dir).isEmpty,
      s"branch '$name' already exists on $table — drop_branch first")
    // the base marker fast_forward checks divergence against (a
    // dedicated sidecar: the clone's v1 meta could vacuum away).
    // Written BEFORE the clone publishes so no observable branch ever
    // lacks it: a crash in between leaves a marker-only dir (no
    // manifests → invisible to branchesOf/branchLivePaths, reclaimed
    // by drop_branch or simply overwritten by a retried branch()).
    val marker = new Path(dir, "_base")
    val f = fs(spark, marker)
    val out = f.create(marker, true) // true: stale crash leftover
    try out.write(s"$base\n".getBytes("UTF-8")) finally out.close()
    cloneCommit(spark, dir, table, Some(base))
    base
  }

  /** The table's branches: name -> (baseVersion, branchHeadVersion). */
  def branchesOf(spark: SparkSession,
                 table: String): Map[String, (Int, Int)] = {
    val dir = branchesDir(table)
    val f = fs(spark, dir)
    if (!f.exists(dir)) Map.empty
    else f.listStatus(dir).toSeq.filter(_.isDirectory).flatMap { st =>
      val name = st.getPath.getName
      // versions() errors PROPAGATE (a protocol-gated or IO-failing
      // branch must not silently vanish from the listing); only a
      // manifest-less dir — a crashed create's marker-only leftover —
      // is skipped, it is not a branch yet
      val bvs = versions(spark, st.getPath.toString)
      if (bvs.isEmpty) None
      else Some(name -> (branchBaseOf(spark, table, name), bvs.last))
    }.toMap
  }

  private def branchBaseOf(spark: SparkSession, table: String,
                           name: String): Int = {
    val marker = new Path(branchPath(table, name), "_base")
    val f = fs(spark, marker)
    require(f.exists(marker),
      s"branch '$name' on $table has no base marker — the branch dir " +
        "is from an older layout or a partial create; CALL " +
        s"gt.system.drop_branch('<table>','$name') and re-branch")
    readSmallFile(f, marker).trim.toInt
  }

  /** Drop a branch — its un-published commits and data are deleted
    * (idempotent). Published (fast-forwarded) state is unaffected:
    * the publish MOVED those files out of the branch dir. */
  def dropBranch(spark: SparkSession, table: String,
                 name: String): Unit = {
    val dir = new Path(branchPath(table, name))
    fs(spark, dir).delete(dir, true)
    ()
  }

  /** The table property key [[maintain]] reads to auto-expire stale
    * branches: a branch whose HEAD commit is older than this many
    * milliseconds stops pinning its era's files. */
  val BranchRetentionProp = "branch.retention.ms"

  /** EXPIRE stale branches — the retention that stops an ABANDONED
    * fork from pinning its era's files forever (vacuum/clean_orphans
    * treat every branch head as live, so without expiry one forgotten
    * `CALL branch` holds 100 TB of history hostage). A branch is
    * STALE when its head commit is older than `maxAgeMs`. Expiring a
    * stale branch that carries UNPUBLISHED WORK (any commit beyond
    * the fork snapshot) REFUSES loudly unless `force` — dropping it
    * deletes the only reference to that work; a workless stale fork
    * expires freely. Returns the dropped branch names. O(branches)
    * manifest timestamp reads, zero data I/O. */
  def expireBranches(spark: SparkSession, table: String,
                     maxAgeMs: Long, force: Boolean = false,
                     skipWorked: Boolean = false): Seq[String] = {
    require(maxAgeMs >= 0, "max_age_ms must be >= 0")
    val cutoff = System.currentTimeMillis() - maxAgeMs
    branchesOf(spark, table).toSeq.sortBy(_._1).flatMap {
      case (name, (_, head)) =>
        val dir = branchPath(table, name)
        if (commitTimeOf(spark, dir, head) > cutoff) None // active
        else if (head > 1 && !force) {
          if (skipWorked) None // maintenance policy: never destroys work
          else sys.error(s"branch '$name' is stale but carries " +
            s"unpublished work (head v$head past the fork) — " +
            "fast_forward/cherry_pick it, or expire with force => true " +
            "to discard the work")
        }
        else { dropBranch(spark, table, name); Some(name) }
    }
  }

  /** Every data/dv path a branch HEAD references — files main's
    * vacuum must treat as live while the fork exists. O(branches)
    * manifest reads, zero data I/O.
    *
    * NO error is swallowed here: the caller is a DESTRUCTIVE sweep
    * (vacuum / clean_orphans), and a branch this build cannot read —
    * protocol-gated because the fork used a newer feature, or a
    * transient IO failure mid-listing — must abort the sweep loudly
    * rather than silently unpin the branch's files and delete data
    * its head still references. ([[versions]] already answers empty
    * for a genuinely manifest-less dir, e.g. a crashed [[branchCommit]]
    * that wrote only the `_base` marker.) */
  private def branchLivePaths(spark: SparkSession,
                              table: String): Set[String] = {
    val dir = branchesDir(table)
    val f = fs(spark, dir)
    if (!f.exists(dir)) Set.empty
    else f.listStatus(dir).toSeq.filter(_.isDirectory).flatMap { st =>
      val bvs = versions(spark, st.getPath.toString)
      bvs.lastOption.toSeq.flatMap { h =>
        val lines = readManifest(spark, st.getPath.toString, h)
        dataFilesOf(lines) ++ dvFilesOf(lines)
      }
    }.map(norm).toSet
  }

  /** PUBLISH a branch: its head becomes main's next version. True
    * fast-forward only — main's head must still be the branch's base
    * (else the branch replays onto a fresh fork). Branch-era files
    * (everything under the branch dir: new appends AND copy-on-write
    * rewrites of base-era files) MOVE into main's data dir with
    * rollback on any failure; base-era files the branch still
    * references carry verbatim; base-era files the branch's DML
    * dropped simply aren't referenced. Main's CHECK constraints and
    * schema rules validate the moved files before the publish — the
    * same discipline as [[adoptCommit]], which this generalizes.
    * Consumes the branch (drop it after); requires a tombstone-free
    * branch head (sidecar contents name data-file paths, which the
    * move would break — `purge_tombstones` the branch first).
    *
    * Crash window (same as [[adoptCommit]]'s): a crash between the
    * file moves and the manifest publish leaves the branch's own
    * manifests dangling (its files moved away, referenced by
    * nothing) — the moved files are `clean_orphans`-reclaimable under
    * main and the recovery is drop_branch + re-branch + replay. Every
    * non-crash failure moves the files back. */
  def fastForwardCommit(spark: SparkSession, table: String,
                        name: String): Int = {
    val dir = branchPath(table, name)
    val bvs = versions(spark, dir)
    require(bvs.nonEmpty, s"no branch '$name' on $table")
    val base = branchBaseOf(spark, table, name)
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    require(vs.last == base,
      s"cannot fast-forward '$name': $table advanced past the branch " +
        s"base (v$base -> v${vs.last}) — re-branch from the head and " +
        "replay the work")
    if (bvs.last == 1) return base // nothing committed on the branch
    val bLines = readManifest(spark, dir, bvs.last)
    require(dvFilesOf(bLines).isEmpty,
      s"fast_forward needs a tombstone-free branch head — CALL " +
        "purge_tombstones on the branch first")
    val branchRoot = norm(new Path(dir).toString)
      .stripSuffix("/") + "/"
    val next = base + 1
    val bData = dataFilesOf(bLines)
    val toMove = bData.filter(p => norm(p).startsWith(branchRoot))
    val destDir = new Path(table,
      s"data/$next-ff-${java.util.UUID.randomUUID().toString.take(8)}")
    val f = fs(spark, destDir)
    if (toMove.nonEmpty) f.mkdirs(destDir)
    val moves: Seq[(Path, Path)] = toMove.map { p =>
      (new Path(p), new Path(destDir, new Path(p).getName))
    }
    require(moves.map(_._2.getName).distinct.size == moves.size,
      "branch snapshot has colliding file basenames — " +
        "OPTIMIZE the branch first")
    def moveBack(done: Seq[(Path, Path)]): Unit = {
      done.foreach { case (src, dst) => f.rename(dst, src) }
      if (toMove.nonEmpty) f.delete(destDir, true)
    }
    val done = scala.collection.mutable.ArrayBuffer.empty[(Path, Path)]
    moves.foreach { case (src, dst) =>
      if (!f.rename(src, dst)) {
        moveBack(done.toSeq)
        sys.error(s"cannot move $src into $table")
      }
      done += ((src, dst))
    }
    val movedByNorm: Map[String, String] =
      moves.map { case (s, d) => norm(s.toString) -> d.toString }.toMap
    // rewrite every line naming a moved path (data, pt, st); meta
    // drops except the spec declaration; sc/cm carry verbatim
    def rewritten(l: String): Option[String] =
      if (l.startsWith(MetaPrefix)) None
      else if (l.startsWith(ScPrefix) || l.startsWith(CmPrefix))
        Some(l)
      else if (l.startsWith(PtPrefix) || l.startsWith(StPrefix)) {
        val cut = l.lastIndexOf('\t')
        Some(movedByNorm.get(norm(l.substring(cut + 1)))
          .fold(l)(np => l.substring(0, cut + 1) + np))
      } else Some(movedByNorm.getOrElse(norm(l), l))
    val published = bLines.flatMap(rewritten(_)) ++ specDeclLines(bLines)
    try {
      // the branch may have started requiring protocol features main
      // does not yet declare (e.g. column mapping introduced ON the
      // branch): publishing its lines without propagating the gates
      // would let an old build misread main — same inheritance rule
      // as cloneCommit, in the opposite direction. Inside the
      // rollback scope: a build that cannot honor the feature moves
      // every file back and publishes nothing (the propagated gate
      // itself is conservative and harmless if it landed).
      val (rf, wf) = protocolOf(spark, dir)
      rf.foreach(f0 => requireFeature(spark, table, f0))
      (wf diff rf).foreach(f0 =>
        requireFeature(spark, table, f0, writerOnly = true))
      // main's rules judge the INCOMING files before anything publishes
      val movedPaths = moves.map(_._2.toString)
      schemaConflictsWithTable(spark, table, movedPaths).foreach { cs =>
        moveBack(moves)
        throw new IllegalStateException(
          s"fast_forward rejected: schema conflict(s) with $table — " +
            cs.mkString("; "))
      }
      val violated = constraintViolations(spark, table, movedPaths)
      if (violated.nonEmpty) {
        moveBack(moves)
        throw new IllegalStateException(
          s"fast_forward rejected: CHECK constraint(s) violated — " +
            violated.mkString("; "))
      }
      writeManifest(spark, table, next, published)
    } catch {
      case e: IllegalStateException => throw e
      case e: Exception =>
        moveBack(moves)
        sys.error(s"fast_forward of '$name' onto $table failed — " +
          s"every file moved back, nothing published: ${e.getMessage}")
    }
    next
  }

  /** The distinct data files a set of deletion-vector sidecars
    * tombstone rows IN — an O(deleted rows) metadata-scale read. */
  private def dvTargets(spark: SparkSession, dvs: Seq[String],
                        sizes: String => Option[Long]): Set[String] =
    if (dvs.isEmpty) Set.empty
    else dvFileColFrame(spark, dvs, sizes).distinct()
      .collect().map(r => norm(r.getString(0))).toSet

  /** CHERRY-PICK a branch whose base main has moved PAST: replay the
    * branch's delta — files added, files removed, tombstones added
    * since the fork — onto main's current head (Iceberg's
    * `cherrypick_snapshot`, generalized to the fork's whole delta).
    * The complement of [[fastForwardCommit]]: fast-forward requires
    * main unmoved and publishes the branch head VERBATIM; cherry-pick
    * requires the two sides' work DISJOINT and merges. Refusals are
    * loud and name the conflict:
    *
    *  - a file the branch removed (COW rewrite/DELETE) that main no
    *    longer carries — or that main's own post-fork tombstones
    *    touch — is a CONFLICTING REWRITE: both sides changed the same
    *    rows and replaying either side would silently drop the other;
    *  - a branch tombstone targeting a file main no longer carries is
    *    the same conflict from the MOR side;
    *  - a branch tombstone targeting a BRANCH-ERA file cannot replay
    *    (the sidecar names the file's path, which the move changes) —
    *    `purge_tombstones` the branch first;
    *  - column-mapping changes made on the branch are metadata
    *    evolution, not a file delta — fast-forward or redo them.
    *
    * Branch-era data files and sidecars MOVE into main's data dir
    * with rollback on any failure; main's protocol gains the branch's
    * requirements and main's schema rules + CHECK constraints judge
    * the incoming files before anything publishes — the same
    * discipline as fast-forward. Consumes the branch (drop it after).
    * Returns the committed version. */
  def cherryPickCommit(spark: SparkSession, table: String,
                       name: String): Int = {
    val dir = branchPath(table, name)
    val bvs = versions(spark, dir)
    require(bvs.nonEmpty, s"no branch '$name' on $table")
    val base = branchBaseOf(spark, table, name)
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    if (vs.last == base) return fastForwardCommit(spark, table, name)
    if (bvs.last == 1) return vs.last // nothing committed on the branch
    val baseLines = readManifest(spark, table, base)
    val headLines = readManifest(spark, table, vs.last)
    val bLines = readManifest(spark, dir, bvs.last)
    require(cmLinesOf(bLines).toSet == cmLinesOf(baseLines).toSet,
      s"cherry_pick cannot replay column-mapping changes made on " +
        s"'$name' — rename/drop evolution is not a file delta; " +
        "fast-forward from an unmoved base, or redo it on main")
    require(scLinesOf(bLines).toSet == scLinesOf(baseLines).toSet,
      s"cherry_pick cannot replay schema evolution made on '$name' " +
        "(the replay keeps MAIN's declared schema, which would " +
        "silently hide the branch's new columns) — fast-forward from " +
        "an unmoved base, or evolve main first")
    val baseData = dataFilesOf(baseLines).map(norm).toSet
    val headData = dataFilesOf(headLines).map(norm).toSet
    val bData = dataFilesOf(bLines)
    val branchRoot = norm(new Path(dir).toString)
      .stripSuffix("/") + "/"
    val bDataNorm = bData.map(norm).toSet
    val added = bData.filter(p => !baseData.contains(norm(p)))
    val removed = baseData -- bDataNorm
    val goneFromMain = removed -- headData
    require(goneFromMain.isEmpty,
      s"cherry_pick rejected: '$name' rewrote/removed file(s) main " +
        s"also rewrote since the fork — conflicting rewrites: " +
        goneFromMain.toSeq.sorted.take(3).mkString(", ") +
        (if (goneFromMain.size > 3) ", ..." else ""))
    val baseDv = dvFilesOf(baseLines).map(norm).toSet
    if (removed.nonEmpty) {
      val mainNewDvs = dvFilesOf(headLines)
        .filterNot(d => baseDv.contains(norm(d)))
      val clash = dvTargets(spark, mainNewDvs, fzLookup(headLines))
        .intersect(removed)
      require(clash.isEmpty,
        s"cherry_pick rejected: main's post-fork tombstones touch " +
          s"file(s) '$name' rewrote — conflicting rewrites: " +
          clash.toSeq.sorted.take(3).mkString(", "))
    }
    val addedDvs = dvFilesOf(bLines)
      .filterNot(d => baseDv.contains(norm(d)))
    val survivingHead = headData -- removed
    if (addedDvs.nonEmpty) {
      val targets = dvTargets(spark, addedDvs, fzLookup(bLines))
      val moving = targets.filter(_.startsWith(branchRoot))
      require(moving.isEmpty,
        s"cherry_pick: '$name' tombstones rows in its own branch-era " +
          "file(s) — CALL purge_tombstones on the branch first " +
          "(sidecars name file paths, which the move would change)")
      val dangling = targets -- survivingHead
      require(dangling.isEmpty,
        s"cherry_pick rejected: '$name' tombstones rows in file(s) " +
          "main no longer carries — conflicting rewrites: " +
          dangling.toSeq.sorted.take(3).mkString(", "))
    }
    // move branch-era additions (data + sidecars) under main
    val next = vs.last + 1
    val toMove = (added ++ addedDvs)
      .filter(p => norm(p).startsWith(branchRoot))
    val destDir = new Path(table,
      s"data/$next-cp-${java.util.UUID.randomUUID().toString.take(8)}")
    val f = fs(spark, destDir)
    if (toMove.nonEmpty) f.mkdirs(destDir)
    val moves: Seq[(Path, Path)] = toMove.map { p =>
      (new Path(p), new Path(destDir, new Path(p).getName))
    }
    require(moves.map(_._2.getName).distinct.size == moves.size,
      "branch delta has colliding file basenames — " +
        "OPTIMIZE the branch first")
    def moveBack(done: Seq[(Path, Path)]): Unit = {
      done.foreach { case (src, dst) => f.rename(dst, src) }
      if (toMove.nonEmpty) f.delete(destDir, true)
    }
    val done = scala.collection.mutable.ArrayBuffer.empty[(Path, Path)]
    moves.foreach { case (src, dst) =>
      if (!f.rename(src, dst)) {
        moveBack(done.toSeq)
        sys.error(s"cannot move $src into $table")
      }
      done += ((src, dst))
    }
    val movedByNorm: Map[String, String] =
      moves.map { case (s, d) => norm(s.toString) -> d.toString }.toMap
    val addedNorm = added.map(norm).toSet
    val addedDvNorm = addedDvs.map(norm).toSet
    // main's head minus the replayed removals...
    val kept = headLines.filter { l =>
      if (l.startsWith(MetaPrefix)) false
      else if (l.startsWith(ScPrefix) || l.startsWith(CmPrefix) ||
        l.startsWith(DvPrefix)) true
      else if (l.startsWith(PtPrefix) || l.startsWith(StPrefix) ||
        l.startsWith(FzPrefix))
        !removed.contains(norm(l.substring(l.lastIndexOf('\t') + 1)))
      else !removed.contains(norm(l))
    }
    // ...plus the branch's additions, rewritten to their moved paths
    def moved(p: String): String = movedByNorm.getOrElse(norm(p), p)
    val incoming = bLines.flatMap { l =>
      if (l.startsWith(MetaPrefix) || l.startsWith(ScPrefix) ||
        l.startsWith(CmPrefix)) None
      else if (l.startsWith(DvPrefix)) {
        val p = l.substring(DvPrefix.length)
        if (addedDvNorm.contains(norm(p))) Some(DvPrefix + moved(p))
        else None
      }
      else if (l.startsWith(PtPrefix) || l.startsWith(StPrefix)) {
        val cut = l.lastIndexOf('\t')
        val p = l.substring(cut + 1)
        if (addedNorm.contains(norm(p)))
          Some(l.substring(0, cut + 1) + moved(p))
        else None
      }
      else if (addedNorm.contains(norm(l))) Some(moved(l))
      else None
    }
    val published = kept ++ incoming ++ specDeclLines(headLines)
    try {
      val (rf, wf) = protocolOf(spark, dir)
      rf.foreach(f0 => requireFeature(spark, table, f0))
      (wf diff rf).foreach(f0 =>
        requireFeature(spark, table, f0, writerOnly = true))
      val movedData = moves.collect {
        case (s, d) if addedNorm.contains(norm(s.toString)) =>
          d.toString }
      schemaConflictsWithTable(spark, table, movedData).foreach { cs =>
        moveBack(moves)
        throw new IllegalStateException(
          s"cherry_pick rejected: schema conflict(s) with $table — " +
            cs.mkString("; "))
      }
      val violated = constraintViolations(spark, table, movedData)
      if (violated.nonEmpty) {
        moveBack(moves)
        throw new IllegalStateException(
          s"cherry_pick rejected: CHECK constraint(s) violated — " +
            violated.mkString("; "))
      }
      writeManifest(spark, table, next, published)
    } catch {
      case e: IllegalStateException => throw e
      case e: Exception =>
        moveBack(moves)
        sys.error(s"cherry_pick of '$name' onto $table failed — " +
          s"every file moved back, nothing published: ${e.getMessage}")
    }
    next
  }

  // -------------------------------------------------------------------
  // TEXT-ANCHOR FILE SKIPPING: a persisted per-file Bloom over every
  // w-char window rolling hash of a text column, so exact-substring
  // decontamination / `contains` queries prune FILES before any
  // rolling pass — corpus-linear becomes touched-files-linear on a
  // partitioned estate. The index is the relational (file, word_idx,
  // bits) layout [[FileSkipping.collectBloomStats]] established,
  // written as a parquet sidecar under `<table>/_index/` (outside the
  // data/ orphan sweep) and pointed to by the `index.text.<col>`
  // TABLE PROPERTY — zero manifest-line impact, so no reader gets
  // protocol-gated by an optional index. Staleness is handled by
  // construction: files ADDED after the build are absent from the
  // index and always scan (zero false negatives); files REMOVED leave
  // ignored rows. Rebuild with [[textIndexBuild]] after major churn.
  // -------------------------------------------------------------------

  private def textIndexProp(textCol: String) = s"index.text.$textCol"

  /** Test seam: fired `(candidateFiles, totalFiles)` after an index
    * probe — what specs/gates pin to prove files were skipped. */
  private[graft] var textIndexPruneNotifier: (Int, Int) => Unit =
    (_, _) => ()

  /** Build (or rebuild) the text-anchor index for `textCol` over the
    * CURRENT snapshot: one corpus pass (the same O(chars)/O(1)-slide
    * rolling kernel the queries compile to), map-side-combined into
    * O(files × words) Bloom cells. Returns the sidecar path. */
  def textIndexBuild(spark: SparkSession, table: String, textCol: String,
                     w: Int = 64, bitsLog2: Int = 20, k: Int = 4)
      : String = {
    import org.apache.spark.sql.functions.{col, explode, expr}
    require(w > 0 && bitsLog2 >= 6 && k > 0, "bad index parameters")
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val lines = readManifest(spark, table, vs.last)
    require(dataFilesOf(lines).nonEmpty, s"$table has no data files")
    val snap = readSnapshotTagged(spark, lines)
    require(snap.columns.contains(textCol),
      s"no column '$textCol' in $table")
    val hashes = snap.select(col(FileCol).as("file"),
      explode(org.apache.spark.sql.GraftSqlShims.column(
        graft.plans.RollingWindowHashes(
          org.apache.spark.sql.GraftSqlShims.expression(col(textCol)),
          w))).as("__h"))
    val cells = graft.operators.Sketches.bloomCells(hashes,
        col("__h").cast("string"), bitsLog2, k,
        Seq(col("file")))
      .groupBy(col("file"), col("word_idx"))
      .agg(expr("bit_or(bit)").as("bits"))
    val dir = new Path(table, s"_index/text_${textCol}_" +
      java.util.UUID.randomUUID().toString.take(8))
    stagedWriter(cells).parquet(dir.toString)
    setTableProperty(spark, table, textIndexProp(textCol),
      s"$w\t$bitsLog2\t$k\t$dir")
    // the superseded sidecar (if any) is NOT deleted here: a
    // concurrent query that already resolved the old property value
    // may still be probing it. It becomes unreferenced and
    // [[cleanOrphans]] reclaims it under the age cutoff, the same
    // lifecycle as crash residue.
    dir.toString
  }

  /** INCREMENTALLY extend the text index to the CURRENT snapshot's
    * un-indexed files — one O(new files' chars) pass appended to the
    * existing sidecar, never a corpus rebuild. Safe unconditionally:
    * the Bloom is a superset structure (a tombstoned row's windows
    * merely stay set — zero false negatives either way), so every
    * un-indexed file qualifies. Returns the number of files newly
    * covered (0 = already complete or no index). */
  def textIndexRefresh(spark: SparkSession, table: String,
                       textCol: String): Int = {
    import org.apache.spark.sql.functions.{col, explode, expr}
    tablePropertyOf(spark, table, textIndexProp(textCol)).map { v =>
      val parts = v.split('\t')
      val (w, bitsLog2, k, path) =
        (parts(0).toInt, parts(1).toInt, parts(2).toInt, parts(3))
      val vs = versions(spark, table)
      require(vs.nonEmpty, s"no committed versions in $table")
      val lines = readManifest(spark, table, vs.last)
      val covered = spark.read.parquet(path).select("file").distinct()
        .collect().map(_.getString(0)).toSet
      val fresh = dataFilesOf(lines)
        .filterNot(p => covered.contains(norm(p)))
      if (fresh.isEmpty) return 0
      val lineOf = dataLineByPath(lines)
      val snap = readSnapshotTagged(spark,
        fresh.map(p => lineOf(norm(p))) ++ stLinesFor(lines, fresh) ++
          cmLinesOf(lines) ++ scLinesOf(lines))
      val hashes = snap.select(col(FileCol).as("file"),
        explode(org.apache.spark.sql.GraftSqlShims.column(
          graft.plans.RollingWindowHashes(
            org.apache.spark.sql.GraftSqlShims.expression(col(textCol)),
            w))).as("__h"))
      graft.operators.Sketches.bloomCells(hashes,
          col("__h").cast("string"), bitsLog2, k, Seq(col("file")))
        .groupBy(col("file"), col("word_idx"))
        .agg(expr("bit_or(bit)").as("bits"))
        .write.mode("append")
        .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .parquet(path)
      fresh.size
    }.getOrElse(0)
  }

  /** Drop `textCol`'s text-anchor index: the property and its sidecar
    * (idempotent). */
  def textIndexDrop(spark: SparkSession, table: String,
                    textCol: String): Unit = {
    tablePropertyOf(spark, table, textIndexProp(textCol)).foreach { v =>
      unsetTableProperty(spark, table, textIndexProp(textCol))
      val old = new Path(v.split('\t').last)
      if (norm(old.toString).contains("/_index/"))
        fs(spark, old).delete(old, true)
    }
  }

  /** The `_index/` sidecar dirs no `index.*` property references — a
    * crashed [[textIndexBuild]]'s residue, reclaimed by
    * [[cleanOrphans]] under the same age cutoff as data orphans. */
  private def orphanIndexDirs(spark: SparkSession, table: String,
                              cutoffMs: Long): Seq[Path] = {
    val root = new Path(table, "_index")
    val f = fs(spark, root)
    if (!f.exists(root)) return Seq.empty
    val referenced = tablePropertiesOf(spark, table)
      .collect { case (k, v) if k.startsWith("index.") =>
        norm(v.split('\t').last) }.toSet
    f.listStatus(root).toSeq
      .filter(s => s.isDirectory &&
        !referenced.contains(norm(s.getPath.toString)) &&
        s.getModificationTime < cutoffMs)
      .map(_.getPath)
  }

  /** The index-probe PLAN: the single-column `file` frame of indexed
    * files whose Bloom cells set every probe bit of at least one
    * anchor. The hit predicate evaluates DISTRIBUTED over the idx
    * parquet — the probe table (anchors × k entries, kilobytes)
    * broadcasts, each index cell joins its probe entries, and an
    * anchor hits a file when ALL of its entries find their bit set
    * (the Bloom `forall`, expressed as matched-count == needed-count;
    * a missing (file, word) cell is an unset word and correctly never
    * matches). Only FILE PATHS ever reach the driver — O(files)
    * strings, the same order as the manifest it already holds — never
    * the O(files × probe-words) cell map, so probe driver memory is
    * flat as the indexed estate grows. */
  private[graft] def textIndexHitFiles(spark: SparkSession,
                                       idx: DataFrame,
                                       anchors: Seq[Long],
                                       bitsLog2: Int, k: Int)
      : DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, count, lit, sum, when}
    val s2 = spark
    import s2.implicits._
    val entries = graft.operators.Sketches.bloomCells(
        anchors.toDF("__v"), col("__v").cast("string"),
        bitsLog2, k, Seq(col("__v")))
      .select(col("__v").as("__anchor"), col("word_idx"), col("bit"))
      .distinct()
    val needed = entries.groupBy("__anchor")
      .agg(count(lit(1)).as("__need"))
    idx.join(broadcast(entries), "word_idx")
      .groupBy(col("file"), col("__anchor"))
      .agg(sum(when(col("bits").bitwiseAND(col("bit")) =!= 0L, 1L)
        .otherwise(0L)).as("__got"))
      .join(broadcast(needed), "__anchor")
      .filter(col("__got") === col("__need"))
      .select("file").distinct()
  }

  /** The files of the CURRENT snapshot that could contain ANY of
    * `snippets` verbatim, per the text-anchor index — None when no
    * usable index exists (not built, or a snippet is shorter than the
    * indexed window, which would have no anchor to probe). Zero false
    * negatives: a file truly containing a snippet set every probe bit
    * of its first-w-chars window at build time, and files newer than
    * the index are always candidates. The probe evaluates as a
    * broadcast join/aggregation over the idx parquet
    * ([[textIndexHitFiles]]) — the driver sees only file paths. */
  def textIndexCandidates(spark: SparkSession, table: String,
                          textCol: String, snippets: Seq[String])
      : Option[Seq[String]] = {
    import org.apache.spark.sql.functions.col
    tablePropertyOf(spark, table, textIndexProp(textCol)).flatMap { v =>
      val parts = v.split('\t')
      val (w, bitsLog2, k, path) =
        (parts(0).toInt, parts(1).toInt, parts(2).toInt, parts(3))
      if (snippets.isEmpty || snippets.exists(_.length < w)) None
      else {
        val vs = versions(spark, table)
        require(vs.nonEmpty, s"no committed versions in $table")
        val data = dataFilesOf(readManifest(spark, table, vs.last))
        val anchors = snippets
          .map(s => graft.plans.Kernels.windowHash(s, w)).distinct
        // probe positions go THROUGH the same SQL hash the build
        // used; the hit predicate evaluates distributed over the idx
        // parquet ([[textIndexHitFiles]]) — only file paths collect
        val idx = spark.read.parquet(path)
        val hit = textIndexHitFiles(spark, idx, anchors, bitsLog2, k)
          .collect().map(_.getString(0)).toSet
        val indexed = idx.select("file").distinct()
          .collect().map(_.getString(0)).toSet
        val cand = data.filter(p =>
          hit.contains(norm(p)) || !indexed.contains(norm(p)))
        textIndexPruneNotifier(cand.size, data.size)
        Some(cand)
      }
    }
  }

  /** EXACT-SUBSTRING DECONTAMINATION over a versioned table, with the
    * text-anchor index pruning files first when one exists:
    * row-identical to [[graft.operators.Curation.decontaminateExact]]
    * over the full snapshot (a pruned-away file provably contains no
    * benchmark anchor window, so it could not contain a snippet). */
  def decontaminateExactTable(spark: SparkSession, table: String,
                              idCol: String, textCol: String,
                              bench: DataFrame, benchIdCol: String,
                              benchTextCol: String,
                              window: Int = 64): DataFrame = {
    import org.apache.spark.sql.functions.col
    val snippets = bench.select(col(benchTextCol)).collect()
      .flatMap(r => Option(r.getString(0))).toSeq.filter(_.nonEmpty)
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val lines = readManifest(spark, table, vs.last)
    val train = textIndexCandidates(spark, table, textCol, snippets) match {
      case Some(cand) if cand.isEmpty =>
        readSnapshot(spark, lines).limit(0)
      case Some(cand) =>
        // subset read: candidate data lines + every annotation the
        // full read would apply (dv tombstones, column mapping,
        // declared schema, per-file st/nc lines)
        val lineOf = dataLineByPath(lines)
        readSnapshot(spark,
          cand.map(p => lineOf(norm(p))) ++ stLinesFor(lines, cand) ++
            dvLinesOf(lines) ++ cmLinesOf(lines) ++ scLinesOf(lines))
      case None => readSnapshot(spark, lines)
    }
    graft.operators.Curation.decontaminateExact(train, bench,
      idCol, textCol, benchIdCol, benchTextCol, window)
  }

  // -------------------------------------------------------------------
  // PERSISTED VECTOR INDEX (IVF): at 100 TB an ANN structure is built
  // ONCE and probed many times — retraining centroids per query (the
  // q_ann_ivf shape) re-scans the corpus each invocation. The build
  // trains IVF centroids over the CURRENT snapshot and persists BOTH
  // the centroid matrix and the cell ASSIGNMENT (id, fixed-point
  // vector, |v|², source file), the assignment parquet PARTITIONED BY
  // CELL — a probe reads only the nprobe probed cell partitions
  // (static partition pruning), corpus I/O ≈ nprobe/clusters of a
  // scan. Same lifecycle as the text index: `_index/` sidecar +
  // `index.vec.<col>` table property, zero manifest-line impact,
  // superseded/crashed sidecars reclaimed by [[cleanOrphans]].
  //
  // Staleness is EXACT, not best-effort: the sidecar records the data
  // files and dv lines of the build snapshot. At probe time a file is
  // served from the index only when it is still in the current
  // manifest AND no dv line touching it appeared since the build;
  // every other current file (appended, or newly tombstoned) is
  // re-scanned through the full-annotation subset read and
  // brute-forced into the candidate pool, and assignment rows of
  // files the table no longer carries are dropped. Zero false
  // negatives and zero phantom candidates at any churn.
  // -------------------------------------------------------------------

  private def vecIndexProp(vecCol: String) = s"index.vec.$vecCol"

  /** Probe-shape notifier for specs/gates: (files re-scanned
    * index-free, total current data files). */
  private[graft] var vectorIndexProbeNotifier: (Int, Int) => Unit =
    (_, _) => ()

  /** Build (or rebuild) the IVF vector index for `vecCol` over the
    * CURRENT snapshot. One centroid fit (iters+1 corpus passes — the
    * one-time cost a per-query fit pays EVERY time) plus one
    * assignment pass, written as a cell-partitioned parquet sidecar.
    * Returns the sidecar path. */
  def vectorIndexBuild(spark: SparkSession, table: String, idCol: String,
                       vecCol: String, clusters: Int = 16,
                       iters: Int = 3): String = {
    import org.apache.spark.sql.functions.{call_function, col, lit}
    require(clusters > 1 && iters >= 1, "bad index parameters")
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val lines = readManifest(spark, table, vs.last)
    require(dataFilesOf(lines).nonEmpty, s"$table has no data files")
    val snap = readSnapshotTagged(spark, lines)
    Seq(idCol, vecCol).foreach(c => require(snap.columns.contains(c),
      s"no column '$c' in $table"))
    graft.plans.GraftFunctions.register(spark)
    val base = snap.select(col(idCol), col(vecCol), col(FileCol))
    val cents = graft.operators.KMeans.fitOn(
      base, idCol, vecCol, clusters, iters)
    val prepared = base.select(col(idCol).as("id"),
        graft.operators.Similarity.fixedPoint(col(vecCol)).as("v"),
        col(FileCol).as("file"))
      .withColumn("n2", call_function(
        graft.plans.GraftFunctions.DotLongName, col("v"), col("v")))
      .withColumn("cell", graft.operators.KMeans.nearestCentroid(
        col("v"), col("n2"), cents))
    val dir = new Path(table, s"_index/vec_${vecCol}_" +
      java.util.UUID.randomUUID().toString.take(8))
    stagedWriter(prepared).partitionBy("cell")
      .parquet(new Path(dir, "assign").toString)
    val s2 = spark
    import s2.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "v").repartition(1)
      .write.option("mapreduce.fileoutputcommitter.algorithm.version", "2")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .parquet(new Path(dir, "cents").toString)
    // the build snapshot's identity: indexed files + dv lines, so a
    // probe can decide staleness per file without old manifests
    // (which VACUUM may have retired)
    (dataFilesOf(lines).map(p => ("file", norm(p))) ++
      dvLinesOf(lines).map(("dv", _)))
      .toDF("kind", "line").repartition(1)
      .write.option("mapreduce.fileoutputcommitter.algorithm.version", "2")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .parquet(new Path(dir, "meta").toString)
    setTableProperty(spark, table, vecIndexProp(vecCol),
      s"$idCol\t$clusters\t$iters\t$dir")
    // the superseded sidecar (if any) stays for concurrent readers;
    // cleanOrphans reclaims it once unreferenced (text-index rule)
    dir.toString
  }

  /** The persisted centroid matrix of `vecCol`'s vector index — what
    * an engine-portable oracle twin inlines. */
  def vectorIndexCentroids(spark: SparkSession, table: String,
                           vecCol: String): Option[Array[Array[Long]]] =
    tablePropertyOf(spark, table, vecIndexProp(vecCol)).map { v =>
      val dir = v.split('\t').last
      spark.read.parquet(new Path(dir, "cents").toString)
        .collect()
        .sortBy(_.getInt(0))
        .map(_.getSeq[Long](1).toArray)
    }

  /** INCREMENTALLY extend the vector index to the CURRENT snapshot's
    * un-indexed, tombstone-free files WITHOUT refitting: new vectors
    * assign to the EXISTING centroids — one O(new rows) pass appended
    * to the cell-partitioned assignment sidecar — and the coverage
    * meta grows, so the next probe serves them from the index instead
    * of brute-forcing. Files touched by dv lines the build never saw
    * are skipped (they must keep re-scanning — the sidecar records
    * dv state as of build, and exact staleness is the index's
    * contract). Structure quality decays as the data distribution
    * drifts from the fitted centroids; [[vectorIndexBuild]] (or the
    * `index.rebuild.threshold` maintain policy) re-fits. Returns the
    * number of files newly covered. */
  def vectorIndexRefresh(spark: SparkSession, table: String,
                         vecCol: String): Int = {
    import org.apache.spark.sql.functions.{call_function, col}
    tablePropertyOf(spark, table, vecIndexProp(vecCol)).map { v =>
      val parts = v.split('\t')
      val (idCol, dir) = (parts(0), parts.last)
      val cents = vectorIndexCentroids(spark, table, vecCol).get
      val vs = versions(spark, table)
      require(vs.nonEmpty, s"no committed versions in $table")
      val lines = readManifest(spark, table, vs.last)
      val meta = spark.read.parquet(new Path(dir, "meta").toString)
        .collect().map(r => (r.getString(0), r.getString(1)))
      val builtFiles = meta.collect { case ("file", p) => p }.toSet
      val builtDv = meta.collect { case ("dv", l) => l }.toSet
      val newDvTargets = dvTargets(spark,
        (dvLinesOf(lines).toSet -- builtDv).toSeq
          .map(_.substring(DvPrefix.length)), fzLookup(lines))
      val fresh = dataFilesOf(lines).filter(p =>
        !builtFiles.contains(norm(p)) && !newDvTargets.contains(norm(p)))
      if (fresh.isEmpty) return 0
      val lineOf = dataLineByPath(lines)
      val snap = readSnapshotTagged(spark,
        fresh.map(p => lineOf(norm(p))) ++ stLinesFor(lines, fresh) ++
          cmLinesOf(lines) ++ scLinesOf(lines))
      graft.plans.GraftFunctions.register(spark)
      snap.select(col(idCol).as("id"),
          graft.operators.Similarity.fixedPoint(col(vecCol)).as("v"),
          col(FileCol).as("file"))
        .withColumn("n2", call_function(
          graft.plans.GraftFunctions.DotLongName, col("v"), col("v")))
        .withColumn("cell", graft.operators.KMeans.nearestCentroid(
          col("v"), col("n2"), cents))
        .write.mode("append")
        .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .partitionBy("cell")
        .parquet(new Path(dir, "assign").toString)
      val s2 = spark
      import s2.implicits._
      fresh.map(p => ("file", norm(p))).toDF("kind", "line")
        .repartition(1)
        .write.mode("append")
        .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .parquet(new Path(dir, "meta").toString)
      fresh.size
    }.getOrElse(0)
  }

  /** Drop `vecCol`'s vector index: the property and its sidecar
    * (idempotent). */
  def vectorIndexDrop(spark: SparkSession, table: String,
                      vecCol: String): Unit = {
    tablePropertyOf(spark, table, vecIndexProp(vecCol)).foreach { v =>
      unsetTableProperty(spark, table, vecIndexProp(vecCol))
      val old = new Path(v.split('\t').last)
      if (norm(old.toString).contains("/_index/"))
        fs(spark, old).delete(old, true)
    }
  }

  /** ANN top-k THROUGH the persisted index — None when `vecCol` has
    * no index. Per query: probe the `nprobe` nearest cells (read =
    * the probed cell partitions of index-served files, a left-anti
    * broadcast of the O(churn) excluded-file list), union the
    * re-scanned stale slice, rank exact cosine, keep k. Row-identical
    * to [[graft.operators.KMeans.ivfTopKWith]] with this index's
    * centroids when the index-served rows are assignment-fresh, plus
    * brute-force candidates from every re-scanned file. */
  def vectorIndexTopK(spark: SparkSession, table: String, vecCol: String,
                      queries: DataFrame, queryIdCol: String, k: Int,
                      nprobe: Int = 2): Option[DataFrame] = {
    import org.apache.spark.sql.functions.{broadcast, call_function, col, round, row_number, sqrt}
    tablePropertyOf(spark, table, vecIndexProp(vecCol)).map { v =>
      val parts = v.split('\t')
      val (idCol, dir) = (parts(0), parts.last)
      val cents = vectorIndexCentroids(spark, table, vecCol).get
      val vs = versions(spark, table)
      require(vs.nonEmpty, s"no committed versions in $table")
      val lines = readManifest(spark, table, vs.last)
      val curData = dataFilesOf(lines)
      val curDv = dvLinesOf(lines).toSet
      val meta = spark.read.parquet(new Path(dir, "meta").toString)
        .collect().map(r => (r.getString(0), r.getString(1)))
      val builtFiles = meta.collect { case ("file", p) => p }.toSet
      val builtDv = meta.collect { case ("dv", l) => l }.toSet
      val newDvTargets = dvTargets(spark,
        (curDv -- builtDv).toSeq.map(_.substring(DvPrefix.length)),
        fzLookup(lines))
      val usable = builtFiles
        .intersect(curData.map(norm).toSet) -- newDvTargets
      val rescan = curData.filterNot(p => usable.contains(norm(p)))
      vectorIndexProbeNotifier(rescan.size, curData.size)
      graft.plans.GraftFunctions.register(spark)
      val q = queries.select(col(queryIdCol).as("id"),
          graft.operators.Similarity.fixedPoint(col(vecCol)).as("v"))
        .withColumn("n2", call_function(
          graft.plans.GraftFunctions.DotLongName, col("v"), col("v")))
      val qProbed = q.withColumn("cell",
          graft.operators.KMeans.probeCells(cents, nprobe))
        .withColumnRenamed("id", "query_id")
        .withColumnRenamed("v", "qv").withColumnRenamed("n2", "qn2")
      val probed = qProbed.select("cell").distinct()
        .collect().map(_.getInt(0)).toSeq
      val s2 = spark
      import s2.implicits._
      val excluded = (builtFiles -- usable).toSeq.toDF("file")
      val assign = spark.read
        .parquet(new Path(dir, "assign").toString)
        .filter(col("cell").isin(probed: _*))
        .join(broadcast(excluded), Seq("file"), "left_anti")
      val cand1 = assign.join(broadcast(qProbed), Seq("cell"))
        .select(col("query_id"), col("qv"), col("qn2"),
          col("id").as("cand_id"), col("v").as("cv"),
          col("n2").as("cn2"))
      val qq = q.select(col("id").as("query_id"), col("v").as("qv"),
        col("n2").as("qn2"))
      val cand2 = if (rescan.isEmpty) None else {
        val lineOf = dataLineByPath(lines)
        val sub = readSnapshot(spark,
          rescan.map(p => lineOf(norm(p))) ++
            stLinesFor(lines, rescan) ++ dvLinesOf(lines) ++
            cmLinesOf(lines) ++ scLinesOf(lines))
        val c = sub.select(col(idCol).as("cand_id"),
            graft.operators.Similarity.fixedPoint(col(vecCol)).as("cv"))
          .withColumn("cn2", call_function(
            graft.plans.GraftFunctions.DotLongName,
            col("cv"), col("cv")))
        Some(c.crossJoin(broadcast(qq))
          .select(col("query_id"), col("qv"), col("qn2"),
            col("cand_id"), col("cv"), col("cn2")))
      }
      val cand = cand2.fold(cand1)(cand1.unionByName(_))
      val scored = cand.filter(col("cand_id") =!= col("query_id"))
        .withColumn("cos", call_function(
          graft.plans.GraftFunctions.DotLongName,
          col("qv"), col("cv")).cast("double") /
          sqrt(col("qn2").cast("double") * col("cn2").cast("double")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id")
        .orderBy(col("cos").desc, col("cand_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("cand_id"), col("rank"),
          round(col("cos"), 6).as("cos_r"))
    }
  }

  /** One report line of [[maintain]]. */
  final case class MaintenanceAction(kind: String, detail: String,
                                     version: Int)

  /** AUTO-MAINTENANCE POLICY — the nightly one-call: inspect the head
    * manifest and run exactly the maintenance this table needs, in
    * dependency order. Every DECISION is O(files) metadata (zero data
    * I/O); only the chosen actions read data, and each reads only
    * what it rewrites:
    *
    *  1. `analyze` — files missing st coverage for the declared stat
    *     schema get stats backfilled ([[analyzeCommit]]) so the later
    *     decisions (and every pruned read) work from the manifest.
    *  2. `purge-dv` — ≥ `maxDvFiles` tombstone sidecars: materialize
    *     the tombstoned files ([[purgeTombstonesCommit]]).
    *  3. `compact` — ≥ `maxSmallFiles` sub-`targetRows` files:
    *     OPTIMIZE ([[compactCommit]]).
    *  4. `recluster` — the table has a `clustered_by` stamp and ≥
    *     `maxUnclustered` files entered since: incremental
    *     re-clustering ([[clusterCommitIncremental]]).
    *
    * Vacuum is deliberately NOT automated (it deletes history —
    * [[vacuumDryRun]]/[[vacuumRetention]] are one call away). Returns
    * the actions taken, each with the version it committed; an
    * already-healthy table returns an empty list and touches
    * nothing. */
  def maintain(spark: SparkSession, table: String, targetRows: Long,
               maxSmallFiles: Int = 8, maxDvFiles: Int = 4,
               maxUnclustered: Int = 8): Seq[MaintenanceAction] = {
    require(targetRows > 0, "targetRows must be positive")
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val out = scala.collection.mutable.ArrayBuffer.empty[MaintenanceAction]
    def head(): Seq[String] =
      readManifest(spark, table, versions(spark, table).last)

    // 1. stats coverage (the other decisions read st lines)
    val lines0 = head()
    val declared = statColsOf(lines0)
    if (declared.nonEmpty) {
      val covered = statsOf(lines0).map(s => (norm(s._3), s._1)).toSet
      val missing = dataFilesOf(lines0)
        .count(f => declared.exists(c => !covered((norm(f), c))))
      if (missing > 0) {
        val v = retryMaintenance(5) { analyzeCommit(spark, table, declared) }
        out += MaintenanceAction("analyze", s"$missing uncovered files", v)
      }
    }

    // 2. deletion-vector debt
    if (dvFilesOf(head()).size >= maxDvFiles) {
      val v = retryMaintenance(5) {
        purgeTombstonesCommit(spark, table, targetRows) }
      out += MaintenanceAction("purge-dv", "materialized tombstoned files", v)
    }

    // 3. small-file fragmentation (decision = manifest row counts;
    // uncovered tables already got analyzed above when they declare
    // stats, else fall back to the free byte listing)
    val lines3 = head()
    val small = manifestRowCounts(lines3) match {
      case Some(counts) =>
        dataFilesOf(lines3).count(f =>
          counts.getOrElse(norm(f), 0L) < targetRows)
      case None =>
        val f = fs(spark, new Path(table))
        // bytes-per-row unknown without stats: a conservative 64 B/row
        dataFilesOf(lines3).count(p =>
          f.getFileStatus(new Path(p)).getLen < targetRows * 64L)
    }
    if (small >= maxSmallFiles) {
      val v = compactCommitOptimistic(spark, table, targetRows)
      out += MaintenanceAction("compact", s"$small small files", v)
    }

    // 4. clustering staleness
    val vsNow = versions(spark, table)
    val stamped = vsNow.reverse.flatMap(v =>
      metaOf(readManifest(spark, table, v)).get("clustered_by")).headOption
    stamped.foreach { tag =>
      val cols = tag.split(",").toSeq
      val baseV = vsNow.reverse.find(v =>
        metaOf(readManifest(spark, table, v)).get("clustered_by")
          .contains(tag)).get
      val baseFiles = dataFilesOf(readManifest(spark, table, baseV))
        .map(norm).toSet
      val fresh = dataFilesOf(head()).count(f => !baseFiles(norm(f)))
      if (fresh >= maxUnclustered) {
        val v = retryMaintenance(5) {
          clusterCommitIncremental(spark, table, cols, targetRows) }
        out += MaintenanceAction("recluster",
          s"$fresh files since v$baseV", v)
      }
    }

    // 5. branch retention (only when the table DECLARES it): stale
    // WORKLESS forks expire so they stop pinning files; a stale
    // branch carrying unpublished work is never destroyed by policy —
    // that takes an explicit `CALL expire_branches(..., force)`
    tablePropertyOf(spark, table, BranchRetentionProp)
      .flatMap(v => v.toLongOption).foreach { ms =>
        expireBranches(spark, table, ms, force = false,
          skipWorked = true).foreach { name =>
          out += MaintenanceAction("expire-branch",
            s"stale fork '$name' past ${ms}ms retention",
            versions(spark, table).last)
        }
      }

    // 6. index staleness (only when the table DECLARES a rebuild
    // threshold): churn degrades the text/vector indexes toward full
    // scans — CORRECT by the stale-file contract (un-indexed files
    // always scan), but unpruned. When the un-indexed fraction of
    // current data files crosses the threshold, rebuild with the
    // index's own stored parameters. Decision cost: the sidecar's
    // O(files) coverage list vs the manifest, zero data I/O.
    tablePropertyOf(spark, table, IndexRebuildProp)
      .flatMap(_.toDoubleOption).foreach { thr =>
        require(thr > 0 && thr <= 1,
          s"$IndexRebuildProp must be a fraction in (0, 1]")
        val cur = dataFilesOf(head()).map(norm).toSet
        def staleCount(covered: Set[String]): Int =
          cur.count(f => !covered.contains(f))
        tablePropertiesOf(spark, table).toSeq.sortBy(_._1).foreach {
          case (k, v) if k.startsWith("index.text.") =>
            val c = k.substring("index.text.".length)
            val parts = v.split('\t')
            val covered = spark.read.parquet(parts.last)
              .select("file").distinct()
              .collect().map(_.getString(0)).toSet
            val n = staleCount(covered)
            if (n.toDouble / math.max(cur.size, 1) > thr) {
              textIndexBuild(spark, table, c, w = parts(0).toInt,
                bitsLog2 = parts(1).toInt, k = parts(2).toInt)
              out += MaintenanceAction("reindex-text",
                s"'$c': $n/${cur.size} files un-indexed",
                versions(spark, table).last)
            }
          case (k, v) if k.startsWith("index.vec.") =>
            val c = k.substring("index.vec.".length)
            val parts = v.split('\t')
            val covered = spark.read
              .parquet(new Path(parts.last, "meta").toString)
              .filter(org.apache.spark.sql.functions
                .col("kind") === "file")
              .select("line").collect().map(_.getString(0)).toSet
            val n = staleCount(covered)
            if (n.toDouble / math.max(cur.size, 1) > thr) {
              vectorIndexBuild(spark, table, parts(0), c,
                clusters = parts(1).toInt,
                iters = if (parts.length >= 4) parts(2).toInt else 3)
              out += MaintenanceAction("reindex-vector",
                s"'$c': $n/${cur.size} files un-indexed",
                versions(spark, table).last)
            }
          case _ => ()
        }
      }
    out.toSeq
  }

  /** Opt-in `maintain` policy: rebuild a text/vector index when the
    * un-indexed fraction of current data files exceeds this (a value
    * in (0, 1], e.g. "0.25"). */
  val IndexRebuildProp = "index.rebuild.threshold"

  /** [[compactCommit]] deciding by FILE SIZE instead of row count —
    * `FileStatus.getLen` per file, one O(files) metadata listing, so
    * the decision is free even on tables with NO manifest stats (size
    * needs no scan to know, rows do). Size is also what object-store
    * economics actually care about: request counts and small-object
    * overhead are byte-threshold problems. Same rewrite machinery,
    * same atomic commit, same tombstone purge, same
    * `content_preserving` tag. */
  def compactCommitBySize(spark: SparkSession, table: String,
                          targetBytes: Long): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val lines = readManifest(spark, table, vs.last)
    val data = dataFilesOf(lines)
    val f = fs(spark, new Path(table))
    val sizes = data.map(p =>
      norm(p) -> f.getFileStatus(new Path(p)).getLen).toMap
    val (small, big) = data.partition(p => sizes(norm(p)) < targetBytes)
    if (small.size < 2) return vs.last
    val smallBytes = small.map(p => sizes(norm(p))).sum
    val nOut = math.max(1L,
      (smallBytes + targetBytes - 1) / targetBytes).toInt
    try rewriteSmallFiles(spark, table, lines, small, big, nOut)
    catch { case c: VersionConflict => sys.error(c.getMessage) }
  }

  /** Partition-scoped OPTIMIZE — `OPTIMIZE ... WHERE partCol IN
    * values`: compact only the scoped partitions' fragments and carry
    * every other file verbatim. The 100 TB operating shape: a nightly
    * job compacts TODAY's hot partition — O(one partition's files)
    * decided and rewritten — and never touches the cold petabytes.
    * The row-count decision reads manifest st lines when the scoped
    * files are covered (falls back to ONE scan of just the scoped
    * files, never the table); the rewrite tail is [[compactCommit]]'s
    * (per-partition collapse, re-tag, tombstone purge, atomic
    * `content_preserving` publish). Values match the tag column
    * exactly; null-tagged files are out of every scope (compaction is
    * a layout choice, not a correctness path). */
  def compactCommitWhere(spark: SparkSession, table: String,
                         targetRows: Long, partCol: String,
                         values: Seq[String]): Int = {
    import org.apache.spark.sql.functions.{count, input_file_name, lit}
    require(targetRows > 0, "targetRows must be positive")
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val lines = readManifest(spark, table, vs.last)
    val tagged = partitionsOf(lines).filter(_._1 == partCol)
    require(tagged.nonEmpty, s"no $partCol partition tags in $table")
    val want = values.toSet
    val scoped = tagged.collect { case (_, v, p) if want.contains(v) => p }
      .distinct
    if (scoped.isEmpty) return vs.last
    val byFileRows = statsOf(lines).groupBy(s => norm(s._3))
      .view.mapValues(_.head._2._4).toMap
    val counts: Map[String, Long] =
      if (scoped.forall(p => byFileRows.contains(norm(p))))
        scoped.map(p => norm(p) -> byFileRows(norm(p))).toMap
      else {
        statsScanNotifier("compactCommitWhere", scoped.size)
        spark.read.parquet(scoped: _*)
          .groupBy(input_file_name().as("file"))
          .agg(count(lit(1)).as("n_rows"))
          .collect().map(r => norm(r.getString(0)) -> r.getLong(1)).toMap
      }
    val (small, _) = scoped.partition(p =>
      counts.getOrElse(norm(p), 0L) < targetRows)
    if (small.size < 2) return vs.last
    val smallSet = small.map(norm).toSet
    val big = dataFilesOf(lines).filterNot(p => smallSet.contains(norm(p)))
    val smallRows = small.map(p => counts.getOrElse(norm(p), 0L)).sum
    val nOut = math.max(1L, (smallRows + targetRows - 1) / targetRows).toInt
    // surface a lost version race uniformly with compactCommit /
    // purgeTombstonesCommit (callers can't catch the internal type)
    try rewriteSmallFiles(spark, table, lines, small, big, nOut)
    catch { case c: VersionConflict => sys.error(c.getMessage) }
  }

  /** The shared OPTIMIZE tail: rewrite `small` into `nOut` right-sized
    * files (per-partition-collapsed and re-tagged on a coherently
    * partitioned table), purge their tombstones, carry `big` verbatim
    * with their stats, publish atomically with the
    * `content_preserving` tag. */
  private def rewriteSmallFiles(spark: SparkSession, table: String,
                                lines: Seq[String], small: Seq[String],
                                big: Seq[String], nOut: Int): Int = {
    val vs = versions(spark, table)
    val dvLines = lines.filter(_.startsWith(DvPrefix))
    val next = vs.last + 1
    val spec = fullSpecOf(lines)
    val compacted = {
      val snap = readSnapshot(spark,
        small ++ dvLines ++ cmLinesOf(lines) ++ scLinesOf(lines) ++
          lines.filter(_.startsWith(NcPrefix)))
      // partitioned table: hash on the partition column(s) so each
      // value's fragments collapse into ONE file (per-partition
      // compaction — outputs stay pt-tagged via writeRewrite)
      if (spec.nonEmpty && spec.forall(snap.columns.contains))
        snap.repartition(nOut,
          spec.map(org.apache.spark.sql.functions.col): _*)
      else snap.repartition(nOut)
    }
    val newLines = writeRewrite(spark, table, next, compacted, spec,
      cmLinesOf(lines))
    val keptDv = consolidateTombstones(spark, dvLines, big, table, next,
      fzLookup(lines))
    val lineOf = dataLineByPath(lines)
    maintenanceAttemptNotifier(next)
    try writeManifest(spark, table, next,
      big.map(p => lineOf(norm(p))) ++ stLinesFor(lines, big) ++
        keptDv ++ newLines ++
        computeStatLines(spark, dataFilesOf(newLines), statColsOf(lines),
          renameMapOf(lines)) ++
        lines.filter(_.startsWith(ScPrefix)) ++ cmLinesOf(lines) ++
        // layout-only commit: change-feed consumers skip it entirely
        // ([[graft.streaming.TableChangeStream.feedFor]]) instead of
        // paying the rewrite's worth of cancelling COW copies
        metaLinesOf(Map("compacted" -> "true",
          "content_preserving" -> "true")))
    catch { case e: RuntimeException
        if e.getMessage != null && e.getMessage.contains("already committed") =>
      throw VersionConflict(vs.last, small.map(norm).toSet, e.getMessage)
    }
    next
  }

  /** CLUSTER BY: rewrite the snapshot value-clustered on `cols` as a
    * new version — one column range-partitions, two compose the
    * z-order curve ([[graft.operators.ScaleOps.zorderKey2]]) so BOTH
    * prune independently under [[readPruned]]. A full O(table)
    * rewrite by nature (re-clustering moves every row) — the one-time
    * cost that buys every later selective read its file skipping; all
    * tombstones are materialized by the rewrite (the new version is
    * pure files). Old versions still time-travel. */
  def clusterCommit(spark: SparkSession, table: String,
                    cols: Seq[String], nFiles: Int): Int = {
    import org.apache.spark.sql.functions.col
    require(cols.nonEmpty && cols.size <= 8,
      "cluster on 1 column (range), 2 (z-order) or up to 8 (N-dim z-order)")
    require(nFiles > 0, "nFiles must be positive")
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val lines = readManifest(spark, table, vs.last)
    val snap = readSnapshot(spark, lines)
    val laid = clusterLayout(snap, cols, nFiles)
    // a cluster rewrite REFRESHES the stat schema's st lines (tight
    // post-clustering bounds are the whole point) and, naturally,
    // declares the clustering columns as stat columns — they're what
    // readPruned will prune on
    commit(spark, table, laid, append = false,
      // layout-only commit (same contract as compactCommit's tag)
      meta = Map("clustered_by" -> cols.mkString(","),
        "content_preserving" -> "true"),
      statCols = (statColsOf(lines) ++ cols).distinct)
  }

  /** The shared CLUSTER BY layout: 1 column range-partitions, 2
    * compose the 16-bit/dim Morton curve, 3..8 the 63/n-bit N-dim
    * curve ([[graft.operators.ScaleOps.zorderKeyN]] — callers
    * pre-bucket wide-range dimensions into the per-dim bit budget,
    * same contract q_zorder3 gates). */
  private def clusterLayout(snap: DataFrame, cols: Seq[String],
                            nFiles: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    // non-numeric dimensions (strings, dates) cast to NULL inside the
    // Morton key — they enter via their LEX-RANK bucket instead (one
    // distinct+sort job per such dim, O(buckets) driver state), which
    // keeps range locality so post-clustering [min,max] stats prune
    // ranges on EVERY dimension, string or numeric
    def numeric(c: String): Boolean =
      snap.schema.fields.find(_.name == c).map(_.dataType).exists {
        case _: org.apache.spark.sql.types.NumericType => true
        case _ => false
      }
    val bits = if (cols.size <= 2) 16 else 63 / cols.size
    val buckets = math.min(1L << bits, 1024L).toInt
    def dim(c: String): org.apache.spark.sql.Column =
      if (numeric(c)) col(c)
      else graft.operators.ScaleOps.rankBucketExpr(col(c),
        graft.operators.ScaleOps.rankBoundaries(snap, col(c), buckets))
    cols match {
      case Seq(c) => snap.repartitionByRange(nFiles, col(c))
      case Seq(a, b) =>
        graft.operators.ScaleOps.zorderLayout(snap, dim(a), dim(b), nFiles)
      case more =>
        graft.operators.ScaleOps.zorderLayoutN(snap, more.map(dim), nFiles)
    }
  }

  /** INCREMENTAL clustering — maintain a CLUSTER BY layout without
    * the full rewrite: only files that entered the table AFTER the
    * last `clustered_by`-stamped commit (appends, merge/compact
    * outputs — anything the head holds that the baseline didn't) are
    * re-laid on `cols`; every still-clustered file is carried
    * verbatim with its stats and tombstones. At 100 TB this is the
    * difference between a nightly O(day's ingest) job and an
    * impossible O(table) one — the full [[clusterCommit]] runs once,
    * this maintains it (Delta liquid-clustering's operating shape).
    * Provenance is pure metadata: the fresh set is a manifest diff
    * against the baseline version, no file is opened to decide.
    * Re-laid files are separate from carried ones, so pruning
    * selectivity on OLD data is untouched and NEW data gets
    * clustered bounds; a later full [[clusterCommit]] re-tightens
    * globally if drift accumulates. No baseline (never clustered) →
    * bootstraps with the full [[clusterCommit]]. Already caught up →
    * returns the head, commits nothing. */
  def clusterCommitIncremental(spark: SparkSession, table: String,
                               cols: Seq[String],
                               targetRows: Long): Int = {
    require(cols.nonEmpty && cols.size <= 8,
      "cluster on 1 column (range), 2 (z-order) or up to 8 (N-dim z-order)")
    require(targetRows > 0, "targetRows must be positive")
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val tag = cols.mkString(",")
    val baseline = vs.reverse.find(v =>
      metaOf(readManifest(spark, table, v)).get("clustered_by")
        .contains(tag))
    if (baseline.isEmpty) {
      val lines = readManifest(spark, table, vs.last)
      val approxFiles = math.max(1, dataFilesOf(lines).size)
      return clusterCommit(spark, table, cols, approxFiles)
    }
    val lines = readManifest(spark, table, vs.last)
    val clustered = dataFilesOf(readManifest(spark, table, baseline.get))
      .map(norm).toSet
    val head = dataFilesOf(lines)
    val fresh = head.filterNot(f => clustered.contains(norm(f)))
    if (fresh.isEmpty) return vs.last
    val freshSet = fresh.map(norm).toSet
    val carried = head.filterNot(f => freshSet.contains(norm(f)))
    val dvLines = lines.filter(_.startsWith(DvPrefix))
    val next = vs.last + 1
    val freshRows = readSnapshot(spark,
      fresh ++ dvLines ++ cmLinesOf(lines) ++ scLinesOf(lines) ++
        lines.filter(_.startsWith(NcPrefix)))
    val nOut = {
      val byFile = statsOf(lines).groupBy(s => norm(s._3))
        .view.mapValues(_.head._2._4).toMap
      val n =
        if (fresh.forall(f => byFile.contains(norm(f))))
          fresh.map(f => byFile(norm(f))).sum
        else freshRows.count()
      math.max(1L, (n + targetRows - 1) / targetRows).toInt
    }
    val laid = clusterLayout(freshRows, cols, nOut)
    val newLines = writeRewrite(spark, table, next, laid,
      fullSpecOf(lines), cmLinesOf(lines))
    val keptDv = consolidateTombstones(spark, dvLines, carried, table, next,
      fzLookup(lines))
    val lineOf = dataLineByPath(lines)
    writeManifest(spark, table, next,
      carried.map(p => lineOf(norm(p))) ++ stLinesFor(lines, carried) ++
        keptDv ++ newLines ++
        computeStatLines(spark, dataFilesOf(newLines),
          (statColsOf(lines) ++ cols).distinct, renameMapOf(lines)) ++
        lines.filter(_.startsWith(ScPrefix)) ++ cmLinesOf(lines) ++
        metaLinesOf(Map("clustered_by" -> tag,
          "content_preserving" -> "true")))
    next
  }

  /** Snapshot read with FILE SKIPPING: per-file [min, max] stats over
    * the manifest's data files prune to the ranges' candidates, then
    * tombstones and the exact predicates apply as usual. Row-identical
    * to `read(...).filter(ranges)`; at scale the selective read opens
    * O(candidate files). Stats here are computed on the fly (one
    * column-pruned scan); pair with [[FileSkipping.updateStats]] at
    * commit time to make them O(new files) instead. */
  def readPruned(spark: SparkSession, table: String,
                 ranges: Seq[(String, Long, Long)],
                 version: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in $vs")
    val lines = readManifest(spark, table, v)
    val data = dataFilesOf(lines)
    // manifest-served stats when covered (decision = metadata only;
    // DOUBLE bounds are exact for every rendering the ranges compare
    // against and never truncate like an integral cast would), scan
    // otherwise
    val stats = manifestStats(spark, lines, ranges.map(_._1).distinct,
      _ => org.apache.spark.sql.types.DoubleType).getOrElse {
      statsScanNotifier("readPruned", data.size)
      collectStatsLogical(spark, data, ranges.map(_._1).distinct, lines)
    }
    val cand = FileSkipping.candidateFiles(stats, ranges)
    val base =
      if (cand.isEmpty) readSnapshot(spark, lines).limit(0)
      else readSnapshot(spark,
        cand ++ lines.filter(l =>
        l.startsWith(DvPrefix) || l.startsWith(CmPrefix) ||
        l.startsWith(FzPrefix) ||
        l.startsWith(ScPrefix) || l.startsWith(NcPrefix)))
    base.filter(ranges.map { case (c, lo, hi) =>
      col(c) >= lo && col(c) <= hi
    }.reduce(_ && _))
  }

  /** Candidate data files for an equi-JOIN on `joinCol` against the
    * key set `dimKeys` (single column, the build side AFTER its own
    * filters): every file whose `joinCol` st range may contain at
    * least one key, plus every file the manifest carries no `joinCol`
    * stats for (never-prunable discipline). The probe is fully
    * distributed — no driver-side key list: the O(files) stat ranges
    * BROADCAST against the (arbitrarily large, un-deduplicated) key
    * column as a range condition, and only matching PATHS return to
    * the driver via a map-side-combined distinct — zero shuffle of
    * the key set, driver state bounded by the manifest it already
    * holds. Files whose `joinCol` is all-NULL can never satisfy an
    * equi-join and drop out; NULL keys likewise. Bounds compare as
    * DOUBLE (exact for every integral rendering — [[readPruned]]'s
    * discipline); any stat value that does not parse as a number
    * (string stat columns) disables pruning for the whole probe
    * rather than risk a wrong skip. */
  def joinCandidates(spark: SparkSession, lines: Seq[String],
                     joinCol: String, dimKeys: DataFrame): Seq[String] = {
    import org.apache.spark.sql.functions.{broadcast, col}
    require(dimKeys.columns.length == 1,
      s"dimKeys must be a single key column, got ${dimKeys.columns.toSeq}")
    val data = dataFilesOf(lines)
    val byFile = statsOf(lines)
      .collect { case (c, st, p) if c == joinCol => norm(p) -> st }.toMap
    val (covered, uncovered) = data.partition(f => byFile.contains(norm(f)))
    val parsed = scala.util.Try {
      covered.flatMap { f =>
        val (mn, mx, _, _) = byFile(norm(f))
        for (a <- mn; b <- mx) yield (f, a.toDouble, b.toDouble)
      }
    }
    val cand = parsed match {
      case scala.util.Failure(_) => data // unparseable bounds: no pruning
      case scala.util.Success(ranges) if ranges.isEmpty => uncovered
      case scala.util.Success(ranges) =>
        import spark.implicits._
        val stats = ranges.toDF("__file", "__mn", "__mx")
        val k = dimKeys.columns.head
        val hits = dimKeys.na.drop()
          .select(col(k).cast("double").as("__k"))
          .join(broadcast(stats),
            col("__k") >= col("__mn") && col("__k") <= col("__mx"))
          .select("__file").distinct()
          .collect().map(_.getString(0)).toSeq
        uncovered ++ hits
    }
    joinPruneNotifier(cand.size, data.size)
    cand
  }

  /** FILE SKIPPING on a STRING range — the date-string layout case
    * (`WHERE o_date BETWEEN '1995-06-01' AND '1995-08-31'` on a
    * date-clustered table). Sound because manifest st strings are
    * EXACT: they come from the footer path only when the footer holds
    * full (never truncated) values — [[FileSkipping.footerStats]]
    * bails to the one-scan path near the writer's stats-drop
    * threshold, so a truncated bound can never be recorded. Comparison is
    * unsigned UTF-8 byte order (Spark's own string ordering), so the
    * candidate test agrees with the re-applied exact predicate.
    * Files without stats stay candidates; all-null files can't match
    * a range. Row-identical to `read().filter(c between lo and hi)`. */
  def readPrunedString(spark: SparkSession, table: String, c: String,
                       lo: String, hi: String,
                       version: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in $vs")
    val lines = readManifest(spark, table, v)
    def cmp(a: String, b: String): Int = {
      val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val d = (x(i) & 0xFF) - (y(i) & 0xFF)
        if (d != 0) return d
        i += 1
      }
      x.length - y.length
    }
    val byFile = statsOf(lines)
      .collect { case (cc, st, p) if cc == c => norm(p) -> st }.toMap
    val cand = dataFilesOf(lines).filter { f =>
      byFile.get(norm(f)) match {
        case None => true // uncovered: never prunable
        case Some((mn, mx, _, _)) =>
          mn.exists(cmp(_, hi) <= 0) && mx.exists(cmp(_, lo) >= 0)
      }
    }
    val base =
      if (cand.isEmpty) readSnapshot(spark, lines).limit(0)
      else readSnapshot(spark, cand ++ lines.filter(l =>
        l.startsWith(DvPrefix) || l.startsWith(CmPrefix) ||
        l.startsWith(FzPrefix) ||
        l.startsWith(ScPrefix) || l.startsWith(NcPrefix)))
    base.filter(col(c) >= lo && col(c) <= hi)
  }

  /** NULL-COUNT file skipping: candidate files for an `IS NULL`
    * (`wantNull = true`) or `IS NOT NULL` (`false`) predicate on
    * `c`, decided from the st lines' null counts — a file with zero
    * nulls can hold no `IS NULL` match, an all-null file no
    * `IS NOT NULL` one. Files without stats for `c` stay candidates
    * (never-prunable). The practical 100 TB case: a repair/backfill
    * job hunting rows that MISSED an enrichment column scans only the
    * files where nulls exist instead of the table. */
  def nullCandidates(lines: Seq[String], c: String,
                     wantNull: Boolean): Seq[String] = {
    val byFile = statsOf(lines)
      .collect { case (cc, st, p) if cc == c => norm(p) -> st }.toMap
    dataFilesOf(lines).filter { f =>
      byFile.get(norm(f)) match {
        case None => true // uncovered: never prunable
        case Some((_, _, nulls, nrows)) =>
          if (wantNull) nulls > 0 else nulls < nrows
      }
    }
  }

  /** Snapshot read restricted to [[nullCandidates]] with the exact
    * predicate re-applied — row-identical to
    * `read(...).filter(c IS [NOT] NULL)`; tombstones apply as usual. */
  def readPrunedNull(spark: SparkSession, table: String, c: String,
                     wantNull: Boolean,
                     version: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in $vs")
    val lines = readManifest(spark, table, v)
    val cand = nullCandidates(lines, c, wantNull)
    val base =
      if (cand.isEmpty) readSnapshot(spark, lines).limit(0)
      else readSnapshot(spark, cand ++ lines.filter(l =>
        l.startsWith(DvPrefix) || l.startsWith(CmPrefix) ||
        l.startsWith(FzPrefix) ||
        l.startsWith(ScPrefix) || l.startsWith(NcPrefix)))
    base.filter(if (wantNull) col(c).isNull else col(c).isNotNull)
  }

  // -------------------------------------------------------------------
  // SCAN PLANNER: one read API composing EVERY manifest-resident
  // skipping dimension. The per-dimension readers (readPruned,
  // readPrunedString, readPrunedNull, readPartitions) each prune on
  // one predicate; real queries carry conjunctions ("status = 'F'
  // AND date BETWEEN x AND y AND enriched IS NOT NULL"), and the
  // files worth opening are the INTERSECTION of every dimension's
  // candidates — still a pure-metadata decision, zero data I/O.
  // -------------------------------------------------------------------

  /** One conjunct of a [[readWhere]] predicate. Every variant prunes
    * from the manifest alone and is re-applied exactly after the
    * pruned read, so the result is row-identical to
    * `read(...).filter(conjunction)` on ANY table — covered files
    * prune, uncovered files just scan. */
  sealed trait ScanPred { def col: String }
  object ScanPred {
    /** `col BETWEEN lo AND hi` on an integral column (exact Long
      * comparison, [[readPruned]]'s discipline). */
    final case class NumBetween(col: String, lo: Long, hi: Long)
      extends ScanPred
    /** `col BETWEEN lo AND hi` on a string column — sound because
      * manifest st strings are scan-exact ([[readPrunedString]]). */
    final case class StrBetween(col: String, lo: String, hi: String)
      extends ScanPred
    /** `col IS NULL` / `col IS NOT NULL` (st null counts). */
    final case class IsNull(col: String) extends ScanPred
    final case class NotNull(col: String) extends ScanPred
    /** `col IN (values)` on a partition column: prunes by pt tag
      * (files tagged BY another column, or untagged, stay candidates
      * — the spec-evolution discipline of [[readPartitions]]). */
    final case class PartIn(col: String, values: Seq[String])
      extends ScanPred

    def numEq(col: String, v: Long): NumBetween = NumBetween(col, v, v)
    def strEq(col: String, v: String): StrBetween = StrBetween(col, v, v)
  }

  /** Unsigned UTF-8 byte comparison — Spark's own string ordering,
    * so candidate tests agree with re-applied string predicates. */
  private def utf8Cmp(a: String, b: String): Int = {
    val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val d = (x(i) & 0xFF) - (y(i) & 0xFF)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  /** Manifest-evidence CONTAINMENT test, built once per manifest:
    * `(file, pred) => true` only when the file's st stats / pt tag
    * PROVE every row satisfies the predicate (range covers [min,max]
    * with zero nulls; IS NULL with all-null; partition tag inside the
    * value set). The exact complement of [[scanCandidates]]'
    * cannot-rule-out test — what [[countWhereDetailed]] /
    * [[minMaxWhere]] serve metadata answers from and
    * [[deleteCommitRouted]] routes metadata-only deletes by. Numeric
    * comparison is BigDecimal-exact: a Double round-trip could prove
    * containment falsely near 2^63 and that must never gate a
    * data-dropping decision. */
  private def containmentOf(lines: Seq[String])
      : (String, ScanPred) => Boolean = {
    import ScanPred._
    val statByColFile = statsOf(lines)
      .map { case (c, st, p) => (c, norm(p)) -> st }.toMap
    val ptByFile = partitionsOf(lines).groupBy(t => norm(t._3))
      .view.mapValues(_.map(t => (t._1, t._2))).toMap
    def dec(s: String): Option[BigDecimal] =
      scala.util.Try(BigDecimal(s)).toOption
    (f: String, pred: ScanPred) => pred match {
      case NumBetween(c, lo, hi) =>
        statByColFile.get((c, norm(f))).exists {
          case (mn, mx, nulls, _) =>
            nulls == 0 &&
              mn.flatMap(dec).exists(_ >= BigDecimal(lo)) &&
              mx.flatMap(dec).exists(_ <= BigDecimal(hi))
        }
      case StrBetween(c, lo, hi) =>
        statByColFile.get((c, norm(f))).exists {
          case (mn, mx, nulls, _) =>
            nulls == 0 && mn.exists(utf8Cmp(_, lo) >= 0) &&
              mx.exists(utf8Cmp(_, hi) <= 0)
        }
      case IsNull(c) =>
        statByColFile.get((c, norm(f))).exists {
          case (_, _, nulls, nrows) => nulls == nrows
        }
      case NotNull(c) =>
        statByColFile.get((c, norm(f))).exists {
          case (_, _, nulls, _) => nulls == 0
        }
      case PartIn(c, values) =>
        ptByFile.get(norm(f)).exists(_.exists { case (cc, vv) =>
          cc == c && vv != NullPartitionTag && values.contains(vv) })
    }
  }

  /** The data files a conjunction of [[ScanPred]]s can possibly
    * match: per predicate, covered files keep only those whose
    * manifest evidence (st range / null count / pt tag) intersects
    * it; uncovered files are never prunable; the result is the
    * intersection across predicates. O(files × preds) driver work on
    * lines the caller already holds — no I/O at all. */
  def scanCandidates(lines: Seq[String],
                     preds: Seq[ScanPred]): Seq[String] = {
    import ScanPred._
    if (preds.isEmpty) return dataFilesOf(lines) // nothing to rule out
    val stats = statsOf(lines)
    val statByColFile: Map[(String, String),
      (Option[String], Option[String], Long, Long)] =
      stats.map { case (c, st, p) => (c, norm(p)) -> st }.toMap
    val ptByFile: Map[String, Seq[(String, String)]] =
      partitionsOf(lines).groupBy(t => norm(t._3))
        .view.mapValues(_.map(t => (t._1, t._2))).toMap
    def survives(f: String, pred: ScanPred): Boolean = pred match {
      case NumBetween(c, lo, hi) =>
        statByColFile.get((c, norm(f))) match {
          case None => true
          case Some((mn, mx, _, _)) =>
            // unparseable (string) bounds: never prune on them
            val lohi = scala.util.Try((mn.map(_.toDouble),
              mx.map(_.toDouble))).toOption
            lohi match {
              case None => true
              case Some((pmn, pmx)) =>
                pmn.exists(_ <= hi) && pmx.exists(_ >= lo)
            }
        }
      case StrBetween(c, lo, hi) =>
        statByColFile.get((c, norm(f))) match {
          case None => true
          case Some((mn, mx, _, _)) =>
            mn.exists(utf8Cmp(_, hi) <= 0) && mx.exists(utf8Cmp(_, lo) >= 0)
        }
      case IsNull(c) =>
        statByColFile.get((c, norm(f)))
          .forall { case (_, _, nulls, _) => nulls > 0 }
      case NotNull(c) =>
        statByColFile.get((c, norm(f)))
          .forall { case (_, _, nulls, nrows) => nulls < nrows }
      case PartIn(c, values) =>
        ptByFile.get(norm(f)) match {
          case None => true // untagged: never prunable
          case Some(tags) => tags.find(_._1 == c) match {
            case None => true // tagged by OTHER columns only
            case Some((_, v)) =>
              values.contains(v) || v == NullPartitionTag
          }
        }
    }
    dataFilesOf(lines).filter(f => preds.forall(survives(f, _)))
  }

  /** Snapshot read for a CONJUNCTION of predicates: open only the
    * [[scanCandidates]] intersection, apply tombstones, re-apply the
    * exact predicates. Row-identical to `read(...).filter(AND of
    * preds)`; on a table clustered/partitioned/stated along the
    * predicate columns the candidate set is the intersection of
    * every dimension's skip — the compound-WHERE 100 TB read. */
  def readWhere(spark: SparkSession, table: String,
                preds: Seq[ScanPred],
                version: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    import ScanPred._
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in $vs")
    val lines = readManifest(spark, table, v)
    val cand = scanCandidates(lines, preds)
    val base =
      if (cand.isEmpty) readSnapshot(spark, lines).limit(0)
      else readSnapshot(spark, cand ++ lines.filter(l =>
        l.startsWith(DvPrefix) || l.startsWith(CmPrefix) ||
        l.startsWith(FzPrefix) ||
        l.startsWith(ScPrefix) || l.startsWith(NcPrefix)))
    base.filter(predExpr(preds))
  }

  /** [[readWhere]] carrying [[MetaFileCol]] — how `SELECT _file, ...`
    * resolves through the SQL scan: candidate files opened, exact
    * predicates re-applied, each row tagged with its file identity. */
  def readWhereTagged(spark: SparkSession, table: String,
                      preds: Seq[ScanPred],
                      version: Option[Int] = None,
                      withPos: Boolean = false): DataFrame =
    readCandidatesTagged(spark, table, preds, version, withPos)
      .filter(predExpr(preds))

  /** [[scanCandidates]] for a DISJUNCTION of conjunctions (DNF —
    * every WHERE clause normalizes to one): a file is a candidate
    * when ANY disjunct cannot rule it out, so the set is the UNION of
    * the disjuncts' candidate sets. Still pure metadata. */
  def scanCandidatesAny(lines: Seq[String],
                        disjuncts: Seq[Seq[ScanPred]]): Seq[String] = {
    require(disjuncts.nonEmpty && disjuncts.forall(_.nonEmpty),
      "need at least one non-empty disjunct")
    val hit = disjuncts.flatMap(d => scanCandidates(lines, d).map(norm))
      .toSet
    dataFilesOf(lines).filter(f => hit(norm(f)))
  }

  private def predExpr(preds: Seq[ScanPred]): Column = {
    import org.apache.spark.sql.functions.col
    import ScanPred._
    preds.map {
      case NumBetween(c, lo, hi) => col(c) >= lo && col(c) <= hi
      case StrBetween(c, lo, hi) => col(c) >= lo && col(c) <= hi
      case IsNull(c) => col(c).isNull
      case NotNull(c) => col(c).isNotNull
      case PartIn(c, values) => col(c).cast("string").isin(values: _*)
    }.reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
  }

  /** [[readWhere]] for an OR of conjunctions — `WHERE (q2 AND f) OR
    * (q4 AND o)` opens the UNION of the branches' candidate files
    * once (a file in both branches is read once, not twice), then
    * re-applies the exact DNF predicate. Row-identical to
    * `read(...).filter(OR of ANDs)` on any table. */
  def readWhereAny(spark: SparkSession, table: String,
                   disjuncts: Seq[Seq[ScanPred]],
                   version: Option[Int] = None): DataFrame = {
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in $vs")
    val lines = readManifest(spark, table, v)
    val cand = scanCandidatesAny(lines, disjuncts)
    val base =
      if (cand.isEmpty) readSnapshot(spark, lines).limit(0)
      else readSnapshot(spark, cand ++ lines.filter(l =>
        l.startsWith(DvPrefix) || l.startsWith(CmPrefix) ||
        l.startsWith(FzPrefix) ||
        l.startsWith(ScPrefix) || l.startsWith(NcPrefix)))
    base.filter(disjuncts.map(predExpr).reduce(_ || _))
  }

  /** METADATA-ONLY FILTERED COUNT — `SELECT count(*) WHERE <conj>`
    * answered as a three-way manifest classification:
    *  - DISJOINT files (some predicate can't match any row) count 0,
    *  - CONTAINED files (every predicate provably holds for EVERY
    *    row: range covers [min,max] with zero nulls, IS NULL with
    *    all-null, partition tag inside the value set) contribute
    *    their manifest `nrows` with zero I/O,
    *  - only BOUNDARY files — the ones straddling a predicate edge —
    *    are read, with the exact conjunction re-applied.
    * Tombstoned files are never trusted as contained (their manifest
    * nrows over-counts) — one O(deleted rows) sidecar probe finds
    * them. On a 100 TB table clustered along the predicate columns,
    * "count the quarter" costs the manifest fold plus the two files
    * that straddle the quarter's edges. Row-identical to
    * `readWhere(...).count()` on any table. */
  def countWhere(spark: SparkSession, table: String,
                 preds: Seq[ScanPred],
                 version: Option[Int] = None): Long =
    countWhereDetailed(spark, table, preds, version)._1

  /** [[countWhere]] plus its decision split `(count, containedFiles,
    * boundaryFiles)` — the public evidence that the count was mostly
    * metadata (what gates and capacity audits pin). */
  def countWhereDetailed(spark: SparkSession, table: String,
                         preds: Seq[ScanPred],
                         version: Option[Int] = None): (Long, Int, Int) = {
    import org.apache.spark.sql.functions.col
    import ScanPred._
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in $vs")
    val lines = readManifest(spark, table, v)
    val cand = scanCandidates(lines, preds).map(norm).toSet
    val dvs = dvFilesOf(lines)
    val tombstoned: Set[String] =
      if (dvs.isEmpty) Set.empty
      else dvFileColFrame(spark, dvs, fzLookup(lines)).distinct()
        .collect().map(r => norm(r.getString(0))).toSet
    val containedBy = containmentOf(lines)
    val nrowsOf: Map[String, Long] = statsOf(lines)
      .groupBy(st => norm(st._3)).view.mapValues(_.head._2._4).toMap
    val (contained, boundary) = dataFilesOf(lines)
      .filter(f => cand(norm(f)))
      .partition(f => !tombstoned(norm(f)) &&
        nrowsOf.contains(norm(f)) && preds.forall(containedBy(f, _)))
    countWhereNotifier(contained.size, boundary.size)
    val metadataCount = contained.map(f => nrowsOf(norm(f))).sum
    val scanned =
      if (boundary.isEmpty) 0L
      else readSnapshot(spark, boundary ++ lines.filter(l =>
        l.startsWith(DvPrefix) || l.startsWith(CmPrefix) ||
        l.startsWith(FzPrefix) ||
        l.startsWith(ScPrefix) || l.startsWith(NcPrefix)))
        .filter(predExpr(preds)).count()
    (metadataCount + scanned, contained.size, boundary.size)
  }

  /** Test seam: `(containedFiles, boundaryFiles)` of a [[countWhere]]
    * — what specs pin to prove the count was mostly metadata. */
  private[sources] var countWhereNotifier: (Int, Int) => Unit =
    (_, _) => ()

  /** METADATA-ONLY FILTERED MIN/MAX — `SELECT min(c), max(c) WHERE
    * <conj>` with [[countWhere]]'s classification: a CONTAINED file's
    * every row satisfies the predicate, so its manifest `c` stats
    * bound it exactly (skipped when `c` is stats-uncovered or the
    * file all-null on `c`); boundary/uncovered/tombstoned files are
    * read with the exact conjunction. Values return as strings in the
    * manifest's exact rendering — numeric callers cast (the st
    * encoding is the scan's own `toString`, order-faithful for the
    * integral stat columns the skipping layer supports). None/None on
    * zero matching non-null rows. Row-identical to
    * `readWhere(preds).agg(min(c), max(c))`. */
  def minMaxWhere(spark: SparkSession, table: String, c: String,
                  preds: Seq[ScanPred],
                  version: Option[Int] = None)
      : (Option[String], Option[String]) = {
    import org.apache.spark.sql.functions.{col, max, min}
    import ScanPred._
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in $vs")
    val lines = readManifest(spark, table, v)
    val cand = scanCandidates(lines, preds).map(norm).toSet
    val statByColFile = statsOf(lines)
      .map { case (cc, st, p) => (cc, norm(p)) -> st }.toMap
    val dvs = dvFilesOf(lines)
    val tombstoned: Set[String] =
      if (dvs.isEmpty) Set.empty
      else dvFileColFrame(spark, dvs, fzLookup(lines)).distinct()
        .collect().map(r => norm(r.getString(0))).toSet
    val containedBy = containmentOf(lines)
    // contained AND c-stat-covered files answer from metadata; the
    // rest (boundary, uncovered on c, tombstoned) are read exactly
    val (meta, scan) = dataFilesOf(lines)
      .filter(f => cand(norm(f)))
      .partition(f => !tombstoned(norm(f)) &&
        statByColFile.contains((c, norm(f))) &&
        preds.forall(containedBy(f, _)))
    val metaBounds = meta.flatMap { f =>
      val (mn, mx, _, _) = statByColFile((c, norm(f)))
      for (a <- mn; b <- mx) yield (a, b) // all-null files contribute nothing
    }
    val scanned: Option[(String, String)] =
      if (scan.isEmpty) None
      else {
        val r = readSnapshot(spark, scan ++ lines.filter(l =>
          l.startsWith(DvPrefix) || l.startsWith(CmPrefix) ||
        l.startsWith(FzPrefix) ||
        l.startsWith(ScPrefix) || l.startsWith(NcPrefix)))
          .filter(predExpr(preds))
          .agg(min(col(c)), max(col(c))).collect()(0)
        if (r.isNullAt(0)) None
        else Some((r.get(0).toString, r.get(1).toString))
      }
    // combine in the column's own order: numeric when every value
    // parses (the supported stat types), UTF-8 string order otherwise
    val all = metaBounds ++ scanned.toSeq
    if (all.isEmpty) return (None, None)
    val numeric = scala.util.Try {
      (all.map(_._1.toDouble), all.map(_._2.toDouble))
    }.toOption
    numeric match {
      case Some((mins, maxs)) =>
        (Some(all(mins.indexOf(mins.min))._1),
          Some(all(maxs.indexOf(maxs.max))._2))
      case None =>
        (Some(all.map(_._1).min(Ordering.fromLessThan[String](
          utf8Cmp(_, _) < 0))),
          Some(all.map(_._2).max(Ordering.fromLessThan[String](
            utf8Cmp(_, _) < 0))))
    }
  }

  /** JOIN-DRIVEN file pruning — the manifest realization of dynamic
    * partition pruning (Spark's DPP, Delta's dynamic file pruning).
    * Returns the snapshot restricted to [[joinCandidates]], so
    * {{{ readJoinPruned(t, k, dim).join(dim, Seq(k)) }}} is
    * row-identical to `read(t).join(dim, Seq(k))` for inner and semi
    * joins (pruned-away files cannot hold a matching key), while a
    * selective dim predicate whose surviving keys cluster in the
    * fact's layout — the star-schema date-dim case — skips everything
    * else by METADATA. The returned frame is a SUPERSET of the
    * matching rows (candidate files hold other rows too): it is a
    * join input, not a filter result. Deletion-vector sidecars still
    * apply, so deleted rows never resurface through the pruned path. */
  def readJoinPruned(spark: SparkSession, table: String, joinCol: String,
                     dimKeys: DataFrame,
                     version: Option[Int] = None): DataFrame = {
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in $vs")
    val lines = readManifest(spark, table, v)
    val cand = joinCandidates(spark, lines, joinCol, dimKeys)
    if (cand.isEmpty) readSnapshot(spark, lines).limit(0)
    else readSnapshot(spark, cand ++ lines.filter(l =>
        l.startsWith(DvPrefix) || l.startsWith(CmPrefix) ||
        l.startsWith(FzPrefix) ||
        l.startsWith(ScPrefix) || l.startsWith(NcPrefix)))
  }

  /** Write `df` hive-partitioned on `partCol` under version `v`'s
    * data dir and return each produced file with its partition tag.
    * The partition column is DUPLICATED into a `__pt` path column so
    * the real column survives inside the files (manifest-listed reads
    * never reconstruct columns from paths); `__pt` itself never
    * reaches a reader. The write is fully distributed — the driver
    * only lists the resulting O(partitions × files) paths, the same
    * manifest-sized state every commit path already holds. */
  private def writePartitionedData(spark: SparkSession, table: String,
                                   v: Int, df: DataFrame,
                                   partCol: String): Seq[(String, String)] =
    writePartitionedDataMulti(spark, table, v, df, Seq(partCol))
      .map { case (pairs, p) => pairs.head._2 -> p }

  /** [[writePartitionedData]] generalized to a MULTI-COLUMN spec:
    * hive-layout `__pt0=a/__pt1=b/…` directories (one internal path
    * column per spec column — the real columns survive inside the
    * files), each produced file returned with its full
    * `(col, escapedValue)` pair list in spec order. */
  private def writePartitionedDataMulti(spark: SparkSession, table: String,
                                        v: Int, df: DataFrame,
                                        partCols: Seq[String])
      : Seq[(Seq[(String, String)], String)] = {
    import org.apache.spark.sql.functions.col
    require(partCols.nonEmpty && partCols.distinct == partCols,
      "partition columns must be non-empty and distinct")
    partCols.foreach(pc =>
      require(df.columns.contains(pc), s"no column $pc"))
    // `__ptN` are this write's internal path columns — input columns of
    // the same names would be silently overwritten and lost from the
    // stored data (same validation spirit as commitPartitioned's
    // partCol name check). `__pt` stays reserved too (legacy layout).
    val ptCols = partCols.indices.map(i =>
      if (partCols.size == 1) "__pt" else s"__pt$i")
    (ptCols :+ "__pt").distinct.foreach(c =>
      require(!df.columns.contains(c),
        s"input must not carry a $c column (reserved for the partitioned write)"))
    val dataDir = new Path(table,
      s"data/$v-${java.util.UUID.randomUUID().toString.take(8)}")
    partCols.zip(ptCols).foldLeft(df) { case (d, (pc, ptc)) =>
      d.withColumn(ptc, col(pc).cast("string"))
    }.write.option("mapreduce.fileoutputcommitter.algorithm.version", "2")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .partitionBy(ptCols: _*).parquet(dataDir.toString)
    val f = fs(spark, dataDir)
    // walk one directory level per spec column, accumulating Spark's
    // own partition-dir ESCAPED values — exactly what the manifest
    // line format needs (tab/'='/'/'-free)
    def walk(dir: Path, depth: Int,
             acc: List[String]): Seq[(List[String], String)] =
      if (depth == ptCols.size)
        f.listStatus(dir).toSeq.map(_.getPath)
          .filter(_.getName.endsWith(".parquet"))
          .map(p => (acc.reverse, p.toString))
      else {
        val prefix = s"${ptCols(depth)}="
        f.listStatus(dir).toSeq.filter(_.isDirectory)
          .filter(_.getPath.getName.startsWith(prefix))
          .flatMap(d => walk(d.getPath, depth + 1,
            d.getPath.getName.substring(prefix.length) :: acc))
      }
    walk(dataDir, 0, Nil).map { case (vals, p) =>
      (partCols.zip(vals), p)
    }
  }

  /** Commit `df` PARTITIONED on `partCol` as the next version: one
    * hive-style directory per distinct value, every produced file
    * manifest-tagged with its value (`pt` lines), so partition-value
    * reads ([[readPartitions]]) and partition replacement
    * ([[dynamicOverwrite]]) prune from the manifest alone. The
    * partition column stays IN the data files — a plain [[read]] of a
    * partitioned table is unchanged. `append = true` carries the
    * previous version's files (tags and all) exactly like [[commit]].
    * Null partition values land under [[NullPartitionTag]] and are
    * treated as never-prunable. Returns the committed version. */
  def commitPartitioned(spark: SparkSession, table: String, df: DataFrame,
                        partCol: String, append: Boolean,
                        meta: Map[String, String] = Map.empty,
                        statCols: Seq[String] = Nil): Int = {
    require(!partCol.contains('=') && !partCol.contains('\t') &&
      !partCol.contains('\n'), "partition column name must be =/tab/newline-free")
    val metaLines = metaLinesOf(meta + ("partitioned_by" -> partCol))
    val next = versions(spark, table).lastOption.getOrElse(0) + 1
    val carried =
      if (append && next > 1)
        readManifest(spark, table, next - 1)
          .filterNot(l => l.startsWith(MetaPrefix) ||
            l.startsWith(ScPrefix)) // fresh sc written below
      else Seq.empty // overwrite: fresh lineage, column mapping resets
    val physPart = toPhysicalCols(carried, Seq(partCol)).head
    val physDfP = toPhysicalDf(df, carried)
    val tagged = writePartitionedData(spark, table, next, physDfP, physPart)
    // same stat-schema inheritance as commit (st lines per new file)
    val effStatCols = (statCols ++ statColsOf(carried)).distinct
    val stLines = computeStatLines(spark, tagged.map(_._2), effStatCols,
      renameMapOf(carried))
    // partitioned files keep EVERY real column (the __pt copies move
    // to directory names), so the written schema is the phys frame's
    validateNewFiles(spark, table, tagged.map(_._2), checkSchema = append,
      writtenSchema = Some(physDfP.schema))
    val schemaMeta = if (append) mergedSchemaLine(spark, table, df)
      else schemaLineOf(df.schema)
    writeManifest(spark, table, next,
      carried ++ tagged.map { case (t, p) => ptLine(physPart, t, p) } ++
        stLines ++ metaLines ++ schemaMeta)
    next
  }

  /** [[commitPartitioned]] for a MULTI-COLUMN spec — real tables
    * partition on (date, region): one hive directory per distinct
    * value combination, every file manifest-tagged with ALL its
    * `(col, value)` pairs, so reads prune on any tagged column
    * independently and [[readPartitionsMulti]] prunes on the
    * conjunction. Everything else matches [[commitPartitioned]]
    * (append carry, stat-schema inheritance, null handling per
    * column). */
  def commitPartitionedMulti(spark: SparkSession, table: String,
                             df: DataFrame, partCols: Seq[String],
                             append: Boolean,
                             meta: Map[String, String] = Map.empty,
                             statCols: Seq[String] = Nil): Int = {
    val staged = stageCommitPartitionedData(spark, table, df, partCols,
      append, meta, statCols)
    writeManifest(spark, table, staged.version, staged.lines)
    staged.version
  }

  /** [[commitPartitionedMulti]] minus the publish — the partitioned
    * twin of [[stageCommitData]] (per-value co-located files, pt tags,
    * stats, validation all staged; one atomic rename left). */
  private[sources] def stageCommitPartitionedData(
      spark: SparkSession, table: String, df: DataFrame,
      partCols: Seq[String], append: Boolean,
      meta: Map[String, String] = Map.empty,
      statCols: Seq[String] = Nil): StagedCommit = {
    partCols.foreach(pc => require(!pc.contains('=') &&
      !pc.contains('\t') && !pc.contains('\n') && !pc.contains('/'),
      "partition column names must be =/tab/newline/slash-free"))
    val metaLines = metaLinesOf(
      meta + ("partitioned_by" -> partCols.mkString(",")))
    val next = versions(spark, table).lastOption.getOrElse(0) + 1
    val carried =
      if (append && next > 1)
        readManifest(spark, table, next - 1)
          .filterNot(l => l.startsWith(MetaPrefix) ||
            l.startsWith(ScPrefix)) // fresh sc written below
      else Seq.empty // overwrite: fresh lineage, column mapping resets
    val physDfP = toPhysicalDf(df, carried)
    val tagged = writePartitionedDataMulti(spark, table, next,
      physDfP, toPhysicalCols(carried, partCols))
    val effStatCols = (statCols ++ statColsOf(carried)).distinct
    val stLines = computeStatLines(spark, tagged.map(_._2), effStatCols,
      renameMapOf(carried))
    validateNewFiles(spark, table, tagged.map(_._2), checkSchema = append,
      writtenSchema = Some(physDfP.schema))
    val schemaMeta = if (append) mergedSchemaLine(spark, table, df)
      else schemaLineOf(df.schema)
    // the staged root is data/<next>-<uuid>; files sit one __pt=
    // directory level per spec column below it
    val dataDir = tagged.headOption.map { t =>
      var p = new Path(t._2).getParent
      while (p.getParent != null && p.getParent.getName != "data")
        p = p.getParent
      p.toString
    }.getOrElse(new Path(table, s"data/$next-empty").toString)
    StagedCommit(table, next,
      carried ++ tagged.map { case (ps, p) => ptLineMulti(ps, p) } ++
        stLines ++ metaLines ++ schemaMeta,
      dataDir)
  }

  /** The files a read restricted to a CONJUNCTION of per-column value
    * sets must open: the intersection of each column's
    * [[partitionCandidates]] — a file prunes away as soon as ANY
    * filtered column's tag excludes it, and files not tagged by a
    * column are never prunable on that column (same evolution-safety
    * rule as the single-column path). Manifest-only. */
  def partitionCandidatesMulti(lines: Seq[String],
                               filters: Seq[(String, Seq[String])])
      : Seq[String] = {
    require(filters.nonEmpty, "need at least one (column, values) filter")
    val keep = filters
      .map { case (c, vs) =>
        partitionCandidates(lines, c, vs).map(norm).toSet }
      .reduce(_ intersect _)
    dataFilesOf(lines).filter(p => keep.contains(norm(p)))
  }

  /** Partition-pruned snapshot read on a conjunction of partition
    * predicates: only [[partitionCandidatesMulti]] files are opened,
    * then the exact predicates apply — row-identical to
    * `read(...).filter(c1 IN vs1 AND c2 IN vs2 …)` on any table,
    * tagged or not. On a (date, region)-partitioned 100 TB table a
    * one-day-one-region read opens that cell's files and zero stats. */
  def readPartitionsMulti(spark: SparkSession, table: String,
                          filters: Seq[(String, Seq[String])],
                          version: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in $vs")
    val lines = readManifest(spark, table, v)
    val cand = partitionCandidatesMulti(lines, filters)
    val base =
      if (cand.isEmpty) readSnapshot(spark, lines).limit(0)
      else readSnapshot(spark,
        cand ++ lines.filter(l =>
        l.startsWith(DvPrefix) || l.startsWith(CmPrefix) ||
        l.startsWith(FzPrefix) ||
        l.startsWith(ScPrefix) || l.startsWith(NcPrefix)))
    base.filter(filters.map { case (c, vals) =>
      col(c).cast("string").isin(vals: _*)
    }.reduce(_ && _))
  }

  /** The data files a read restricted to `partCol` partition `values`
    * must open: files tagged by `partCol` with a value in `values`,
    * plus every file that MIGHT hold matching rows regardless —
    * untagged files, [[NullPartitionTag]] files (rows whose partition
    * value was null), and files tagged by a DIFFERENT column
    * (partition-spec evolution: their `partCol` contents are
    * unknown). Exposed so specs and operators pin the pruning
    * decision without I/O. */
  def partitionCandidates(lines: Seq[String], partCol: String,
                          values: Seq[String]): Seq[String] = {
    val want = values.toSet
    val all = partitionsOf(lines)
    val mine = all.filter(_._1 == partCol)
    val minePaths = mine.map(_._3).map(norm).toSet
    val other = dataFilesOf(lines).filterNot(p => minePaths.contains(norm(p)))
    mine.collect { case (_, v, p)
      if want.contains(v) || v == NullPartitionTag => p } ++ other
  }

  /** Partition-pruned snapshot read: only [[partitionCandidates]]
    * files are opened (on a date-partitioned 100 TB table a one-day
    * read costs one partition's files and ZERO stats I/O — the
    * pruning decision is the manifest), then the exact predicate
    * applies, so the result is row-identical to
    * `read(...).filter(partCol IN values)` on any table, tagged or
    * not. Tombstones apply as usual. */
  def readPartitions(spark: SparkSession, table: String, partCol: String,
                     values: Seq[String],
                     version: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in $vs")
    val lines = readManifest(spark, table, v)
    val cand = partitionCandidates(lines, partCol, values)
    val base =
      if (cand.isEmpty) readSnapshot(spark, lines).limit(0)
      else readSnapshot(spark,
        cand ++ lines.filter(l =>
        l.startsWith(DvPrefix) || l.startsWith(CmPrefix) ||
        l.startsWith(FzPrefix) ||
        l.startsWith(ScPrefix) || l.startsWith(NcPrefix)))
    base.filter(col(partCol).cast("string").isin(values: _*))
  }

  /** [[partitionCandidates]] for a CLOSED RANGE of partition values
    * (string order — exact for the zero-padded/ISO-date renderings
    * partition columns use): `partCol`-tagged files with
    * `lo <= value <= hi`, plus the never-prunable files (untagged,
    * null-tagged, tagged by another column). */
  def partitionCandidatesRange(lines: Seq[String], partCol: String,
                               lo: String, hi: String): Seq[String] = {
    val mine = partitionsFor(lines, partCol)
    val minePaths = mine.map(_._2).map(norm).toSet
    val other = dataFilesOf(lines).filterNot(p => minePaths.contains(norm(p)))
    mine.collect { case (v, p)
      if (v >= lo && v <= hi) || v == NullPartitionTag => p } ++ other
  }

  /** Partition-RANGE snapshot read — the "days between lo and hi"
    * access pattern: [[partitionCandidatesRange]] picks the files
    * from the manifest alone, then the exact range predicate applies,
    * so the result is row-identical to
    * `read(...).filter(lo <= partCol <= hi)` (string comparison, the
    * same order the tags carry). On a date-partitioned 100 TB table a
    * week's read opens seven partitions' files and no stats. */
  def readPartitionRange(spark: SparkSession, table: String,
                         partCol: String, lo: String, hi: String,
                         version: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in $vs")
    val lines = readManifest(spark, table, v)
    val cand = partitionCandidatesRange(lines, partCol, lo, hi)
    val base =
      if (cand.isEmpty) readSnapshot(spark, lines).limit(0)
      else readSnapshot(spark,
        cand ++ lines.filter(l =>
        l.startsWith(DvPrefix) || l.startsWith(CmPrefix) ||
        l.startsWith(FzPrefix) ||
        l.startsWith(ScPrefix) || l.startsWith(NcPrefix)))
    base.filter(col(partCol).cast("string") >= lo &&
      col(partCol).cast("string") <= hi)
  }

  // -------------------------------------------------------------------
  // BUCKETED tables — co-hashed storage for shuffle-free joins
  // -------------------------------------------------------------------

  /** The bucket-spec column [[commitBucketed]] materializes and tags
    * by: self-describing (`__bucket_<key>_<n>`), so two tables agree
    * on co-location from their manifests alone. */
  private def bucketColName(key: String, n: Int) = s"__bucket_${key}_$n"

  /** Commit `df` HASH-BUCKETED on `key` into `nBuckets` co-location
    * buckets — the storage half of the classic bucket(-map) join: the
    * bucket id `pmod(hash(key), n)` is materialized as a
    * [[bucketColName]] column, the write is repartitioned on it (one
    * file per bucket per commit, O(buckets) files not O(buckets ×
    * tasks)), and every file is partition-tagged with its bucket — so
    * a later [[bucketJoin]] pairs the two tables' buckets from
    * manifest metadata, zero data I/O for the decision. Appends keep
    * the discipline (same spec, new files per bucket). The usual
    * partition-tag safety holds: files that somehow lack the tag are
    * re-read for every bucket and filtered (correct, just slower). */
  def commitBucketed(spark: SparkSession, table: String, df: DataFrame,
                     key: String, nBuckets: Int, append: Boolean,
                     statCols: Seq[String] = Nil): Int = {
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    require(nBuckets > 0, "nBuckets must be positive")
    require(df.columns.contains(key), s"no column $key")
    val bcol = bucketColName(key, nBuckets)
    require(!df.columns.contains(bcol),
      s"input must not carry a $bcol column (reserved for the bucket spec)")
    // co-locate each bucket's rows before the partitioned write: file
    // count stays O(buckets) per commit, not O(buckets × input tasks)
    // — the one write-time shuffle that buys every later join its zero
    val tagged = df.withColumn(bcol, pmod(hash(col(key)), lit(nBuckets)))
      .repartition(nBuckets, col(bcol))
    commitPartitioned(spark, table, tagged, bcol, append,
      statCols = statCols)
  }

  /** The `(key, nBuckets)` bucket spec a table's partition tags
    * declare — None when the table isn't bucket-tagged (or is tagged
    * by more than one spec, e.g. mid-migration). */
  def bucketSpecOf(spark: SparkSession, table: String,
                   version: Option[Int] = None): Option[(String, Int)] = {
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val lines = readManifest(spark, table, version.getOrElse(vs.last))
    val specs = partitionsOf(lines).map(_._1).distinct.collect {
      case c if c.startsWith("__bucket_") =>
        val cut = c.lastIndexOf('_')
        (c.substring("__bucket_".length, cut), c.substring(cut + 1).toInt)
    }
    specs match { case Seq(one) => Some(one); case _ => None }
  }

  /** BUCKET-MAP JOIN: join two tables [[commitBucketed]] on the SAME
    * `(key, nBuckets)` spec as `n` independent per-bucket joins, the
    * smaller side of each broadcast — co-hashing guarantees equal keys
    * share a bucket, so the union of the bucket joins is row-identical
    * to the plain join, and the plan holds ZERO shuffle exchanges:
    * the fact side is never moved. This is the regime Hive's bucket
    * map join exists for — the dimension too big to broadcast WHOLE
    * but whose 1/n buckets each fit: at 100 TB, a 1 TB dimension in
    * 1024 buckets broadcasts ~1 GB per bucket join while the fact
    * table streams straight from its files. (If the whole dimension
    * fits in one broadcast, Spark's own broadcast join already wins —
    * use that.) Buckets pair by manifest tags ([[readPartitions]]
    * opens only bucket i's files); deletion vectors and appended
    * commits compose as usual. `joinType`: "inner" or "left_outer"
    * semantics follow the plain join (null keys co-hash, so a left
    * join's null-key rows survive in their bucket). */
  def bucketJoin(spark: SparkSession, tableA: String, tableB: String,
                 key: String, joinType: String = "inner"): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    // pin BOTH tables' head versions ONCE so a commit landing mid-plan
    // can't make different buckets (or the two sides) read different
    // snapshots — every per-bucket read below resolves the same pin
    val va = versions(spark, tableA).lastOption.getOrElse(
      sys.error(s"no committed versions in $tableA"))
    val vb = versions(spark, tableB).lastOption.getOrElse(
      sys.error(s"no committed versions in $tableB"))
    val sa = bucketSpecOf(spark, tableA, Some(va))
    val sb = bucketSpecOf(spark, tableB, Some(vb))
    require(sa.isDefined && sa == sb && sa.get._1 == key,
      s"bucketJoin needs both tables bucketed on ($key, same n): " +
        s"$tableA=$sa, $tableB=$sb")
    val n = sa.get._2
    val bcol = bucketColName(key, n)
    (0 until n).map { i =>
      val ai = readPartitions(spark, tableA, bcol, Seq(i.toString),
        Some(va)).drop(bcol)
      val bi = readPartitions(spark, tableB, bcol, Seq(i.toString),
        Some(vb)).drop(bcol)
      ai.join(broadcast(bi), Seq(key), joinType)
    }.reduce(_ unionByName _)
  }

  // -------------------------------------------------------------------
  // TRANSFORM-partitioned tables — hidden partitioning (Iceberg's
  // partition transforms): the table partitions on floor(col / unit),
  // queries filter on the RAW column, and the read maps the raw range
  // to a tag range from the manifest alone. One transform covers the
  // time family (unit = ns-per-hour/day => Iceberg hour()/day()) and
  // truncate(width) for longs. Users never materialize, name, or
  // filter by the partition column — the "hidden" in hidden
  // partitioning, and the failure mode it removes is real: a reader
  // filtering `ts BETWEEN ...` on a date-string-partitioned table
  // prunes NOTHING unless they also spell the date predicate.
  // -------------------------------------------------------------------

  /** The transform-spec column [[commitTransformed]] materializes and
    * tags by: self-describing (`__part_div_<col>_<unit>`), so reads
    * recover (col, unit) from the manifest alone. */
  private def transformColName(rawCol: String, unit: Long) =
    s"__part_div_${rawCol}_$unit"

  /** `df` plus the materialized transform tag `floor(rawCol / unit)` —
    * spelled in pmod arithmetic so truncating (Spark DIV) and flooring
    * (DuckDB `//`) engines agree on negative values too. Public so
    * backfills can compose with [[dynamicOverwrite]] on the derived
    * column. Returns (tagged df, tag column name). */
  def transformTag(df: DataFrame, rawCol: String,
                   unit: Long): (DataFrame, String) = {
    require(unit > 0, "unit must be positive")
    require(df.columns.contains(rawCol), s"no column $rawCol")
    val tcol = transformColName(rawCol, unit)
    require(!df.columns.contains(tcol),
      s"input must not carry a $tcol column (reserved for the spec)")
    (df.withColumn(tcol, org.apache.spark.sql.functions.expr(
      s"($rawCol - pmod($rawCol, ${unit}L)) DIV ${unit}L")), tcol)
  }

  /** Commit `df` partitioned by the HIDDEN transform
    * `floor(rawCol / unit)` — e.g. `unit = 86_400_000_000_000L` turns
    * a ns-timestamp column into day partitions. Appends compose,
    * `statCols` inherit, and every [[commitPartitioned]] guarantee
    * (tag evolution safety, null handling, manifest-only pruning)
    * applies to the derived column. Returns the new version. */
  def commitTransformed(spark: SparkSession, table: String, df: DataFrame,
                        rawCol: String, unit: Long, append: Boolean,
                        statCols: Seq[String] = Nil): Int = {
    val (tagged, tcol) = transformTag(df, rawCol, unit)
    // co-locate each tag's rows before the partitioned write (same
    // discipline as commitBucketed): file count per commit stays
    // O(distinct tags), not O(tags x input tasks)
    commitPartitioned(spark, table,
      tagged.repartition(org.apache.spark.sql.functions.col(tcol)),
      tcol, append, statCols = statCols)
  }

  /** The `(rawCol, unit)` transform spec a table's partition tags
    * declare — None when the table isn't transform-tagged (or carries
    * more than one spec, e.g. mid-migration). */
  def transformSpecOf(spark: SparkSession, table: String,
                      version: Option[Int] = None): Option[(String, Long)] = {
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val lines = readManifest(spark, table, version.getOrElse(vs.last))
    val specs = partitionsOf(lines).map(_._1).distinct.collect {
      case c if c.startsWith("__part_div_") =>
        val cut = c.lastIndexOf('_')
        (c.substring("__part_div_".length, cut),
          c.substring(cut + 1).toLong)
    }
    specs match { case Seq(one) => Some(one); case _ => None }
  }

  /** HIDDEN-PARTITION RANGE READ: rows with `lo <= rawCol <= hi`,
    * pruned by the transform tags — the manifest decides candidates
    * (tags whose NUMERIC value falls in [floor(lo/unit),
    * floor(hi/unit)], plus the never-prunable untagged/null-tagged
    * files), then the exact raw predicate applies. Row-identical to
    * `read(...).filter(lo <= rawCol <= hi)`; zero stats I/O. On a
    * day-partitioned 100 TB table a week's `ts BETWEEN` opens seven
    * days' files — without the caller knowing the table is
    * partitioned at all. */
  def readTransformRange(spark: SparkSession, table: String,
                         lo: Long, hi: Long,
                         version: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in $vs")
    val spec = transformSpecOf(spark, table, Some(v))
    require(spec.isDefined,
      s"$table carries no single hidden-partition transform spec")
    val (rawCol, unit) = spec.get
    val tcol = transformColName(rawCol, unit)
    def fdiv(x: Long): Long = math.floorDiv(x, unit)
    val lines = readManifest(spark, table, v)
    val cand = transformCandidates(lines, tcol, fdiv(lo), fdiv(hi))
    val base =
      if (cand.isEmpty) readSnapshot(spark, lines).limit(0)
      else readSnapshot(spark,
        cand ++ lines.filter(l =>
        l.startsWith(DvPrefix) || l.startsWith(CmPrefix) ||
        l.startsWith(FzPrefix) ||
        l.startsWith(ScPrefix) || l.startsWith(NcPrefix)))
    base.filter(col(rawCol) >= lo && col(rawCol) <= hi)
  }

  /** Candidate files of a NUMERIC tag range: `tcol`-tagged files whose
    * parsed tag value lies in [tagLo, tagHi] or is the null tag, plus
    * every never-prunable file (untagged / tagged by another column) —
    * the same must-include discipline as [[partitionCandidatesRange]],
    * with numeric instead of string order. Public introspection
    * surface — how callers (and the gate) pin what a hidden-partition
    * range read will open. */
  def transformCandidates(lines: Seq[String],
                          tcol: String, tagLo: Long,
                          tagHi: Long): Seq[String] = {
    val mine = partitionsFor(lines, tcol)
    val minePaths = mine.map(_._2).map(norm).toSet
    val other = dataFilesOf(lines).filterNot(p => minePaths.contains(norm(p)))
    mine.collect {
      case (v, p) if v == NullPartitionTag => p
      case (v, p) if scala.util.Try(v.toLong).toOption
        .exists(t => t >= tagLo && t <= tagHi) => p
    } ++ other
  }

  /** DYNAMIC PARTITION OVERWRITE (`INSERT OVERWRITE` with
    * `partitionOverwriteMode=dynamic`, the standard idempotent-backfill
    * idiom): replace EXACTLY the partitions present in `df`, carry
    * every other partition's files forward untouched — a re-run of a
    * day's pipeline overwrites that day and nothing else, atomically,
    * with the old version still time-travelable. Cost is
    * O(incoming partitions), never O(table).
    *
    * Requires every current data file to be partition-tagged (an
    * untagged file could hold rows of an overwritten partition;
    * repartition such a table once via [[commitPartitioned]] with
    * `append = false`). Overwriting the null partition is not
    * supported ([[NullPartitionTag]] files are always carried);
    * tombstones on carried files survive, tombstones on replaced
    * files die with them. Returns the new version. */
  def dynamicOverwrite(spark: SparkSession, table: String, df: DataFrame,
                       partCol: String): Int = {
    import org.apache.spark.sql.functions.col
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val lines = readManifest(spark, table, vs.last)
    val mine = partitionsFor(lines, partCol)
    val minePaths = mine.map(_._2).map(norm).toSet
    val foreign = dataFilesOf(lines)
      .filterNot(p => minePaths.contains(norm(p)))
    require(foreign.isEmpty,
      s"dynamicOverwrite needs every data file tagged by '$partCol'; " +
        s"${foreign.size} files are untagged or tagged by another " +
        "column — commitPartitioned(append = false) to repartition first")
    // O(touched partitions) driver state — the same scale class as
    // the manifest itself
    val incoming = df.select(col(partCol).cast("string"))
      .na.drop().distinct().collect().map(_.getString(0)).toSet
    // Spark's partitioned write files EMPTY strings under the same
    // default tag as nulls (ExternalCatalogUtils' null-or-empty rule),
    // so an empty-string row would silently APPEND a NullPartitionTag
    // file while the old ones carry — duplicate rows on re-run. Reject
    // both renderings of the default partition up front.
    require(!incoming.contains(NullPartitionTag) && !incoming.contains("") &&
      df.filter(col(partCol).isNull).isEmpty,
      "overwriting the null/empty partition is not supported")
    // keep carried files' ORIGINAL lines (tags survive verbatim)
    val replacedPaths = mine.collect { case (v, p)
      if incoming.contains(v) => norm(p) }.toSet
    val carriedLines = lines.filter(l => l.startsWith(PtPrefix) &&
      !replacedPaths.contains(norm(partitionsOf(Seq(l)).head._3)))
    val carriedPaths = partitionsOf(carriedLines).map(_._3)
    val next = vs.last + 1
    val physPart = toPhysicalCols(lines, Seq(partCol)).head
    val physDfO = toPhysicalDf(df, lines)
    val newTagged = writePartitionedData(spark, table, next,
      physDfO, physPart)
    validateNewFiles(spark, table, newTagged.map(_._2), // CHECK constraints
      writtenSchema = Some(physDfO.schema))
    val keptDv = consolidateTombstones(spark,
      lines.filter(_.startsWith(DvPrefix)), carriedPaths, table, next,
      fzLookup(lines))
    writeManifest(spark, table, next,
      carriedLines ++ stLinesFor(lines, carriedPaths) ++ keptDv ++
        newTagged.map { case (t, p) => ptLine(physPart, t, p) } ++
        computeStatLines(spark, newTagged.map(_._2), statColsOf(lines),
          renameMapOf(lines)) ++
        cmLinesOf(lines) ++
        mergedSchemaLine(spark, table, df) ++
        metaLinesOf(Map("partitioned_by" -> partCol,
          "overwrote_partitions" -> mine.collect { case (v, _)
            if incoming.contains(v) => escapeVal(v) }.distinct.sorted
            .mkString(";"))))
    next
  }

  /** DESCRIBE HISTORY: one row per committed version — data/tombstone
    * file counts plus the commit's metadata properties — computed from
    * manifests alone (no data I/O; O(versions) driver work). The
    * introspection surface audits and maintenance jobs decide from:
    * which versions a vacuum would retire, whether merge-on-read debt
    * (dv files) is accumulating toward a [[compactCommit]]. */
  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    versions(spark, table).map { v =>
      val lines = readManifest(spark, table, v)
      val meta = metaOf(lines)
      // the in-commit timestamp is a first-class column, not a
      // commit property — keep the meta blob for the caller's own keys
      (v, dataFilesOf(lines).size, dvFilesOf(lines).size,
        meta.get("commit_ts").flatMap(s =>
          scala.util.Try(s.toLong).toOption).getOrElse(0L),
        (meta - "commit_ts").toSeq.sorted
          .map { case (k, x) => s"$k=$x" }.mkString(","))
    }.toDF("version", "n_data_files", "n_dv_files", "commit_ts", "meta")
  }

  /** DESCRIBE DETAIL / the `files` metadata table: per data file of a
    * snapshot, its row count and per-column min/max stats — served
    * from the manifest's st lines when the table carries them for all
    * requested columns (typed through one footer-only schema read,
    * zero data I/O), otherwise one column-pruned scan — the same stats
    * [[readPruned]] prunes by. */
  def files(spark: SparkSession, table: String, statCols: Seq[String],
            version: Option[Int] = None): DataFrame = {
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in $vs")
    val lines = readManifest(spark, table, v)
    val data = dataFilesOf(lines)
    if (data.isEmpty) {
      // a file-less snapshot (TRUNCATE / freshly created): zero rows,
      // typed from the sc schema where the stat columns resolve
      val sc = schemaOfLines(lines)
      def typeOf(c: String): org.apache.spark.sql.types.DataType =
        sc.flatMap(_.fields.find(_.name == c)).map(_.dataType)
          .getOrElse(org.apache.spark.sql.types.StringType)
      val shape = org.apache.spark.sql.types.StructType(
        Seq(org.apache.spark.sql.types.StructField("file",
          org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n_rows",
            org.apache.spark.sql.types.LongType)) ++
          statCols.flatMap(c => Seq(
            org.apache.spark.sql.types.StructField(s"${c}_min", typeOf(c)),
            org.apache.spark.sql.types.StructField(s"${c}_max", typeOf(c)),
            org.apache.spark.sql.types.StructField(s"${c}_nulls",
              org.apache.spark.sql.types.LongType))) :+
          org.apache.spark.sql.types.StructField("live_tombstones",
            org.apache.spark.sql.types.LongType, nullable = false))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], shape)
    }
    lazy val schema = spark.read.option("mergeSchema", "true")
      .parquet(data: _*).schema // footers only — never row data
    val base = manifestStats(spark, lines, statCols,
      c => schema.fields.find(_.name == c).map(_.dataType)
        .getOrElse(org.apache.spark.sql.types.StringType)).getOrElse {
      statsScanNotifier("files", data.size)
      collectStatsLogical(spark, data, statCols, lines)
    }
    // MERGE-ON-READ DEBT, surfaced per file: how many live tombstone
    // rows each file carries (0 = pure) — what lets maintenance aim
    // `purge_tombstones` at exactly the files paying the read-side
    // anti-join. One O(deleted rows) sidecar fold; zero data I/O.
    val dvs = dvFilesOf(lines)
    val debt: Map[String, Long] =
      if (dvs.isEmpty) Map.empty
      else dvFileColFrame(spark, dvs, fzLookup(lines))
        .groupBy(org.apache.spark.sql.functions.col(FileCol)).count()
        .collect().map(r => norm(r.getString(0)) -> r.getLong(1)).toMap
    if (debt.isEmpty)
      base.withColumn("live_tombstones",
        org.apache.spark.sql.functions.lit(0L))
    else {
      val s2 = spark
      import s2.implicits._
      val spellings = base.select("file").collect()
        .map(_.getString(0)).toSeq
      base.join(
        spellings.map(f => (f, debt.getOrElse(norm(f), 0L)))
          .toDF("file", "live_tombstones"),
        Seq("file"), "left")
    }
  }

  /** METADATA-ONLY AGGREGATES: `count(*)` + per-column min/max of a
    * snapshot answered from the manifest's st lines — the
    * Iceberg/Delta "metadata query" path: `SELECT count(*) FROM t` on
    * a 100 TB table must cost an O(files) manifest fold, not a scan.
    *
    * Exactness under merge-on-read: a deletion-vector tombstone can
    * remove a file's extreme row (stats keep the PRE-delete bounds),
    * so only UNtombstoned, stats-covered files are served from
    * metadata; tombstoned or uncovered files are read for real —
    * anti-joined, aggregated, and combined with the served side. The
    * I/O is therefore O(tombstoned + uncovered files): zero on a
    * stats-covered pure-files snapshot, and proportional to
    * merge-on-read debt otherwise (a [[compactCommit]]/[[mergeCommit]]
    * purge restores the zero-read path). Which files are tombstoned
    * comes from the sidecars — an O(deleted rows) metadata-scale read.
    * Returns one row: `n_rows`, then `<col>_min`, `<col>_max` typed by
    * the table schema (footer-only read). Row-identical to
    * `read(...).agg(count, min, max)` for any history. */
  def statsAggregate(spark: SparkSession, table: String,
                     cols: Seq[String],
                     version: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast => _, version => _, _}
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in $vs")
    val lines = readManifest(spark, table, v)
    val data = dataFilesOf(lines)
    require(data.nonEmpty, "manifest lists no data files")
    val dvLines = lines.filter(_.startsWith(DvPrefix))
    val tombstoned: Set[String] =
      if (dvLines.isEmpty) Set.empty
      else dvFileColFrame(spark, dvFilesOf(lines), fzLookup(lines))
        .distinct().collect().map(r => norm(r.getString(0))).toSet
    val byFileCol = statsOf(lines).map(s => (norm(s._3), s._1) -> s._2).toMap
    val anyStat = statsOf(lines).groupBy(s => norm(s._3))
      .view.mapValues(_.head._2._4).toMap
    val (served, scan) = data.partition { f =>
      !tombstoned(norm(f)) &&
        (if (cols.isEmpty) anyStat.contains(norm(f))
         else cols.forall(c => byFileCol.contains(norm(f) -> c)))
    }
    // pure COUNT(*): n_rows is any stat column's nrows — served as one
    // driver-side fold over the manifest, no per-column frame needed
    if (cols.isEmpty) {
      import spark.implicits._
      val servedRows = served.map(f => anyStat(norm(f))).sum
      val scanRows =
        if (scan.isEmpty) 0L
        else {
          if (scan.exists(f => !tombstoned(norm(f))))
            statsScanNotifier("statsAggregate", scan.size)
          readSnapshot(spark, scan ++ dvLines ++ cmLinesOf(lines) ++
          scLinesOf(lines) ++ lines.filter(_.startsWith(NcPrefix))).count()
        }
      return Seq(servedRows + scanRows).toDF("n_rows")
    }
    // footer-only schema read: what types the served strings cast to,
    // and what makes the two sides union-compatible
    val schema = spark.read.option("mergeSchema", "true")
      .parquet(data: _*).schema
    def typOf(c: String) = schema.fields.find(_.name == c).map(_.dataType)
      .getOrElse(org.apache.spark.sql.types.StringType)
    def aggd(perFile: DataFrame, nRows: org.apache.spark.sql.Column,
             mn: String => org.apache.spark.sql.Column,
             mx: String => org.apache.spark.sql.Column): DataFrame =
      perFile.agg(nRows.cast("long").as("n_rows"),
        cols.flatMap(c => Seq(min(mn(c)).as(s"${c}_min"),
          max(mx(c)).as(s"${c}_max"))): _*)
    val servedAgg =
      if (served.isEmpty) None
      else Some(aggd(
        manifestStats(spark, served ++ stLinesFor(lines, served), cols,
          typOf).get, // covered by construction of `served`
        sum("n_rows"), c => col(s"${c}_min"), c => col(s"${c}_max")))
    val scanAgg =
      if (scan.isEmpty) None
      else {
        if (scan.exists(f => !tombstoned(norm(f))))
          statsScanNotifier("statsAggregate", scan.size)
        Some(aggd(readSnapshot(spark, scan ++ dvLines ++ cmLinesOf(lines) ++
          scLinesOf(lines) ++ lines.filter(_.startsWith(NcPrefix))),
          count(lit(1)), c => col(c), c => col(c)))
      }
    (servedAgg, scanAgg) match {
      case (Some(a), Some(b)) => aggd(a.unionByName(b),
        sum("n_rows"), c => col(s"${c}_min"), c => col(s"${c}_max"))
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case _ => sys.error("unreachable: data.nonEmpty")
    }
  }

  /** PARTITION-WISE METADATA COUNTS: `SELECT <partCol>, count(*)
    * GROUP BY 1` answered from the manifest — per tag value, the sum
    * of its files' st-line row counts, with the same exactness rule as
    * [[statsAggregate]]: tombstoned files, stats-uncovered files,
    * null-tagged files, and untagged files are read for real (their
    * rows grouped by the actual column), everything else is served
    * from metadata. On a day-partitioned 100 TB table the daily-volume
    * report costs an O(files) manifest fold — zero data I/O when the
    * snapshot is stats-covered and tombstone-free. Row-identical to
    * `read(...).groupBy(cast(partCol as string)).count()` (values
    * rendered as strings — the tags' own spelling; the null group
    * surfaces as a NULL value from the scan side). */
  def partitionCounts(spark: SparkSession, table: String, partCol: String,
                      version: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    import spark.implicits._
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in $vs")
    val lines = readManifest(spark, table, v)
    val data = dataFilesOf(lines)
    require(data.nonEmpty, "manifest lists no data files")
    val dvLines = lines.filter(_.startsWith(DvPrefix))
    val tombstoned: Set[String] =
      if (dvLines.isEmpty) Set.empty
      else dvFileColFrame(spark, dvFilesOf(lines), fzLookup(lines))
        .distinct().collect().map(r => norm(r.getString(0))).toSet
    val rowsOf = statsOf(lines).groupBy(s => norm(s._3))
      .view.mapValues(_.head._2._4).toMap
    val tagOf = partitionsFor(lines, partCol).map { case (value, p) =>
      norm(p) -> value }.toMap
    val (served, scan) = data.partition { f =>
      val n = norm(f)
      !tombstoned(n) && rowsOf.contains(n) &&
        tagOf.get(n).exists(_ != NullPartitionTag)
    }
    val servedDf = served
      .map(f => tagOf(norm(f)) -> rowsOf(norm(f)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum)
      .toSeq.map { case (value, n) => (Option(value), n) }
      .toDF(partCol, "n_rows")
    if (scan.isEmpty) return servedDf
    statsScanNotifier("partitionCounts", scan.size)
    val scanDf = readSnapshot(spark, scan ++ dvLines ++ cmLinesOf(lines) ++
          scLinesOf(lines) ++ lines.filter(_.startsWith(NcPrefix)))
      .groupBy(col(partCol).cast("string").as(partCol))
      .agg(count(lit(1)).cast("long").as("n_rows"))
    servedDf.unionByName(scanDf)
      .groupBy(col(partCol)).agg(sum("n_rows").as("n_rows"))
  }

  /** Per-partition `count / min / max` of `statCol` served from the
    * MANIFEST — `SELECT part, count(*), min(c), max(c) GROUP BY part`
    * as a metadata fold (the dashboard/health-check query every
    * partitioned 100 TB table answers daily). Data files are
    * partition-PURE (each carries exactly one tag value), so per-file
    * st stats roll up to exact per-partition figures; only
    * tombstoned, stats-uncovered, all-NULL-stat, or null-tagged files
    * are read for real ([[partitionCounts]]' discipline), and a
    * covered pure-files snapshot costs ZERO data I/O. Min/max come
    * back typed as `statCol`; the partition column comes back as its
    * tag string. Row-identical to grouping the snapshot. */
  def partitionStats(spark: SparkSession, table: String, partCol: String,
                     statCol: String,
                     version: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}
    import spark.implicits._
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in $vs")
    val lines = readManifest(spark, table, v)
    val data = dataFilesOf(lines)
    require(data.nonEmpty, "manifest lists no data files")
    val dvLines = lines.filter(_.startsWith(DvPrefix))
    val tombstoned: Set[String] =
      if (dvLines.isEmpty) Set.empty
      else dvFileColFrame(spark, dvFilesOf(lines), fzLookup(lines))
        .distinct().collect().map(r => norm(r.getString(0))).toSet
    val statOf = statsOf(lines)
      .collect { case (c, st, p) if c == statCol => norm(p) -> st }.toMap
    val tagOf = partitionsFor(lines, partCol).map { case (value, p) =>
      norm(p) -> value }.toMap
    val (served, scan) = data.partition { f =>
      val n = norm(f)
      !tombstoned(n) &&
        statOf.get(n).exists(s => s._1.isDefined && s._2.isDefined) &&
        tagOf.get(n).exists(_ != NullPartitionTag)
    }
    val typ = tableSchemaOf(spark, table)
      .flatMap(_.fields.find(_.name == statCol).map(_.dataType))
      .getOrElse(spark.read.option("mergeSchema", "true")
        .parquet(data: _*).schema(statCol).dataType)
    val servedDf = served.map { f =>
      val n = norm(f); val st = statOf(n)
      (Option(tagOf(n)), st._4, st._1.get, st._2.get)
    }.toDF(partCol, "n_rows", "__mn", "__mx")
      .select(col(partCol), col("n_rows"),
        col("__mn").cast(typ).as("mn"), col("__mx").cast(typ).as("mx"))
    val perFile =
      if (scan.isEmpty) servedDf
      else {
        statsScanNotifier("partitionStats", scan.size)
        servedDf.unionByName(readSnapshot(spark, scan ++ dvLines ++ cmLinesOf(lines) ++
          scLinesOf(lines) ++ lines.filter(_.startsWith(NcPrefix)))
          .groupBy(col(partCol).cast("string").as(partCol))
          .agg(count(lit(1)).cast("long").as("n_rows"),
            min(col(statCol)).as("mn"), max(col(statCol)).as("mx")))
      }
    perFile.groupBy(col(partCol))
      .agg(sum("n_rows").as("n_rows"), min("mn").as("mn"), max("mx").as("mx"))
  }

  /** ANALYZE TABLE: backfill per-file st statistics for `statCols`
    * into the manifest as a metadata-only commit — how an ADOPTED,
    * cloned, or legacy table (whose files predate the table's stat
    * schema) reaches the metadata-only decision path that commit-time
    * stats give native writes. Computes stats ONLY for (file, column)
    * pairs the head manifest doesn't cover (footer fast path — zero
    * data I/O for integer/boolean columns), carries every existing
    * line verbatim, and stamps the commit `content_preserving` so
    * change-feed consumers skip it (no row changed). Idempotent: a
    * fully covered table commits nothing and returns the current
    * version. After ANALYZE, `mergeCommit`'s touched-file probe,
    * `readPruned`, range deletes, `statsAggregate`, and
    * `partitionCounts` all decide from the manifest. */
  def analyzeCommit(spark: SparkSession, table: String,
                    statCols: Seq[String]): Int = {
    require(statCols.nonEmpty, "analyze needs at least one column")
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val lines = readManifest(spark, table, vs.last)
    val covered: Set[(String, String)] =
      statsOf(lines).map(s => (norm(s._3), s._1)).toSet
    val eff = (statCols ++ statColsOf(lines)).distinct
    val missing = dataFilesOf(lines)
      .filter(f => eff.exists(c => !covered((norm(f), c))))
    if (missing.isEmpty) return vs.last
    val phys2log = renameMapOf(lines).map(_.swap)
    // `missing` may include adopted/foreign files whose history this
    // engine did not write — string footer stats untrusted there
    val fresh = computeStatLines(spark, missing, eff,
      renameMapOf(lines), trustedWriter = false).filter { l =>
      val cut = l.indexOf('\t', StPrefix.length)
      val c0 = l.substring(StPrefix.length, l.indexOf('=', StPrefix.length))
      val c = phys2log.getOrElse(c0, c0)
      !covered((norm(l.substring(cut + 1)), c))
    }
    val next = vs.last + 1
    writeManifest(spark, table, next,
      lines.filterNot(_.startsWith(MetaPrefix)) ++ fresh ++
        metaLinesOf(Map("analyzed" -> eff.sorted.mkString(","),
          "content_preserving" -> "true")))
    next
  }

  /** SHOW PARTITIONS: one row per (partition column, value) of a
    * snapshot — file count and whether any untagged files exist
    * (surfaced as a NULL/NULL row, since those files' partition
    * membership is unknown; a table whose partition spec EVOLVED
    * shows each column's partitions side by side). Manifests only: no
    * data I/O, O(files) driver work — the same scale class as
    * [[history]]. */
  def partitions(spark: SparkSession, table: String,
                 version: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in $vs")
    val lines = readManifest(spark, table, v)
    val tagged = partitionsOf(lines)
    val taggedPaths = tagged.map(_._3).map(norm).toSet
    val nUntagged = dataFilesOf(lines)
      .count(p => !taggedPaths.contains(norm(p)))
    val rows = tagged.groupBy(t => (t._1, t._2)).view.mapValues(_.size)
      .toSeq.map { case ((c, t), n) => (Option(c), Option(t), n.toLong) } ++
      (if (nUntagged > 0)
        Seq((Option.empty[String], Option.empty[String], nUntagged.toLong))
       else Seq.empty)
    rows.sortBy(r => (r._1, r._2))
      .toDF("part_col", "partition", "n_files")
  }

  /** Commit under writer contention: [[commit]] computes the next
    * version from a listing, so two racing writers can pick the same
    * number — the atomic manifest rename makes exactly one win. For
    * order-independent commits (appends; blind overwrites where
    * last-writer-wins is acceptable) the loser can simply re-read the
    * head and try again, which is what this wrapper does, up to
    * `maxRetries` times. Do NOT use it for read-modify-write commits
    * ([[mergeCommit]], [[deleteCommit]]) — those must re-run their
    * reads against the new head instead of replaying a stale result;
    * that is exactly what [[mergeCommitOptimistic]] /
    * [[deleteCommitOptimistic]] do (with loud aborts on true
    * same-file overlap). */
  def commitWithRetry(spark: SparkSession, table: String, df: DataFrame,
                      append: Boolean,
                      meta: Map[String, String] = Map.empty,
                      maxRetries: Int = 5,
                      statCols: Seq[String] = Nil): Int =
    commitWithRetryHook(spark, table, df, append, meta, maxRetries,
      statCols = statCols)

  /** [[commitWithRetry]] with a pre-publish hook (called with the
    * version each attempt is about to claim) — the seam the spec uses
    * to force a deterministic collision on the first attempt. */
  private[sources] def commitWithRetryHook(
      spark: SparkSession, table: String, df: DataFrame,
      append: Boolean, meta: Map[String, String] = Map.empty,
      maxRetries: Int = 5, onAttempt: Int => Unit = _ => (),
      statCols: Seq[String] = Nil): Int = {
    val metaLines = metaLinesOf(meta) // validate BEFORE any data write
    // data files are written ONCE — losing the version race costs a
    // re-list and a manifest re-publish, never a data rewrite. The
    // column mapping is read once here too: concurrent renames racing
    // a retry loop are out of scope (renames are not append-safe ops)
    val mapLines0 =
      if (append) versions(spark, table).lastOption
        .map(v => cmLinesOf(readManifest(spark, table, v)))
        .getOrElse(Seq.empty)
      else Seq.empty
    val dataDir = new Path(table,
      s"data/c-${java.util.UUID.randomUUID().toString.take(8)}")
    val physDfR = toPhysicalDf(df, mapLines0)
    stagedWriter(physDfR).parquet(dataDir.toString)
    val f = fs(spark, dataDir)
    val newFiles = f.listStatus(dataDir).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).map(_.toString)
    // stats too are computed ONCE per distinct effective column set (a
    // retry only re-derives them if the winner's head CHANGED the
    // inherited stat schema)
    var cachedCols: Seq[String] = null
    var cachedSt: Seq[String] = Seq.empty
    var attempt = 0
    while (true) {
      val next = versions(spark, table).lastOption.getOrElse(0) + 1
      // append re-reads the WINNER's head each attempt — that is what
      // makes the retry safe for order-independent commits
      val carried =
        if (append && next > 1)
          readManifest(spark, table, next - 1)
            .filterNot(l => l.startsWith(MetaPrefix) ||
              l.startsWith(ScPrefix)) // fresh sc written below
        else Seq.empty
      val eff = (statCols ++ statColsOf(carried)).distinct
      if (eff != cachedCols) {
        cachedSt = computeStatLines(spark, newFiles, eff,
          renameMapOf(mapLines0))
        cachedCols = eff
      }
      // write-time contracts (CHECK constraints + schema enforcement)
      // re-checked against each attempt's head — the winner of a lost
      // race may have added a constraint or evolved the schema. The
      // common path pays this once; only retries re-pay.
      validateNewFiles(spark, table, newFiles, checkSchema = append,
        writtenSchema = Some(physDfR.schema))
      val schemaMeta = if (append) mergedSchemaLine(spark, table, df)
        else schemaLineOf(df.schema)
      try {
        onAttempt(next)
        writeManifest(spark, table, next,
          carried ++ newFiles ++ cachedSt ++ metaLines ++ schemaMeta)
        return next
      } catch {
        case e: RuntimeException
            if e.getMessage != null &&
              e.getMessage.contains("already committed") &&
              attempt < maxRetries =>
          attempt += 1
      }
    }
    -1 // unreachable
  }

  /** SQL surface: register the table under temp views so `spark.sql`
    * reaches it — `name` (a snapshot: the given version or the
    * latest), `name_history` (the [[history]] rows), and, when
    * `statCols` is non-empty, `name_files` (the [[files]] stats). The
    * snapshot view pins the manifest resolved NOW: commits made after
    * registration are invisible until re-registration — the same
    * snapshot-isolation-plus-REFRESH discipline external catalogs
    * give, and what makes a long multi-statement SQL session read one
    * consistent version throughout. */
  def registerViews(spark: SparkSession, name: String, table: String,
                    statCols: Seq[String] = Nil,
                    version: Option[Int] = None): Unit = {
    read(spark, table, version).createOrReplaceTempView(name)
    history(spark, table).createOrReplaceTempView(s"${name}_history")
    partitions(spark, table, version)
      .createOrReplaceTempView(s"${name}_partitions")
    if (statCols.nonEmpty)
      files(spark, table, statCols, version)
        .createOrReplaceTempView(s"${name}_files")
    else
      // a re-registration without statCols must not leave a STALE
      // files view from an earlier registration serving old stats
      spark.catalog.dropTempView(s"${name}_files")
    // SHOW CONSTRAINTS surface (empty when none declared)
    locally {
      import spark.implicits._
      constraintsOf(spark, table).toSeq.sortBy(_._1)
        .toDF("name", "expression")
        .createOrReplaceTempView(s"${name}_constraints")
      // SHOW TAGS surface (the vacuum-pinned named refs)
      tagsOf(spark, table).toSeq.sortBy(_._1)
        .toDF("name", "version")
        .createOrReplaceTempView(s"${name}_tags")
    }
  }

  /** Remove ORPHANS: data/sidecar files no manifest (of any version)
    * references — the residue of commits that crashed between the
    * data write and the manifest publish, and of [[commitWithRetry]]
    * losers that exhausted their retries. Only files older than
    * `olderThanMs` are touched: a file younger than the retention may
    * belong to a commit IN FLIGHT (written, manifest not yet
    * published), and deleting it would break that commit — the same
    * retention reasoning as Delta's VACUUM RETAIN. Referenced files
    * are never candidates regardless of age. Returns the deleted
    * paths. */
  /** RESTORE — roll the table back to `toVersion` as a NEW commit
    * (the Delta `RESTORE TABLE ... TO VERSION` shape): the old
    * manifest's file list (data, tombstones, partition tags, stats)
    * is republished verbatim under the next version number, so the
    * rollback is itself time-travelable and the change feed across it
    * is exactly the inverse of the undone mutations (fold still
    * reconstructs every snapshot). ZERO data I/O — the commit is one
    * manifest write; the restored files were kept on disk by the
    * time-travel contract ([[vacuum]] is what retires them, so only
    * restore to versions your retention still holds). Constraint
    * validation is skipped by design: the restored rows are a prior
    * committed state, not new data (same as Delta RESTORE). */
  def restoreCommit(spark: SparkSession, table: String,
                    toVersion: Int): Int = {
    val vs = versions(spark, table)
    require(vs.contains(toVersion),
      s"cannot restore to $toVersion; committed versions are $vs")
    val old = readManifest(spark, table, toVersion)
    val lines = old.filterNot(_.startsWith(MetaPrefix))
    // carry the spec marker (dynamicOverwrite and SHOW PARTITIONS key
    // off it) but stamp the provenance fresh
    val keptMeta = metaOf(old).filter { case (k, _) =>
      k == "partitioned_by" }
    val next = vs.last + 1
    writeManifest(spark, table, next, lines ++
      metaLinesOf(keptMeta + ("restored_from" -> toVersion.toString)))
    next
  }

  /** SHALLOW CLONE — a new table whose first version references the
    * source snapshot's files VERBATIM (Delta `CREATE TABLE ... SHALLOW
    * CLONE`): one manifest write, zero data copy, however large the
    * source. The clone then lives its own life — appends, COW merges,
    * DV deletes, OPTIMIZE all commit into the CLONE's data dir and
    * never touch the source — which makes it the cheap
    * experimentation/branching primitive: fork a 100 TB table, try a
    * migration on the fork, throw it away. Maintenance respects
    * ownership: [[vacuum]] deletes only paths under its own table
    * root, so retiring clone versions lets foreign references lapse
    * without reaching into the source. The standing caveat is the
    * source's retention (same as Delta): a source vacuum that retires
    * the cloned snapshot's files breaks the clone — keep the source's
    * retention longer than your clones, or [[adoptCommit]]/rewrite the
    * clone to own its data. Returns the clone's version 1. */
  def cloneCommit(spark: SparkSession, cloneDir: String,
                  sourceTable: String,
                  sourceVersion: Option[Int] = None): Int = {
    val svs = versions(spark, sourceTable)
    require(svs.nonEmpty, s"no committed versions in $sourceTable")
    val sv = sourceVersion.getOrElse(svs.last)
    require(svs.contains(sv), s"version $sv not in $svs")
    require(versions(spark, cloneDir).isEmpty,
      s"$cloneDir already holds a table — clone into a fresh dir")
    val srcLines = readManifest(spark, sourceTable, sv)
      .filterNot(_.startsWith(MetaPrefix))
    val srcMeta = metaOf(readManifest(spark, sourceTable, sv))
      .filter { case (k, _) => k == "partitioned_by" }
    // the clone inherits the source's protocol requirements — its v1
    // references the same files under the same cm/st/pt lines, so an
    // old build must refuse it exactly as it refuses the source
    val (rf, wf) = protocolOf(spark, sourceTable)
    rf.foreach(f => requireFeature(spark, cloneDir, f))
    (wf diff rf).foreach(f =>
      requireFeature(spark, cloneDir, f, writerOnly = true))
    writeManifest(spark, cloneDir, 1, srcLines ++
      metaLinesOf(srcMeta + ("cloned_from" -> s"$sourceTable@v$sv")))
    1
  }

  // -------------------------------------------------------------------
  // RENAME / DROP COLUMN — metadata-only schema evolution (cm lines)
  // -------------------------------------------------------------------

  /** The head version's column mapping, for introspection:
    * (logical → physical renames, dropped physical names). */
  def columnMappingOf(spark: SparkSession,
                      table: String): (Map[String, String], Set[String]) = {
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val lines = readManifest(spark, table, vs.last)
    (renameMapOf(lines), droppedPhysOf(lines))
  }

  /** RENAME COLUMN as a METADATA-ONLY commit: no data file is read or
    * written — the new manifest re-publishes every line verbatim with
    * an updated cm mapping and a renamed `sc` schema. The column's
    * PHYSICAL name (its first-written spelling) never changes, so
    * every file, st line, pt tag, and dv sidecar stays valid; reads
    * translate at the [[readSnapshot]] seam, writes at
    * [[toPhysicalDf]]. Time travel shows each version under its own
    * names (cm lines are versioned). The table starts requiring the
    * `column-mapping` reader feature — old builds fail loudly instead
    * of surfacing physical columns. Swap chains (a→b while z→a) are
    * legal: logical and physical name spaces are independent, and the
    * translation Projects are simultaneous. Refused when a CHECK
    * constraint references the column (its expression text would go
    * stale) — drop and re-add the constraint around the rename. */
  def renameColumnCommit(spark: SparkSession, table: String,
                         oldName: String, newName: String): Int = {
    require(oldName != newName, "rename to the same name is a no-op")
    require(!newName.contains('=') && !newName.contains('\t') &&
      !newName.contains('\n') && !newName.contains(',') && newName.nonEmpty,
      "column names must be nonempty and =/tab/newline/comma-free")
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val lines = readManifest(spark, table, vs.last)
    val schema = schemaOfLines(lines).orElse(tableSchemaOf(spark, table))
      .getOrElse(sys.error(s"$table has no resolvable schema"))
    require(schema.fieldNames.contains(oldName),
      s"no column '$oldName' in ${schema.fieldNames.toSeq}")
    require(!schema.fieldNames.contains(newName),
      s"column '$newName' already exists")
    constraintRefs(spark, table).get(oldName).foreach(c => sys.error(
      s"CHECK constraint '$c' references '$oldName' — drop it, rename, " +
        "re-add under the new name"))
    generatedColsOf(schema).foreach { case (g, (_, e)) =>
      require(!refsOf(spark, e).contains(oldName),
        s"generated column '$g' references '$oldName' — drop '$g', " +
          "rename, re-add with the expression under the new name")
    }
    // derived-spec tag columns embed the key's PHYSICAL name in their
    // own name (__bucket_<key>_<n>, __part_div_<col>_<unit>) — a
    // renamed key would orphan the spec discovery
    val physOld = renameMapOf(lines).getOrElse(oldName, oldName)
    require(!partitionsOf(lines).exists(t =>
      t._1.startsWith(s"__bucket_${physOld}_") ||
        t._1.startsWith(s"__part_div_${physOld}_")),
      s"'$oldName' keys a bucket/transform spec — rewrite " +
        "(commitBucketed / commitTransformPartitioned) under the new " +
        "name instead")
    val renames = renameMapOf(lines)
    // the physical identity travels: a→b→c keeps physical 'a'
    val physical = renames.getOrElse(oldName, oldName)
    val nextRenames = (renames - oldName) ++
      (if (newName == physical) Map.empty[String, String]
       else Map(newName -> physical))
    publishMapping(spark, table, lines, nextRenames, droppedPhysOf(lines),
      org.apache.spark.sql.types.StructType(schema.fields.map(f =>
        if (f.name == oldName) f.copy(name = newName) else f)),
      Map("renamed" -> s"$oldName->$newName"))
  }

  /** DROP COLUMN as a METADATA-ONLY commit: the physical column stays
    * in the already-written files (and old versions still read it —
    * cm lines are versioned) but no current-version read surfaces it,
    * and its st stats stop serving. Refused for partition-spec
    * columns (pruning and dynamic overwrite key off them), dv
    * sidecar key columns (the anti-join needs them), and
    * constraint-referenced columns. Later appends may NOT reuse the
    * dropped column's name-as-physical — [[schemaConflictsWithTable]]
    * rejects the collision (two generations of one physical name
    * would merge-read as one column). */
  /** ALTER TABLE ADD COLUMN, metadata-only: the new NULLABLE column
    * joins the declared schema (sc line) as a new version — zero data
    * I/O; existing files never carry it, so reads surface it as typed
    * nulls ([[widenToDeclared]]) until appends start writing values.
    * The commit is `content_preserving` (no logical row changes — the
    * new column is null everywhere, and change-feed consumers see the
    * schema change through [[tableSchemaOf]], not a row churn).
    * Re-adding a previously DROPPED name is rejected: old files still
    * hold the physical column, and the mapping layer would either
    * resurrect stale values or swallow new ones — use a fresh name. */
  /** The StructField metadata keys a declared column DEFAULT rides in
    * — Spark's own resolver keys, so a session catalog / DESCRIBE /
    * INSERT-omitting-the-column all see the same declaration. */
  private val CurrentDefaultKey = "CURRENT_DEFAULT"
  private val ExistsDefaultKey = "EXISTS_DEFAULT"

  /** The defaulted columns of a declared schema:
    * logical name → (dataType, default SQL text). */
  private[sources] def columnDefaultsOf(
      sc: org.apache.spark.sql.types.StructType)
      : Map[String, (org.apache.spark.sql.types.DataType, String)] =
    sc.fields.iterator.filter(_.metadata.contains(ExistsDefaultKey))
      .map(f => f.name ->
        ((f.dataType, f.metadata.getString(ExistsDefaultKey)))).toMap

  /** Spark's own generation-expression field-metadata key, so
    * DESCRIBE and any Spark-side tooling recognize the column. */
  private val GeneratedKey = org.apache.spark.sql.catalyst.util
    .GeneratedColumn.GENERATION_EXPRESSION_METADATA_KEY

  /** The GENERATED columns of a declared schema:
    * logical name → (dataType, generation SQL text). */
  private[sources] def generatedColsOf(
      sc: org.apache.spark.sql.types.StructType)
      : Map[String, (org.apache.spark.sql.types.DataType, String)] =
    sc.fields.iterator.filter(_.metadata.contains(GeneratedKey))
      .map(f => f.name ->
        ((f.dataType, f.metadata.getString(GeneratedKey)))).toMap

  /** The single-part column names a generation/default SQL text
    * references. */
  private def refsOf(spark: SparkSession, sqlText: String): Set[String] =
    spark.sessionState.sqlParser.parseExpression(sqlText).collect {
      case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
        => ua.nameParts.head
    }.toSet

  /** ADD COLUMN — metadata-only schema widening (one sc-line commit,
    * zero data I/O at any table size). Without `default`, rows from
    * files that predate the column read as typed NULL (the standard
    * add-column contract). WITH `default` — `ALTER TABLE ... ADD
    * COLUMN x INT DEFAULT 7` — rows from pre-existing files read as
    * the default instead (Iceberg v3 initial-default / Delta
    * exists-default): the evolution commit tags every CURRENT data
    * file with an `nc` line, still pure metadata — no backfill
    * rewrite ever happens on this path. The default must be a
    * CONSTANT (foldable) expression castable to the column type; it
    * also becomes the column's CURRENT_DEFAULT, so an INSERT that
    * omits the column materializes it (Spark fills it from the
    * declared schema's metadata). Tables evolved this way demand the
    * `column-defaults` protocol feature — an old build would serve
    * NULL where the declaration says the default. */
  def addColumnCommit(spark: SparkSession, table: String,
                      colName: String,
                      dataType: org.apache.spark.sql.types.DataType,
                      default: Option[String] = None)
      : Int = {
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val lines = readManifest(spark, table, vs.last)
    val schema = schemaOfLines(lines).orElse(tableSchemaOf(spark, table))
      .getOrElse(sys.error(s"$table has no resolvable schema"))
    require(!schema.fieldNames.contains(colName),
      s"column '$colName' already exists")
    require(!droppedPhysOf(lines).contains(colName) &&
      !renameMapOf(lines).valuesIterator.contains(colName),
      s"'$colName' is (or shadows) a retired physical column — " +
        "pick a fresh name")
    val newField = default match {
      case None =>
        org.apache.spark.sql.types.StructField(colName, dataType,
          nullable = true)
      case Some(sqlText) =>
        require(!sqlText.contains('\n'),
          "a column default must be one line")
        // constant-only, type-checked NOW: evaluating the declaration
        // is one driver-side literal fold, zero data I/O
        val parsed = spark.sessionState.sqlParser.parseExpression(sqlText)
        require(parsed.resolved && parsed.foldable,
          s"DEFAULT must be a constant expression, got: $sqlText")
        val e = org.apache.spark.sql.catalyst.expressions.Cast(
          parsed, dataType, Some("UTC"))
        require(e.resolved,
          s"DEFAULT '$sqlText' is not castable to ${dataType.sql}")
        e.eval(null) // throws on an uncastable declaration
        org.apache.spark.sql.types.StructField(colName, dataType,
          nullable = true,
          new org.apache.spark.sql.types.MetadataBuilder()
            .putString(CurrentDefaultKey, sqlText)
            .putString(ExistsDefaultKey, sqlText).build())
    }
    val kept = lines.filterNot(l => l.startsWith(ScPrefix) ||
      l.startsWith(MetaPrefix))
    val ncLines = default match {
      case None => Seq.empty[String]
      case Some(_) =>
        // gate BEFORE publishing the first nc line, both directions
        requireFeature(spark, table, "column-defaults")
        dataFilesOf(lines).map(p => s"$NcPrefix$colName\t${norm(p)}")
    }
    val next = vs.last + 1
    writeManifest(spark, table, next,
      kept ++ ncLines ++
        schemaLineOf(org.apache.spark.sql.types.StructType(
          schema.fields :+ newField)) ++
        metaLinesOf(Map("added_column" -> colName,
          "content_preserving" -> "true") ++
          default.map("added_default" -> _)))
    next
  }

  /** ADD a GENERATED column — `ALTER TABLE ... ADD COLUMN x T
    * GENERATED ALWAYS AS (expr)` (Delta's generated columns /
    * computed columns), metadata-only like [[addColumnCommit]]: one
    * sc-line commit, zero data I/O at any table size. Rows from files
    * that predate the column COMPUTE the expression at read through
    * the same nc-era grouped scan the constant DEFAULT rides (one
    * group per evolution era); files written after materialize the
    * value — [[stageCommitData]] fills an omitted column, and
    * [[validateNewFiles]] REJECTS an explicit value that disagrees
    * with the expression (a generated column is an invariant, not a
    * suggestion). The expression must be deterministic, reference
    * only existing non-defaulted, non-generated columns, and cast to
    * the declared type. Demands the `generated-columns` protocol
    * feature — an old build would serve NULL where the declaration
    * says computed values. */
  def addGeneratedColumnCommit(spark: SparkSession, table: String,
                               colName: String,
                               dataType: org.apache.spark.sql.types.DataType,
                               exprSql: String): Int = {
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val lines = readManifest(spark, table, vs.last)
    val schema = schemaOfLines(lines).orElse(tableSchemaOf(spark, table))
      .getOrElse(sys.error(s"$table has no resolvable schema"))
    require(!schema.fieldNames.contains(colName),
      s"column '$colName' already exists")
    require(!droppedPhysOf(lines).contains(colName) &&
      !renameMapOf(lines).valuesIterator.contains(colName),
      s"'$colName' is (or shadows) a retired physical column — " +
        "pick a fresh name")
    require(!exprSql.contains('\n'),
      "a generation expression must be one line")
    val refs = refsOf(spark, exprSql)
    val unknown = refs -- schema.fieldNames.toSet
    require(unknown.isEmpty,
      s"generation expression references unknown column(s): " +
        unknown.toSeq.sorted.mkString(", "))
    val derived = refs.intersect(
      (columnDefaultsOf(schema) ++ generatedColsOf(schema)).keySet)
    require(derived.isEmpty,
      "a generation expression may not reference defaulted or " +
        s"generated columns (got ${derived.toSeq.sorted.mkString(", ")})")
    // type-check + determinism NOW, against the declared schema: one
    // driver-side analysis, zero data I/O
    val checked = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .select(org.apache.spark.sql.functions.expr(exprSql).cast(dataType))
    require(checked.queryExecution.analyzed.expressions
      .forall(_.deterministic),
      s"a generation expression must be deterministic: $exprSql")
    val newField = org.apache.spark.sql.types.StructField(colName,
      dataType, nullable = true,
      new org.apache.spark.sql.types.MetadataBuilder()
        .putString(GeneratedKey, exprSql).build())
    requireFeature(spark, table, "generated-columns")
    val kept = lines.filterNot(l => l.startsWith(ScPrefix) ||
      l.startsWith(MetaPrefix))
    val ncLines = dataFilesOf(lines)
      .map(p => s"$NcPrefix$colName\t${norm(p)}")
    val next = vs.last + 1
    writeManifest(spark, table, next,
      kept ++ ncLines ++
        schemaLineOf(org.apache.spark.sql.types.StructType(
          schema.fields :+ newField)) ++
        metaLinesOf(Map("added_column" -> colName,
          "content_preserving" -> "true",
          "added_generated" -> exprSql)))
    next
  }

  def dropColumnCommit(spark: SparkSession, table: String,
                       colName: String): Int = {
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no committed versions in $table")
    val lines = readManifest(spark, table, vs.last)
    val schema = schemaOfLines(lines).orElse(tableSchemaOf(spark, table))
      .getOrElse(sys.error(s"$table has no resolvable schema"))
    require(schema.fieldNames.contains(colName),
      s"no column '$colName' in ${schema.fieldNames.toSeq}")
    require(schema.fields.length > 1, "cannot drop the last column")
    generatedColsOf(schema).foreach { case (g, (_, e)) =>
      require(g == colName || !refsOf(spark, e).contains(colName),
        s"generated column '$g' references '$colName' — drop '$g' first")
    }
    require(!fullSpecOf(lines).contains(colName) &&
      !partitionsOf(lines).exists(_._1 == colName),
      s"'$colName' is a partition column — repartition " +
        "(commitPartitioned append=false) before dropping")
    val physCol = renameMapOf(lines).getOrElse(colName, colName)
    require(!partitionsOf(lines).exists(t =>
      t._1.startsWith(s"__bucket_${physCol}_") ||
        t._1.startsWith(s"__part_div_${physCol}_")),
      s"'$colName' keys a bucket/transform spec — rewrite first")
    val dvs = dvFilesOf(lines)
    if (dvs.nonEmpty) {
      val physical = renameMapOf(lines).getOrElse(colName, colName)
      require(!dvSchemaOf(spark, dvs).fieldNames.contains(physical),
        s"'$colName' keys the live deletion vectors — compactCommit " +
          "to purge tombstones before dropping")
    }
    constraintRefs(spark, table).get(colName).foreach(c => sys.error(
      s"CHECK constraint '$c' references '$colName' — drop it first"))
    val renames = renameMapOf(lines)
    val physical = renames.getOrElse(colName, colName)
    // a defaulted column's nc era-tags die with it
    val linesSansNc = lines.filterNot(l =>
      l.startsWith(NcPrefix) && ncColOf(l) == physical)
    publishMapping(spark, table, linesSansNc, renames - colName,
      droppedPhysOf(lines) + physical,
      org.apache.spark.sql.types.StructType(
        schema.fields.filterNot(_.name == colName)),
      Map("dropped" -> colName))
  }

  /** Shared metadata-only publish of a new column mapping + schema:
    * every non-cm/sc/meta line re-publishes verbatim. */
  private def publishMapping(spark: SparkSession, table: String,
                             lines: Seq[String],
                             renames: Map[String, String],
                             dropped: Set[String],
                             newSchema: org.apache.spark.sql.types.StructType,
                             meta: Map[String, String]): Int = {
    requireFeature(spark, table, "column-mapping")
    val kept = lines.filterNot(l => l.startsWith(CmPrefix) ||
      l.startsWith(ScPrefix) || l.startsWith(MetaPrefix))
    val cm = renames.toSeq.sorted.map { case (l, p) => s"$CmPrefix$l=$p" } ++
      dropped.toSeq.sorted.map(p => s"$CmPrefix=$p")
    val next = versions(spark, table).last + 1
    writeManifest(spark, table, next,
      kept ++ cm ++ schemaLineOf(newSchema) ++
        metaLinesOf(meta + ("content_preserving" -> "true")))
    next
  }

  /** column name → the name of ONE constraint referencing it (for
    * rename/drop guard messages). */
  private def constraintRefs(spark: SparkSession,
                             table: String): Map[String, String] =
    constraintsOf(spark, table).toSeq.flatMap { case (n, e) =>
      scala.util.Try(spark.sessionState.sqlParser.parseExpression(e)
        .references.map(_.name).toSeq).getOrElse(Seq.empty).map(_ -> n)
    }.toMap

  // -------------------------------------------------------------------
  // CHECK constraints — data-quality contracts enforced at write time
  // -------------------------------------------------------------------

  // -------------------------------------------------------------------
  // PROTOCOL FEATURE GATES (Delta's reader/writer protocol versions,
  // Iceberg's format-version): a table that starts using a capability
  // old library builds cannot honor must make those builds FAIL
  // LOUDLY, not silently misread — a reader that ignores (say) a
  // future column-mapping feature would surface physical columns as
  // data. `_protocol` lists the features required to READ (`r` lines:
  // anything that changes how bytes become rows) and to WRITE (`w`
  // lines: commit-path obligations only — old readers stay fine).
  // Reads check at [[versions]] (every public entry point's first
  // call), writes at [[writeManifest]] (every commit's last). One
  // O(1) metadata read per operation; absent file = no requirements
  // (all pre-protocol tables keep working).
  // -------------------------------------------------------------------

  /** Features THIS build can honor. A future build that introduces a
    * semantics-changing capability adds its name here and calls
    * [[requireFeature]] when a table first uses it. */
  val SupportedReaderFeatures: Set[String] =
    Set("base", "column-mapping", "column-defaults",
      "generated-columns")
  val SupportedWriterFeatures: Set[String] =
    Set("base", "column-mapping", "column-defaults",
      "generated-columns")

  private def protocolPath(table: String) = new Path(table, "_protocol")

  /** The table's protocol requirements: (readerFeatures,
    * writerFeatures). Empty sets when no `_protocol` exists. */
  def protocolOf(spark: SparkSession,
                 table: String): (Set[String], Set[String]) = {
    val p = protocolPath(table)
    val f = fs(spark, p)
    if (!f.exists(p)) return (Set.empty, Set.empty)
    val in = f.open(p)
    val body = try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n > 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      bytes.toString("UTF-8")
    } finally in.close()
    val lines = body.split("\n").map(_.trim).filter(_.nonEmpty)
    (lines.collect { case l if l.startsWith("r\t") => l.substring(2) }.toSet,
      lines.collect { case l if l.startsWith("w\t") => l.substring(2) }.toSet)
  }

  /** Record that `table` now requires `feature` — of readers too
    * (default), or of writers only (`writerOnly = true`, for commit-
    * path obligations that leave read semantics untouched). Refuses
    * features this build itself cannot honor (you cannot demand what
    * you cannot do); idempotent; atomic tmp+rename publish. */
  def requireFeature(spark: SparkSession, table: String, feature: String,
                     writerOnly: Boolean = false): Unit = {
    require(feature.nonEmpty && feature.forall(c =>
      c.isLetterOrDigit || c == '_' || c == '-'),
      s"feature name '$feature' must be [A-Za-z0-9_-]+")
    require(SupportedWriterFeatures.contains(feature) &&
      (writerOnly || SupportedReaderFeatures.contains(feature)),
      s"this build does not support feature '$feature' — it cannot " +
        "require of others what it cannot honor itself")
    val (r, w) = protocolOf(spark, table)
    val (r2, w2) = if (writerOnly) (r, w + feature)
                   else (r + feature, w + feature)
    if (r2 == r && w2 == w) return
    val p = protocolPath(table)
    val f = fs(spark, p)
    val tmp = new Path(table, s"._protocol.tmp")
    f.mkdirs(p.getParent)
    val out = f.create(tmp, true)
    try out.write((r2.toSeq.sorted.map("r\t" + _) ++
      w2.toSeq.sorted.map("w\t" + _)).mkString("", "\n", "\n")
      .getBytes("UTF-8")) finally out.close()
    f.delete(p, false)
    if (!f.rename(tmp, p)) sys.error(s"could not publish protocol for $table")
  }

  /** Loud unsupported-feature errors — named features, named remedy.
    * A DEDICATED type (not a bare RuntimeException) so callers that
    * must treat "gated but real table" differently from transient IO
    * errors — SHOW TABLES listing, most prominently — can match it
    * exactly instead of swallowing every failure. */
  private def checkReaderProtocol(spark: SparkSession,
                                  table: String): Unit = {
    val unknown = protocolOf(spark, table)._1 diff SupportedReaderFeatures
    if (unknown.nonEmpty) throw new GraftProtocolException(
      s"$table requires reader feature(s) ${unknown.toSeq.sorted
        .mkString(", ")} this build does not support — reading would " +
        "misinterpret the table; upgrade the library")
  }
  private def checkWriterProtocol(spark: SparkSession,
                                  table: String): Unit = {
    val unknown = protocolOf(spark, table)._2 diff SupportedWriterFeatures
    if (unknown.nonEmpty) throw new GraftProtocolException(
      s"$table requires writer feature(s) ${unknown.toSeq.sorted
        .mkString(", ")} this build does not support — committing " +
        "would break the table's contract; upgrade the library")
  }

  private def constraintsDir(table: String) = new Path(table, "_constraints")

  private def readSmallFile(f: org.apache.hadoop.fs.FileSystem,
                            p: Path): String = {
    val in = f.open(p)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n > 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      bytes.toString("UTF-8").trim
    } finally in.close()
  }

  /** The table's active CHECK constraints (name -> SQL expression). */
  def constraintsOf(spark: SparkSession,
                    table: String): Map[String, String] = {
    val dir = constraintsDir(table)
    val f = fs(spark, dir)
    if (!f.exists(dir)) Map.empty
    else f.listStatus(dir).toSeq.filterNot(_.getPath.getName.startsWith("."))
      .map(s => s.getPath.getName -> readSmallFile(f, s.getPath)).toMap
  }

  private def propsDir(table: String) = new Path(table, "_props")

  /** SET a table PROPERTY (`ALTER TABLE ... SET TBLPROPERTIES`):
    * key→value sidecar files under `_props/` — the same registry
    * discipline as CHECK constraints (O(1) sidecar reads, survives
    * vacuum because it is not part of any one version's manifest);
    * last-write-wins per key, published by temp-write + rename.
    * Behavior-bearing key: [[DeleteModeProp]] (validated here so a
    * typo fails at SET time, not silently at DELETE time). */
  /** SET-time validation for a table property — shared by
    * [[setTableProperty]], ALTER's upfront simulation, and the
    * CREATE/CTAS paths (so a typo'd behavior-bearing key fails BEFORE
    * any data writes, never silently routing DML the wrong way). */
  def validateTableProperty(key: String, value: String): Unit = {
    require(key.nonEmpty && key.forall(c =>
      c.isLetterOrDigit || c == '.' || c == '_' || c == '-'),
      s"property key '$key' must be [A-Za-z0-9._-]+")
    require(!value.contains('\n'), "property value must be one line")
    if (key == DeleteModeProp)
      require(Set("copy-on-write", "merge-on-read", "auto")(value),
        s"$DeleteModeProp must be copy-on-write | merge-on-read | " +
          s"auto, got '$value'")
    if (key == UpdateModeProp || key == MergeModeProp)
      require(Set("copy-on-write", "merge-on-read")(value),
        s"$key must be copy-on-write | merge-on-read, got '$value'")
    if (key == BranchRetentionProp)
      require(value.toLongOption.exists(_ >= 0),
        s"$BranchRetentionProp must be a non-negative millisecond " +
          s"count, got '$value'")
  }

  def setTableProperty(spark: SparkSession, table: String,
                       key: String, value: String): Unit = {
    validateTableProperty(key, value)
    val dir = propsDir(table)
    val p = new Path(dir, key)
    val f = fs(spark, p)
    f.mkdirs(dir)
    val tmp = new Path(dir,
      s".$key.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = f.create(tmp, true)
    try out.write((value + "\n").getBytes("UTF-8")) finally out.close()
    // rename FIRST: on POSIX it atomically replaces, so a concurrent
    // reader never observes the key UNSET mid-update (a live
    // write.delete.mode flickering to None would silently re-route a
    // concurrent DELETE against the operator's pinned policy); only
    // filesystems whose rename refuses existing targets fall back to
    // delete-then-rename, with its inherent (documented) window
    if (!f.rename(tmp, p)) {
      f.delete(p, false)
      if (!f.rename(tmp, p))
        sys.error(s"could not publish property $key for $table")
    }
  }

  /** UNSET TBLPROPERTIES (idempotent). */
  def unsetTableProperty(spark: SparkSession, table: String,
                         key: String): Unit = {
    val p = new Path(propsDir(table), key)
    fs(spark, p).delete(p, false)
  }

  /** One property's current value (None when unset). */
  def tablePropertyOf(spark: SparkSession, table: String,
                      key: String): Option[String] = {
    val p = new Path(propsDir(table), key)
    val f = fs(spark, p)
    if (!f.exists(p)) None else Some(readSmallFile(f, p))
  }

  /** All set properties — what DESCRIBE EXTENDED surfaces. */
  def tablePropertiesOf(spark: SparkSession,
                        table: String): Map[String, String] = {
    val dir = propsDir(table)
    val f = fs(spark, dir)
    if (!f.exists(dir)) Map.empty
    else f.listStatus(dir).toSeq
      .filterNot(_.getPath.getName.startsWith("."))
      .map(s => s.getPath.getName -> readSmallFile(f, s.getPath)).toMap
  }

  /** ADD CONSTRAINT `name` CHECK (`sqlExpr`) — SQL semantics: a row
    * violates only when the expression is FALSE (NULL passes, same as
    * ANSI CHECK and Delta). The CURRENT snapshot must already satisfy
    * it (one filter job; skipped on an empty table), then every later
    * [[commit]]/[[commitPartitioned]]/[[commitPartitionedMulti]]/
    * [[mergeCommit]]/[[dynamicOverwrite]] validates its NEW files
    * against it — O(new data) per commit, never a rescan of the
    * table — and refuses to publish (deleting the staged files) on a
    * violation. Published with create-exclusive discipline: adding a
    * constraint that already exists fails rather than silently
    * replacing it. */
  def addConstraint(spark: SparkSession, table: String, name: String,
                    sqlExpr: String): Unit = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '_' || c == '-'),
      s"constraint name '$name' must be [A-Za-z0-9_-]+")
    require(!sqlExpr.contains('\n'), "constraint expression must be one line")
    if (versions(spark, table).nonEmpty) {
      val bad = read(spark, table)
        .filter(not(coalesce(expr(sqlExpr), lit(true)))).limit(1).count()
      require(bad == 0L,
        s"current snapshot violates CHECK $name ($sqlExpr)")
    }
    val p = new Path(constraintsDir(table), name)
    val f = fs(spark, p)
    f.mkdirs(constraintsDir(table))
    val out = f.create(p, false) // create-exclusive: no silent replace
    try out.write((sqlExpr + "\n").getBytes("UTF-8")) finally out.close()
  }

  /** DROP CONSTRAINT (idempotent). */
  def dropConstraint(spark: SparkSession, table: String,
                     name: String): Unit = {
    val p = new Path(constraintsDir(table), name)
    fs(spark, p).delete(p, false)
  }

  /** Validate freshly-written data files against the table's CHECK
    * constraints BEFORE the manifest publish: one O(new files) scan
    * evaluating every constraint in a single aggregate pass. On
    * violation the staged commit dirs are deleted (no orphans) and the
    * commit aborts — the table never observes the bad version. A
    * constraint column the new files don't carry fails loudly
    * (AnalysisException): declare the column on the write or drop the
    * constraint first. */
  /** `writtenSchema`: the staged files' PHYSICAL schema when the
    * caller just wrote them from one DataFrame (every in-house commit
    * path) — skips the per-commit `mergeSchema` footer-merge Spark
    * job, whose result would be identical by construction. Externally
    * sourced files (adopt/replace) pass None and keep the read. */
  private def validateNewFiles(spark: SparkSession, table: String,
                               newFiles: Seq[String],
                               checkSchema: Boolean = true,
                               writtenSchema: Option[org.apache.spark.sql.types.StructType] = None): Unit = {
    if (checkSchema)
      schemaConflictsWithTable(spark, table, newFiles, writtenSchema)
        .foreach { conflicts =>
        unstageFiles(spark, table, newFiles)
        throw new IllegalStateException(
          s"commit rejected: schema conflict(s) with the table — " +
            conflicts.mkString("; ") +
            " (adding NEW columns is evolution and always allowed; " +
            "changing an existing column's type is not)")
      }
    val violated = constraintViolations(spark, table, newFiles, writtenSchema)
    if (violated.nonEmpty) {
      unstageFiles(spark, table, newFiles)
      throw new IllegalStateException(
        s"commit rejected: CHECK constraint(s) violated — " +
          violated.mkString("; "))
    }
    if (checkSchema) {
      val bad = generatedViolations(spark, table, newFiles, writtenSchema)
      if (bad.nonEmpty) {
        unstageFiles(spark, table, newFiles)
        throw new IllegalStateException(
          s"commit rejected: GENERATED column value(s) disagree with " +
            s"their declared expression — ${bad.mkString("; ")}")
      }
    }
  }

  /** The staged-file read for validation passes: explicit written
    * schema (nullable, inference's convention) through the manifest
    * file index — no schema-merge job, no listing job — when the
    * caller knows what it wrote; merged-footer inference otherwise. */
  private def stagedRead(spark: SparkSession, files: Seq[String],
                         writtenSchema: Option[org.apache.spark.sql.types.StructType])
      : DataFrame =
    writtenSchema match {
      case Some(s) =>
        val nullable = org.apache.spark.sql.types.StructType(
          s.fields.map(_.copy(nullable = true)))
        GraftFileIndex.parquetFrame(spark, files, nullable, _ => None)
      case None =>
        spark.read.option("mergeSchema", "true").parquet(files: _*)
    }

  /** Explicitly-written generated-column values that DISAGREE with
    * the declared expression, per column — one O(new files) aggregate
    * pass, same shape as [[constraintViolations]]; empty when the
    * table declares no generated columns. */
  private def generatedViolations(spark: SparkSession, table: String,
                                  files: Seq[String],
                                  writtenSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : Seq[String] = {
    import org.apache.spark.sql.functions.{col, expr, lit, sum, when}
    if (files.isEmpty) return Seq.empty
    val headLines = versions(spark, table).lastOption
      .map(v => readManifest(spark, table, v)).getOrElse(Seq.empty)
    val gens = schemaOfLines(headLines).map(generatedColsOf)
      .getOrElse(Map.empty).toSeq.sortBy(_._1)
    if (gens.isEmpty) return Seq.empty
    val staged = applyMapping(stagedRead(spark, files, writtenSchema),
      headLines)
    val (present, absent) = gens.partition { case (g, _) =>
      staged.columns.contains(g) }
    // files written WITHOUT a declared generated column would read as
    // silent NULLs where the declaration says computed values — refuse
    // loudly; [[stageCommitData]] materializes omitted columns, other
    // write paths must carry explicit (validated) values
    if (absent.nonEmpty)
      return absent.map { case (g, (_, e)) =>
        s"$g ($e): column absent from the written files" }
    if (present.isEmpty) return Seq.empty
    val counts = staged.agg(
      sum(when(!(col(present.head._1) <=>
        expr(present.head._2._2).cast(present.head._2._1)), 1L)
        .otherwise(0L)).as(present.head._1),
      present.tail.map { case (g, (dt, e)) =>
        sum(when(!(col(g) <=> expr(e).cast(dt)), 1L).otherwise(0L)).as(g)
      }: _*).collect()(0)
    present.indices.filter(i => counts.getLong(i) > 0)
      .map(i => s"${present(i)._1} (${present(i)._2._2}): " +
        s"${counts.getLong(i)} row(s)")
  }

  /** Unstage rejected files: walk each up to its commit dir under
    * `data/` and remove it whole, so a rejected commit leaves no
    * residue. A path with no `data/` ancestor (cannot happen for files
    * staged by this object's commit paths) is left alone rather than
    * walked to some top-level directory. */
  private def unstageFiles(spark: SparkSession, table: String,
                           newFiles: Seq[String]): Unit = {
    val f = fs(spark, new Path(table))
    newFiles.flatMap { p =>
      var d = new Path(p).getParent
      while (d.getParent != null && d.getParent.getName != "data")
        d = d.getParent
      Option(d).filter(x =>
        x.getParent != null && x.getParent.getName == "data")
    }.distinct.foreach(d => f.delete(d, true))
  }

  /** SCHEMA ENFORCEMENT (write-time, every ingesting commit path):
    * a new file may ADD columns (evolution — old rows read as NULL)
    * but must not CHANGE an existing column's type, which would break
    * every later merged-schema read at read time, far from the writer
    * that caused it (Delta's schema-enforcement contract). Returns
    * Some(conflict descriptions) on violation, None when compatible.
    * The table side comes from the head manifest's `table_schema`
    * metadata when present (zero I/O) and the snapshot footers
    * otherwise (metadata-only reads; [[commit]]/[[commitPartitioned]]
    * cache the merged schema forward in their commit meta). Comparison
    * ignores nullability. */
  private def schemaConflictsWithTable(spark: SparkSession, table: String,
                                       newFiles: Seq[String],
                                       writtenSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : Option[Seq[String]] = {
    if (newFiles.isEmpty) return None
    val current = tableSchemaOf(spark, table).getOrElse(return None)
    val headLines = versions(spark, table).lastOption
      .map(v => readManifest(spark, table, v)).getOrElse(Seq.empty)
    val phys2log = renameMapOf(headLines).map(_.swap)
    // homogeneous staged files (one write): the merged footer schema
    // IS the written frame's schema — skip the inference job
    val incoming0 = writtenSchema.getOrElse(
      spark.read.option("mergeSchema", "true").parquet(newFiles: _*).schema)
    // new files carry PHYSICAL names — compare under logical ones
    val incoming = org.apache.spark.sql.types.StructType(
      incoming0.fields.map(f =>
        f.copy(name = phys2log.getOrElse(f.name, f.name))))
    val byName = current.fields.map(f => f.name -> f.dataType).toMap
    // a NEW logical column must not reuse an ACTIVE physical name —
    // old files already hold that name with other data, and a
    // merged-schema read would fuse the two generations into one column
    val takenPhys = (renameMapOf(headLines).values.toSet ++
      droppedPhysOf(headLines)) -- byName.keySet
    val physClashes = incoming.fields.toSeq.collect {
      case f if !byName.contains(f.name) && takenPhys.contains(f.name) =>
        s"${f.name}: reuses a renamed/dropped column's physical name"
    }
    val conflicts = physClashes ++ incoming.fields.toSeq.flatMap { f =>
      byName.get(f.name).collect {
        // catalogString is nullability-free at every nesting level —
        // the public spelling of "same type, nullability aside"
        case t if t.catalogString != f.dataType.catalogString =>
          s"${f.name}: table has ${t.catalogString}, " +
            s"incoming ${f.dataType.catalogString}"
      }
    }
    if (conflicts.isEmpty) None else Some(conflicts)
  }

  /** The schema line(s) of a manifest line list (0 or 1 entries). */
  private def schemaLineOf(
      schema: org.apache.spark.sql.types.StructType): Seq[String] =
    Seq(ScPrefix + schema.json) // StructType.json is one-line compact

  private def schemaOfLines(lines: Seq[String])
      : Option[org.apache.spark.sql.types.StructType] =
    lines.find(_.startsWith(ScPrefix)).map { l =>
      org.apache.spark.sql.types.DataType
        .fromJson(l.substring(ScPrefix.length))
        .asInstanceOf[org.apache.spark.sql.types.StructType]
    }

  /** Version `v`'s logical schema from its manifest `sc` line alone —
    * ZERO data I/O. None on legacy manifests (pre-sc commits) — the
    * caller falls back to the merged-footer read. What the SQL catalog
    * resolves table schemas with: without it every statement over a
    * 100k-file table would open 100k parquet footers at PLAN time
    * just to name the columns. */
  def tableSchemaAt(spark: SparkSession, table: String,
                    v: Int): Option[org.apache.spark.sql.types.StructType] =
    schemaOfLines(readManifest(spark, table, v))

  /** The table's current logical schema: head-manifest `sc` line when
    * present (zero I/O), merged snapshot footers otherwise
    * (metadata-only reads); None for an empty table (first commit —
    * nothing to conflict with). */
  def tableSchemaOf(spark: SparkSession, table: String)
      : Option[org.apache.spark.sql.types.StructType] = {
    val vs = versions(spark, table)
    if (vs.isEmpty) return None
    val lines = readManifest(spark, table, vs.last)
    schemaOfLines(lines).orElse {
      val data = dataFilesOf(lines)
      if (data.isEmpty) None
      else Some(spark.read.option("mergeSchema", "true")
        .parquet(data: _*).schema)
    }
  }

  /** The merged table schema an ingesting APPEND caches forward:
    * current ∪ the new data's fields (first writer wins a field's
    * type — conflicts were already rejected). */
  private def mergedSchemaLine(spark: SparkSession, table: String,
                               df: DataFrame): Seq[String] = {
    val cur = tableSchemaOf(spark, table)
      .getOrElse(new org.apache.spark.sql.types.StructType())
    val have = cur.fieldNames.toSet
    val merged = df.schema.fields.filterNot(f => have.contains(f.name))
      .foldLeft(cur)(_ add _)
    schemaLineOf(merged)
  }

  /** One aggregate pass evaluating EVERY active constraint over
    * `files`; returns "name (expr): N row(s)" per violated constraint
    * (empty = clean or no constraints declared). */
  private def constraintViolations(spark: SparkSession, table: String,
                                   files: Seq[String],
                                   writtenSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : Seq[String] = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, sum, when}
    if (files.isEmpty) return Seq.empty
    val cs = constraintsOf(spark, table).toSeq.sortBy(_._1)
    if (cs.isEmpty) return Seq.empty
    val headLines = versions(spark, table).lastOption
      .map(v => readManifest(spark, table, v)).getOrElse(Seq.empty)
    // staged files carry PHYSICAL names; constraints are written in
    // logical — validate under the mapped view
    val staged = applyMapping(stagedRead(spark, files, writtenSchema),
      headLines)
    val counts = staged.agg(
      sum(when(!coalesce(expr(cs.head._2), lit(true)), 1L)
        .otherwise(0L)).as(cs.head._1),
      cs.tail.map { case (n, e) =>
        sum(when(!coalesce(expr(e), lit(true)), 1L).otherwise(0L)).as(n)
      }: _*).collect()(0)
    cs.indices.filter(i => counts.getLong(i) > 0)
      .map(i => s"${cs(i)._1} (${cs(i)._2}): ${counts.getLong(i)} row(s)")
  }

  /** ADOPT FILES — the write-audit-publish (WAP) publish step: move a
    * staging [[VersionedTable]]'s snapshot files into this table as
    * ONE commit, zero data copy. The staging-table pattern: a batch
    * job commits its output to a scratch table nobody reads, audits it
    * there (row counts, dedup rate, [[constraintViolations]] via a dry
    * [[addConstraint]], any query), and only then publishes — readers
    * of the main table never see un-audited data, and the publish is
    * this one O(files) metadata operation (per-file rename into the
    * table's data dir; on a hadoop-style FS a rename is a metadata op,
    * never a byte copy). Partition tags and per-file stats the staging
    * manifest carries MOVE WITH the files (lines rewritten to the new
    * paths), so a staged partitioned/stat-covered commit keeps pruning
    * after publish; stat columns the target declares but the source
    * lacks are computed for the adopted files only. The TARGET's CHECK
    * constraints validate the adopted files before publish — on
    * violation (or a lost commit race) every file moves BACK and the
    * source is intact. Adoption CONSUMES the source snapshot: the
    * moved files leave every source-table manifest dangling, so treat
    * the staging table as ephemeral (standard WAP) and discard it
    * after publish. The source must be tombstone-free
    * ([[compactCommit]] first — that's also what right-sizes the
    * staged files). Returns the committed version. */
  def adoptCommit(spark: SparkSession, table: String,
                  sourceTable: String, append: Boolean = true,
                  sourceVersion: Option[Int] = None): Int =
    adoptCommitHook(spark, table, sourceTable, append, sourceVersion)

  /** CONVERT an existing plain-parquet directory IN PLACE (Delta's
    * `CONVERT TO DELTA`): synthesize manifest v1 naming the
    * directory's files verbatim — no file is moved, rewritten, or
    * even opened beyond one footer-merged schema read. The directory
    * becomes a versioned table at any size for the cost of one
    * metadata write; history, DML, and maintenance all work from
    * there. Declare `write.stats.columns` and `CALL analyze`
    * afterwards to backfill skipping stats. Non-recursive by design:
    * hive-partitioned trees adopt per leaf (the tags belong to a
    * partitioned commit, not a guess). */
  def convertCommit(spark: SparkSession, dir: String): Int = {
    require(versions(spark, dir).isEmpty,
      s"$dir is already a versioned table")
    val p = new Path(dir)
    val f = fs(spark, p)
    require(f.exists(p), s"$dir does not exist")
    val data = f.listStatus(p).toSeq.map(_.getPath)
      .filter(q => q.getName.endsWith(".parquet") &&
        !q.getName.startsWith("."))
      .map(_.toString)
    require(data.nonEmpty, s"no parquet files directly under $dir")
    val sc = spark.read.option("mergeSchema", "true")
      .parquet(data: _*).schema // footers only — never row data
    writeManifest(spark, dir, 1, data ++ schemaLineOf(sc))
    1
  }

  /** [[adoptCommit]] with the pre-publish hook seam (same contract as
    * [[commitWithRetryHook]]) — how specs inject a deterministic
    * interloper between the move and the manifest publish. */
  private[sources] def adoptCommitHook(
      spark: SparkSession, table: String, sourceTable: String,
      append: Boolean = true, sourceVersion: Option[Int] = None,
      beforePublish: Int => Unit = _ => ()): Int = {
    val svs = versions(spark, sourceTable)
    require(svs.nonEmpty, s"no committed versions in $sourceTable")
    val sv = sourceVersion.getOrElse(svs.last)
    require(svs.contains(sv), s"version $sv not in $svs")
    val srcLines = readManifest(spark, sourceTable, sv)
    require(dvFilesOf(srcLines).isEmpty,
      "adoptCommit needs a tombstone-free source — compactCommit it first")
    require(cmLinesOf(srcLines).isEmpty && versions(spark, table).lastOption
      .forall(v => cmLinesOf(readManifest(spark, table, v)).isEmpty),
      "adoptCommit across column-mapped tables is not supported — the " +
        "two physical-name spaces need not agree; rewrite instead " +
        "(read + commit)")
    val next = versions(spark, table).lastOption.getOrElse(0) + 1
    val destDir = new Path(table,
      s"data/$next-adopt-${java.util.UUID.randomUUID().toString.take(8)}")
    val f = fs(spark, destDir)
    f.mkdirs(destDir)
    val srcData = dataFilesOf(srcLines)
    val moves: Seq[(Path, Path)] = srcData.map { p =>
      (new Path(p), new Path(destDir, new Path(p).getName))
    }
    require(moves.map(_._2.getName).distinct.size == moves.size,
      "source snapshot has colliding file basenames — compactCommit it")
    def moveBack(done: Seq[(Path, Path)]): Unit = {
      done.foreach { case (src, dst) => f.rename(dst, src) }
      f.delete(destDir, true)
    }
    val done = scala.collection.mutable.ArrayBuffer.empty[(Path, Path)]
    moves.foreach { case (src, dst) =>
      if (!f.rename(src, dst)) {
        moveBack(done.toSeq)
        sys.error(s"cannot move $src into $table")
      }
      done += ((src, dst))
    }
    val movedByNorm: Map[String, String] =
      moves.map { case (s, d) => norm(s.toString) -> d.toString }.toMap
    def rewritten(l: String): Option[String] =
      if (l.startsWith(MetaPrefix) || l.startsWith(DvPrefix) ||
          l.startsWith(ScPrefix)) None // fresh sc written below
      else if (l.startsWith(PtPrefix) || l.startsWith(StPrefix)) {
        val cut = l.lastIndexOf('\t')
        movedByNorm.get(norm(l.substring(cut + 1)))
          .map(np => l.substring(0, cut + 1) + np)
      } else movedByNorm.get(norm(l))
    val adopted = srcLines.flatMap(rewritten(_))
    val carried =
      if (append && next > 1)
        readManifest(spark, table, next - 1)
          .filterNot(l => l.startsWith(MetaPrefix) ||
            l.startsWith(ScPrefix)) // fresh sc written below
      else Seq.empty
    // complete the target's stat schema on the adopted files only
    val missingStatCols = statColsOf(carried)
      .filterNot(statColsOf(adopted).contains)
    try {
      val extraSt = computeStatLines(spark,
        moves.map(_._2.toString), missingStatCols,
        trustedWriter = false) // adopted files: foreign footers
      if (append)
        schemaConflictsWithTable(spark, table, moves.map(_._2.toString))
          .foreach { cs =>
            moveBack(moves)
            throw new IllegalStateException(
              s"adopt rejected: schema conflict(s) with the target — " +
                cs.mkString("; "))
          }
      val violated = constraintViolations(spark, table,
        moves.map(_._2.toString))
      if (violated.nonEmpty) {
        moveBack(moves)
        throw new IllegalStateException(
          s"adopt rejected: CHECK constraint(s) violated — " +
            violated.mkString("; "))
      }
      // refresh the cached schema: target ∪ adopted fields on append
      // (evolution through adoption), the adopted snapshot's own shape
      // on overwrite. Footer-only read of just the moved files.
      val adoptedSchema = schemaOfLines(srcLines).getOrElse(
        spark.read.option("mergeSchema", "true")
          .parquet(moves.map(_._2.toString): _*).schema)
      val scLine = schemaLineOf {
        if (append) {
          val cur = tableSchemaOf(spark, table)
            .getOrElse(new org.apache.spark.sql.types.StructType())
          val have = cur.fieldNames.toSet
          adoptedSchema.fields.filterNot(f => have.contains(f.name))
            .foldLeft(cur)(_ add _)
        } else adoptedSchema
      }
      beforePublish(next)
      writeManifest(spark, table, next, carried ++ adopted ++ extraSt ++
        scLine ++
        metaLinesOf(Map("adopted_from" -> s"$sourceTable@v$sv")))
    } catch {
      case e: IllegalStateException => throw e // already moved back
      case e: Throwable => moveBack(moves); throw e
    }
    next
  }

  def cleanOrphans(spark: SparkSession, table: String,
                   olderThanMs: Long): Seq[String] = {
    // branch heads count as references: after main's history vacuums
    // past a fork point, the fork's files survive ONLY through the
    // branch's manifest — the orphan sweep must see them as live
    // marker-pended txn versions ([[TableTxn]]) are INVISIBLE to
    // versions() but their staged files are NOT orphans: an in-flight
    // transaction must never lose data to a concurrent sweep. All
    // marked versions protect conservatively — aborted ones become
    // sweepable once resolvePending renames them aside.
    val mDir = manifestDir(table)
    val mf = fs(spark, mDir)
    val pendingVs: Seq[Int] =
      if (!mf.exists(mDir)) Seq.empty
      else mf.listStatus(mDir).toSeq.map(_.getPath.getName)
        .collect { case n if n.startsWith("v") &&
            n.contains(".json.pending.") =>
          n.substring(1, n.indexOf(".json.pending.")).toInt }
        .filter(v => mf.exists(manifestPath(table, v)))
    val referenced = (versions(spark, table) ++ pendingVs).distinct
      .flatMap { v =>
        val lines = readManifest(spark, table, v)
        dataFilesOf(lines) ++ dvFilesOf(lines)
      }.map(norm).toSet ++ branchLivePaths(spark, table)
    val dataRoot = new Path(table, "data")
    val f = fs(spark, dataRoot)
    if (!f.exists(dataRoot)) return Seq.empty
    val cutoff = System.currentTimeMillis() - olderThanMs
    // RECURSIVE listing: crashed partitioned commits leave their
    // residue inside `__pt=<val>/` subdirs, one level below the commit
    // dir — a single-level scan would never see (or reclaim) them
    val candidates = {
      val it = f.listFiles(dataRoot, true)
      val acc = scala.collection.mutable.ArrayBuffer.empty[
        org.apache.hadoop.fs.LocatedFileStatus]
      while (it.hasNext) acc += it.next()
      acc.toSeq
    }
    val dead = candidates
      .filter(s => s.getPath.getName.endsWith(".parquet") &&
        !referenced.contains(norm(s.getPath.toString)) &&
        s.getModificationTime < cutoff)
      .map(_.getPath)
    dead.foreach(p => f.delete(p, false))
    // sweep commit dirs the deletions emptied — descendant-aware, same
    // reasoning as vacuum's sweep (partitioned dirs nest their files)
    f.listStatus(dataRoot).foreach { d =>
      if (d.isDirectory && !hasDescendantParquet(f, d.getPath))
        f.delete(d.getPath, true)
    }
    // crashed index builds: `_index/` sidecars no property references
    val deadIdx = orphanIndexDirs(spark, table, cutoff)
    deadIdx.foreach(p => f.delete(p, true))
    // aborted-txn manifests ([[TableTxn]] rollback / resolvePending
    // renames them aside to free their slots): never readable again,
    // reclaimed under the same age cutoff. Their data files are
    // unreferenced and already swept above. Decision files are NOT
    // swept here — a committed txn's decision may still serve another
    // table's unsealed marker.
    val deadTxn =
      if (!mf.exists(mDir)) Seq.empty
      else mf.listStatus(mDir).toSeq
        .filter(s => s.getPath.getName.contains(".json.aborted.") &&
          s.getModificationTime < cutoff)
        .map(_.getPath)
    deadTxn.foreach(p => mf.delete(p, false))
    (dead ++ deadIdx ++ deadTxn).map(_.toString)
  }

  /** Retire versions older than `keepLast`: their manifests are
    * removed and any data file no surviving manifest references is
    * deleted. Time travel to retired versions is gone; surviving
    * versions are untouched. */
  /** [[vacuum]] by RETENTION WINDOW — the policy operators actually
    * state ("keep 7 days of history"), translated to a version count
    * at call time: every version whose manifest publish time (the
    * rename IS the commit — [[versionAsOf]]'s clock) falls inside
    * `now - retentionMs` survives, plus the head always. A version
    * count means different things at different commit rates; a time
    * window does not — and it composes with [[versionAsOf]]: any
    * timestamp inside the window keeps resolving after the sweep.
    * Consumer discipline still applies: pair with
    * [[graft.streaming.TableChangeStream.safeVacuum]] when change
    * streams follow the table. */
  def vacuumRetention(spark: SparkSession, table: String,
                      retentionMs: Long): (Seq[Int], Seq[String]) = {
    require(retentionMs >= 0, "retentionMs must be non-negative")
    val vs = versions(spark, table)
    if (vs.isEmpty) return (Seq.empty, Seq.empty)
    val cutoff = System.currentTimeMillis() - retentionMs
    // keep from the OLDEST in-window version onward, not a count of
    // in-window versions: with mixed in-commit timestamps and mtime
    // fallbacks (legacy manifests, restored copies, clock skew) commit
    // times need not be monotone in version order, and a count could
    // retire an in-window version while sparing an out-of-window one
    val firstIn = vs.indexWhere(v =>
      commitTimeOf(spark, table, v) >= cutoff)
    val keep = if (firstIn < 0) 1 else vs.size - firstIn
    vacuum(spark, table, math.max(1, keep))
  }

  /** What [[vacuum]] WOULD delete — `(retiredVersions, deadFiles)` —
    * without touching anything: the pre-flight an operator runs
    * before an irreversible sweep ("how much history am I about to
    * lose, how many bytes come back"). Same retire/live/ownership
    * arithmetic as vacuum itself. */
  def vacuumDryRun(spark: SparkSession, table: String,
                   keepLast: Int): (Seq[Int], Seq[String]) = {
    require(keepLast >= 1, "must keep at least the latest version")
    val vs = versions(spark, table)
    val pinned = tagsOf(spark, table).values.toSet
    val suffix = vs.takeRight(keepLast).toSet
    val (keep, retire) = vs.partition(v => suffix(v) || pinned(v))
    if (retire.isEmpty) return (Seq.empty, Seq.empty)
    def pathsOf(v: Int): Seq[String] = {
      val lines = readManifest(spark, table, v)
      dataFilesOf(lines) ++ dvFilesOf(lines)
    }
    val live = keep.flatMap(pathsOf).toSet
    val branchLive = branchLivePaths(spark, table)
    val root = norm(new Path(table).toString).stripSuffix("/") + "/"
    val dead = retire.flatMap(pathsOf)
      .filterNot(p => live.contains(p) || branchLive.contains(norm(p)))
      .distinct
      .filter(p => norm(p).startsWith(root))
    (retire, dead)
  }

  /** Returns `(retiredVersions, deletedFiles)` — the counts it acted
    * on, in ONE metadata walk (so a reporting caller like `CALL
    * gt.system.vacuum` never pays a second [[vacuumDryRun]] pass). */
  def vacuum(spark: SparkSession, table: String,
             keepLast: Int): (Seq[Int], Seq[String]) = {
    require(keepLast >= 1, "must keep at least the latest version")
    val vs = versions(spark, table)
    // TAGGED versions are PINNED: a ref is a promise that this
    // snapshot stays readable until the tag is dropped (Iceberg tags)
    val pinned = tagsOf(spark, table).values.toSet
    val suffix = vs.takeRight(keepLast).toSet
    val (keep, retire) = vs.partition(v => suffix(v) || pinned(v))
    if (retire.isEmpty) return (Seq.empty, Seq.empty)
    // a manifest line's path part (data file or dv sidecar) is what
    // lives on disk — liveness is per path, not per line spelling
    def pathsOf(v: Int): Seq[String] = {
      val lines = readManifest(spark, table, v)
      dataFilesOf(lines) ++ dvFilesOf(lines)
    }
    // files a live BRANCH head references are pinned too: a fork must
    // survive main's retention for as long as the branch exists
    val live = keep.flatMap(pathsOf).toSet
    val branchLive = branchLivePaths(spark, table)
    // OWNERSHIP RULE: vacuum deletes only paths under THIS table's
    // root. A shallow clone's manifests reference the source table's
    // files verbatim ([[cloneCommit]]); retiring a clone version must
    // never reach into the source — foreign references simply lapse.
    val root = norm(new Path(table).toString).stripSuffix("/") + "/"
    val dead = retire.flatMap(pathsOf)
      .filterNot(p => live.contains(p) || branchLive.contains(norm(p)))
      .distinct
      .filter(p => norm(p).startsWith(root))
    // a SURVIVING version may be a delta frame whose chain resolves
    // through retired versions — keep those manifests (renamed to
    // `.base`: hidden from versions(), still chain-resolvable) or the
    // kept delta would dangle. With tag pins the kept set is not a
    // contiguous suffix, so every kept version's chain counts.
    // Computed BEFORE any mutation.
    val neededBases = keep.map(v => baseChainOf(spark, table, v))
      .foldLeft(Set.empty[Int])(_ ++ _)
    val f = fs(spark, new Path(table))
    dead.foreach(p => f.delete(new Path(p), false))
    retire.foreach { v =>
      if (neededBases(v))
        f.rename(manifestPath(table, v), baseManifestPath(table, v))
      else f.delete(manifestPath(table, v), false)
    }
    // sweep `.base` carcasses earlier vacuums kept that this one no
    // longer needs (the kept chain moved past them)
    f.listStatus(manifestDir(table)).foreach { s =>
      val n = s.getPath.getName
      if (n.startsWith("v") && n.endsWith(".base")) {
        val bv = n.substring(1, n.length - 5).toInt
        if (!neededBases(bv)) f.delete(s.getPath, false)
      }
    }
    // sweep commit dirs the deletions emptied (cosmetic, keeps `data/`
    // listings proportional to live versions). The emptiness check must
    // look at DESCENDANTS, not direct children: partitioned commits
    // nest their files under `__pt=<val>/` subdirs, so a direct-child
    // test would read a fully-live partitioned commit dir as empty and
    // delete the current snapshot.
    val dataRoot = new Path(table, "data")
    if (f.exists(dataRoot)) f.listStatus(dataRoot).foreach { d =>
      if (d.isDirectory && !hasDescendantParquet(f, d.getPath))
        f.delete(d.getPath, true)
    }
    (retire, dead)
  }

  /** Whether any `.parquet` file lives anywhere UNDER `dir` — the
    * liveness test vacuum's dir sweep needs on partitioned commit dirs
    * (files sit one `__pt=` level down, not as direct children). */
  private def hasDescendantParquet(f: org.apache.hadoop.fs.FileSystem,
                                   dir: Path): Boolean = {
    val it = f.listFiles(dir, true)
    while (it.hasNext) {
      if (it.next().getPath.getName.endsWith(".parquet")) return true
    }
    false
  }
}
