package graft.sources

import java.util.OptionalLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import VersionedTable.ScanPred

/** DataSourceV2 surface for the versioned table layer: the manifest
  * log becomes a real Spark TABLE FORMAT, so plain SQL — not just the
  * library API — reads it:
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.gt", classOf[GraftCatalog].getName)
  * spark.conf.set("spark.sql.catalog.gt.warehouse", "/data/warehouse")
  * spark.sql("SELECT * FROM gt.events WHERE k BETWEEN 10 AND 20")
  * spark.sql("SELECT * FROM gt.events VERSION AS OF 3")
  * spark.sql("INSERT INTO gt.events SELECT ...")
  * }}}
  *
  * What Catalyst's DSv2 pushdown negotiates per query:
  *
  *  - **Filter pushdown** ([[GraftScanBuilder.pushFilters]]):
  *    supported conjuncts translate to [[VersionedTable.ScanPred]]s
  *    and are CLAIMED — the scan opens only
  *    [[VersionedTable.scanCandidates]]' files (manifest min/max, pt
  *    tags, null counts; zero data I/O to decide) and re-applies the
  *    exact predicate, so claiming is sound. Untranslatable filters
  *    stay residual and Spark evaluates them above the scan.
  *  - **Column pruning** ([[GraftScanBuilder.pruneColumns]]): the
  *    inner read projects to the required schema, so parquet reads
  *    only those columns.
  *  - **Aggregate pushdown** ([[GraftScanBuilder.pushAggregation]]):
  *    `COUNT(*)` / `MIN(c)` / `MAX(c)` with no GROUP BY and fully
  *    claimed filters answer from [[VersionedTable.countWhereDetailed]]
  *    / [[VersionedTable.minMaxWhere]] — contained files from manifest
  *    metadata, boundary files scanned exactly. At 100 TB this is the
  *    difference between a row-count dashboard query costing a full
  *    scan and costing a manifest read.
  *  - **Statistics** ([[GraftScan.estimateStatistics]]): candidate-file
  *    bytes (and exact row counts when the manifest covers them) feed
  *    Spark's join planning, so a small versioned table under the
  *    broadcast threshold gets a BroadcastHashJoin without hints.
  *
  * The data path is deliberately the library's own proven read
  * ([[VersionedTable.readWhere]] — deletion vectors, column mapping,
  * schema cache) surfaced through the sanctioned [[V1Scan]] migration
  * seam: the inner plan keeps its vectorized parquet scan and codegen,
  * and correctness is exactly the gated read's. Writes ride
  * [[V1Write]] → one atomic [[VersionedTable.commit]] per INSERT
  * (append) / INSERT OVERWRITE (truncate).
  *
  * Snapshot isolation: [[GraftTable]] pins the head version at load
  * time, so every scan a single query plans (self-joins included)
  * reads ONE committed snapshot even under concurrent writers — the
  * same discipline as [[VersionedTable.bucketJoin]].
  *
  * Design refs: Spark's own JDBC v2 connector (V1Scan + complete
  * aggregate pushdown) and Delta's catalog integration; reference
  * pipeline analog: `ApplaudoETL.scala:41-47` reads named tables from
  * a warehouse — here the warehouse is the manifest-log directory
  * tree and table names resolve inside it.
  */
class GraftCatalog extends TableCatalog with ProcedureCatalog
    with StagingTableCatalog with ViewCatalog {
  private var catalogName: String = _
  private var warehouse: String = _

  /** SQL `CALL gt.system.<proc>(...)` — table maintenance through the
    * DSv2 procedure surface ([[GraftProcedures]]). */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace().sameElements(GraftProcedures.Namespace),
      s"procedures live under the 'system' namespace, got: $ident")
    GraftProcedures.load(warehouse, ident.name()).getOrElse(
      sys.error(s"no such procedure: ${ident.name()} — available: " +
        GraftProcedures.names.mkString(", ")))
  }

  override def listProcedures(namespace: Array[String])
      : Array[Identifier] = {
    if (!namespace.sameElements(GraftProcedures.Namespace))
      return Array.empty
    GraftProcedures.names
      .map(n => Identifier.of(GraftProcedures.Namespace, n)).toArray
  }

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = options.get("warehouse")
    require(warehouse != null && warehouse.nonEmpty,
      s"catalog $name needs spark.sql.catalog.$name.warehouse")
  }

  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active

  /** The warehouse path an identifier names — shared with the MV DDL
    * surface ([[GraftMv]]), which stores materialized views as plain
    * versioned tables in the warehouse. */
  private[sources] def tablePath(ident: Identifier): String =
    pathOf(ident)

  private def pathOf(ident: Identifier): String = {
    val parts = ident.namespace().toSeq :+ ident.name()
    parts.foreach(p => require(
      p.nonEmpty && !p.contains("/") && !p.contains("\\") && p != ".." &&
        !p.startsWith("."),
      s"illegal table identifier segment: $p"))
    require(parts.head != "_views",
      "'_views' is the view-metadata directory, not a table namespace")
    (warehouse +: parts).mkString("/")
  }

  /** Only a genuinely-absent path reads as "not a table": a protocol
    * gate or filesystem error on an EXISTING table must propagate
    * loudly, not dissolve into NoSuchTableException / empty schema. */
  private def isTable(path: String): Boolean =
    try VersionedTable.versions(spark, path).nonEmpty
    catch { case _: java.io.FileNotFoundException => false }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new Path((warehouse +: namespace.toSeq).mkString("/"))
    val f = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(dir)) throw new NoSuchNamespaceException(
      namespace.toSeq)
    // LISTING must not inherit loadTable's loud per-table failure for
    // a PROTOCOL-gated directory: a gated table still IS a table —
    // list it (the loud error belongs to the statement that actually
    // reads it). ONLY that typed gate is caught: any other exception
    // (a transient IO error, a corrupt manifest) propagates rather
    // than silently classifying a non-table as a table.
    f.listStatus(dir).toSeq.filter(_.isDirectory).map(_.getPath)
      .filter(p => try isTable(p.toString)
        catch { case _: GraftProtocolException => true })
      .map(p => Identifier.of(namespace, p.getName)).toArray
  }

  override def loadTable(ident: Identifier): Table = {
    val p = pathOf(ident)
    if (isTable(p)) new GraftTable(p, ident.toString, None)
    else branchTable(ident).orElse(metadataTable(ident)).getOrElse(
      throw new NoSuchTableException(ident))
  }

  /** `gt.<table>.branch_<name>` — a branch resolved as a fully
    * WRITABLE table (Iceberg's branch identifiers): SELECT, INSERT,
    * DELETE, UPDATE, MERGE all land on the branch's own versioned
    * history under `_branch/<name>/`, invisible to main readers until
    * `CALL gt.system.fast_forward` publishes it. */
  private def branchTable(ident: Identifier): Option[Table] =
    branchPathOf(ident).map(new GraftTable(_, ident.toString, None))

  /** The on-disk path a `...<table>.branch_<name>` identifier names,
    * when the parent is a table and the branch exists. */
  private def branchPathOf(ident: Identifier): Option[String] = {
    val n = ident.name()
    if (ident.namespace().isEmpty || !n.startsWith("branch_") ||
      n.length <= "branch_".length) return None
    val ns = ident.namespace()
    val parent = Identifier.of(ns.dropRight(1), ns.last)
    val pp = pathOf(parent)
    val bname = n.substring("branch_".length)
    if (!isTable(pp)) return None
    scala.util.Try(VersionedTable.branchPath(pp, bname)).toOption
      .filter(isTable)
  }

  /** SQL-served METADATA TABLES (Iceberg's `db.table.history` shape):
    * `SELECT * FROM gt.<table>.history` resolves here when
    * `<table>.history` is not a real table path — a fresh SQL-only
    * session introspects history / files / partitions / tags /
    * constraints / properties without knowing any library call
    * ([[VersionedTable.registerViews]] remains for view-name fans).
    * Output is O(versions | files | partitions) rows — metadata-sized,
    * never data-sized. */
  private def metadataTable(ident: Identifier): Option[Table] = {
    val kind = ident.name().toLowerCase(java.util.Locale.ROOT)
    if (ident.namespace().isEmpty ||
      !GraftMetadataTable.Kinds.contains(kind)) return None
    val ns = ident.namespace()
    val parent = Identifier.of(ns.dropRight(1), ns.last)
    val pp = pathOf(parent)
    if (isTable(pp))
      Some(new GraftMetadataTable(pp, ident.toString, kind))
    else // a branch's own metadata: gt.t.branch_dev.history etc.
      branchPathOf(parent)
        .map(bp => new GraftMetadataTable(bp, ident.toString, kind))
  }

  /** `VERSION AS OF <v>` — SQL time travel resolves right here. */
  /** `VERSION AS OF` — an integer pins the version; a NAME resolves
    * as a tag first (pinned snapshot), then a branch (that branch's
    * current head): `SELECT ... VERSION AS OF 'audit-close'` /
    * `VERSION AS OF 'dev'`. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val p0 = pathOf(ident)
    // a branch identifier time-travels within the BRANCH's history:
    // `gt.t.branch_dev VERSION AS OF 2`
    val p = if (isTable(p0)) p0
      else branchPathOf(ident).getOrElse(
        throw new NoSuchTableException(ident))
    scala.util.Try(version.toInt).toOption match {
      case Some(v) => new GraftTable(p, ident.toString, Some(v))
      case None =>
        VersionedTable.tagsOf(spark, p).get(version) match {
          case Some(tv) => new GraftTable(p, ident.toString, Some(tv))
          case None =>
            val bp = scala.util.Try(
              VersionedTable.branchPath(p, version)).toOption
            bp.filter(isTable)
              .map(b => new GraftTable(b,
                s"${ident.toString}@$version", None))
              .getOrElse(sys.error(
                s"'$version' is neither a version, a tag, nor a " +
                  s"branch of ${ident.toString}"))
        }
    }
  }

  /** `TIMESTAMP AS OF <ts>` — Spark hands epoch MICROseconds.
    * Branch identifiers travel within the branch's own history. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val p0 = pathOf(ident)
    val p = if (isTable(p0)) p0
      else branchPathOf(ident).getOrElse(
        throw new NoSuchTableException(ident))
    new GraftTable(p, ident.toString,
      Some(VersionedTable.versionAsOf(spark, p, timestamp / 1000L)))
  }

  /** PARTITIONED BY (col, ...) — identity transforms map straight
    * onto the layer's multi-column pt tags: the spec is stamped in
    * the creating commit's meta and every INSERT routes through
    * commitPartitionedMulti, so partition-value predicates prune by
    * manifest tags from the first row written. */
  private def identityPartCols(schema: StructType,
                               partitions: Array[Transform]): Seq[String] =
    partitions.toSeq.map {
      case t if t.name() == "identity" &&
          t.references().length == 1 &&
          t.references()(0).fieldNames().length == 1 =>
        val c = t.references()(0).fieldNames()(0)
        require(schema.fieldNames.contains(c),
          s"PARTITIONED BY column $c is not in the table schema")
        c
      case other => throw new UnsupportedOperationException(
        s"only identity PARTITIONED BY columns are supported, got: " +
          s"$other (bucket/transform specs: library API " +
          "commitBucketed / commitTransformPartitioned)")
    }

  /** The USER-set TBLPROPERTIES of a CREATE/REPLACE statement — the
    * engine-injected bookkeeping keys (provider, location, owner,
    * comment, external, `option.`-prefixed write options) are not
    * table properties and never reach the `_props` registry. */
  private def userProps(properties: java.util.Map[String, String])
      : Map[String, String] = {
    val reserved = Set(TableCatalog.PROP_PROVIDER,
      TableCatalog.PROP_LOCATION, TableCatalog.PROP_COMMENT,
      TableCatalog.PROP_OWNER, TableCatalog.PROP_EXTERNAL,
      TableCatalog.PROP_IS_MANAGED_LOCATION, "transient_lastDdlTime")
    properties.asScala.toMap
      .filterNot { case (k, _) =>
        reserved(k) || k.startsWith(TableCatalog.OPTION_PREFIX) }
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String])
      : Table = {
    val partCols = identityPartCols(schema, partitions)
    val p = pathOf(ident)
    if (isTable(p))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(
          (ident.namespace().toSeq :+ ident.name()).toSeq)
    if (viewExists(ident))
      sys.error(s"$ident is a VIEW — DROP VIEW it first (a name is " +
        "a table xor a view)")
    // TBLPROPERTIES validate BEFORE the commit (a typo'd behavior key
    // must fail the statement, not silently half-apply) and publish
    // right AFTER it: writing sidecars to the not-yet-committed path
    // first would leak ghost properties onto a later CREATE of this
    // name if the commit failed — and a creation-race loser would
    // have to claw them back off the winner's live table
    val props = userProps(properties)
    props.foreach { case (k, v) =>
      VersionedTable.validateTableProperty(k, v) }
    // v1 = the empty snapshot carrying the declared schema (and the
    // partition spec in its meta — a partitioned write of zero rows
    // would produce zero files, so the spec rides the commit metadata
    // until the first INSERT's tagged files anchor it): reads resolve
    // the schema line; the first INSERT appends files
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
    VersionedTable.commit(spark, p, empty, append = false,
      meta = if (partCols.isEmpty) Map.empty
        else Map("partitioned_by" -> partCols.mkString(",")))
    props.foreach { case (k, v) =>
      VersionedTable.setTableProperty(spark, p, k, v) }
    new GraftTable(p, ident.toString, None)
  }

  /** ATOMIC `CREATE TABLE ... AS SELECT` — the DSv2 staging seam
    * ([[StagingTableCatalog]]): the SELECT's whole data write lands
    * while the table path stays manifest-less (invisible — `isTable`
    * is false until the manifest exists), then ONE atomic manifest
    * rename publishes table + data together. A failed or aborted CTAS
    * leaves NO half-created table, only orphaned staged files that
    * `clean_orphans` reclaims. */
  override def stageCreate(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String])
      : StagedTable = {
    val p = pathOf(ident)
    if (isTable(p))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(
          (ident.namespace().toSeq :+ ident.name()).toSeq)
    if (viewExists(ident))
      sys.error(s"$ident is a VIEW — DROP VIEW it first (a name is " +
        "a table xor a view)")
    new GraftStagedTable(p, ident.toString, schema,
      identityPartCols(schema, partitions), GraftStagedTable.Create,
      userProps(properties))
  }

  /** ATOMIC `REPLACE TABLE ... AS SELECT`: readers keep the old
    * snapshot until the staged manifest publishes (a logical
    * overwrite commit — history stays time-travelable, the lineage
    * restarts exactly like INSERT OVERWRITE). */
  override def stageReplace(ident: Identifier, schema: StructType,
                            partitions: Array[Transform],
                            properties: java.util.Map[String, String])
      : StagedTable = {
    val p = pathOf(ident)
    if (!isTable(p)) throw new NoSuchTableException(ident)
    new GraftStagedTable(p, ident.toString, schema,
      identityPartCols(schema, partitions), GraftStagedTable.Replace,
      userProps(properties))
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
                                    partitions: Array[Transform],
                                    properties: java.util.Map[String, String])
      : StagedTable = {
    val p = pathOf(ident)
    if (viewExists(ident))
      sys.error(s"$ident is a VIEW — DROP VIEW it first (a name is " +
        "a table xor a view)")
    new GraftStagedTable(p, ident.toString, schema,
      identityPartCols(schema, partitions),
      GraftStagedTable.CreateOrReplace, userProps(properties))
  }

  override def capabilities()
      : java.util.Set[TableCatalogCapability] =
    java.util.EnumSet.of(TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      // DEFAULT declarations ride the sc schema's field metadata
      // (CURRENT_DEFAULT / EXISTS_DEFAULT, Spark's own resolver keys),
      // so INSERTs that omit a defaulted column materialize it
      TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  /** SQL DDL → the layer's metadata-only commits: RENAME/DROP COLUMN
    * ride the column-mapping publishes, ADD COLUMN the declared-schema
    * widen, ADD/DROP CONSTRAINT the CHECK registry (validated against
    * the current snapshot on add, enforced on every later commit).
    *
    * One ALTER statement may carry several changes (`ADD COLUMNS (a,
    * b)`); each lands as its own metadata commit, so a failure midway
    * would leave the statement half-applied. [[validateAlter]] runs
    * the whole sequence against a SIMULATED schema + snapshot FIRST —
    * existence/absence rules, constraint-name registry, and each new
    * CHECK evaluated over the post-change row shape — so by the time
    * the first commit publishes, every later change is known good
    * (short of a concurrent-writer race, which each commit still
    * surfaces loudly). */
  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    val p = pathOf(ident)
    if (!isTable(p)) throw new NoSuchTableException(ident)
    def one(names: Array[String]): String = {
      require(names.length == 1,
        s"nested columns are not supported: ${names.mkString(".")}")
      names(0)
    }
    validateAlter(p, changes, one)
    changes.foreach {
      case r: TableChange.RenameColumn =>
        VersionedTable.renameColumnCommit(spark, p,
          one(r.fieldNames()), r.newName())
      case d: TableChange.DeleteColumn =>
        VersionedTable.dropColumnCommit(spark, p, one(d.fieldNames()))
      case a: TableChange.AddColumn =>
        require(a.isNullable && a.position() == null,
          "ADD COLUMN supports nullable columns, appended last")
        VersionedTable.addColumnCommit(spark, p,
          one(a.fieldNames()), a.dataType(),
          Option(a.defaultValue()).map(_.getSql))
      case c: TableChange.AddConstraint =>
        c.constraint() match {
          case ck: org.apache.spark.sql.connector.catalog.constraints.Check =>
            VersionedTable.addConstraint(spark, p, ck.name(),
              ck.predicateSql())
          case other => throw new UnsupportedOperationException(
            s"only CHECK constraints are supported, got: $other")
        }
      case d: TableChange.DropConstraint =>
        VersionedTable.dropConstraint(spark, p, d.name())
      case sp: TableChange.SetProperty =>
        VersionedTable.setTableProperty(spark, p, sp.property(),
          sp.value())
      case rp: TableChange.RemoveProperty =>
        VersionedTable.unsetTableProperty(spark, p, rp.property())
      case other => throw new UnsupportedOperationException(
        s"unsupported ALTER TABLE change: $other")
    }
    loadTable(ident)
  }

  /** The upfront pass behind [[alterTable]]'s all-or-nothing promise:
    * walks the change sequence over a simulated schema (renames/drops/
    * adds applied in order), enforcing the same structural rules the
    * commits will, and evaluates every ADD CONSTRAINT's CHECK against
    * the current snapshot RESHAPED to that point in the sequence (new
    * columns as typed nulls), so a doomed later change rejects the
    * statement before the first commit publishes. */
  private def validateAlter(p: String, changes: Seq[TableChange],
                            one: Array[String] => String): Unit = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    var schema = VersionedTable.read(spark, p).schema
    val existing = VersionedTable.constraintsOf(spark, p)
    var constraints = existing.keySet
    // column -> constraints referencing it, tracked THROUGH the
    // sequence (a DROP CONSTRAINT earlier in the statement legalizes a
    // later rename of its column; an ADD CONSTRAINT pins new columns)
    // — the same rule renameColumnCommit/dropColumnCommit enforce
    var refs: Map[String, Set[String]] = existing.toSeq
      .flatMap { case (n, e) =>
        scala.util.Try(spark.sessionState.sqlParser.parseExpression(e)
          .references.map(_.name).toSeq).getOrElse(Seq.empty)
          .map(_ -> n)
      }.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def liveRef(c: String): Option[String] =
      refs.getOrElse(c, Set.empty).intersect(constraints).headOption
    // structural facts the DROP-COLUMN commit enforces, from the head
    // manifest (partition specs / bucket tags cannot change
    // mid-ALTER); renames inside the sequence track original names so
    // the physical identity stays resolvable
    lazy val lines = VersionedTable.manifest(spark, p,
      VersionedTable.versions(spark, p).last)
    val (renameMap, _) = VersionedTable.columnMappingOf(spark, p)
    var origOf: Map[String, String] = Map.empty
    def physicalOf(c: String): String = {
      val orig = origOf.getOrElse(c, c)
      renameMap.getOrElse(orig, orig)
    }
    // snapshot reshaped through the sequence, built lazily (only ADD
    // CONSTRAINT forces a read; pure column DDL stays metadata-only)
    var reshape: DataFrame => DataFrame = identity
    changes.foreach {
      case r: TableChange.RenameColumn =>
        val c = one(r.fieldNames()); val n = r.newName()
        require(schema.fieldNames.contains(c),
          s"ALTER would fail: no column '$c'")
        require(!schema.fieldNames.contains(n),
          s"ALTER would fail: column '$n' already exists")
        liveRef(c).foreach(k => sys.error(
          s"ALTER would fail: CHECK constraint '$k' references '$c' — " +
            "drop it, rename, re-add under the new name"))
        val physC = physicalOf(c)
        require(!VersionedTable.partitionsOf(lines).exists(t =>
          t._1.startsWith(s"__bucket_${physC}_") ||
            t._1.startsWith(s"__part_div_${physC}_")),
          s"ALTER would fail: '$c' keys a bucket/transform spec — " +
            "rewrite under the new name instead")
        origOf = (origOf - c) + (n -> origOf.getOrElse(c, c))
        refs = refs.map { case (col, ks) =>
          (if (col == c) n else col) -> ks }
        schema = StructType(schema.fields.map(f =>
          if (f.name == c) f.copy(name = n) else f))
        val prev = reshape
        reshape = df => prev(df).withColumnRenamed(c, n)
      case d: TableChange.DeleteColumn =>
        val c = one(d.fieldNames())
        require(schema.fieldNames.contains(c),
          s"ALTER would fail: no column '$c'")
        require(schema.fields.length > 1,
          "ALTER would fail: cannot drop the last column")
        liveRef(c).foreach(k => sys.error(
          s"ALTER would fail: CHECK constraint '$k' references '$c' — " +
            "drop it first"))
        val origC = origOf.getOrElse(c, c)
        val physC = physicalOf(c)
        require(!VersionedTable.fullSpecOf(lines).contains(origC) &&
          !VersionedTable.partitionsOf(lines).exists(_._1 == origC),
          s"ALTER would fail: '$c' is a partition column — " +
            "repartition before dropping")
        require(!VersionedTable.partitionsOf(lines).exists(t =>
          t._1.startsWith(s"__bucket_${physC}_") ||
            t._1.startsWith(s"__part_div_${physC}_")),
          s"ALTER would fail: '$c' keys a bucket/transform spec — " +
            "rewrite first")
        schema = StructType(schema.fields.filterNot(_.name == c))
        val prev = reshape
        reshape = df => prev(df).drop(c)
      case a: TableChange.AddColumn =>
        require(a.isNullable && a.position() == null,
          "ADD COLUMN supports nullable columns, appended last")
        val c = one(a.fieldNames())
        require(!schema.fieldNames.contains(c),
          s"ALTER would fail: column '$c' already exists")
        schema = schema.add(c, a.dataType(), nullable = true)
        val dflt = Option(a.defaultValue()).map(_.getSql)
        val prev = reshape
        reshape = df => prev(df).withColumn(c,
          dflt.map(expr(_).cast(a.dataType()))
            .getOrElse(lit(null).cast(a.dataType())))
      case c: TableChange.AddConstraint =>
        c.constraint() match {
          case ck: org.apache.spark.sql.connector.catalog.constraints.Check =>
            require(!constraints.contains(ck.name()),
              s"ALTER would fail: constraint '${ck.name()}' exists")
            constraints += ck.name()
            scala.util.Try(spark.sessionState.sqlParser
              .parseExpression(ck.predicateSql())
              .references.map(_.name).toSeq).getOrElse(Seq.empty)
              .foreach(col => refs = refs.updated(col,
                refs.getOrElse(col, Set.empty) + ck.name()))
            val bad = reshape(VersionedTable.read(spark, p))
              .filter(not(coalesce(expr(ck.predicateSql()), lit(true))))
              .limit(1).count()
            require(bad == 0L, "ALTER would fail: current snapshot " +
              s"violates CHECK ${ck.name()} (${ck.predicateSql()})")
          case other => throw new UnsupportedOperationException(
            s"only CHECK constraints are supported, got: $other")
        }
      case d: TableChange.DropConstraint =>
        constraints -= d.name()
      case sp: TableChange.SetProperty =>
        // the same SET-time rules setTableProperty enforces (shared
        // validator — covers every behavior-bearing mode key), so a
        // doomed later property change rejects the statement upfront
        try VersionedTable.validateTableProperty(sp.property(),
          sp.value())
        catch { case e: IllegalArgumentException =>
          sys.error(s"ALTER would fail: ${e.getMessage}") }
      case _: TableChange.RemoveProperty => () // idempotent
      case other => throw new UnsupportedOperationException(
        s"unsupported ALTER TABLE change: $other")
    }
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = new Path(pathOf(ident))
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.exists(p) && isTable(p.toString) && f.delete(p, true)
  }

  override def renameTable(oldIdent: Identifier,
                           newIdent: Identifier): Unit = {
    val from = new Path(pathOf(oldIdent))
    val to = new Path(pathOf(newIdent))
    val f = from.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(from) || !isTable(from.toString))
      throw new NoSuchTableException(oldIdent)
    require(f.rename(from, to), s"rename $from -> $to failed")
  }

  // -------------------------------------------------------------------
  // ViewCatalog — SQL views persisted in the warehouse ([[GraftViews]]
  // files under `_views/`). Spark 4.1's analyzer never consults a
  // ViewCatalog on its own (the interface ships without resolution
  // rules); [[graft.plans.GraftExtensions]] injects
  // [[GraftViewRule]], which routes CREATE/ALTER/DROP/SHOW VIEW
  // statements here and substitutes view reads with their defining
  // SQL (resolved in the view's creation context).
  // -------------------------------------------------------------------

  /** The stored definition, for the resolution rule (None = no view). */
  private[graft] def viewData(ident: Identifier)
      : Option[GraftViews.ViewData] =
    GraftViews.load(spark, warehouse, ident)

  override def viewExists(ident: Identifier): Boolean =
    GraftViews.exists(spark, warehouse, ident)

  override def listViews(namespace: String*): Array[Identifier] =
    GraftViews.list(spark, warehouse, namespace).toArray

  override def loadView(ident: Identifier): View =
    viewData(ident).map(new GraftView(ident, _)).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(ident))

  private def dataOf(info: ViewInfo): GraftViews.ViewData =
    GraftViews.ViewData(
      sql = info.sql,
      currentCatalog = info.currentCatalog,
      currentNamespace = info.currentNamespace.toSeq,
      schemaJson = info.schema.json,
      queryColumnNames = info.queryColumnNames.toSeq,
      columnAliases = info.columnAliases.toSeq,
      columnComments = info.columnComments.toSeq.map(Option(_)),
      properties = info.properties.asScala.toMap
        .filterNot { case (k, _) =>
          ViewCatalog.RESERVED_PROPERTIES.contains(k) },
      comment = Option(
        info.properties.get(ViewCatalog.PROP_COMMENT)))

  override def createView(info: ViewInfo): View = {
    val ident = info.ident()
    // a name is a TABLE xor a VIEW — an identifier resolving to both
    // would make every later SELECT ambiguous
    if (isTable(pathOf(ident)))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(
          (ident.namespace().toSeq :+ ident.name()).toSeq)
    if (!GraftViews.store(spark, warehouse, ident, dataOf(info),
        replace = false))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(ident)
    new GraftView(ident, viewData(ident).get)
  }

  override def replaceView(info: ViewInfo, orCreate: Boolean): View = {
    val ident = info.ident()
    if (isTable(pathOf(ident)))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(
          (ident.namespace().toSeq :+ ident.name()).toSeq)
    if (!orCreate && !viewExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(ident)
    require(GraftViews.store(spark, warehouse, ident, dataOf(info),
      replace = true),
      s"concurrent CREATE of $ident won the publish — re-run the " +
        "REPLACE against the new definition")
    new GraftView(ident, viewData(ident).get)
  }

  override def alterView(ident: Identifier,
                         changes: ViewChange*): View = {
    val vd = viewData(ident).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(ident))
    val props = changes.foldLeft(vd.properties) { (m, c) => c match {
      case s: ViewChange.SetProperty =>
        VersionedTable.validateTableProperty(s.property(), s.value())
        m + (s.property() -> s.value())
      case r: ViewChange.RemoveProperty => m - r.property()
      case other => sys.error(s"unsupported view change: $other")
    }}
    require(GraftViews.store(spark, warehouse, ident,
      vd.copy(properties = props), replace = true),
      s"concurrent CREATE of $ident won the publish — re-run the ALTER")
    new GraftView(ident, viewData(ident).get)
  }

  override def dropView(ident: Identifier): Boolean =
    GraftViews.drop(spark, warehouse, ident)

  override def renameView(oldIdent: Identifier,
                          newIdent: Identifier): Unit = {
    val vd = viewData(oldIdent).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(oldIdent))
    if (viewExists(newIdent))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(newIdent)
    if (isTable(pathOf(newIdent)))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(
          (newIdent.namespace().toSeq :+ newIdent.name()).toSeq)
    require(GraftViews.store(spark, warehouse, newIdent, vd,
      replace = false), s"concurrent creation of $newIdent")
    GraftViews.drop(spark, warehouse, oldIdent)
    ()
  }
}

/** A stored view surfaced through the DSv2 [[View]] interface. */
private[sources] class GraftView(ident: Identifier,
                                 vd: GraftViews.ViewData) extends View {
  override def name(): String =
    (ident.namespace().toSeq :+ ident.name()).mkString(".")
  override def query(): String = vd.sql
  override def currentCatalog(): String = vd.currentCatalog
  override def currentNamespace(): Array[String] =
    vd.currentNamespace.toArray
  override def schema(): StructType = vd.schema
  override def queryColumnNames(): Array[String] =
    vd.queryColumnNames.toArray
  override def columnAliases(): Array[String] = vd.columnAliases.toArray
  override def columnComments(): Array[String] =
    vd.columnComments.map(_.orNull).toArray
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    vd.properties.foreach { case (k, v) => m.put(k, v) }
    vd.comment.foreach(c => m.put(ViewCatalog.PROP_COMMENT, c))
    m
  }
}

/** One SQL-served metadata table (`gt.<table>.<kind>`): the matching
  * introspection DataFrame, driver-collected into a [[LocalScan]] —
  * every kind is metadata-derived and O(versions | files | partitions)
  * rows by construction, so the collect is bounded the same way the
  * procedure outputs are. The frame is built lazily at first use and
  * rebuilt per scan, so a statement always reads the current state. */
private[sources] class GraftMetadataTable(path: String,
                                          displayName: String,
                                          kind: String)
    extends Table with SupportsRead {
  private def spark: SparkSession = SparkSession.active

  private def frame(): DataFrame = {
    val s = spark
    import s.implicits._
    kind match {
      case "history" => VersionedTable.history(spark, path)
      case "files" =>
        val lines = VersionedTable.manifest(spark, path,
          VersionedTable.versions(spark, path).last)
        VersionedTable.files(spark, path,
          VersionedTable.statColsOf(lines))
      case "partitions" => VersionedTable.partitions(spark, path)
      case "tags" =>
        VersionedTable.tagsOf(spark, path).toSeq.sortBy(_._1)
          .toDF("name", "version")
      case "branches" =>
        VersionedTable.branchesOf(spark, path).toSeq.sortBy(_._1)
          .map { case (n, (base, head)) => (n, base, head) }
          .toDF("name", "base_version", "head_version")
      case "constraints" =>
        VersionedTable.constraintsOf(spark, path).toSeq.sortBy(_._1)
          .toDF("name", "expression")
      case "properties" =>
        VersionedTable.tablePropertiesOf(spark, path).toSeq.sortBy(_._1)
          .toDF("key", "value")
    }
  }

  /** Built ONCE per table handle (= once per statement — loadTable
    * returns a fresh instance per resolution): schema resolution and
    * the scan share it, so a metadata query pays its manifest walk /
    * stats read a single time, and a new statement still sees current
    * state through its new handle. */
  private lazy val frame0: DataFrame = frame()

  override def name(): String = displayName
  override lazy val schema: StructType = frame0.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new ScanBuilder {
    override def build(): Scan = {
      val df = frame0
      val collected = df.queryExecution.executedPlan.executeCollect()
      val out = df.schema
      new org.apache.spark.sql.connector.read.LocalScan {
        override def rows()
            : Array[org.apache.spark.sql.catalyst.InternalRow] = collected
        override def readSchema(): StructType = out
        override def description(): String =
          s"graft-metadata $displayName"
      }
    }
  }
}

private[sources] object GraftMetadataTable {
  val Kinds: Set[String] = Set("history", "files", "partitions",
    "tags", "branches", "constraints", "properties")
}

private[sources] object GraftStagedTable {
  sealed trait Mode
  /** Target must not exist; publish = manifest v1. A creation race
    * fails the statement loudly. */
  case object Create extends Mode
  /** Target exists; publish = overwrite commit at head+1, pinned to
    * the staged snapshot (a concurrent commit fails the statement). */
  case object Replace extends Mode
  /** Either way: the publish retries past version races (overwrite
    * semantics are last-writer-wins — CREATE OR REPLACE must succeed
    * whether or not someone created/committed concurrently). */
  case object CreateOrReplace extends Mode
}

/** One staged CTAS / RTAS target ([[StagedTable]]). The SELECT's data
  * write runs through the SAME staged-commit tail as every library
  * commit ([[VersionedTable.stageCommitData]] /
  * [[VersionedTable.stageCommitPartitionedData]]: physical-name
  * mapping, pt tags, st/fz stats, CHECK-constraint validation) — only
  * the atomic manifest rename is deferred to [[commitStagedChanges]].
  * Until that rename the table is invisible (Create) or readers keep
  * the pre-REPLACE snapshot (Replace); abort deletes the staged files
  * and publishes nothing. A concurrent commit that takes the staged
  * version number first makes the publish fail loudly — never a
  * silent overwrite of someone else's rows. */
private[sources] class GraftStagedTable(path: String, displayName: String,
                                        declaredSchema: StructType,
                                        partCols: Seq[String],
                                        mode: GraftStagedTable.Mode,
                                        props: Map[String, String])
    extends StagedTable with SupportsWrite {

  private def spark: SparkSession = SparkSession.active

  // a typo'd behavior-bearing key (write.delete.mode etc.) fails at
  // STAGE time — before the SELECT runs, never after the publish
  props.foreach { case (k, v) =>
    VersionedTable.validateTableProperty(k, v) }

  @volatile private var staged: Option[VersionedTable.StagedCommit] = None

  override def name(): String = displayName
  override def schema(): StructType = declaredSchema
  override def partitioning(): Array[Transform] =
    partCols.map(c => org.apache.spark.sql.connector.expressions
      .Expressions.identity(c)).toArray
  override def properties(): java.util.Map[String, String] =
    (props ++ Map(TableCatalog.PROP_PROVIDER -> "graft",
      TableCatalog.PROP_LOCATION -> path)).asJava

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  /** The CTAS/RTAS data write: stage everything, publish nothing.
    * [[SupportsTruncate]] because Spark plans RTAS as
    * OverwriteByExpression(true) — a staged write is a fresh lineage
    * by construction, so truncate is the identity here. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          (data: DataFrame, _: Boolean) => {
            // write.stats.columns from the statement's own
            // TBLPROPERTIES (create: registry not published yet), or
            // the live table's registry (replace without a new value)
            val statCols = props.get(VersionedTable.StatsColsProp)
              .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
                .filter(data.columns.contains))
              .getOrElse(VersionedTable.declaredStatCols(spark, path,
                data.columns.toSeq))
            staged = Some(
              if (partCols.nonEmpty)
                VersionedTable.stageCommitPartitionedData(spark, path,
                  data, partCols, append = false, statCols = statCols)
              else
                VersionedTable.stageCommitData(spark, path, data,
                  append = false, statCols = statCols))
            ()
          }
      }
    }

  override def commitStagedChanges(): Unit = {
    val s = staged.getOrElse {
      // a zero-row CTAS still creates the table: stage the declared
      // schema's empty snapshot (same shape createTable publishes)
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], declaredSchema)
      if (partCols.nonEmpty)
        VersionedTable.stageCommitPartitionedData(spark, path, empty,
          partCols, append = false)
      else VersionedTable.stageCommitData(spark, path, empty,
        append = false)
    }
    if (mode == GraftStagedTable.Create && s.version != 1) {
      s.discard(spark)
      sys.error(s"CREATE TABLE $displayName AS SELECT lost a race: " +
        "the table was created concurrently while the SELECT was " +
        "staging — nothing was published; re-run (or use CREATE OR " +
        "REPLACE)")
    }
    // the staged lines are version-independent for an overwrite
    // (fresh lineage, nothing carried), so CREATE OR REPLACE may
    // retry the publish at the refreshed head — last-writer-wins,
    // exactly INSERT OVERWRITE's contract. Strict CREATE / REPLACE
    // fail loudly instead (CREATE must not clobber the race winner;
    // REPLACE pinned a snapshot).
    var v = s.version
    var attempts =
      if (mode == GraftStagedTable.CreateOrReplace) 5 else 1
    // the statement's TBLPROPERTIES ride INSIDE the staged manifest as
    // meta lines: the atomic publish then durably records them with
    // the table itself, so a crash between the publish and the
    // registry materialization below can never lose what the
    // statement declared (the recovery path reads them back from the
    // v1 manifest — see the error message below)
    val lines = s.lines ++ VersionedTable.propMetaLines(props)
    var published = false
    while (!published) {
      attempts -= 1
      try { VersionedTable.writeManifest(spark, path, v, lines)
        published = true }
      catch { case e: RuntimeException
          if e.getMessage != null &&
            e.getMessage.contains("already committed") =>
        if (attempts > 0)
          v = VersionedTable.versions(spark, path).last + 1
        else {
          s.discard(spark)
          sys.error(s"version conflict publishing $displayName: the " +
            s"staged ${mode match {
              case GraftStagedTable.Create => "CTAS"
              case GraftStagedTable.Replace => "REPLACE"
              case _ => "CREATE OR REPLACE" }} planned v$v but a " +
            "concurrent commit took it — nothing was published; " +
            "re-run the statement")
        }
      }
    }
    // the registry materialization applies after the publish: the
    // `_props/` registry is shared across versions, so writing it
    // first would leak ghost keys onto a not-yet-existing path
    // (inherited by a later CREATE of this name if the publish
    // failed) or mutate the LIVE pre-replace table. The keys were
    // validated at stage time, so only FS errors can fail here —
    // retried, and on exhaustion reported with the recovery path
    // (the values survive in the published manifest's meta), never
    // as a bare failure that reads like the CREATE itself failed.
    val failedProps = props.toSeq.flatMap { case (k, v2) =>
      val ok = (1 to 3).exists { _ =>
        try { VersionedTable.setTableProperty(spark, path, k, v2); true }
        catch { case scala.util.control.NonFatal(_) => false }
      }
      if (ok) None else Some(k)
    }
    if (failedProps.nonEmpty) sys.error(
      s"$displayName WAS published at v$v, but materializing table " +
        s"propert${if (failedProps.size == 1) "y" else "ies"} " +
        s"${failedProps.mkString(", ")} into the registry failed " +
        "after retries. The declared values are durably recorded in " +
        s"the v$v manifest metadata (prop.* keys of the history " +
        "metadata table); finish with ALTER TABLE ... SET " +
        "TBLPROPERTIES — do NOT re-run the CREATE, the table exists")
  }

  override def abortStagedChanges(): Unit =
    staged.foreach(_.discard(spark))
}

/** One versioned table at one PINNED version (head resolved at load
  * time — snapshot isolation for the whole query). SQL `DELETE FROM
  * ... WHERE` lands on [[SupportsDelete]] → one copy-on-write
  * [[VersionedTable.deleteCommitWhere]] commit (claimed conjuncts
  * narrow the matched-file probe by manifest stats); SQL `UPDATE` and
  * `MERGE INTO` land on [[SupportsRowLevelOperations]] → the
  * group-based COW seam ([[GraftRowLevelOperation]]). */
private[sources] class GraftTable(path: String, displayName: String,
                                  versionOpt: Option[Int])
    extends Table with SupportsRead with SupportsWrite
    with SupportsDelete with SupportsRowLevelOperations
    with SupportsMetadataColumns with TruncatableTable {

  /** `_file` / `_pos` — each row's stable identity: its data file
    * (normalized path) and its ordinal within that file. User-
    * queryable (`SELECT _file, _pos FROM gt.t`, Delta/Iceberg
    * parity); `_file` is the handle the group-based row-level
    * operations' projecting write rides, and `(_file, _pos)` is the
    * rowId delta-based (merge-on-read) operations key their deletion
    * vectors by ([[GraftDeltaOperation.rowId]]). */
  override def metadataColumns(): Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = VersionedTable.MetaFileCol
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String =
        "normalized path of the data file holding the row"
    },
    new MetadataColumn {
      override def name(): String = VersionedTable.MetaPosCol
      override def dataType(): DataType = LongType
      override def isNullable: Boolean = false
      override def comment(): String =
        "row ordinal within the row's data file"
    })
  private def spark: SparkSession = SparkSession.active

  /** Resolved once: either the travel target or the head AT LOAD. */
  private[sources] lazy val pinned: Int = {
    val vs = VersionedTable.versions(spark, path)
    require(vs.nonEmpty, s"no committed versions in $path")
    versionOpt match {
      case Some(v) =>
        require(vs.contains(v), s"version $v not in $vs"); v
      case None => vs.last
    }
  }

  override def name(): String = displayName
  override def version(): String = pinned.toString

  /** Version-qualified identity for Spark's cross-statement relation
    * cache (`CatalogV2Util.isSameTable` compares `Table.id`): every
    * commit changes the head version, so a cached relation from
    * before an ALTER/INSERT/DELETE stops matching and the next
    * statement re-resolves fresh. Leaving the default (null) makes
    * EVERY load look like the same table and serves stale schemas. */
  override def id(): String = s"graft:$path#v$pinned"

  /** Schema from the pinned manifest's `sc` line — zero data I/O per
    * statement; the merged-footer read remains only as the legacy
    * fallback (pre-sc manifests). */
  override lazy val schema: StructType =
    VersionedTable.tableSchemaAt(spark, path, pinned)
      .getOrElse(VersionedTable.read(spark, path, Some(pinned)).schema)

  /** Read once per table handle: Spark calls properties() repeatedly
    * during resolution/DESCRIBE/write planning of one statement, and
    * each registry read is an FS list + one open per key — a lazy val
    * makes that one round-trip set per statement (the handle is
    * version-pinned anyway, so per-call re-reads bought nothing). */
  private lazy val properties0: java.util.Map[String, String] =
    (VersionedTable.tablePropertiesOf(spark, path) ++
      Map(TableCatalog.PROP_PROVIDER -> "graft",
        TableCatalog.PROP_LOCATION -> path)).asJava

  override def properties(): java.util.Map[String, String] = properties0

  /** DESCRIBE surface: the identity partition spec, when coherent
    * (derived bucket/transform tag columns stay internal). */
  override def partitioning(): Array[Transform] = {
    val lines = VersionedTable.manifest(spark, path, pinned)
    VersionedTable.identitySpecOf(lines).filterNot(_.startsWith("__"))
      .map(c => org.apache.spark.sql.connector.expressions.Expressions
        .identity(c)).toArray
  }

  /** AUTOMATIC_SCHEMA_EVOLUTION opts into `MERGE WITH SCHEMA
    * EVOLUTION` (the analyzer's ResolveMergeIntoSchemaEvolution
    * gates on it, then drives this catalog's alterTable with the
    * source-only columns); plain MERGE stays schema-strict. */
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = {
    val partCols = VersionedTable
      .partitionsOf(VersionedTable.manifest(spark, path, pinned))
      .map(_._1).toSet
    new GraftScanBuilder(path, pinned, schema, partCols)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(versionOpt.isEmpty,
      "cannot write to a time-travelled snapshot")
    new GraftWriteBuilder(path)
  }

  /** COPY-ON-WRITE (group-based) vs MERGE-ON-READ (delta-based) per
    * command, by table property — Iceberg's exact dial:
    * `write.update.mode` / `write.merge.mode` / `write.delete.mode`
    * = 'merge-on-read' routes the statement through
    * [[GraftDeltaOperation]] (positional deletion vectors + appended
    * files, nothing rewritten); default stays group-based COW.
    * (Predicate DELETEs that translate never reach here —
    * [[SupportsDelete.deleteWhere]] handles them with its own
    * routing; this governs the fallback DELETE plus UPDATE/MERGE.) */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(versionOpt.isEmpty,
      "cannot run DML against a time-travelled snapshot")
    new GraftRowLevelOperationBuilder(path, pinned, info)
  }

  /** SQL `TRUNCATE TABLE` ([[TruncatableTable]]): one metadata-only
    * overwrite commit carrying the current LOGICAL schema and the
    * identity partition spec — zero data I/O (the empty snapshot
    * writes no files), history stays time-travelable, the schema and
    * spec survive so the next INSERT behaves exactly as before the
    * truncate. Old data files vacuum away with their versions. */
  override def truncateTable(): Boolean = {
    require(versionOpt.isEmpty,
      "cannot truncate a time-travelled snapshot")
    val lines = VersionedTable.manifest(spark, path, pinned)
    val spec = VersionedTable.identitySpecOf(lines)
      .filterNot(_.startsWith("__")) // derived tag specs die with the data
    VersionedTable.truncateCommit(spark, path, schema, spec)
    true
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    versionOpt.isEmpty &&
      filters.forall(f => GraftFilterTranslation.column(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    import org.apache.spark.sql.functions.lit
    require(versionOpt.isEmpty,
      "cannot delete from a time-travelled snapshot")
    val pred = filters.toSeq
      .flatMap(GraftFilterTranslation.column)
      .reduceOption(_ && _).getOrElse(lit(true))
    // every claimed conjunct — integral AND string ranges, partition
    // tags, null tests — prunes the matched-file probe by manifest
    // metadata (O(candidate files), not O(table)): a DELETE scoped to
    // one string partition opens only that partition's files
    val partCols = VersionedTable
      .partitionsOf(VersionedTable.manifest(spark, path, pinned))
      .map(_._1).toSet
    val translated = filters.toSeq
      .map(f => GraftFilterTranslation.translate(f, schema, partCols))
    val preds = translated.flatMap(_.getOrElse(Nil))
    // when EVERY filter translated, the claimed conjunction IS the
    // whole predicate — the router may then prove full-file matches
    // from manifest stats alone and delete them as pure metadata
    // (zero probe jobs for a contained-range DELETE)
    val predsExact = translated.forall(_.isDefined)
    // copy-on-write vs merge-on-read (deletion-vector sidecar) by the
    // write.delete.mode table property, cost-based when unset — a
    // point DELETE commits O(matched rows) of tombstones instead of
    // rewriting every file that holds one doomed row
    VersionedTable.deleteCommitRouted(spark, path, pred, preds,
      predsExact)
  }
}

/** INSERT INTO → append commit; INSERT OVERWRITE → truncating commit.
  * Each insert is ONE atomic manifest publish. On a table created (or
  * last written) with an identity partition spec, inserts route
  * through [[VersionedTable.commitPartitionedMulti]] so every new
  * file lands pt-tagged — partition-value predicates prune by
  * manifest metadata from the first SQL row written. */
private[sources] class GraftWriteBuilder(path: String)
    extends WriteBuilder with SupportsTruncate {
  private var overwrite = false
  override def truncate(): WriteBuilder = { overwrite = true; this }

  /** The table's identity partition spec, if every spec column is a
    * real data column of this write (derived bucket/transform tag
    * columns fall back to the plain commit — mixing would orphan the
    * derived spec). Discovered from the head's coherent per-file tags
    * or, on an empty just-created table, the creating commit's
    * `partitioned_by` meta. */
  private def specFor(data: DataFrame): Seq[String] = {
    val spark = data.sparkSession
    val vs = VersionedTable.versions(spark, path)
    if (vs.isEmpty) return Nil
    val lines = VersionedTable.manifest(spark, path, vs.last)
    val spec = VersionedTable.identitySpecOf(lines)
    if (spec.nonEmpty && spec.forall(data.columns.contains)) spec
    else Nil
  }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      (data: DataFrame, ovr: Boolean) => {
        val spark = data.sparkSession
        val spec = specFor(data)
        val append = !(overwrite || ovr)
        // write.stats.columns: SQL inserts stamp declared st stats so
        // file skipping works without a separate ANALYZE (one O(1)
        // sidecar read per statement)
        val statCols = VersionedTable.declaredStatCols(spark, path,
          data.columns.toSeq)
        if (spec.nonEmpty) {
          // commutative appends: retry past concurrent-version races
          // (recomputes the head each attempt); overwrite stays
          // last-writer-wins single-shot
          var attempts = if (append) 5 else 1
          var done = false
          while (!done) {
            attempts -= 1
            try {
              VersionedTable.commitPartitionedMulti(spark, path, data,
                spec, append = append, statCols = statCols)
              done = true
            } catch {
              case e: RuntimeException if attempts > 0 &&
                  e.getMessage != null &&
                  e.getMessage.contains("already committed") => ()
            }
          }
        } else if (append)
          VersionedTable.commitWithRetry(spark, path, data, append = true,
            statCols = statCols)
        else
          VersionedTable.commit(spark, path, data, append = false,
            statCols = statCols)
        ()
      }
  }
}

/** Negotiates pushdown with Catalyst, then builds the scan. */
private[sources] class GraftScanBuilder(path: String, version: Int,
                                        fullSchema: StructType,
                                        partCols: Set[String])
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates {

  private var required: StructType = fullSchema
  private var preds: Seq[ScanPred] = Nil
  private var claimed: Array[Filter] = Array.empty
  private var residual: Array[Filter] = Array.empty
  private var agg: Option[(Seq[GraftAgg], StructType)] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val split = filters.map(f =>
      GraftFilterTranslation.translate(f, fullSchema, partCols) match {
        case Some(ps) => Left((f, ps))
        case None => Right(f)
      })
    claimed = split.collect { case Left((f, _)) => f }
    preds = split.collect { case Left((_, ps)) => ps }.flatten.toSeq
    residual = split.collect { case Right(f) => f }
    residual // Spark evaluates these above the scan
  }

  override def pushedFilters(): Array[Filter] = claimed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  private def planAgg(a: Aggregation): Option[(Seq[GraftAgg], StructType)] = {
    if (a.groupByExpressions().nonEmpty) return None
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[(String, DataType)] = e match {
      case r: NamedReference if r.fieldNames().length == 1 =>
        val c = r.fieldNames()(0)
        fullSchema.fields.find(_.name == c).map(f => (c, f.dataType))
          .filter { case (_, dt) => dt match {
            case ByteType | ShortType | IntegerType | LongType |
                 StringType => true
            case _ => false // st rendering only order-faithful there
          } }
      case _ => None
    }
    val planned = a.aggregateExpressions().toSeq.map {
      case _: CountStar =>
        Some((GraftAgg.CountStar,
          StructField("count(*)", LongType, nullable = false)))
      case m: Min => colOf(m.column()).map { case (c, dt) =>
        (GraftAgg.MinOf(c, dt), StructField(s"min($c)", dt)) }
      case m: Max => colOf(m.column()).map { case (c, dt) =>
        (GraftAgg.MaxOf(c, dt), StructField(s"max($c)", dt)) }
      case _ => None
    }
    if (planned.exists(_.isEmpty)) None
    else Some((planned.flatten.map(_._1),
      StructType(planned.flatten.map(_._2))))
  }

  override def supportCompletePushDown(a: Aggregation): Boolean =
    residual.isEmpty && planAgg(a).isDefined

  override def pushAggregation(a: Aggregation): Boolean = {
    // complete-or-nothing: partial pushdown would change row semantics
    if (residual.nonEmpty) return false
    planAgg(a) match {
      case Some(p) => agg = Some(p); true
      case None => false
    }
  }

  override def build(): Scan =
    new GraftScan(path, version, preds, required, agg)
}

private[sources] sealed trait GraftAgg
private[sources] object GraftAgg {
  case object CountStar extends GraftAgg
  final case class MinOf(c: String, dt: DataType) extends GraftAgg
  final case class MaxOf(c: String, dt: DataType) extends GraftAgg
}

/** The negotiated scan: data rows via the library's own read (V1Scan
  * seam keeps the inner vectorized parquet plan), aggregates via the
  * metadata-first count/extremes, stats from the manifest. */
private[sources] class GraftScan(path: String, version: Int,
                                 preds: Seq[ScanPred],
                                 required: StructType,
                                 agg: Option[(Seq[GraftAgg], StructType)])
    extends V1Scan with SupportsReportStatistics {

  private def spark: SparkSession = SparkSession.active

  override def readSchema(): StructType = agg.map(_._2).getOrElse(required)

  override def description(): String = {
    val p = if (preds.isEmpty) "" else s" preds=${preds.mkString(",")}"
    val a = agg.fold("")(x => s" agg=${x._1.mkString(",")}")
    s"graft $path v$version$p$a"
  }

  private[sources] def dataFrame(): DataFrame = agg match {
    case Some((specs, aggSchema)) =>
      def conv(v: Option[String], dt: DataType): Any =
        v.map(s => dt match {
          case LongType => s.toLong
          case IntegerType => s.toInt
          case ShortType => s.toShort
          case ByteType => s.toByte
          case _ => s
        }).orNull
      // one boundary-file classification per column: `min(c), max(c)`
      // in the same SELECT share a single minMaxWhere call
      val minMaxByCol = scala.collection.mutable.Map
        .empty[String, (Option[String], Option[String])]
      def minMaxOf(c: String): (Option[String], Option[String]) =
        minMaxByCol.getOrElseUpdate(c,
          VersionedTable.minMaxWhere(spark, path, c, preds, Some(version)))
      val values = specs.map {
        case GraftAgg.CountStar =>
          VersionedTable.countWhere(spark, path, preds, Some(version))
        case GraftAgg.MinOf(c, dt) => conv(minMaxOf(c)._1, dt)
        case GraftAgg.MaxOf(c, dt) => conv(minMaxOf(c)._2, dt)
      }
      spark.createDataFrame(
        java.util.List.of(Row(values: _*)), aggSchema)
    case None =>
      val needPos = required.fieldNames.contains(VersionedTable.MetaPosCol)
      val base =
        if (needPos ||
          required.fieldNames.contains(VersionedTable.MetaFileCol))
          VersionedTable.readWhereTagged(spark, path, preds,
            Some(version), withPos = needPos)
        else if (preds.isEmpty)
          VersionedTable.read(spark, path, Some(version))
        else VersionedTable.readWhere(spark, path, preds, Some(version))
      // prune to the required columns so parquet reads only those;
      // zero-column required (bare COUNT) selects no columns at all
      base.select(required.fieldNames.toSeq.map(col): _*)
  }

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T = {
    val outer = this
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = outer.readSchema()
      // the planned rows are already InternalRows of `schema`: hand
      // them over as-is instead of a round trip through external Row
      override def needConversion: Boolean = false
      override def buildScan(): RDD[Row] =
        outer.dataFrame().queryExecution.toRdd.asInstanceOf[RDD[Row]]
    }.asInstanceOf[T]
  }

  /** Plan-time statistics from the MANIFEST ALONE on current-format
    * tables: candidate-file byte sizes come from the fz lines the
    * commit recorded, so planning a query over a 100k-file table
    * costs zero filesystem RPCs (the Delta/Iceberg discipline);
    * getFileStatus remains only as the legacy fallback for files
    * committed before fz lines existed. */
  override def estimateStatistics(): Statistics = {
    val lines = VersionedTable.manifest(spark, path, version)
    val cand = VersionedTable.scanCandidates(lines, preds)
    // exact when the manifest covers every candidate and no deletion
    // vectors are live; absent otherwise (never a wrong number)
    val rows: Option[Long] =
      if (preds.nonEmpty || VersionedTable.dvFilesOf(lines).nonEmpty) None
      else VersionedTable.manifestRowCounts(lines).map(_.values.sum)
    val sizes = VersionedTable.fileSizesOf(lines)
    val legacy = cand.filterNot(f => sizes.contains(VersionedTable.norm(f)))
    if (legacy.nonEmpty)
      VersionedTable.fileSizeRpcNotifier("estimateStatistics", legacy.size)
    val conf = spark.sparkContext.hadoopConfiguration
    val bytes: Long =
      cand.flatMap(f => sizes.get(VersionedTable.norm(f))).sum +
        legacy.map { f =>
          val p = new Path(f)
          scala.util.Try(p.getFileSystem(conf).getFileStatus(p).getLen)
            .getOrElse(0L)
        }.sum
    new Statistics {
      override def sizeInBytes(): OptionalLong = OptionalLong.of(bytes)
      override def numRows(): OptionalLong =
        rows.map(OptionalLong.of).getOrElse(OptionalLong.empty())
    }
  }
}

/** `sources.Filter` → [[VersionedTable.ScanPred]] translation. A
  * filter may be CLAIMED only when the ScanPred conjunction is
  * row-equivalent (the scan re-applies it exactly); pruning soundness
  * then comes free from [[VersionedTable.scanCandidates]]'
  * cannot-rule-out contract. */
private[sources] object GraftFilterTranslation {
  import ScanPred._

  private def integral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private def longOf(v: Any): Option[Long] = v match {
    case b: Byte => Some(b.toLong)
    case s: Short => Some(s.toLong)
    case i: Int => Some(i.toLong)
    case l: Long => Some(l)
    case _ => None
  }

  /** `sources.Filter` → [[org.apache.spark.sql.Column]], COMPLETE
    * over every shape Spark's filter translation produces — what SQL
    * DELETE needs: [[GraftTable.deleteWhere]] must delete ALL rows the
    * conjunction matches, so the translation can't drop a conjunct the
    * way scan pruning may. None only for shapes that never reach a
    * DSv2 deleteWhere (e.g. V2 expressions a future Spark might add). */
  def column(f: Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    f match {
      case sources.EqualTo(c, v) => Some(col(c) === lit(v))
      case sources.EqualNullSafe(c, v) => Some(col(c) <=> lit(v))
      case sources.GreaterThan(c, v) => Some(col(c) > lit(v))
      case sources.GreaterThanOrEqual(c, v) => Some(col(c) >= lit(v))
      case sources.LessThan(c, v) => Some(col(c) < lit(v))
      case sources.LessThanOrEqual(c, v) => Some(col(c) <= lit(v))
      case sources.In(c, vs) => Some(col(c).isin(vs.toSeq: _*))
      case sources.IsNull(c) => Some(col(c).isNull)
      case sources.IsNotNull(c) => Some(col(c).isNotNull)
      case sources.And(l, r) =>
        for { a <- column(l); b <- column(r) } yield a && b
      case sources.Or(l, r) =>
        for { a <- column(l); b <- column(r) } yield a || b
      case sources.Not(x) => column(x).map(!_)
      case sources.StringStartsWith(c, v) => Some(col(c).startsWith(v))
      case sources.StringEndsWith(c, v) => Some(col(c).endsWith(v))
      case sources.StringContains(c, v) => Some(col(c).contains(v))
      case sources.AlwaysTrue() => Some(lit(true))
      case sources.AlwaysFalse() => Some(lit(false))
      case _ => None
    }
  }

  /** Some(preds) = claim the filter as this exact conjunction;
    * None = leave it residual for Spark. */
  def translate(f: Filter, schema: StructType,
                partCols: Set[String]): Option[Seq[ScanPred]] = {
    def typeOf(c: String): Option[DataType] =
      schema.fields.find(_.name == c).map(_.dataType)
    f match {
      case sources.EqualTo(c, v) => (typeOf(c), v) match {
        case (Some(dt), _) if integral(dt) =>
          longOf(v).map(x => Seq(NumBetween(c, x, x)))
        case (Some(StringType), s: String) =>
          val base = Seq(StrBetween(c, s, s))
          // a pt tag on the column prunes even stats-uncovered files
          Some(if (partCols(c)) base :+ PartIn(c, Seq(s)) else base)
        case _ => None
      }
      case sources.GreaterThan(c, v) if typeOf(c).exists(integral) =>
        longOf(v).filter(_ < Long.MaxValue)
          .map(x => Seq(NumBetween(c, x + 1, Long.MaxValue)))
      case sources.GreaterThanOrEqual(c, v) if typeOf(c).exists(integral) =>
        longOf(v).map(x => Seq(NumBetween(c, x, Long.MaxValue)))
      case sources.LessThan(c, v) if typeOf(c).exists(integral) =>
        longOf(v).filter(_ > Long.MinValue)
          .map(x => Seq(NumBetween(c, Long.MinValue, x - 1)))
      case sources.LessThanOrEqual(c, v) if typeOf(c).exists(integral) =>
        longOf(v).map(x => Seq(NumBetween(c, Long.MinValue, x)))
      case sources.IsNull(c) if typeOf(c).isDefined =>
        Some(Seq(IsNull(c)))
      case sources.IsNotNull(c) if typeOf(c).isDefined =>
        Some(Seq(NotNull(c)))
      case sources.In(c, vs)
          if typeOf(c).contains(StringType) && partCols(c) &&
            vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
        // PartIn's re-applied predicate is cast-to-string isin —
        // exact for string columns only
        Some(Seq(PartIn(c, vs.toSeq.map(_.asInstanceOf[String]))))
      // TRUE claims as the empty conjunction — an unconditional
      // DELETE is then provably all-contained and goes metadata-only
      // (AlwaysFalse stays unclaimed: Nil would claim TRUE)
      case sources.AlwaysTrue() => Some(Nil)
      case _ => None
    }
  }
}

/** `spark.read.format("graft").option("versionAsOf", 3).load(path)` —
  * the path-based twin of [[GraftCatalog]] for sessions that don't
  * configure a catalog. Also a STREAMING source: extending
  * [[graft.streaming.GraftStreamSourceProvider]] makes
  * `spark.readStream.format("graft")` resolve to the change-feed
  * source (the table declares no MICRO_BATCH_READ capability, so
  * Spark's resolution falls back to the V1 streaming relation). */
class GraftSource extends graft.streaming.GraftStreamSourceProvider
    with TableProvider
    with org.apache.spark.sql.sources.StreamSinkProvider {
  override def shortName(): String = "graft"

  /** `writeStream.format("graft")` — the V1 streaming SINK twin
    * ([[graft.streaming.GraftStreamSinkProvider]]): per-batch
    * idempotent commits, so readStream → transform → writeStream
    * composes without library calls. */
  override def createSink(sqlContext: org.apache.spark.sql.SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink =
    new graft.streaming.GraftStreamSinkProvider()
      .createSink(sqlContext, parameters, partitionColumns, outputMode)

  private def pathFrom(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "graft source needs a path")
    p
  }

  private def versionFrom(options: CaseInsensitiveStringMap)
      : Option[Int] = {
    val spark = SparkSession.active
    val v = Option(options.get("versionAsOf")).map(_.toInt)
    val ts = Option(options.get("timestampAsOf")).map(_.toLong)
    require(v.isEmpty || ts.isEmpty,
      "versionAsOf and timestampAsOf are mutually exclusive")
    v.orElse(ts.map(t =>
      VersionedTable.versionAsOf(spark, pathFrom(options), t)))
  }

  override def inferSchema(options: CaseInsensitiveStringMap)
      : StructType = {
    val p = pathFrom(options)
    // a table that does not exist YET has no schema to infer — return
    // empty instead of failing so `writeStream.format("graft")
    // .start(newTable)` can resolve through to the V1 sink (which
    // creates the table on the first batch); a batch READ of a
    // missing table still fails loudly at scan build. ONLY absence
    // maps to "no schema": a protocol-gate or transient filesystem
    // error on an existing table propagates instead of silently
    // yielding an empty schema and a confusing downstream failure
    val exists =
      try VersionedTable.versions(SparkSession.active, p).nonEmpty
      catch { case _: java.io.FileNotFoundException => false }
    if (!exists) new StructType()
    else new GraftTable(p, p, versionFrom(options)).schema
  }

  override def getTable(schema: StructType,
                        partitioning: Array[Transform],
                        properties: java.util.Map[String, String])
      : Table = {
    val options = new CaseInsensitiveStringMap(properties)
    new GraftTable(pathFrom(options), pathFrom(options),
      versionFrom(options))
  }

  override def supportsExternalMetadata(): Boolean = false
}
