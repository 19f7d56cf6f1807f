package graft.incremental

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownAggregates,
  SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperation,
  RowLevelOperationBuilder, RowLevelOperationInfo, SupportsTruncate, V1Write,
  Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.{BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The snapshot store as a Spark SQL CATALOG (DataSource v2
  * `TableCatalog`) — the rung that gives a pure-SQL user DML and time
  * travel, which no v1 relation can express:
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", "graft.incremental.GraftCatalog")
  *
  *   SELECT * FROM graft.`/data/corpus` WHERE n_chars > 300     -- masked,
  *                                               -- manifest-pruned read
  *   SELECT * FROM graft.`/data/corpus` VERSION AS OF 3          -- time travel
  *   SELECT * FROM graft.`/data/corpus` TIMESTAMP AS OF '2026-08-01 00:00:00'
  *   INSERT INTO graft.`/data/corpus` SELECT ...                 -- atomic append
  *   INSERT OVERWRITE graft.`/data/corpus` SELECT ...            -- atomic replace
  *   DELETE FROM graft.`/data/corpus` WHERE doc_id % 17 = 0      -- keyed delete
  *   CREATE TABLE graft.`/data/t2` (doc_id BIGINT, text STRING)
  *     OPTIONS ('key' 'doc_id')                                  -- DDL (+ CTAS)
  *   DROP TABLE graft.`/data/t2`
  * }}}
  *
  * == Identifiers are PATHS ==
  * A backquoted absolute path (`` graft.`/abs/path` ``) addresses the
  * table directly — the Delta-style path catalog. With a `warehouse`
  * catalog option set (`spark.sql.catalog.graft.warehouse=/data`),
  * relative names resolve under it: `graft.corpus` →
  * `/data/corpus`, `graft.ns.corpus` → `/data/ns/corpus`.
  *
  * == The key column needs no side channel ==
  * Every commit records its key column in the manifest header
  * (`#key`), so `loadTable` constructs a fully keyed handle from the
  * path alone — INSERT/DELETE work with no OPTIONS on the query.
  * `CREATE TABLE` (the one call that precedes any manifest) takes the
  * key as a table property/option.
  *
  * == Execution ==
  * Reads plan through [[GraftScan]]: pushdown lands at the ScanBuilder
  * (filters + required columns), file pruning and the deletion-vector
  * anti-join ride the table's own masked [[SnapshotTable.scanAt]] plan,
  * and the `V1Scan` bridge hands Spark the resulting relation — the
  * same migration rung Spark's own JDBC v2 connector uses, so no
  * second read path exists to diverge from the Scala API. Writes plan
  * through `V1Write`/`InsertableRelation` onto the table's ATOMIC
  * commits ([[SnapshotTable.append]]/[[SnapshotTable.create]]) — the
  * driver-side manifest commit IS the transaction, so a distributed
  * BatchWrite protocol would add coordination without adding atomicity.
  * `DELETE FROM` maps translatable predicates onto the keyed
  * copy-on-write/vector delete ([[SnapshotTable.delete]]); anything the
  * exact translation cannot express is REJECTED at analysis
  * (`canDeleteWhere` false), never approximated.
  *
  * Time-travel loads (`VERSION AS OF` / `TIMESTAMP AS OF`) resolve via
  * [[SnapshotTable.schemaAt]]/[[SnapshotTable.versionAsOf]] and return
  * a READ-ONLY pinned table — writing to history fails at analysis. */
final class GraftCatalog extends TableCatalog with ProcedureCatalog
    with StagingTableCatalog {

  private var catalogName: String = "graft"
  private var warehouse: Option[String] = None

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).map(_.stripSuffix("/"))
  }

  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active

  private def pathOf(ident: Identifier): String =
    if (ident.name.startsWith("/")) {
      if (ident.namespace.nonEmpty) throw new NoSuchTableException(ident)
      ident.name
    } else warehouse match {
      case Some(w) => (w +: ident.namespace.toSeq :+ ident.name).mkString("/")
      case None => throw new IllegalArgumentException(
        s"catalog $catalogName addresses tables by PATH — use a backquoted " +
          s"absolute path ($catalogName.`/abs/path`) or set the catalog's " +
          s"warehouse option (spark.sql.catalog.$catalogName.warehouse) to " +
          "resolve relative names under it")
    }

  /** Handle cache: ONE SnapshotTable per path, so repeated SQL
    * statements reuse its validated manifest parse cache instead of
    * re-reading the `#key` header and re-parsing the manifest per
    * query. Correctness is unaffected — a handle caches PARSES, never
    * resolution: every resolve re-lists the manifest dir newest-first,
    * and the parse cache validates each hit against the listing's
    * (length, mtime). The handle itself is thread-safe for concurrent
    * statements (the parse cache is a ConcurrentHashMap; the mutable
    * members are diagnostics seams). Invalidated on local DROP/CREATE
    * — a recreate may change the key column. */
  private val handles =
    new java.util.concurrent.ConcurrentHashMap[String, SnapshotTable]()

  /** A keyed handle from the path alone: the key column comes from the
    * newest committed manifest's `#key` header. A cache HIT re-probes
    * that header (cheap — one newest-manifest read the parse cache
    * already validates) and evicts on key mismatch: a drop+recreate by
    * ANOTHER session or the Scala API bypasses this catalog's local
    * invalidation, and a stale key would make row-level DML address
    * the wrong row-id column. */
  private def handleAt(ident: Identifier): SnapshotTable = {
    val dir = pathOf(ident)
    val cached = handles.get(dir)
    if (cached != null) {
      // Re-probe through the CACHED handle (the resolve fast path makes
      // this two stat probes on a quiescent table — zero listings, zero
      // manifest reads).
      cached.recordedKey match {
        case Some(k) if k == cached.keyColumn => return cached
        case _ => handles.remove(dir, cached) // recreated with new key, or dropped
      }
    }
    val key = SnapshotTable.keyAt(spark, dir).getOrElse(
      throw new NoSuchTableException(ident))
    handles.putIfAbsent(dir, new SnapshotTable(spark, dir, key))
    handles.get(dir)
  }

  override def tableExists(ident: Identifier): Boolean =
    try SnapshotTable.keyAt(spark, pathOf(ident)).isDefined
    catch { case _: IllegalArgumentException => false }

  override def loadTable(ident: Identifier): Table =
    new GraftTable(handleAt(ident), s"$catalogName.`${pathOf(ident)}`", None)

  /** `VERSION AS OF <n>` — a committed version number. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val tbl = handleAt(ident)
    val v = try version.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"VERSION AS OF on $catalogName tables takes a committed version NUMBER, got '$version'")
    }
    tbl.schemaAt(Some(v)) // fail now (unknown version), not at first scan
    new GraftTable(tbl, s"$catalogName.`${pathOf(ident)}`", Some(v))
  }

  /** `TIMESTAMP AS OF <ts>` — Spark hands epoch MICROseconds; resolved
    * like [[SnapshotTable.versionAsOf]] (newest commit at or below). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val tbl = handleAt(ident)
    val v = tbl.versionAsOf(timestamp / 1000L).getOrElse(
      throw new IllegalArgumentException(
        s"no committed version at ${pathOf(ident)} as of timestamp $timestamp (us)"))
    new GraftTable(tbl, s"$catalogName.`${pathOf(ident)}`", Some(v))
  }

  private def keyProp(properties: util.Map[String, String]): String = {
    val props = properties.asScala
    props.get("key").orElse(props.get(TableCatalog.OPTION_PREFIX + "key"))
      .getOrElse(throw new IllegalArgumentException(
        "CREATE TABLE on a graft catalog needs the key column: OPTIONS ('key' '<column>')"))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    require(partitions.isEmpty,
      "graft tables cluster on their key (clusterPartitions) — PARTITIONED BY is not supported")
    val key = keyProp(properties)
    require(schema.fieldNames.contains(key),
      s"key column $key missing from CREATE TABLE schema ${schema.fieldNames.mkString(", ")}")
    val dir = pathOf(ident)
    handles.remove(dir)
    if (SnapshotTable.keyAt(spark, dir).isDefined)
      throw new TableAlreadyExistsException(ident)
    val tbl = new SnapshotTable(spark, dir, key)
    // LocalRelation-backed empty frame (not an emptyRDD LogicalRDD):
    // stage()'s provably-empty fast path recognizes it, so a CREATE
    // TABLE commits pure manifest metadata — zero Spark jobs
    tbl.create(spark.createDataFrame(
      java.util.Collections.emptyList[Row](), schema))
    new GraftTable(tbl, s"$catalogName.`$dir`", None)
  }

  /** `ALTER TABLE graft.\`/path\` RENAME COLUMN a TO b` / `DROP COLUMN
    * a` / `ADD COLUMNS (c TYPE, ...)` — manifest-only commits through
    * the table's column mapping ([[SnapshotTable.alterColumns]]): zero
    * data files rewritten — old files serve the renamed column, and
    * read added columns as null. A MULTI-change statement (`ADD
    * COLUMNS` with several fields) lands as ONE commit, all-or-nothing
    * — a partially applied ALTER is never visible in history. Every
    * other change (type alters, positioned or non-nullable adds) is
    * rejected loudly. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val tbl = handleAt(ident)
    val mapped = changes.flatMap {
      case r: TableChange.RenameColumn =>
        require(r.fieldNames.length == 1,
          "graft tables have no nested columns to rename")
        Some(SnapshotTable.Rename(r.fieldNames.head, r.newName))
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames.length == 1,
          "graft tables have no nested columns to drop")
        if (tbl.schema.fieldNames.contains(d.fieldNames.head) || !d.ifExists())
          Some(SnapshotTable.Drop(d.fieldNames.head))
        else None
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1,
          "graft tables have no nested columns to add into")
        require(a.isNullable,
          s"added column ${a.fieldNames.head} must be nullable — rows committed " +
            "before the add have no value for it")
        require(a.position() == null,
          "added columns append at the end of the schema — FIRST/AFTER positions " +
            "are not supported (data files are never rewritten by DDL)")
        Some(SnapshotTable.Add(a.fieldNames.head, a.dataType))
      case u: TableChange.UpdateColumnType =>
        require(u.fieldNames.length == 1,
          "graft tables have no nested columns to widen")
        // only the lossless lattice passes (validated in alterColumns)
        Some(SnapshotTable.Widen(u.fieldNames.head, u.newDataType))
      case other => throw new UnsupportedOperationException(
        s"ALTER TABLE change $other is not supported on graft tables — columns " +
          "rename/drop/add/widen only; lossy type changes never happen")
    }
    if (mapped.nonEmpty) tbl.alterColumns(mapped)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = pathOf(ident)
    handles.remove(dir)
    if (SnapshotTable.keyAt(spark, dir).isEmpty) return false
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "RENAME TABLE is not supported — a graft table IS its path")

  /** `SHOW TABLES IN graft[.ns]` — meaningful only with a `warehouse`
    * configured: the namespace maps to a warehouse subdirectory, and a
    * child directory is a table iff its newest manifest records a key
    * (one header read per child — the same probe [[tableExists]]
    * runs). Without a warehouse the catalog is purely path-addressed
    * (any filesystem directory may hold a table) and there is nothing
    * enumerable — empty, not an error. */
  override def listTables(namespace: Array[String]): Array[Identifier] =
    warehouse match {
      case None => Array.empty
      case Some(w) =>
        val dir = (w +: namespace.toSeq).mkString("/")
        val p = new org.apache.hadoop.fs.Path(dir)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(p)) Array.empty
        else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
          .filter(n => SnapshotTable.keyAt(spark, s"$dir/$n").isDefined)
          .sorted.map(Identifier.of(namespace, _))
    }

  /** `CREATE OR REPLACE TABLE` / `REPLACE TABLE [AS SELECT]` — the
    * staged-commit surface. A REPLACE on an existing table is NOT a
    * drop+recreate: it lands as the table's OVERWRITE commit
    * ([[SnapshotTable.create]] over an existing manifest), so history
    * stays time-travelable, column-mapping physical names carry
    * forward, and the physicals of dropped mapped columns retire —
    * exactly the Scala path's semantics, now reachable from SQL.
    * CREATE (the or-create arm / CTAS) stages by creating eagerly and
    * dropping on abort — the write needs a live table to land in, and
    * the abort hook makes a failed CTAS leave nothing behind. */
  override def stageCreate(ident: Identifier, info: TableInfo): StagedTable = {
    val created = createTable(ident, info.schema(), info.partitions(),
      info.properties()).asInstanceOf[GraftTable]
    new StagedGraftTable(created, onAbort = () => { dropTable(ident); () })
  }

  override def stageReplace(ident: Identifier, info: TableInfo): StagedTable = {
    val dir = pathOf(ident)
    val key = keyProp(info.properties())
    require(info.schema().fieldNames.contains(key),
      s"key column $key missing from REPLACE TABLE schema " +
        info.schema().fieldNames.mkString(", "))
    val existing = SnapshotTable.keyAt(spark, dir).getOrElse(
      throw new NoSuchTableException(ident))
    require(key == existing,
      s"REPLACE TABLE cannot change the key column ($existing -> $key) — " +
        "every open handle and historical version addresses rows by it; " +
        "DROP and CREATE for a re-keyed table")
    val tbl = handleAt(ident)
    new StagedReplaceGraftTable(spark, tbl,
      s"$catalogName.`$dir`", info.schema(),
      tbl.currentVersion.getOrElse(throw new NoSuchTableException(ident)))
  }

  override def stageCreateOrReplace(ident: Identifier, info: TableInfo): StagedTable =
    if (tableExists(ident)) stageReplace(ident, info) else stageCreate(ident, info)

  /** SQL MAINTENANCE VERBS (`CALL graft.optimize(...)` etc.) — see
    * [[GraftProcedures]]. The `table` argument resolves through the
    * same path rules as table identifiers (absolute, or
    * warehouse-relative). */
  override def loadProcedure(ident: Identifier): procedures.UnboundProcedure = {
    require(ident.namespace.isEmpty,
      s"graft procedures live at the catalog root: CALL $catalogName.${ident.name}(...)")
    GraftProcedures.load(ident.name, p =>
      if (p.startsWith("/")) p
      else pathOf(Identifier.of(Array.empty, p))
    ).getOrElse(throw new UnsupportedOperationException(
      s"no procedure ${ident.name} — graft ships ${GraftProcedures.names.mkString(", ")}"))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.nonEmpty) Array.empty
    else GraftProcedures.names.map(n => Identifier.of(Array.empty, n)).toArray
}

/** One snapshot table (optionally PINNED to a historical version)
  * through the DSv2 `Table` contract — see [[GraftCatalog]]. */
private[graft] final class GraftTable(tbl: SnapshotTable, ident: String,
    pinned: Option[Long]) extends Table
    with SupportsRead with SupportsWrite with SupportsDelete
    with SupportsRowLevelOperations {

  /** `MERGE INTO` / `UPDATE` / non-translatable `DELETE`: the
    * delta-based row-level path ([[GraftRowLevelOperation]]) — updates
    * become delete+insert, executors stage the action rows, and the
    * driver applies ONE atomic [[SnapshotTable.applyDelta]].
    * Translatable DELETEs still take the metadata route
    * (OptimizeMetadataOnlyDeleteFromTable swaps back when
    * [[canDeleteWhere]] accepts). */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    if (pinned.isDefined) throw new UnsupportedOperationException(
      s"$ident is pinned VERSION AS OF ${pinned.get} — history is immutable")
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation =
        new GraftRowLevelOperation(tbl.location, tbl.keyColumn, info.command)
    }
  }

  override def name(): String = ident + pinned.fold("")(v => s" VERSION AS OF $v")

  /** Operational metadata for `DESCRIBE TABLE EXTENDED` / `SHOW
    * TBLPROPERTIES`: the key column, resolved version, commit op/tag,
    * live file count and logical rows — all manifest arithmetic, no
    * data reads. */
  override def properties(): util.Map[String, String] = {
    val props = new util.HashMap[String, String]()
    props.put("key", tbl.keyColumn)
    props.put("location", tbl.location)
    props.put("provider", "graft-snapshot")
    tbl.describeAt(pinned).foreach { case (k, v) => props.put(k, v) }
    props
  }

  /** The key column is declared NON-NULL: the staging guard enforces
    * zero null keys on every fresh data file (a null key is
    * unaddressable by any keyed operation; a pre-guard legacy table
    * migrates via repairNullKeys), and the declaration is what lets
    * Spark's row-level DML accept it as the row id. */
  override def schema(): StructType = {
    val s = tbl.schemaAt(pinned)
    StructType(s.fields.map(f =>
      if (f.name == tbl.keyColumn) f.copy(nullable = false) else f))
  }

  override def capabilities(): util.Set[TableCapability] =
    (if (pinned.isDefined) Set(TableCapability.BATCH_READ)
     else Set(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
       TableCapability.TRUNCATE)).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(tbl, pinned, schema())

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    if (pinned.isDefined) throw new UnsupportedOperationException(
      s"$ident is pinned VERSION AS OF ${pinned.get} — history is immutable; " +
        "write to the unpinned table")
    new WriteBuilder with SupportsTruncate {
      private var replace = false
      override def truncate(): WriteBuilder = { replace = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit =
              if (replace || overwrite) tbl.create(data) else tbl.append(data)
          }
      }
    }
  }

  /** `DELETE FROM ... WHERE <pred>`: accepted iff every conjunct
    * translates EXACTLY ([[GraftFilters]]) — then the doomed keys are
    * the masked scan's rows under the predicate, fed to the table's
    * keyed delete (file-pruned copy-on-write, or a deletion vector on
    * a `deleteVectorMaxRows` handle). An untranslatable predicate fails
    * at analysis rather than deleting approximately. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    pinned.isEmpty && filters.forall(GraftFilters.toColumn(_).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    // statement-grain CAS: resolve once, compute the doomed keys against
    // THAT snapshot, and pin the delete to it — a commit landing between
    // the scan and the delete fails this statement loudly instead of
    // having keys chosen on one version silently applied to another
    val v = tbl.currentVersion.getOrElse(throw new IllegalStateException(
      s"no snapshot table at ${tbl.location}"))
    val pred = filters.flatMap(GraftFilters.toColumn(_))
      .foldLeft(lit(true))(_ && _)
    tbl.delete(tbl.scanAt(Some(v)).filter(pred).select(col(tbl.keyColumn)),
      expectedVersion = Some(v))
  }
}

/** CTAS/or-create staging: the table was created EAGERLY (the write
  * needs a live table to land in), so commit is a no-op and abort
  * drops what the statement created — a failed CTAS leaves nothing. */
private[graft] final class StagedGraftTable(delegate: GraftTable,
    onAbort: () => Unit) extends StagedTable with SupportsWrite {
  override def name(): String = delegate.name()
  override def schema(): StructType = delegate.schema()
  override def capabilities(): util.Set[TableCapability] = delegate.capabilities()
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    delegate.newWriteBuilder(info)
  override def commitStagedChanges(): Unit = ()
  override def abortStagedChanges(): Unit = onAbort()
}

/** REPLACE staging onto the table's OVERWRITE commit: an RTAS write
  * lands as `create(data)` over the existing manifest (one atomic
  * overwrite — history readable, colmap carried, dropped-mapping
  * physicals retired); a data-less `CREATE OR REPLACE` commits the new
  * schema as an EMPTY overwrite at commit time. Abort after a landed
  * write rolls back via [[SnapshotTable.restore]] — a NEW commit, so
  * the aborted replace stays auditable in history rather than
  * rewritten away. */
private[graft] final class StagedReplaceGraftTable(spark: SparkSession,
    tbl: SnapshotTable, ident: String, newSchema: StructType,
    prevVersion: Long) extends StagedTable with SupportsWrite {
  @volatile private var written = false

  override def name(): String = ident
  override def schema(): StructType = StructType(newSchema.fields.map(f =>
    if (f.name == tbl.keyColumn) f.copy(nullable = false) else f))
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE).asJava

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this // replace IS truncation
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              tbl.create(data)
              written = true
            }
          }
      }
    }

  override def commitStagedChanges(): Unit =
    if (!written) {
      // LocalRelation-backed (see createTable): a data-less REPLACE is a
      // manifest-only commit through stage()'s provably-empty fast path
      tbl.create(spark.createDataFrame(
        java.util.Collections.emptyList[Row](), newSchema))
      ()
    }
  override def abortStagedChanges(): Unit =
    if (written) { tbl.restore(prevVersion); () }
}

/** Pushdown collector: filters and required columns land here at
  * planning; [[build]] freezes them into a scan. EVERY filter is
  * returned from [[pushFilters]] (Spark re-evaluates all of them on
  * the rows), so the translated subset is a pure pruning hint — exactly
  * the contract [[SnapshotTable.scan]]'s FileIndex already has.
  *
  * [[build]] picks the route: a DV-free snapshot gets the NATIVE
  * columnar scan ([[org.apache.spark.sql.graft.GraftColumnarScan]] —
  * vectorized parquet batches, whole-stage codegen, zero row
  * materialization) over the table's own file index, narrowed by the
  * translated filters; a snapshot carrying deletion
  * vectors falls back to the [[GraftScan]] `V1Scan` bridge, whose
  * inner masked plan splices the sidecar anti-joins in. */
private[graft] final class GraftScanBuilder(tbl: SnapshotTable,
    pinned: Option[Long], full: StructType) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {

  private var required: StructType = full
  private var filters: Array[Filter] = Array.empty
  private var servedAgg: Option[(StructType, Seq[Any])] = None

  override def pushFilters(fs: Array[Filter]): Array[Filter] = {
    filters = fs
    fs // all re-evaluated post-scan: translation can never change results
  }

  override def pushedFilters(): Array[Filter] =
    filters.filter(GraftFilters.toColumn(_).isDefined)

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** MANIFEST-SERVED AGGREGATES: an unfiltered, ungrouped COUNT(*) /
    * COUNT(col) / MIN / MAX the manifest stats can answer EXACTLY is
    * served as a one-row [[GraftLocalAggScan]] — zero tasks, zero file
    * reads, `SELECT count(*)` at 100 TB is driver arithmetic. Anything
    * the manifest cannot prove ([[SnapshotTable.serveAggregate]])
    * refuses, and the ordinary scan answers. Spark only offers the
    * pushdown when NO filter remains above the scan, and we return
    * every filter as residual, so a filtered aggregate can never take
    * this path (belt-and-braces guarded anyway). */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    probeAgg(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    servedAgg = probeAgg(agg)
    servedAgg.isDefined
  }

  private def probeAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[Any])] =
    if (filters.nonEmpty) None
    else for {
      schema <- org.apache.spark.sql.graft.GraftSqlShim.pushedAggSchema(agg, full)
      values <- tbl.serveAggregate(pinned, agg)
    } yield (schema, values)

  override def build(): Scan = {
    servedAgg.foreach { case (schema, values) =>
      return new GraftLocalAggScan(schema, values)
    }
    tbl.batchScanParts(pinned) match {
      case Some(parts) =>
        org.apache.spark.sql.graft.GraftColumnarScan(SparkSession.active, parts,
          required, pushedFilters(), s"graft-snapshot${pinned.fold("")(v => s" @v$v")}")
      case None => new GraftScan(tbl, pinned, required, filters)
    }
  }
}

/** A completely-pushed aggregation's one-row answer, computed on the
  * driver from manifest stats alone — planned as a `LocalTableScan`
  * (Spark's own handling of [[org.apache.spark.sql.connector.read.LocalScan]]):
  * no tasks, no file IO. */
private[graft] final class GraftLocalAggScan(out: StructType,
    values: Seq[Any]) extends org.apache.spark.sql.connector.read.LocalScan {
  override def readSchema(): StructType = out
  override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
    Array(org.apache.spark.sql.catalyst.InternalRow.fromSeq(values))
  override def description(): String =
    s"graft-snapshot manifest-served aggregate [${out.fieldNames.mkString(", ")}]"
}

/** The DSv2 scan, executed through the `V1Scan` bridge: the inner plan
  * is the table's own masked [[SnapshotTable.scanAt]] (manifest file
  * pruning off the translated filters, parquet row groups + codegen
  * inside, deletion-vector anti-joins spliced in), projected to the
  * pruned columns. One read path for every route. */
private[graft] final class GraftScan(tbl: SnapshotTable, pinned: Option[Long],
    required: StructType, filters: Array[Filter]) extends V1Scan {

  override def readSchema(): StructType = required

  /** Spark calls the relation's no-argument `buildScan()`, so the
    * relation carries the pushed filters. It reports [[required]]
    * itself: the V1 fallback demands the scan's read schema exactly,
    * and the catalog declares the key NOT NULL. */
  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new GraftMaskedRelation(context.sparkSession, () => tbl.scanAt(pinned),
      filters)(required).asInstanceOf[T]

  override def description(): String =
    s"graft-snapshot ${pinned.fold("")(v => s"@v$v ")}pushed=[${pushedRender}]"

  private def pushedRender: String =
    filters.filter(GraftFilters.toColumn(_).isDefined).mkString(", ")
}
