package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.{functions => F, Column}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/**
 * DataSource V2 catalog plugin over [[GraftCatalog]] — the piece that makes
 * the library a *connector* in the same sense as the reference (a Trino
 * plugin wiring Paimon tables into a SQL engine's catalog;
 * TrinoMetadataBase.java end to end). Register and query:
 *
 * {{{
 *   spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftSparkCatalog")
 *   spark.conf.set("spark.sql.catalog.graft.warehouse", "/path/to/warehouse")
 *   spark.sql("SELECT * FROM graft.db.t WHERE id > 5")           // pushdown
 *   spark.sql("SELECT * FROM graft.db.t VERSION AS OF 2")        // time travel
 *   spark.sql("CREATE TABLE graft.db.u (id BIGINT, name STRING)")
 * }}}
 *
 * Scans delegate to Spark's native V2 parquet table over the snapshot's
 * file list, so filter/projection pushdown, vectorized reading, and split
 * planning are the engine's own (the plan shows PushedFilters/ReadSchema
 * exactly like a direct parquet read). Writes go through the snapshot
 * commit protocol, never raw file writes: `INSERT INTO` is an atomic
 * append commit (an upsert on PK tables — the batch must be PK-unique,
 * the same contract as [[GraftCatalog.upsert]]), `INSERT OVERWRITE` is
 * an overwrite commit; both leave every prior snapshot time-travelable.
 *
 * Tables whose current snapshot needs merge-on-read resolution (PK tables
 * with multiple deltas, tombstones, or files on older schema versions)
 * are served by a read-time merge scan: the same keep-latest-per-key +
 * tombstone plan [[GraftCatalog.read]] builds, bridged into the DSv2 scan
 * via [[V1Scan]] — a distributed plan, nothing driver-side. SELECT works
 * immediately after INSERT upserts, no compact prerequisite (the
 * reference behaves the same: Paimon PK reads merge at read time,
 * TrinoPageSourceBase.java). Pushed filters are applied on the merged
 * view. On an unbucketed table Catalyst pushes PK predicates through the
 * merge window into the scans, so they prune before the merge. On a
 * bucketed table the per-bucket merge is a `mapPartitions`, which blocks
 * pushdown: only bucket selection ([[GraftCatalog.readWhere]]'s
 * primary-key equalities) and zone pruning narrow the input, and a key
 * range filters after every bucket's rows have merged.
 */
class GraftSparkCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog with StagingTableCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  // SQL maintenance surface: `CALL cat.sys.compact(table => 'db.t')` etc.
  // (see GraftProcedures) — Spark 4's DSv2 ProcedureCatalog.
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(gc, ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(GraftProcedures.Namespace))
      GraftProcedures.names.map(n =>
        Identifier.of(GraftProcedures.Namespace, n)).toArray
    else Array.empty

  // One catalog per plugin instance, over the session that first uses it
  // (Spark builds a catalog plugin per session, so that session is the
  // plugin's own); its constructor sets the catalog's session confs once.
  private lazy val gc: GraftCatalog = new GraftCatalog(SparkSession.active, warehouse)
  private def spark: SparkSession = gc.spark

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = options.get("warehouse")
    require(warehouse != null,
      s"spark.sql.catalog.$name.warehouse must be set")
  }

  override def name(): String = catalogName

  private def ns1(namespace: Array[String]): String = {
    // RENAME TO targets arrive catalog-qualified (Spark passes the raw
    // multipart name through): accept and strip our own catalog prefix.
    val ns = if (namespace.length == 2 && namespace.head == catalogName)
      namespace.tail else namespace
    require(ns.length == 1,
      s"graft namespaces are single-level, got ${namespace.mkString(".")}")
    ns.head
  }

  // ---- namespaces --------------------------------------------------------

  override def listNamespaces(): Array[Array[String]] =
    gc.listSchemas().map(Array(_)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else Array.empty // single-level: nothing below a schema

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 && gc.listSchemas().contains(namespace.head)

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    Map.empty[String, String].asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit =
    gc.createSchema(ns1(namespace))

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val s = ns1(namespace)
    if (!gc.listSchemas().contains(s)) false
    else {
      if (cascade) gc.listTables(s).foreach(gc.dropTable(s, _))
      gc.dropSchema(s)
      true
    }
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft namespaces carry no metadata")

  // ---- tables ------------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] =
    gc.listTables(ns1(namespace)).map(Identifier.of(namespace, _)).toArray

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace.length == 1 && {
      val cat = gc
      cat.splitBranch(ident.name) match {
        case (base, Some(br)) => // branch lineage: `t$branch_dev`
          cat.listTables(ident.namespace.head).contains(base) &&
            cat.branchNames(ident.namespace.head, base).contains(br)
        case _ =>
          cat.listTables(ident.namespace.head).contains(ident.name) ||
            // miss path only: complete a crash-interrupted CTAS/RTAS swap
            // whose commit point had been declared (marker names us)
            (!cat.isStage(ident.name) &&
              cat.recoverStage(ident.namespace.head, ident.name))
      }
    }

  override def loadTable(ident: Identifier): Table =
    loadAt(ident, snapshotId = None, asOfMillis = None)

  /** `VERSION AS OF <snapshot-id | 'tag-name'>` (TrinoTableHandle.java:138
    * analog; a non-numeric version resolves through the tag registry,
    * Paimon's travel-to-tag). */
  override def loadTable(ident: Identifier, version: String): Table = {
    // tags live on the BASE table — resolve through it for `t$suffix` too
    val baseName = ident.name match {
      case MetadataSuffix(base, _) => base
      case n => n
    }
    val snapshotId = version.toLongOption.getOrElse {
      gc.tags(ns1(ident.namespace), baseName).getOrElse(version,
        throw new IllegalArgumentException(
          s"no snapshot or tag '$version' on ${ident.namespace.head}.$baseName"))
    }
    loadAt(ident, snapshotId = Some(snapshotId), asOfMillis = None)
  }

  /** `TIMESTAMP AS OF` — Spark hands micros since epoch. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table =
    loadAt(ident, snapshotId = None, asOfMillis = Some(timestampMicros / 1000L))

  /** Metadata-table suffixes served via `t$snapshots`-style names
    * (the reference surfaces the same system tables through Trino). */
  private val MetadataSuffix = "^(.+)\\$(snapshots|files|schemas|options|partitions|tags|consumers|manifests|statistics|branches|audit_log|ro)$".r

  private def loadAt(ident: Identifier, snapshotId: Option[Long],
      asOfMillis: Option[Long]): Table = {
    val (schemaName, tableName) = (ns1(ident.namespace), ident.name)
    tableName match {
      case MetadataSuffix(base, kind) =>
        // branch-aware: `t$branch_dev$snapshots` views a branch lineage
        if (!tableExists(Identifier.of(Array(schemaName), base)))
          throw new NoSuchTableException(Seq(schemaName, base))
        // audit_log is DATA-sized (the full row-kinded changelog, Paimon's
        // `t$audit_log`), so it reads through the distributed V1 bridge —
        // never the driver-local LocalScan the manifest-sized tables use.
        // read-optimized (Paimon's table$ro): the base table AT its
        // latest fully-compacted snapshot — loads through the normal
        // resolved path (native vectorized scan + zone pruning), never
        // the merge bridge. Empty until something resolved exists.
        if (kind == "ro") {
          // travel bound: explicit VERSION/TIMESTAMP AS OF or the session
          // scan properties, resolved exactly like a base-table read
          val bound = gc.chosenSnapshotId(schemaName, base, snapshotId, asOfMillis)
          return gc.resolvedSnapshotId(schemaName, base, bound) match {
            case Some(id) =>
              loadAt(Identifier.of(Array(schemaName), base), Some(id), None) match {
                case gt: GraftSqlTable => gt.asReadOnly // $ro never writes the base
                case t => t
              }
            case None => new GraftV1ReadTable(
              s"$catalogName.$schemaName.$tableName",
              gc.currentSchema(schemaName, base),
              // bound frozen at load: a compaction landing between load
              // and scan cannot leak a newer image past AS OF
              () => gc.readOptimized(schemaName, base, upTo = bound))
          }
        }
        if (kind == "audit_log") {
          // honor time travel (explicit AS OF or session scan properties):
          // the changelog spans 0..chosen snapshot
          val upTo = gc.chosenSnapshotId(schemaName, base, snapshotId, asOfMillis)
            .getOrElse(0L)
          return new GraftV1ReadTable(s"$catalogName.$schemaName.$tableName",
            gc.changelogSchemaOf(schemaName, base), // manifest-only, no plan built
            () => gc.readChangelog(schemaName, base, 0L, upTo))
        }
        // snapshot-scoped views honor VERSION/TIMESTAMP AS OF (and the
        // session scan properties) like a base-table read; the rest are
        // table-level (evolution history, tags, options, consumers)
        lazy val travel = gc.pin(schemaName, base, snapshotId, asOfMillis)
        val df = kind match {
          case "snapshots" => gc.snapshotsTable(schemaName, base)
          case "files" => gc.filesTable(travel)
          case "schemas" => gc.schemasTable(schemaName, base)
          case "options" => gc.optionsTable(schemaName, base)
          case "partitions" => gc.partitionsTable(travel)
          case "tags" => gc.tagsTable(schemaName, base)
          case "consumers" => gc.consumersTable(schemaName, base)
          case "manifests" => gc.manifestsTable(schemaName, base)
          case "statistics" => gc.statisticsTable(schemaName, base)
          case "branches" => gc.branchesTable(schemaName, base)
        }
        return new GraftMetadataTable(s"$catalogName.$schemaName.$tableName", df)
      case _ => ()
    }
    // NoSuchTableException, not IllegalArgument: Spark's resolution
    // catches only the former to produce TABLE_OR_VIEW_NOT_FOUND and to
    // fall through to CREATE paths (saveAsTable / createOrReplace).
    if (!tableExists(ident))
      throw new NoSuchTableException(Seq(schemaName, tableName))
    // ONE manifest read serves the whole query: the scans, the optimizer
    // stats and the DML basis all come from this pin, so a commit landing
    // while the query plans or runs is not seen by it
    val p = gc.pin(schemaName, tableName, snapshotId, asOfMillis)
    val m = p.manifest
    val entries = p.entries
    val curVersion = m.currentSchemaVersion
    val pk = m.primaryKey
    val tblOpts = m.options
    // Bucketed PK tables always scan through the merge bridge: their file
    // layout carries the physical __bucket partition dirs, which a raw
    // ParquetTable would surface as a column.
    val bucketCount = tblOpts.bucket
    val bucketed = bucketCount.isDefined
    // A partitioned table spanning several snapshot dirs cannot feed one
    // ParquetTable: Spark's partition discovery requires all col=value
    // leaves to share a single non-kv base dir, and N roots give N bases
    // (CONFLICTING_DIRECTORY_STRUCTURES). Those read through the V1
    // bridge, which unions the dirs per-entry and zone-prunes via
    // readWhere.
    val partitionCols = m.partitionColumns
    val partitioned = partitionCols.nonEmpty
    // ORC tables (file.format=orc) read through the V1 merge bridge —
    // the raw-file fast path below is a ParquetTable; the bridge's
    // gc.read is format-aware and serves the same resolved image.
    val resolvedAsFiles =
      tblOpts.fileFormat == "parquet" &&
      entries.forall(e => e.kind == "data" && e.schemaVersion == curVersion) &&
        (pk.isEmpty || (entries.size <= 1 && !bucketed)) &&
        (!partitioned || entries.size <= 1)
    // MoR-pending state (PK deltas, tombstones, pre-evolution files) is
    // served through the read-time merge scan; fully-resolved snapshots
    // keep the native vectorized parquet path (raw file scans + pushdown).
    // The reader sees the pushed filters and hands them to readWhere,
    // which prunes a fixed-bucket table's full-PK equality/IN to the
    // buckets its keys hash to (Paimon's point-lookup path) and
    // zone-prunes whole dirs where provably safe. The filters are still
    // applied post-merge, so pruning is purely a superset optimization.
    val dynamicBucket = bucketCount.contains(-1)
    val morRead = if (resolvedAsFiles) None else Some(
      (filters: Array[Filter]) => {
        // dynamic-bucket tables route a full-PK equality through the
        // hash index (key→bucket is data there, not a hash); an
        // unassigned key (None) falls through to the ordinary read,
        // which correctly returns nothing. The index is the head's: an
        // overwrite since an older snapshot may have re-assigned the
        // key's bucket, so time-travel lookups read through readWhere.
        val dynBucket = if (!dynamicBucket || pk.isEmpty || !p.readsHead) None else {
          val eq = filters.collect { case EqualTo(a, v) if pk.contains(a) => a -> v }.toMap
          if (pk.forall(eq.contains)) gc.dynamicBucketFor(p, pk.map(eq))
          else None
        }
        dynBucket match {
          case Some(k) => gc.readBucket(p, k)
          case None => FilterTranslation.toCondition(filters) match {
            case Some(cond) if filters.nonEmpty => gc.readWhere(p, cond)
            case _ => gc.read(p)
          }
        }
      })
    val paths = if (resolvedAsFiles)
      entries.map(e => gc.dirLocation(schemaName, tableName, e.dir)) else Seq.empty
    val schema = gc.currentSchema(m)
    val parquet = ParquetTable(s"$catalogName.$schemaName.$tableName",
      spark.asInstanceOf[classic.SparkSession],
      new CaseInsensitiveStringMap(Map.empty[String, String].asJava),
      paths, Some(schema), classOf[ParquetFileFormat])
    new GraftSqlTable(parquet, partitionCols,
      tblOpts.raw ++
        (if (pk.nonEmpty) Map("primary-key" -> pk.mkString(",")) else Map.empty),
      morRead, commitInsert(schemaName, tableName) _,
      cond => { gc.deleteWhere(schemaName, tableName, cond); () },
      // PK tables delete via tombstones; append-only tables via deletion
      // vectors when the option is on (both land one snapshot commit)
      canDelete = pk.nonEmpty || tblOpts.deletionVectors,
      coords = Some((warehouse, schemaName, tableName)),
      pinned = Some(new PinnedStats(gc, p, resolvedAsFiles)))
  }

  /** SQL INSERT → snapshot commit: `overwrite` for INSERT OVERWRITE,
    * `dynamic` when Spark plans OverwritePartitionsDynamic (session
    * `partitionOverwriteMode=dynamic` or DataFrameWriterV2
    * `.overwritePartitions()` — only the incoming partitions are
    * replaced, the file-source dynamic semantics), upsert for PK
    * tables, plain append otherwise. */
  private def commitInsert(schemaName: String, tableName: String)(
      data: org.apache.spark.sql.DataFrame, mode: String): Unit = {
    mode match {
      case "dynamic" => gc.overwriteDynamic(schemaName, tableName, data)
      case "overwrite" => gc.overwrite(schemaName, tableName, data)
      case _ =>
        if (gc.primaryKeyOf(schemaName, tableName).nonEmpty)
          gc.upsert(schemaName, tableName, data)
        else gc.append(schemaName, tableName, data)
    }
    ()
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    require(!gc.isStage(ident.name),
      s"'${GraftCatalog.StagePrefix}…' names are reserved for CTAS/RTAS staging")
    doCreateTable(ident, schema, partitions, properties)
  }

  private def doCreateTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val partitionCols = partitions.toSeq.map {
      case t if t.name == "identity" => t.references.head.fieldNames.mkString(".")
      case t => throw new UnsupportedOperationException(
        s"only identity partitioning is supported, got $t")
    }
    val props = properties.asScala.toMap
    val pk = props.get("primary-key").map(_.split(",").map(_.trim).toSeq)
      .getOrElse(Seq.empty)
    val opts = props -- Seq("primary-key", "provider", "owner", "location")
    gc.createTable(ns1(ident.namespace), ident.name, schema,
      options = opts, partitionBy = partitionCols, primaryKey = pk)
    // freshly created: zero snapshots -> empty parquet table over no paths
    new GraftSqlTable(
      ParquetTable(s"$catalogName.${ident.namespace.head}.${ident.name}",
        spark.asInstanceOf[classic.SparkSession],
        new CaseInsensitiveStringMap(Map.empty[String, String].asJava),
        Seq.empty, Some(schema), classOf[ParquetFileFormat]),
      partitionCols, opts, None, commitInsert(ns1(ident.namespace), ident.name) _,
      cond => { gc.deleteWhere(ns1(ident.namespace), ident.name, cond); () },
      canDelete = pk.nonEmpty || TableOptions(opts).deletionVectors)
  }

  override def dropTable(ident: Identifier): Boolean =
    if (!tableExists(ident)) false
    else { gc.dropTable(ns1(ident.namespace), ident.name); true }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    require(ns1(oldIdent.namespace) == ns1(newIdent.namespace),
      "cross-schema rename is not supported")
    gc.renameTable(ns1(oldIdent.namespace), oldIdent.name, newIdent.name)
  }

  /** ALTER TABLE column DDL routed to the metadata-only evolution ops
    * (TrinoMetadataBase.java:290–328 analog). */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val (s, t) = (ns1(ident.namespace), ident.name)
    changes.foreach {
      case add: TableChange.AddColumn =>
        if (add.fieldNames.length == 1) {
          val sf = org.apache.spark.sql.types.StructField(
            add.fieldNames.head, add.dataType)
          gc.addColumn(s, t,
            Option(add.comment).map(sf.withComment).getOrElse(sf))
        } else // ALTER TABLE t ADD COLUMN s.inner.c — nested struct member
          gc.addNestedField(s, t, add.fieldNames.mkString("."), add.dataType)
      case cmt: TableChange.UpdateColumnComment =>
        require(cmt.fieldNames.length == 1, "nested comments not supported")
        gc.setColumnComment(s, t, cmt.fieldNames.head, Option(cmt.newComment))
      case ren: TableChange.RenameColumn =>
        if (ren.fieldNames.length == 1)
          gc.renameColumn(s, t, ren.fieldNames.head, ren.newName)
        else gc.renameNestedField(s, t, ren.fieldNames.mkString("."), ren.newName)
      case del: TableChange.DeleteColumn =>
        if (del.fieldNames.length == 1) gc.dropColumn(s, t, del.fieldNames.head)
        else gc.dropNestedField(s, t, del.fieldNames.mkString("."))
      case up: TableChange.UpdateColumnType =>
        require(up.fieldNames.length == 1, "nested type changes not supported")
        gc.alterColumnType(s, t, up.fieldNames.head,
          graft.sources.TypeMapping.fieldTrinoType(
            org.apache.spark.sql.types.StructField(up.fieldNames.head, up.newDataType)))
      // ALTER TABLE ... SET/UNSET TBLPROPERTIES — the reference's
      // setTableProperties surface (TrinoMetadata.java:115)
      case sp: TableChange.SetProperty =>
        gc.setTableOptions(s, t, Map(sp.property -> sp.value))
      case rp: TableChange.RemoveProperty =>
        gc.removeTableOptions(s, t, Seq(rp.property))
      case other => throw new UnsupportedOperationException(s"change $other")
    }
    // Evolution is metadata-only; loadTable serves files that predate the
    // new schema version through the read-time merge scan (field-id
    // mapping), so the fresh handle is immediately scannable.
    loadTable(ident)
  }

  // ---- staged CTAS / RTAS --------------------------------------------------
  // Spark plans `CREATE TABLE ... AS SELECT` against a StagingTableCatalog
  // through AtomicCreateTableAsSelectExec: stage, write, then commit — or
  // abort on write failure. BOTH forms write into a hidden, per-attempt-
  // unique staging lineage (invisible to listTables, so concurrent readers
  // never see a half-written table) and commit by promoting it over the
  // target through GraftCatalog.promoteStage — a marker-declared commit
  // point with crash recovery, so no failure window strands the data or
  // leaves the target name empty. Crashed stages are swept here
  // opportunistically (TTL'd) before each new staging attempt.

  // default 24h: a sweep must never outpace a plausible large-CTAS write
  // duration — stages age from their creation stamp, so the TTL is the
  // only guard for a still-writing concurrent session's stage
  private def stageTtlMs: Long =
    spark.conf.get("spark.graft.staging.ttlMs", "86400000").toLong

  override def stageCreate(ident: Identifier, info: TableInfo): StagedTable = {
    val s = ns1(ident.namespace)
    val cat = gc
    cat.sweepStaleStages(s, stageTtlMs)
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        Seq(ident.namespace.head, ident.name))
    val stage = GraftCatalog.newStageName(ident.name)
    val t = doCreateTable(Identifier.of(ident.namespace, stage),
      info.schema, info.partitions, info.properties)
    new GraftStagedTable(t.asInstanceOf[GraftSqlTable],
      onCommit = () =>
        // promote re-checks existence: a concurrently-created table wins
        // and the stage is discarded with AlreadyExists, never clobbered
        try cat.promoteStage(s, stage, ident.name, replaceExisting = false)
        catch { case _: IllegalStateException =>
          throw new org.apache.spark.sql.catalyst.analysis
            .TableAlreadyExistsException(Seq(ident.namespace.head, ident.name))
        },
      // idempotent: promote's already-exists path deletes the stage before
      // throwing, and Spark then still calls abortStagedChanges — a
      // second dropTable on the gone stage must not mask the real error
      onAbort = () => dropStageIfPresent(s, stage))
  }

  private def dropStageIfPresent(s: String, stage: String): Unit =
    try { gc.dropTable(s, stage); () }
    catch { case _: IllegalArgumentException => () } // already gone

  override def stageCreateOrReplace(ident: Identifier, info: TableInfo): StagedTable =
    if (tableExists(ident)) stageReplace(ident, info)
    else stageCreate(ident, info)

  /** RTAS: the write lands in a hidden staging lineage while the original
    * stays untouched and readable — so `REPLACE t AS SELECT ... FROM t`
    * (the common self-referencing rewrite) reads the pre-replace image.
    * Commit promotes the stage over the original (rename-aside, marker
    * commit point, crash-recoverable); abort drops the staged copy,
    * leaving the original byte-identical. */
  override def stageReplace(ident: Identifier, info: TableInfo): StagedTable = {
    if (!tableExists(ident))
      throw new NoSuchTableException(Seq(ident.namespace.head, ident.name))
    val s = ns1(ident.namespace)
    val cat = gc
    cat.sweepStaleStages(s, stageTtlMs)
    val stage = GraftCatalog.newStageName(ident.name)
    val t = doCreateTable(Identifier.of(ident.namespace, stage),
      info.schema, info.partitions, info.properties)
    new GraftStagedTable(t.asInstanceOf[GraftSqlTable],
      onCommit = () => cat.promoteStage(s, stage, ident.name, replaceExisting = true),
      onAbort = () => dropStageIfPresent(s, stage))
  }
}

/** Staged handle for atomic CTAS/RTAS: delegates reads and writes to the
  * already-created table (writes land through the snapshot commit
  * protocol), with commit/abort hooks finalizing the catalog entry. */
private[sources] class GraftStagedTable(delegate: GraftSqlTable,
    onCommit: () => Unit, onAbort: () => Unit)
  extends StagedTable with SupportsRead with SupportsWrite {
  override def name(): String = delegate.name()
  override def schema(): StructType = delegate.schema()
  override def capabilities(): util.Set[TableCapability] = delegate.capabilities()
  override def partitioning(): Array[Transform] = delegate.partitioning()
  override def properties(): util.Map[String, String] = delegate.properties()
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    delegate.newScanBuilder(options)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    delegate.newWriteBuilder(info)
  override def commitStagedChanges(): Unit = onCommit()
  override def abortStagedChanges(): Unit = onAbort()
}

/**
 * Driver-local V2 table for the `t$snapshots`-family system tables: the
 * metadata is manifest-sized (not data-sized), so a [[LocalScan]] serving
 * pre-collected rows is the right execution shape — no executors touched.
 */
private[sources] class GraftMetadataTable(tableName: String,
    df: org.apache.spark.sql.DataFrame) extends Table with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = df.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LocalScan {
        override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
          df.queryExecution.executedPlan.executeCollect()
        override def readSchema(): StructType = df.schema
      }
    }
}

/** Read-only V2 table over a lazily-built DataFrame, executed through the
  * [[GraftMorScanBuilder]] V1 bridge — distributed (executors run the
  * frame's plan), with filter/column pushdown honored on the result.
  * Used for data-sized system tables like `t$audit_log`. */
private[sources] class GraftV1ReadTable(tableName: String,
    schema0: StructType, reader: () => org.apache.spark.sql.DataFrame)
  extends Table with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftMorScanBuilder(schema0, _ => reader())
}

/** Translate DSv2 source filters to Column predicates (the supported
  * subset mirrors the reference's TrinoFilterConverter.java:81–215 —
  * =, <, <=, >, >=, IN, IS NULL, AND/OR/NOT). */
private[graft] object FilterTranslation {
  def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(F.col(a) === F.lit(v))
    case EqualNullSafe(a, v) => Some(F.col(a) <=> F.lit(v))
    case GreaterThan(a, v) => Some(F.col(a) > F.lit(v))
    case GreaterThanOrEqual(a, v) => Some(F.col(a) >= F.lit(v))
    case LessThan(a, v) => Some(F.col(a) < F.lit(v))
    case LessThanOrEqual(a, v) => Some(F.col(a) <= F.lit(v))
    case In(a, vs) => Some(F.col(a).isInCollection(vs.toSeq))
    case IsNull(a) => Some(F.col(a).isNull)
    case IsNotNull(a) => Some(F.col(a).isNotNull)
    case StringStartsWith(a, v) => Some(F.col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(F.col(a).endsWith(v))
    case StringContains(a, v) => Some(F.col(a).contains(v))
    case And(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
    case Or(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
    case Not(c) => toColumn(c).map(!_)
    case AlwaysTrue() => Some(F.lit(true))
    case AlwaysFalse() => Some(F.lit(false))
    case _ => None
  }
  def toCondition(filters: Array[Filter]): Option[Column] =
    filters.foldLeft(Option(F.lit(true))) { (acc, f) =>
      for (a <- acc; c <- toColumn(f)) yield a && c
    }
}

/**
 * What the optimizer rules read of one resolved table, each value
 * derived on first use from the pin's manifest alone: no manifest read
 * follows the resolution, and zone sidecars load only when a rule asks
 * for per-file zones.
 */
private[graft] final class PinnedStats(gc: GraftCatalog,
    val pin: GraftCatalog.Pin, resolvedAsFiles: Boolean) {
  private val m = pin.manifest
  private val entries = pin.entries
  private def dirPath(dir: String): String = gc.dirLocation(pin.schema, pin.table, dir)

  // Manifest stats are sound whenever the snapshot is plain
  // current-schema append data and no MoR merge can change the visible
  // rows — INDEPENDENT of whether the physical scan is a raw file scan
  // or the V1 bridge (a multi-dir partitioned append table reads
  // through the bridge purely for Spark's partition-discovery
  // limitation; its stats are as exact as any). Single-dir PK tables
  // keep their zones too (the raw files ARE the image).
  private val statsSound =
    entries.forall(e => e.kind == "data" && e.schemaVersion == m.currentSchemaVersion) &&
      (m.primaryKey.isEmpty || resolvedAsFiles)
  private lazy val dirStats =
    if (statsSound) m.dirStats else Map.empty[String, FileStats.DirStats]

  /** Zone maps keyed by root path — set only when per-dir pruning is
    * provably safe (see GraftCatalog.readWhere's MoR caveat). Paths
    * absent from the map are never pruned. They let the optimizer skip
    * whole dirs at planning time (GraftZonePrune) and answer bare
    * count(*) without a scan (GraftCountFromStats). */
  lazy val zoneStats: Option[Map[String, FileStats.DirStats]] =
    if (statsSound)
      Some(entries.flatMap(e => dirStats.get(e.dir).map(dirPath(e.dir) -> _)).toMap)
    else None

  /** Per-FILE zones (dir root path → absolute file path → zone). They
    * serve GraftZonePrune's finer path cut (unpartitioned tables only —
    * gated in the rule, since file paths lose the col=value segments
    * partitioned scans need) and GraftCountFromStats' metadata-only
    * answers to partition-filtered aggregates (partition segments give
    * every file an exact point zone). Set only when EVERY live dir
    * carries per-file zones (zero-row dirs exempt), so consumers may
    * assume full coverage. */
  lazy val fileZones: Option[Map[String, Map[String, FileStats.DirStats]]] =
    if (!statsSound) None
    else {
      val pf = gc.fileStatsFrom(pin.schema, pin.table, m)
      val covered = entries.forall(e => pf.get(e.dir).exists(_.nonEmpty) ||
        dirStats.get(e.dir).exists(_.rows == 0L))
      if (covered)
        Some(entries.flatMap { e =>
          pf.get(e.dir).filter(_.nonEmpty).map(fm =>
            dirPath(e.dir) -> fm.map { case (rel, z) =>
              new Path(dirPath(e.dir), rel).toString -> z })
        }.toMap).filter(_.nonEmpty)
      else None
    }

  /** Exact row count from manifest stats — set only when provably exact
    * (append-only, every dir has stats); lets `count(*)` answer without
    * touching a single file. */
  lazy val exactRowCount: Option[Long] =
    if (statsSound && m.primaryKey.isEmpty && entries.forall(e => dirStats.contains(e.dir)))
      Some(entries.map(e => dirStats(e.dir).rows).sum)
    else None

  /** Bloom-index pointers (dir root path → (cache token, indexed cols))
    * — lets GraftZonePrune refine equality/IN lookups to the files whose
    * bloom admits a literal, same contract as GraftCatalog.readWhere's
    * bloom pass. */
  lazy val bloomInfo: Map[String, (String, Set[String])] =
    m.bloomIdx.map { case (d, v) => dirPath(d) -> v }

  /** Upper-bound row estimate for the MoR bridge scan. V1 relations
    * otherwise report the default huge size, so a small uncompacted PK
    * dim would never auto-broadcast in a SQL join; an upper bound can
    * only under-broadcast, never over-broadcast. */
  lazy val morRowsHint: Option[Long] = pin.rowsUpperBound

  /** ANALYZE statistics (exact rows + per-column ndv/nulls/avgLen) of
    * the pinned snapshot; feeds the scan's reported DSv2 Statistics
    * (see GraftCboStats). */
  lazy val cboStats: Option[GraftCboStats.Stats] = gc.analyzeStatsOf(pin)
}

/**
 * V2 table over a catalog snapshot: scans delegate to the engine's
 * parquet implementation (vectorized read + pushdown); writes route
 * through the snapshot commit protocol via the V1 write bridge (the
 * insert arrives as a resolved DataFrame and becomes one atomic
 * append/upsert/overwrite commit — never a raw file write).
 */
private[graft] class GraftSqlTable(delegate: ParquetTable,
    private[graft] val partitionCols: Seq[String], props: Map[String, String],
    morRead: Option[Array[Filter] => org.apache.spark.sql.DataFrame],
    /** (data, mode): mode ∈ append | overwrite | dynamic (replace only
      * the incoming partitions — Spark's OverwritePartitionsDynamic). */
    commitInsert: (org.apache.spark.sql.DataFrame, String) => Unit,
    commitDelete: Column => Unit,
    private[graft] val canDelete: Boolean,
    /** (warehouse, schema, table) — lets the UPDATE rewrite rule route the
      * statement back into the owning catalog (graft.plans.GraftDml). */
    private[graft] val coords: Option[(String, String, String)] = None,
    /** Read-only views (e.g. `t$ro`) must never route DML to the base
      * table: capabilities shrink to BATCH_READ and deletes refuse. */
    private val readOnly: Boolean = false,
    /** The snapshot this handle resolved (None: a table this statement
      * creates) — its stats feed the optimizer rules. */
    pinned: Option[PinnedStats] = None,
    /** Set on a zone-pruned copy (see [[pruneTo]]). */
    pruned: Option[GraftSqlTable.Pruned] = None)
  extends Table with SupportsRead with SupportsWrite with SupportsDelete {

  /** The read-time merge reader, exposed for the native plan-injection
    * rule (graft.plans.GraftMorNativeRead): defined iff this snapshot is
    * MoR-pending. The reader's argument is the pushable filter set — used
    * for bucket point-lookup routing and zone-prune file-list shrinking;
    * the returned frame is always a SUPERSET under those filters. */
  private[graft] def morReader: Option[Array[Filter] => org.apache.spark.sql.DataFrame] =
    morRead

  /** The manifest version the pinned snapshot was read from — the basis
    * SQL DML commits fence on, so a writer that moved the head since the
    * statement resolved aborts it. */
  private[graft] def basis: Option[Long] = pinned.map(_.pin.manifest.commitVersion)

  private[graft] def zoneStats: Option[Map[String, FileStats.DirStats]] =
    pruned.fold(pinned.flatMap(_.zoneStats))(p => Some(p.zoneStats))
  private[graft] def exactRowCount: Option[Long] =
    if (pruned.isDefined) None else pinned.flatMap(_.exactRowCount)
  private[graft] def fileZones: Option[Map[String, Map[String, FileStats.DirStats]]] =
    pruned.fold(pinned.flatMap(_.fileZones))(p => Some(p.fileZones).filter(_.nonEmpty))
  // a pruned copy's roots may be single files, which the dir-keyed
  // pointers do not name; the prune has already applied them
  private[graft] def bloomInfo: Map[String, (String, Set[String])] =
    if (pruned.isDefined) Map.empty else pinned.fold(Map.empty[String, (String, Set[String])])(_.bloomInfo)
  private[graft] def cboStats: Option[GraftCboStats.Stats] =
    pruned.fold(pinned.flatMap(_.cboStats))(_.cboStats)

  /** This table as a read-only view (same scan, no write surface). */
  private[graft] def asReadOnly: GraftSqlTable =
    new GraftSqlTable(delegate, partitionCols, props, morRead, commitInsert,
      commitDelete, canDelete, coords, readOnly = true, pinned, pruned)

  private[graft] def currentPaths: Seq[String] = delegate.paths

  /** Same table over a zone-pruned subset of its root paths — dirs, or
    * single files where per-file zones allowed a finer cut (the DSv2
    * split-skip analog of the reference's manifest-stats pruning).
    * `newStats` re-keys the zones to the surviving paths so the rule's
    * fixed-point re-run evaluates them and converges. */
  private[graft] def pruneTo(kept: Seq[String],
      newStats: Map[String, FileStats.DirStats],
      newFileZones: Map[String, Map[String, FileStats.DirStats]]): GraftSqlTable = {
    // A partitioned scan over an explicit FILE list needs a basePath pin
    // so the col=value segments between the root and each file keep
    // resolving as partition columns (same contract as
    // GraftCatalog.dirFrames' subset read). The first prune records the
    // original root; fixed-point re-prunes inherit it via options.
    val newDelegate =
      if (partitionCols.isEmpty || delegate.options.containsKey("basePath"))
        delegate.copy(paths = kept)
      else {
        // Pinning basePath to the single root is only correct because
        // loadTable's resolvedAsFiles gate guarantees partitioned
        // raw-file scans have exactly one root. If that invariant ever
        // relaxes (multi-snapshot partitioned tables fed to
        // ParquetTable), a pruned file list spanning other roots would
        // fail with Spark's opaque "Wrong basePath" at scan time — fail
        // HERE with the assumption named instead.
        require(delegate.paths.size == 1,
          s"partitioned zone-prune expects a single root path to pin " +
            s"basePath, got ${delegate.paths.size}: ${delegate.paths.mkString(", ")} — " +
            "the resolvedAsFiles single-root invariant no longer holds")
        delegate.copy(paths = kept,
          options = new CaseInsensitiveStringMap(
            (delegate.options.asScala ++
              Map("basePath" -> delegate.paths.head)).asJava))
      }
    // Whole-table ANALYZE rows must not survive a path prune unscaled
    // (the pruned delegate's fileIndex IS the kept set, so the byte
    // ratio in GraftRuntimeScan can no longer recover the factor):
    // re-key the row count to the kept paths' exact manifest rows when
    // zone coverage is complete, else drop to the delegate's estimate.
    // Column NDV/avgLen stay whole-table — CBO caps NDV at rows.
    val keptCbo = cboStats.collect {
      case (_, cols) if kept.forall(newStats.contains) =>
        (kept.map(newStats(_).rows).sum, cols)
    }
    new GraftSqlTable(newDelegate, partitionCols, props,
      morRead, commitInsert, commitDelete, canDelete, coords, readOnly, pinned,
      Some(GraftSqlTable.Pruned(newStats, newFileZones, keptCbo)))
  }

  /** `DELETE FROM` → one tombstone snapshot commit (PK tables only, as
    * in [[GraftCatalog.deleteWhere]]); append-only tables and
    * unsupported predicates are rejected at analysis via canDeleteWhere. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    !readOnly && canDelete && FilterTranslation.toCondition(filters).isDefined
  override def deleteWhere(filters: Array[Filter]): Unit =
    commitDelete(FilterTranslation.toCondition(filters).getOrElse(
      throw new UnsupportedOperationException(
        s"untranslatable delete predicates: ${filters.mkString(", ")}")))

  override def name(): String = delegate.name
  override def schema(): StructType = delegate.schema
  // AUTOMATIC_SCHEMA_EVOLUTION opts into the analyzer's
  // ResolveMergeIntoSchemaEvolution: MERGE ... WITH SCHEMA EVOLUTION
  // diffs source vs target schema and routes the missing columns through
  // alterTable (the same metadata-only AddColumn path as ALTER TABLE)
  // before the merge resolves.
  override def capabilities(): util.Set[TableCapability] =
    if (readOnly) util.EnumSet.of(TableCapability.BATCH_READ)
    else util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
  override def partitioning(): Array[Transform] =
    partitionCols.map(Expressions.identity).toArray
  override def properties(): util.Map[String, String] = props.asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    morRead match {
      case Some(reader) =>
        val hint = pinned.flatMap(_.morRowsHint).map(rows =>
          (rows, rows * math.max(1L, delegate.schema.defaultSize.toLong)))
        new GraftMorScanBuilder(delegate.schema, reader, hint, cboStats)
      case None =>
        // Runtime (dynamic) join filtering: wrap the parquet builder so
        // the built scan carries SupportsRuntimeV2Filtering and SQL joins
        // prune fact files through zones + blooms at execution.
        // Partitioned tables too (single-snap-dir layouts — the only ones
        // that reach this raw-file scan): the runtime prune re-attaches
        // the scan's PartitionSpec, so Spark's own DPP still prunes
        // partitions while zones+blooms drop files WITHIN the survivors.
        new graft.plans.GraftScanBuilder(delegate.newScanBuilder(options), this)
    }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    if (readOnly) throw new UnsupportedOperationException(
      s"${name()} is a read-only view")
    // Dynamic partition overwrite does NOT go through this builder:
    // Spark's OverwritePartitionsDynamic capability check demands a full
    // V2 BatchWrite (V1 fallback rejected), so the GraftExtensions
    // resolution rule (GraftDynamicOverwriteRewrite) intercepts the node
    // and routes it to GraftCatalog.overwriteDynamic instead.
    new WriteBuilder with SupportsTruncate {
      private var mode = "append"
      override def truncate(): WriteBuilder = { mode = "overwrite"; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
          (data: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], ovr: Boolean) =>
            commitInsert(data.toDF(),
              if (mode == "append" && ovr) "overwrite" else mode)
      }
    }
  }
}

private[graft] object GraftSqlTable {
  /** A zone-pruned copy's stats: the zones re-keyed to the kept paths,
    * and the ANALYZE stats with rows re-counted over them. */
  final case class Pruned(zoneStats: Map[String, FileStats.DirStats],
      fileZones: Map[String, Map[String, FileStats.DirStats]],
      cboStats: Option[GraftCboStats.Stats])
}

/**
 * Read-time merge scan for MoR-pending snapshots (PK deltas, tombstones,
 * files on older schema versions): bridges the distributed keep-latest +
 * tombstone-anti plan [[GraftCatalog.read]] builds into the DSv2 scan via
 * the [[V1Scan]] fallback — `buildScan` hands Spark the plan's RDD, so
 * execution stays on the executors (no driver materialization, unlike the
 * [[LocalScan]] metadata tables). Filter and column pushdown are honored
 * on the merged view: accepted filters and the pruned projection are
 * applied to the DataFrame, where Catalyst pushes them through the merge
 * window into the underlying parquet scans when semantics allow.
 */
/**
 * ANALYZE statistics → DSv2 [[org.apache.spark.sql.connector.read.Statistics]]
 * (r14): row counts size joins from LOGICAL width (avgLen-weighted — a
 * 100x-compressed dim must not masquerade as broadcastable, nor a small
 * logical table be kept off the build side by a fat on-disk footprint),
 * and per-column NDV/null counts feed Spark's CBO join estimation
 * through `transformV2Stats` when spark.sql.cbo.enabled is on.
 */
private[graft] object GraftCboStats {
  import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
  import org.apache.spark.sql.connector.read.colstats.ColumnStatistics

  /** (ndv, nulls, avgLen) per lower-cased column name. */
  type Col = (Option[Long], Option[Long], Option[Double])
  type Stats = (Long, Map[String, Col])

  /** Logical (uncompressed) row width over the PROJECTED schema — the
    * CBO sizing convention: avgLen for measured variable-width columns,
    * the type's default size otherwise. */
  def rowWidth(schema: StructType, cols: Map[String, Col]): Long =
    math.max(1L, schema.fields.map { f =>
      cols.get(f.name.toLowerCase(java.util.Locale.ROOT)).flatMap(_._3)
        .map(l => math.max(1L, l.round))
        .getOrElse(f.dataType.defaultSize.toLong)
    }.sum)

  /** The same stats as CATALYST logical-plan Statistics, for pinning
    * onto a spliced MoR subtree (GraftStatsPin) — one sizing/width/NDV
    * convention with [[toV2]], so broadcast decisions can't diverge
    * between raw-file DSv2 scans and the native MoR splice. */
  def toCatalyst(rows: Long, output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
      cols: Map[String, Col]): org.apache.spark.sql.catalyst.plans.logical.Statistics = {
    val schema = StructType(output.map(a =>
      org.apache.spark.sql.types.StructField(a.name, a.dataType)))
    val attrStats = org.apache.spark.sql.catalyst.expressions.AttributeMap(
      output.flatMap { a =>
        cols.get(a.name.toLowerCase(java.util.Locale.ROOT)).map {
          case (ndv, nulls, avgLen) =>
            a -> org.apache.spark.sql.catalyst.plans.logical.ColumnStat(
              distinctCount = ndv.map(BigInt(_)),
              nullCount = nulls.map(BigInt(_)),
              avgLen = avgLen.map(l => math.max(1L, l.round)))
        }
      })
    org.apache.spark.sql.catalyst.plans.logical.Statistics(
      sizeInBytes = BigInt(math.max(1L, rows)) * BigInt(rowWidth(schema, cols)),
      rowCount = Some(BigInt(rows)), attributeStats = attrStats)
  }

  def toV2(rows: Long, schema: StructType, cols: Map[String, Col])
      : org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(1L, rows) * rowWidth(schema, cols))
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
      override def columnStats(): java.util.Map[NamedReference, ColumnStatistics] = {
        val out = new java.util.HashMap[NamedReference, ColumnStatistics]()
        schema.fields.foreach { f =>
          cols.get(f.name.toLowerCase(java.util.Locale.ROOT)).foreach {
            case (ndv, nulls, avg) =>
              out.put(Expressions.column(f.name), new ColumnStatistics {
                override def distinctCount(): java.util.OptionalLong =
                  ndv.map(java.util.OptionalLong.of)
                    .getOrElse(java.util.OptionalLong.empty())
                override def nullCount(): java.util.OptionalLong =
                  nulls.map(java.util.OptionalLong.of)
                    .getOrElse(java.util.OptionalLong.empty())
                override def avgLen(): java.util.OptionalLong =
                  avg.map(l => java.util.OptionalLong.of(math.max(1L, l.round)))
                    .getOrElse(java.util.OptionalLong.empty())
              })
          }
        }
        out
      }
    }
}

private[sources] class GraftMorScanBuilder(fullSchema: StructType,
    reader: Array[Filter] => org.apache.spark.sql.DataFrame,
    /** Upper-bound (rows, bytes) from manifest stats — reported through
      * SupportsReportStatistics so the optimizer can auto-broadcast a
      * small MoR dim instead of assuming the V1 default huge size. */
    sizeHint: Option[(Long, Long)] = None,
    /** Exact ANALYZE statistics for the scanned snapshot — preferred
      * over the upper-bound hint when present. Caveat: Spark's
      * V1ScanWrapper does not forward SupportsReportStatistics, so the
      * optimizer sees neither through the V1 bridge today (MoR SQL
      * reads default to the native splice; AQE re-plans the bridge from
      * runtime sizes) — reported here so the scan is ready the moment
      * the wrapper forwards, and for direct estimateStatistics callers. */
    cboStats: Option[GraftCboStats.Stats] = None)
  extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = fullSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ok, residual) = filters.partition(FilterTranslation.toColumn(_).isDefined)
    pushed = ok
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new V1Scan
      with org.apache.spark.sql.connector.read.SupportsReportStatistics {
    override def estimateStatistics()
        : org.apache.spark.sql.connector.read.Statistics = cboStats match {
      // exact ANALYZE numbers (rows + ndv/nulls/avgLen) beat the
      // pre-merge upper bound; width taken over the PROJECTED schema
      case Some((rows, cols)) => GraftCboStats.toV2(rows, required, cols)
      case None => new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes(): java.util.OptionalLong = sizeHint
          .map(h => java.util.OptionalLong.of(h._2))
          .getOrElse(java.util.OptionalLong.empty())
        override def numRows(): java.util.OptionalLong = sizeHint
          .map(h => java.util.OptionalLong.of(h._1))
          .getOrElse(java.util.OptionalLong.empty())
      }
    }
    override def readSchema(): StructType = required
    override def toV1TableScan[T <: BaseRelation with TableScan](
        context: org.apache.spark.sql.SQLContext): T =
      new BaseRelation with TableScan {
        override def sqlContext: org.apache.spark.sql.SQLContext = context
        override def schema: StructType = required
        override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
          val merged = reader(pushed)
          val filtered = FilterTranslation.toCondition(pushed)
            .map(merged.filter).getOrElse(merged)
          filtered.select(required.fieldNames.toSeq.map(F.col): _*).rdd
        }
      }.asInstanceOf[T]
  }
}
