package graft.sources

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{array, col, explode, lit, md5, row_number, struct, when}
import org.apache.spark.sql.types.{StructField, StructType}

/**
 * Versioned table catalog over a warehouse directory — the Spark-native
 * analog of the reference's metadata surface:
 *
 *  - schema ops (create/list/drop):        TrinoMetadataBase.java:88–114
 *  - table ops (create/list/rename/drop):  TrinoMetadataBase.java:165–241
 *  - column DDL (add/rename/drop):         TrinoMetadataBase.java:290–328
 *  - time travel (snapshot-id / as-of-ms): TrinoSessionProperties.java:36–37,
 *                                          TrinoTableHandle.java:138
 *  - table options persisted in DDL:       TrinoTableOptionUtils.java
 *
 * Layout — the Paimon snapshot → manifest-list → manifest-file hierarchy,
 * re-expressed:
 *
 *  - `<warehouse>/<schema>/<table>/manifest-v<N>.json` — the HEAD
 *    (immutable, exclusive-rename CAS — Paimon's snapshot-N commit
 *    protocol): table metadata + a snapshot log whose file lists
 *    serialize as `{baseId, added}` DELTAS (the manifest-list analog:
 *    tiny entries, O(total dirs), materialized at read), plus per-dir
 *    zone AGGREGATES (the manifest-list partition-stats analog).
 *  - `snap-<id>/` — immutable parquet dirs, each carrying its own
 *    `.zones.json` per-FILE zone sidecar (the manifest-FILE analog,
 *    written once into the staging dir so the ordinal claim-rename
 *    publishes data and zones atomically) and, when indexed, a
 *    `.bloomidx/` sidecar tree.
 *
 * A commit therefore WRITES O(its own files) metadata regardless of
 * table size; reads are O(files referenced) with zone/bloom sidecars
 * loaded lazily and cached by build token. Nothing is ever rewritten in
 * place — the same immutability contract Paimon's snapshot log gives
 * the reference connector. Concurrent writers land additive commits via
 * rebase-and-retry; stale rewrites abort (see `commit`).
 *
 * Schema evolution is metadata-only (stable field ids, Paimon-style):
 * renames/drops/adds never rewrite data; reads map each file's
 * write-time schema onto the current schema by field id (missing → null).
 *
 * All I/O goes through Hadoop FileSystem, so the same code runs on local
 * disk, HDFS, or object stores on a real cluster.
 */
class GraftCatalog(private[sources] val spark: SparkSession,
    private[sources] val warehouse: String)
  extends GraftMetadataViews with GraftChangelog
    with GraftDeletionVectors with GraftMaintenance
    with GraftDynamicBucket with GraftTagsBranches with GraftStreamingOps
    with GraftColumnDdl with GraftStagingLineage with ManifestStore {

  import GraftCatalog._

  // Catalog session settings. Both are Spark's own flags, set for the
  // session this catalog drives; set either back after construction to
  // opt out.
  //
  // spark.sql.unionOutputPartitioning=false — Spark 4.1's
  // partitioning-aware UnionExec (default true) ZIPS union children that
  // share an output partitioning — and every per-bucket merge leg this
  // engine builds is deliberately SinglePartition (the in-task
  // keep-latest merge needs one bucket's rows in one partition), so a
  // K-bucket resolve's union of K legs collapsed into ONE task that
  // merged every bucket SERIALLY (measured r19: an 8-bucket read ran 1
  // task; a 4096-bucket 100 TB table would funnel the whole merge
  // through one core). Turning the flag off restores the documented
  // one-bucket-per-task shape. (Shape fix, not tuning: the flag only
  // controls whether UnionExec CLAIMS its children's common partitioning
  // to save downstream exchanges — none of this engine's plans rely on
  // that claim, and a bucketed resolve's merge parallelism is pinned by
  // GraftCatalogSpec.)
  //
  // spark.sql.codegen.useIdInClassName=false — Spark's codegen cache is
  // keyed by the generated source, and whole-stage classes are otherwise
  // named GeneratedIteratorForCodegenStage<N>: the K identical merge legs
  // of a bucketed resolve compiled K classes, and since stage numbers
  // shift with the plan around them, every delete or compaction after a
  // commit compiled its pipelines again (measured on an 8-bucket table:
  // 31–44 compiles per deleteWhere, 17 per repeated compact). Without
  // the id, identical pipelines share one class per JVM, within a query
  // and across operations. Plans, jobs and tasks are unchanged.
  spark.conf.set("spark.sql.unionOutputPartitioning", "false")
  spark.conf.set("spark.sql.codegen.useIdInClassName", "false")

  private[sources] val mapper = new ObjectMapper()

  private[sources] def fs: FileSystem =
    new Path(warehouse).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[sources] def schemaPath(schema: String) = new Path(warehouse, schema)

  /** `t$branch_<name>` → (t, Some(name)); plain names pass through.
    * Branches are one level deep: a branch name never contains the
    * separator again (validated at creation). */
  private[sources] def splitBranch(table: String): (String, Option[String]) = {
    val i = table.indexOf(BranchSep)
    if (i < 0) (table, None)
    else (table.substring(0, i), Some(table.substring(i + BranchSep.length)))
  }

  /** A branch lineage lives under `<base>/.branch/<name>/` — its own
    * manifest versions, staging dirs and snap dirs, fully isolated from
    * the base lineage; every tablePath-relative operation (commit
    * protocol, claims, sweeps) works on a branch unchanged. */
  private[sources] def tablePath(schema: String, table: String): Path =
    splitBranch(table) match {
      case (base, Some(br)) =>
        new Path(new Path(schemaPath(schema), base), s"$BranchDirName/$br")
      case (base, None) => new Path(schemaPath(schema), base)
    }

  /** Resolve a manifest dir reference to a filesystem path: a `~/x`
    * entry is BASE-TABLE-relative — the cross-lineage sharing form (a
    * branch inheriting the base's history references `~/snap-3`; a
    * fast-forwarded base references `~/.branch/dev/snap-7`) — while a
    * plain entry is lineage-local. Sharing is by reference, never by
    * copy: branch creation and fast-forward move ZERO data bytes. */
  private[sources] def dirPath(schema: String, table: String, dir: String): Path =
    if (dir.startsWith(BaseRelMarker))
      new Path(new Path(schemaPath(schema), splitBranch(table)._1),
        dir.substring(BaseRelMarker.length))
    else new Path(tablePath(schema, table), dir)

  /** Bucket ids a set of commit dirs touched, from their materialized
    * `__bucket=k` children — one driver listing per dir (recursing
    * through partition `col=value` levels on partitioned+bucketed
    * layouts), ZERO Spark jobs. `None` = some dir carries non-bucket,
    * non-partition children (unknown/flat layout): the caller must fall
    * back to EVERY bucket, never to none — under dynamic buckets
    * (`n == -1`) a `0 until n` fallback would silently mean "no
    * buckets". Shared by the changelog before-image, the field-wise
    * producer, and the incremental DV rebuild. */
  private[sources] def changedBucketsOf(schema: String, table: String,
      dirs: Seq[String]): Option[Seq[Int]] = {
    val bucketRe = (java.util.regex.Pattern.quote(BucketCol) + "=(\\d+)").r
    def walk(p: Path): Option[Seq[Int]] = {
      val kids = fs.listStatus(p).toSeq
      val per = kids.map { st =>
        st.getPath.getName match {
          case bucketRe(i) => Some(Seq(i.toInt))
          case n if st.isDirectory && n.contains('=') => walk(st.getPath)
          case n if n.startsWith(".") || n.startsWith("_") => Some(Nil)
          case _ => None // flat data file / unknown layout
        }
      }
      if (per.exists(_.isEmpty)) None else Some(per.flatten.flatten)
    }
    val per = dirs.map(d => walk(dirPath(schema, table, d)))
    if (per.exists(_.isEmpty)) None
    else Some(per.flatten.flatten.distinct.sorted)
  }

  /** A dir reference in BASE-relative form — the cross-lineage identity
    * under which two lineages of one table compare references (pinning:
    * a dir is deletable only when NO lineage references it). */
  private[sources] def baseRelativeDir(table: String, dir: String): String =
    if (dir.startsWith(BaseRelMarker)) dir.substring(BaseRelMarker.length)
    else splitBranch(table) match {
      case (_, Some(br)) => s"$BranchDirName/$br/$dir"
      case _ => dir
    }

  /** A dir reference reduced to its physical DIR NAME (the trailing
    * `snap-…` segment): the form deletion-vector file refs use (they
    * derive from `_metadata.file_path`, which knows nothing of sharing
    * markers) and the form the merge ordinal parses. Unique within one
    * manifest — a lineage assigns ids strictly above every retained id,
    * inherited included, so a shared and a local dir can never collide
    * on their name. */
  private[sources] def dirKey(dir: String): String = {
    val i = dir.lastIndexOf("snap-")
    if (i <= 0) dir else dir.substring(i)
  }

  /** Filesystem location of a manifest dir reference — public resolution
    * for the SQL catalog (branch lineages, `~/` shared refs). */
  def dirLocation(schema: String, table: String, dir: String): String =
    dirPath(schema, table, dir).toString

  // ---- schema (namespace) ops -------------------------------------------

  def createSchema(schema: String): Unit = { fs.mkdirs(schemaPath(schema)); () }

  def listSchemas(): Seq[String] = {
    val root = new Path(warehouse)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).filter(_.isDirectory).map(_.getPath.getName).toSeq.sorted
  }

  def dropSchema(schema: String): Unit = {
    require(listTables(schema).isEmpty, s"schema $schema is not empty")
    fs.delete(schemaPath(schema), true)
    ()
  }

  // ---- table ops ---------------------------------------------------------

  def createTable(schema: String, table: String, structType: StructType,
      options: Map[String, String] = Map.empty,
      partitionBy: Seq[String] = Seq.empty,
      primaryKey: Seq[String] = Seq.empty): Unit = {
    require(fs.exists(schemaPath(schema)), s"schema $schema does not exist")
    require(!table.contains("$"),
      s"'$$' is reserved in table names (branch lineages `t$$branch_<name>` " +
        s"are created via createBranch; `t$$snapshots`-style names are views)")
    require(!tableManifestExists(schema, table), s"table $schema.$table exists")
    partitionBy.foreach(p => require(structType.fieldNames.contains(p),
      s"partition column $p not in schema"))
    primaryKey.foreach(p => require(structType.fieldNames.contains(p),
      s"primary-key column $p not in schema"))
    TableOptions.validate(TableOptions.Shape(structType, partitionBy, primaryKey, options))
    fs.mkdirs(tablePath(schema, table))
    writeManifest(schema, table, Manifest.create(table,
      structType.fields.toSeq.zipWithIndex.map { case (f, i) =>
        FieldInfo(i + 1, f.name, TypeMapping.fieldTrinoType(f), f.getComment())
      }, options, partitionBy, primaryKey))
    // a staging lineage ages from its own creation stamp, never from dir
    // mtime (a trash dir renamed aside keeps the original table's mtime)
    if (isStage(table)) stampStage(schema, table)
  }

  private[sources] def stageStampPath(schema: String, table: String): Path =
    new Path(tablePath(schema, table), GraftCatalog.StageStampFile)

  /** Write/refresh a stage (or trash) dir's creation stamp — the clock
    * sweepStaleStages ages it by. */
  private[sources] def stampStage(schema: String, table: String): Unit = {
    val out = fs.create(stageStampPath(schema, table), true)
    try out.write(System.currentTimeMillis().toString.getBytes("UTF-8"))
    finally out.close()
  }

  /** Stamp millis if present/readable; None falls back to dir mtime.
    * Reads to EOF (a single read() may legally return short — a truncated
    * millis string would parse to a tiny timestamp and make a LIVE stage
    * look ancient to sweepStaleStages), and rejects any parsed value below
    * a plausible epoch-millis floor as unreadable. */
  private[sources] def stageStamp(schema: String, table: String): Option[Long] = {
    val p = stageStampPath(schema, table)
    if (!fs.exists(p)) return None
    scala.util.Try(readSmallFile(p, 64).toLong)
      .toOption.filter(_ >= GraftCatalog.MinPlausibleStampMillis)
  }

  def listTables(schema: String): Seq[String] = {
    val p = schemaPath(schema)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(_.isDirectory)
      .map(_.getPath.getName)
      .filterNot(isStage) // in-flight CTAS/RTAS stages are not tables yet
      .filter(t => tableManifestExists(schema, t))
      .toSeq.sorted
  }

  def dropTable(schema: String, table: String): Unit = {
    require(splitBranch(table)._2.isEmpty,
      s"$table is a branch lineage — use deleteBranch (it checks " +
        "cross-lineage references before removing shared history)")
    require(tableManifestExists(schema, table), s"no table $schema.$table")
    fs.delete(tablePath(schema, table), true)
    GraftCatalog.purgeHeadCache(fs.makeQualified(tablePath(schema, table)).toString)
    ()
  }

  def renameTable(schema: String, from: String, to: String): Unit = {
    require(splitBranch(from)._2.isEmpty && !to.contains("$"),
      s"branch lineages cannot be renamed (rename the base table; its " +
        "branches move with it)")
    require(tableManifestExists(schema, from), s"no table $schema.$from")
    require(!fs.exists(tablePath(schema, to)), s"table $schema.$to exists")
    fs.rename(tablePath(schema, from), tablePath(schema, to))
    GraftCatalog.purgeHeadCache(fs.makeQualified(tablePath(schema, from)).toString)
    val m = readManifest(schema, to)
    m.rename(to)
    writeManifest(schema, to, m)
  }

  // ---- writes ------------------------------------------------------------

  def append(schema: String, table: String, df: DataFrame): Long =
    commit(schema, table, Seq(Leg("", "data", df)))

  /** Replace the table's image with `df`. The new image replaces the
    * head it was built against, so a concurrent commit aborts it. */
  def overwrite(schema: String, table: String, df: DataFrame): Long =
    commit(schema, table, Seq(Leg("", "data", df)), Change.Overwrite,
      basis = Some(readManifest(schema, table).commitVersion))

  /**
   * Dynamic partition overwrite (Paimon's `dynamic-partition-overwrite`):
   * replace ONLY the identity partitions present in `df`, leaving every
   * other partition untouched — the idempotent-backfill write (re-run a
   * day's job, only that day's partition is replaced). One snapshot:
   * dirs whose live files all belong to replaced partitions are dropped
   * with zero data I/O, dirs mixing replaced and untouched partitions
   * rewrite only their untouched rows, and the new data lands alongside
   * — the same replace-subset mechanics as [[expirePartitions]]. Like
   * any overwrite, no row-kinded retraction exists for the replaced
   * image — pause changelog consumers across it. Append-only partitioned
   * tables only.
   */
  def overwriteDynamic(schema: String, table: String, df: DataFrame): Long = {
    val m = readManifest(schema, table)
    val pcols = m.partitionColumns
    require(pcols.nonEmpty,
      s"$schema.$table is not partitioned — use overwrite")
    require(m.primaryKey.isEmpty,
      s"$schema.$table has a primary key — upsert is the per-key " +
        "overwrite; dynamic partition overwrite serves append-only tables")
    // distinct partition tuples present in the incoming data — the
    // replace set (delta-sized aggregate, collected: one row per
    // incoming partition, metadata-sized by construction)
    val incoming = df.select(pcols.map(col): _*).distinct().collect()
    // an empty frame names no partitions — nothing to replace, no-op
    // (a FULL overwrite-to-empty is overwrite()'s job, never implicit)
    if (incoming.isEmpty) return m.headId
    val matchTuple = incoming.map { r =>
      pcols.zipWithIndex.map { case (c, i) =>
        if (r.isNullAt(i)) col(c).isNull else col(c) === lit(r.get(i))
      }.reduce(_ && _)
    }.reduce(_ || _)
    replacePartitions(schema, table, matchTuple, Some(df))._2
      .getOrElse(throw new IllegalStateException(
        "dynamic overwrite committed nothing")) // unreachable: newData set
  }

  /**
   * Publish one snapshot. Every snapshot a table gets lands here:
   * appends, upserts, merges, tombstone and deletion-vector deletes,
   * index folds, changelog carriers, every compaction and rescale, and
   * [[sortCompact]]'s range dirs.
   *
   * '''Change.''' `change` names what the snapshot is (see [[Change]]):
   * what it keeps of the previous file list, whether it is a
   * compaction, its `$snapshots` label and the options it lands.
   *
   * '''Legs.''' The snapshot lands one dir per [[Leg]], named
   * `snap-<id><suffix>`. The first leg is the main dir: its kind drives
   * the dedupe fold, dynamic-bucket routing and the input/lookup
   * changelog producers (which add a `-cl` leg). The legs pass three
   * stages: [[prepareLegs]] checks their columns, folds duplicate keys
   * and routes dynamic buckets; [[stageLegs]] writes each frame once
   * with [[writeDir]] (or takes it staged by the caller) and adds its
   * zone stats, zone sidecar and bloom index; [[publish]] claims each
   * leg's dir by exclusive rename, then CASes the manifest, so all legs
   * share one ordinal and become visible together.
   *
   * '''Basis.''' A commit whose content was derived from the head
   * carries that head's manifest version as `basis`: overwrite,
   * compactions, deletes, DV commits and index folds pass it; commit adds
   * the version it read itself when it derives content here
   * (dynamic-bucket routing, lookup changelogs). A commit with a basis
   * aborts with a ConcurrentModificationException when the head is no
   * longer that version, or when one of its dirs is claimed by another
   * writer (never deleting that writer's dir). Only basis-free commits
   * rebase onto a new head and retry.
   */
  private[sources] def commit(schema: String, table: String, legs: Seq[Leg],
      change: Change = Change.Add(), basis: Option[Long] = None): Long = {
    basisTestHook()
    val m = readManifest(schema, table)
    basis.foreach(b => if (m.commitVersion != b) throw staleBasis(schema, table, b, m.commitVersion))
    // Bucketed PK tables (Paimon's bucket layout): every commit — data,
    // delete tombstones, compaction rewrites alike — lands rows in
    // `__bucket=k` subdirs by primary-key hash, so a key lives in exactly
    // one bucket across ALL deltas and merge-on-read never crosses
    // buckets (see bucketedResolve). Delete frames carry the PK columns,
    // so the same hash applies. A rescale writes under its new count.
    val buckets = TableOptions(change.options).bucket
      .orElse(m.options.bucket).filter(_ => m.primaryKey.nonEmpty)
    val staged = stageLegs(schema, table, m, change, buckets,
      prepareLegs(schema, table, m, legs, change, buckets))
    // Dynamic-bucket index routing and a lookup changelog's before
    // images are derived from THIS head: such a commit carries its basis
    // even when the caller passed none.
    val fence = basis.orElse(Some(m.commitVersion).filter(_ => buckets.contains(-1) ||
      (m.options.changelogProducer == "lookup" && staged.exists(_.leg.kind == "cl"))))
    commitTestHook()
    publish(schema, table, m, change, staged, fence)
  }

  private def staleBasis(schema: String, table: String, b: Long, now: Long) =
    new java.util.ConcurrentModificationException(
      s"$schema.$table: a concurrent writer moved the head (manifest v$b -> " +
        s"v$now) since this commit's content was derived — re-run against the new head")

  /**
   * Commit stage 1: check each data leg's columns against the table,
   * fold duplicate keys within the batch, and route a dynamic-bucket
   * table's rows to their buckets. Returns the legs to stage, each with
   * the caller's columns, which its zone stats are collected under
   * (routing adds the bucket column).
   */
  private def prepareLegs(schema: String, table: String, m: Manifest,
      legs: Seq[Leg], change: Change, buckets: Option[Int]): Seq[(Leg, StructType)] = {
    lazy val cur = currentSchema(m).fieldNames
    // a retract batch (aggregation engine) carries the hidden flag
    // column as its last field — everything else must still align
    legs.filter(_.kind == "data").foreach { l =>
      val expect = if (l.retract) cur :+ RetractCol else cur
      require(l.frame.schema.fieldNames.sameElements(expect),
        s"dataframe columns ${l.frame.schema.fieldNames.mkString(",")} != table ${expect.mkString(",")}")
    }
    val pkCols = m.primaryKey
    // Within-batch key resolution (deduplicate engine): all rows of one
    // commit share an ordinal, so duplicate keys INSIDE one batch would
    // tie at read time and resolve by partition order — nondeterministic.
    // Paimon folds a checkpoint's rows by input order; an unordered
    // DataFrame has none, so fold here with a deterministic total rule:
    // largest (sequence.field, remaining row) wins — consistent with the
    // read-side race (null sequence smallest). One batch-sized aggregate;
    // key-unique batches (CDC, MERGE, compaction rewrites — the common
    // case) pass through it unchanged. Skipped when a column type is
    // unorderable (maps): those tables keep the key-unique-batch contract.
    def foldable(df: DataFrame): Boolean =
      !change.compaction && pkCols.nonEmpty && m.options.mergeEngine == "deduplicate" &&
        df.schema.fields.forall(f =>
          org.apache.spark.sql.catalyst.expressions.RowOrdering
            .isOrderable(f.dataType))
    // `df` folded per `keys` tuple, keeping the columns `out`.
    def fold(df: DataFrame, keys: Seq[String], out: Seq[String]): DataFrame = {
      val seqF = m.options.sequenceField.toSeq
      val valueCols = seqF ++ out.filterNot(c => keys.contains(c) || seqF.contains(c))
      if (valueCols.isEmpty) df.dropDuplicates(keys).select(out.map(col): _*)
      else df.groupBy(keys.map(col): _*)
        .agg(org.apache.spark.sql.functions.max(
          org.apache.spark.sql.functions.struct(valueCols.map(col): _*))
          .as("__best"))
        .select(out.map { c =>
          if (keys.contains(c)) col(c) else col(s"__best.$c").as(c)
        }: _*)
    }
    // On a fixed-bucket table whose partition columns sit inside the key,
    // the batch is clustered ONCE by writeDir's layout keys (partition
    // columns, then `__bucket`) and folded over that clustering grouped
    // by (layout keys, key) — the same groups, since the bucket is a
    // function of the key. The clustering already meets the fold's
    // distribution and the write's layout, so the commit runs one
    // exchange instead of two. Dynamic routing keeps the two.
    val foldLayout = buckets.filter(n => n >= 1 && !crossPartition(m))
    val deduped = legs.map { l =>
      val out = l.frame.schema.fieldNames.toSeq
      val folded =
        if (l.kind != "data" || !foldable(l.frame)) l
        else foldLayout match {
          case Some(n) =>
            val layout = m.partitionColumns :+ BucketCol
            val laid = l.frame.withColumn(BucketCol, bucketExpr(pkCols, n))
              .repartition(layout.map(col): _*)
            l.copy(frame = fold(laid, (layout ++ pkCols).distinct, out), clustered = true)
          case None => l.copy(frame = fold(l.frame, pkCols, out))
        }
      (folded, l.frame.schema)
    }
    // Dynamic bucket mode (Paimon's bucket = -1): key→bucket is NOT a
    // modular hash — it comes from the persisted hash index, so frames
    // are routed up front (existing keys to their recorded bucket, new
    // keys filling capacity) and carry an explicit __bucket column; the
    // commit's own assignments land as an immutable `.dbidx` parquet
    // delta inside the main dir, atomic with the data under the ordinal
    // claim-rename. An index-only fold carries its folded index already.
    if (!buckets.contains(-1) || legs.head.kind == "idx") return deduped
    val (main, mainCols) = deduped.head
    val (df, del, idx) = dynamicRoute(schema, table, m, main.frame,
      deduped.tail.collectFirst { case (l, _) if l.kind == "delete" => l.frame },
      main.kind, fold = change.compaction, reset = !change.inherits && !change.compaction)
    // routing drops tombstones of keys that have no residence and
    // adds the old residence's tombstone of each cross-partition move
    (main.copy(frame = df, index = idx), mainCols) +:
      (del.map(d => (Leg("-del", "delete", d), d.schema)).toSeq ++
        deduped.tail.filter(_._1.kind != "delete"))
  }

  /**
   * Commit stage 2: write each prepared leg into a UNIQUE dot-staging dir
   * (invisible to snap-* globs and never another writer's target) unless
   * the caller staged it, add the write-time changelog leg, collect each
   * data leg's zone stats, zone sidecar and bloom index, and write the
   * dynamic-bucket index delta.
   */
  private def stageLegs(schema: String, table: String, m: Manifest, change: Change,
      buckets: Option[Int], prepared: Seq[(Leg, StructType)]): Seq[StagedLeg] = {
    val dir = s".staging-${java.util.UUID.randomUUID()}"
    def write(l: Leg): String = {
      writeDir(schema, table, m, l.frame, dir + l.suffix, l.kind, buckets,
        clustered = l.clustered)
      dir + l.suffix
    }
    val written = prepared.map { case (l, cols) => (l, cols, l.staged.getOrElse(write(l))) }
    // Write-time changelog materialization (changelog-producer): the
    // snapshot pairs a `-cl` dir of row-kinded changelog rows — consumers
    // then read O(changelog files) per batch instead of paying the
    // before-image resolve (see readChangelogFull's file-served path).
    // An explicit `-cl` leg (full-compaction producer) is passed in.
    val mode = m.options.changelogProducer
    def stagedOf(kind: String) = written.collectFirst { case (l, _, at) if l.kind == kind => at }
    val mainKind = prepared.head._1.kind
    val produced: Option[Leg] =
      if (!prepared.exists(_._1.kind == "cl") &&
          (mode == "input" || mode == "lookup") &&
          m.primaryKey.nonEmpty && change.inherits && !change.compaction &&
          (mainKind == "data" || mainKind == "delete"))
        producerChangelog(schema, table, m, mode,
          stagedOf("data"), stagedOf("delete")).map(Leg("-cl", "cl", _))
      else None
    val all = written ++ produced.map(l => (l, l.frame.schema, write(l)))
    // Zone maps: aggregate each data leg's footer stats into the manifest
    // (Paimon manifests carry per-file field stats the same way;
    // TrinoMetadataBase.applyFilter prunes splits with them). Dirs are
    // immutable, so this runs exactly once per dir. The footer reads
    // run in a DISTRIBUTED job (one driver listing, executor-side
    // footers), so a bulk load landing 10⁴–10⁵ files in one snapshot
    // never stalls the commit on sequential driver round-trips; per-FILE
    // zones ride along for file-granular skipping. Data legs only —
    // tombstone dirs are never zone-pruned (MoR must see every delta).
    // Parquet AND ORC footers both carry min/max/null counts; AVRO
    // files carry none, so their stats are collected from the DATA in
    // the same distributed job shape (Paimon's writer-side
    // SimpleStatsCollector is format-independent the same way), feeding
    // identical sidecars: avro tables zone-prune and metadata-count like
    // parquet.
    //
    // Bloom-filter file index (see [[BloomIndex]]): one distributed job
    // over the dir just written, bitsets sized from the footer row counts
    // the zone collection produced. The sidecar lands INSIDE the staging
    // dir, so the ordinal claim-rename moves data and index atomically;
    // the manifest entry carries only {token, cols}.
    //
    // Hierarchical manifest tier (Paimon's snapshot → manifest-list →
    // manifest-file shape): the per-FILE zone payload — the dominant,
    // O(files × cols) share of commit metadata — lands as an immutable
    // `.zones.json` sidecar INSIDE the staging dir, and the head manifest
    // carries only the small dir-level aggregate plus this token. Commit
    // metadata writes are O(this commit), never O(table); reads load
    // sidecars lazily per dir, cached by token (fresh per build, so an
    // ordinal reused after rollback never serves stale zones).
    val opts = m.options
    val staged = all.map { case (l, cols, at) =>
      val path = new Path(tablePath(schema, table), at)
      StagedLeg(l, at, if (l.kind != "data") None
        else FileStats.collectWithFiles(spark, fs, path, cols, opts.fileFormat).map {
          case (ds, fileZones) =>
            val bloom = if (opts.bloomColumns.isEmpty) None
              else BloomIndex.build(spark, fs, path, cols, opts.bloomColumns,
                  fileZones.map { case (r, s) => r -> s.rows },
                  provider = providerFor(opts.fileFormat), table = s"$schema.$table")
                .map(bcols => (java.util.UUID.randomUUID().toString, bcols))
            val zoneToken = if (fileZones.isEmpty) None
              else Some(writeZoneSidecar(path, fileZones))
            (ds, zoneToken, bloom)
        })
    }
    // Dynamic-bucket index delta: written AFTER the zone/bloom passes
    // (their recursive file walks must see only data files), INSIDE the
    // main dir so the claim-rename publishes data and index atomically.
    // Hash-sorted and range-partitioned so point lookups push `__kh = v`
    // into the parquet scan.
    staged.head.leg.index.foreach { case (delta, keys) =>
      val parts = math.min(32L, (keys - 1) / 4000000L + 1).toInt
      val sorted = if (parts == 1) delta.coalesce(1).sortWithinPartitions("__kh")
        else delta.repartitionByRange(parts, col("__kh")).sortWithinPartitions("__kh")
      sorted.write.mode("overwrite").parquet(
        new Path(new Path(tablePath(schema, table), staged.head.dir), DynIdxDir).toString)
    }
    staged
  }

  /**
   * Commit stage 3: claim every staged leg's dir at the next free
   * ordinal and CAS the snapshot into the manifest; on a conflict, rebase
   * and retry, or abort when the commit carries a `fence` (its basis).
   */
  private def publish(schema: String, table: String, m: Manifest, change: Change,
      staged: Seq[StagedLeg], fence: Option[Long]): Long = {
    // The files' write-time schema version — pinned BEFORE any conflict
    // rebase (a concurrent DDL may bump the current version; these bytes
    // are at THIS version and map forward by field id like any other dir).
    val sv = m.currentSchemaVersion
    val fileLegs = staged.map(_.leg).filter(_.kind != "cl")
    // Full-fold commits — index-only fold, compaction, overwrite reset —
    // record the ENTIRE live key set in their own dir: the manifest's
    // dynIdx node is rebuilt to that one flag (stale flags on surviving
    // dirs would double-count keys) and prior index-only dirs leave the
    // file list (their bytes reclaim on expiration).
    val fullFold = change.compaction || !change.inherits
    /** Build the snapshot entry against manifest `mm` and CAS it in. */
    def land(mm: Manifest, landId: Long, landDir: String): Unit = {
      val prev = mm.head
      // head carries the dir-level aggregate (the manifest-list's
      // partition-stats analog) + the sidecar token; per-file zones
      // stay in the dir's immutable `.zones.json`
      staged.foreach(s => s.stats.foreach { case (ds, zoneToken, _) =>
        mm.putDirStats(landDir + s.leg.suffix, ds, zoneToken)
      })
      val inheritable = if (change.inherits) prev.fold(Seq.empty[FileEntry])(_.files)
        else Seq.empty
      val dropped = change.drops ++
        (if (fullFold) inheritable.filter(_.kind == "idx").map(_.dir) else Nil)
      val prevFiles = inheritable.filterNot(fe => dropped.contains(fe.dir)).map(fe =>
        if (change.retires.isEmpty) fe
        else fe.copy(excludeBuckets = (fe.excludeBuckets ++ change.retires).distinct.sorted))
      // Delta basis for the serialized form: an additive commit's file
      // list is prev ++ added, so the head stores {baseId, added}; a
      // REPLACE-SUBSET commit (minor compaction, partition expiration,
      // dynamic partition overwrite) additionally names the dirs it
      // dropped — {baseId, added, removed} — so writeManifest never
      // re-serializes inherited entries for EITHER shape and every
      // commit's head delta stays O(its own change), never O(table dirs)
      // (see Manifest.deflate).
      val baseId: Option[Long] = prev.filter(_ => prevFiles.nonEmpty).map(_.id)
      if (change.options.nonEmpty) mm.putOptions(change.options)
      val added = fileLegs.map(l =>
        FileEntry(landDir + l.suffix, sv, l.kind, retract = l.retract))
      mm.appendSnapshot(landId,
        // strictly increasing
        math.max(System.currentTimeMillis(), prev.fold(0L)(_.timestampMillis) + 1),
        change.compaction, change.label(fileLegs),
        prevFiles, added, baseId, dropped.toSeq.sorted, change.retires.toSeq.sorted)
      // Deletion-vector index: which data files the new DV dir touches and
      // how many positions it deletes — the manifest-side summary that lets
      // reads split clean files (pure vectorized scan) from dirty files
      // (position anti-join) without opening the DV itself, and lets
      // countRows stay metadata-only by subtraction.
      staged.foreach(s => s.leg.dvIndex.foreach { case (files, rows) =>
        mm.putDvIndex(landDir + s.leg.suffix, files, rows)
      })
      // Changelog-producer registration: the `-cl` dir, its write-time
      // schema version, and its coverage link (the snapshot its rows
      // change FROM — the previous head unless the leg names an explicit
      // range, as full-compaction does).
      staged.map(_.leg).find(_.kind == "cl").foreach { l =>
        mm.putChangelog(landDir + l.suffix, landId, sv,
          l.from.getOrElse(prev.fold(0L)(_.id)))
      }
      // Bloom-index pointer: which columns this dir's sidecar indexes,
      // plus a cache token (fresh per build — an ordinal reused after
      // rollback never serves a stale cached index).
      staged.foreach(s => s.stats.flatMap(_._3).foreach { case (token, bcols) =>
        mm.putBloomIdx(landDir + s.leg.suffix, token, bcols)
      })
      // Dynamic-bucket index pointer: this dir carries a `.dbidx` delta
      // with that many key assignments — readDynamicIndex unions exactly
      // the flagged dirs of the current snapshot, zero FS probes.
      // Full-fold commits rebuild the node: their delta records EVERY
      // live key, so any older flag would double-count.
      staged.head.leg.index.foreach { case (_, keys) =>
        mm.putDynIdx(landDir, keys, replace = fullFold)
      }
      change match {
        case Change.Add(Some(batchId)) => mm.setLastStreamBatchId(batchId)
        case _ => ()
      }
      writeManifest(schema, table, mm)
    }
    // Optimistic concurrency (Paimon's commit protocol), two fences:
    //
    //  1. DIR CLAIM — an exclusive rename (fails if the target exists)
    //     moves each leg's staging dir to `snap-<id><suffix>`. Losing a
    //     claim means a concurrent writer took that ordinal: re-read the
    //     manifest, target the next one. No writer ever deletes or
    //     renames onto another's dir.
    //  2. MANIFEST CAS — writeManifest detects a concurrent commit
    //     between our manifest read and write.
    //
    // On either conflict, basis-free commits — appends, upserts, CDC
    // merge batches — rebase and retry: the dirs move to the next free
    // ordinal and the snapshot entry is rebuilt on the new head (an
    // upsert rebased later keeps latest-wins semantics: its versions
    // simply carry the later ordinal). A commit with a basis aborts
    // instead: its bytes are stale against the concurrent commit (Paimon
    // aborts conflicting compactions the same way), and a claim lost
    // while the head still sits at the basis means another writer (or a
    // dead attempt's leftover) owns that dir. The caller re-runs. An
    // aborted attempt leaves only unreferenced dirs (never a dangling
    // manifest), harmless until [[sweepOrphanDirs]] reclaims them (plain
    // expiration can't: it only deletes dirs that dropped snapshot
    // entries name).
    val fc = fcFor(tablePath(schema, table))
    // FS CONTRACT: the claim below requires an ATOMIC fail-if-exists
    // rename. HDFS gives this server-side; the per-table JVM lock closes
    // the local filesystem's check-then-rename window (local rename
    // would otherwise nest the source INTO an existing target dir).
    // S3-class object stores do NOT satisfy it (rename is copy+delete,
    // not exclusive) — there the claim must be replaced by a conditional
    // put (If-None-Match) or a lock service, exactly as Paimon ships
    // object-store commit via lock callbacks. Rather than trusting the
    // rename's return value, each staging dir carries a unique
    // dot-prefixed claim marker and a win is accepted only if OUR marker
    // sits at the target root afterwards — on a non-exclusive-rename FS
    // the protocol then fails LOUDLY instead of silently interleaving
    // two writers' dirs.
    val claimToken = java.util.UUID.randomUUID().toString
    staged.foreach { s =>
      val out = fs.create(
        new Path(tablePath(schema, table), s"${s.dir}/${GraftCatalog.ClaimMarker}"), true)
      try out.write(claimToken.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    // Reads the whole marker and retries transient IO errors, so only a
    // genuine token mismatch — never a blip — downgrades a successful
    // rename into the loud non-atomic-rename abort below.
    def markerAt(toDir: String, attempt: Int = 1): Boolean = {
      val p = new Path(tablePath(schema, table), s"$toDir/${GraftCatalog.ClaimMarker}")
      scala.util.Try { val in = fs.open(p); try in.readAllBytes() finally in.close() } match {
        case scala.util.Success(bytes) =>
          new String(bytes, java.nio.charset.StandardCharsets.UTF_8) == claimToken
        case scala.util.Failure(_) if attempt < 3 =>
          Thread.sleep(10L * attempt)
          markerAt(toDir, attempt + 1)
        case scala.util.Failure(_) => false
      }
    }
    def claim(fromDir: String, toDir: String): Boolean = {
      val to = fs.makeQualified(new Path(tablePath(schema, table), toDir))
      val renamed = commitLockImpl.publishIfAbsent(fs, fc,
        fs.makeQualified(new Path(tablePath(schema, table), fromDir)), to,
        claimTestHook)
      // Rebase path: `fromDir` was itself a previously WON ordinal claim
      // (not the original staging dir) whose content just moved onward —
      // release its claim so the ordinal is reclaimable. Without this,
      // store-backed locks burn one ordinal per contested round and
      // writers' targets diverge exactly when contention is highest.
      if (renamed && !fromDir.startsWith("."))
        commitLockImpl.release(fs,
          fs.makeQualified(new Path(tablePath(schema, table), fromDir)))
      if (renamed && !markerAt(toDir))
        throw new IllegalStateException(
          s"$schema.$table: rename to $toDir reported success but the " +
            "claim marker is missing at the target — this filesystem's " +
            "rename is not atomic fail-if-exists (object-store " +
            "semantics?). The commit protocol requires an exclusive " +
            "rename; use a conditional-put/lock-based claim on such " +
            "stores. Aborting loudly: the target may interleave a " +
            "concurrent writer's files.")
      renamed
    }
    var cur = m
    var landId = m.headId + 1
    var attempts = 0
    var placed = staged // each leg where its bytes sit: staging, then its claimed dir
    // Basis-free commits retry to a TIME budget, not a fixed attempt
    // count (Paimon's commit retries until a configurable deadline):
    // under an N-writer storm each round has one winner, so any fixed
    // small bound is a liveness cliff for the slowest writer. The attempt
    // cap is a runaway backstop only. Commits with a basis throw on their
    // first conflict inside the loop, so the budget never delays an abort.
    val retryDeadline = System.nanoTime() + commitRetryTimeoutMs * 1000000L
    while (attempts < 10000 &&
        (attempts == 0 || System.nanoTime() < retryDeadline)) {
      attempts += 1
      val target = s"snap-$landId"
      // claim every leg's dir at this ordinal, in order; a lost claim
      // leaves the remaining legs where they are
      val lost = placed.indexWhere { s =>
        val to = target + s.leg.suffix
        s.dir != to && !claim(s.dir, to)
      }
      val won = if (lost < 0) placed.size else lost
      placed = placed.take(won).map(s => s.copy(dir = target + s.leg.suffix)) ++
        placed.drop(won)
      if (lost < 0) {
        try {
          land(cur, landId, target)
          autoMaintain(schema, table, change.compaction)
          autoExpire(schema, table)
          return landId
        }
        catch { case e: java.util.ConcurrentModificationException =>
          if (fence.isDefined) throw e
        }
      }
      // conflict — a dir claim or the manifest CAS was lost
      val fresh = readManifest(schema, table)
      fence.foreach { b =>
        if (fresh.commitVersion != b) throw staleBasis(schema, table, b, fresh.commitVersion)
        throw new java.util.ConcurrentModificationException(
          s"$schema.$table: ${if (lost < 0) target else target + placed(lost).leg.suffix} is " +
            "claimed by a concurrent writer (or a dead attempt's leftover) — " +
            "re-run; sweepOrphanDirs reclaims orphan dirs")
      }
      cur = fresh
      landId = math.max(cur.headId + 1, landId + 1)
      // Jittered exponential backoff before the next round: without it,
      // N writers re-collide immediately and the slowest can lose every
      // round (observed: 8-writer storms starving one writer). Jitter
      // desynchronizes the herd; the cap keeps the common 2-writer case
      // fast.
      val cap = math.min(100L, 2L << math.min(attempts, 5))
      Thread.sleep(java.util.concurrent.ThreadLocalRandom.current()
        .nextLong(1, cap + 1))
    }
    throw new IllegalStateException(
      s"$schema.$table: could not land a snapshot after $attempts " +
        s"attempts over ${commitRetryTimeoutMs} ms (last target " +
        s"snap-$landId) — retry under less write contention, raise the " +
        "commit retry budget, or remove dead writers' leftover dirs")
  }

  /**
   * Write one frame as a snapshot dir (staging path `toDir`, relative to
   * the table) in the table's physical layout for `kind`: data rows
   * under the identity-partition columns, data and tombstones of
   * bucketed PK tables under `__bucket=k` by key hash (`buckets`; -1 =
   * pre-routed), in the table's file format and compression, with the
   * write-time position stamp on ORC/AVRO deletion-vector tables. DV,
   * changelog and index dirs stay flat. `lead` names extra leading
   * partition columns carried by the frame — [[sortCompact]]'s
   * `__range`, whose subdirs it then lands as separate legs.
   */
  private[sources] def writeDir(schema: String, table: String, m: Manifest,
      frame: DataFrame, toDir: String, kind: String, buckets: Option[Int],
      lead: Seq[String] = Nil, clustered: Boolean = false): Unit = {
    val (toWrite0, bucketPart) =
      if (!bucketLaid(kind)) (frame, Seq.empty)
      else buckets match {
        case Some(-1) => (frame, Seq(BucketCol)) // pre-routed via the hash index
        case Some(n) =>
          (frame.withColumn(BucketCol, bucketExpr(m.primaryKey, n)), Seq(BucketCol))
        case None => (frame, Seq.empty)
      }
    val parted =
      lead ++ (if (kind == "data") m.partitionColumns else Seq.empty) ++ bucketPart
    // Cluster the batch by its physical layout keys before a bucketed
    // write: without this, EVERY task writes a file into every
    // (partition, bucket) it holds rows for — tasks × buckets files
    // per commit (a 1000-task batch into a 4096-bucket table would
    // land 4M tiny files). One delta-sized shuffle caps it at ~one
    // file per touched leaf dir, which is also Paimon's per-bucket
    // writer grouping. Plain partitioned tables (no bucket) keep the
    // narrow write — their file count is bounded by tasks × live
    // partitions of the batch, the standard Spark trade. A `clustered`
    // frame (see Leg) is written as it stands: every row's bucket is
    // still computed from its key above, so placement never depends on
    // the claim — a partition holding several leaves only writes more
    // files.
    val toWrite = if (bucketPart.nonEmpty && !clustered)
      toWrite0.repartition(parted.map(col): _*)
    else toWrite0
    // DV sidecar frames stay parquet regardless of the table's data
    // format (position lists, not data)
    val fmt = if (kind == "dv") "parquet" else m.options.fileFormat
    // ORC/AVRO DV tables: stamp the write-time positional identity
    // into every data file (see [[OrcPosCol]] — neither reader has a
    // `_metadata.row_index`; identity only needs to be stable and
    // unique, and monotonically_increasing_id is partition-prefixed
    // unique within the commit's job). Data files only: tombstones
    // and sidecars are never DV victims.
    val stamped = if (kind == "data" && fmt != "parquet" && m.options.deletionVectors)
      toWrite.withColumn(OrcPosCol,
        org.apache.spark.sql.functions.monotonically_increasing_id())
    else toWrite
    val writer0 = stamped.write.mode("overwrite").format(providerFor(fmt))
    // Paimon's file.compression: per-table codec for data files
    // (engine default — snappy — when unset). DV sidecars keep the
    // default; they are position lists, not data.
    val writer = m.options.fileCompression.filter(_ => kind != "dv")
      .map(c => writer0.option("compression", c)).getOrElse(writer0)
    (if (parted.nonEmpty) writer.partitionBy(parted: _*) else writer)
      .save(new Path(tablePath(schema, table), toDir).toString)
  }

  /** The atomicity primitive every protocol CAS (snapshot-dir claim,
    * manifest version publish) goes
    * through. Default: exclusive rename (HDFS/local). Swap in a
    * [[ConditionalPutCommitLock]] for S3-class stores where rename is
    * copy+delete — exclusivity then comes from the store's conditional
    * put, not the filesystem. */
  private[graft] var commitLockImpl: CommitLock = ExclusiveRenameCommitLock

  /** Retry budget for basis-free commits that lose the manifest CAS
    * (Paimon's commit-retry deadline analog: `commit.retry-timeout`,
    * not a fixed attempt count). Test seam + deployment knob. */
  private[graft] var commitRetryTimeoutMs: Long = 120000L

  /** Test seam: runs after the commit's data write, before the manifest
    * CAS — lets a spec inject a concurrent commit deterministically. */
  private[graft] var commitTestHook: () => Unit = () => ()

  /** Test seam: runs inside the claim's lock, after the exists check and
    * before the rename — the window where a non-exclusive-rename FS lets
    * a concurrent writer's dir appear and the rename silently nests
    * instead of failing. Lets a spec prove the claim-marker check turns
    * that into a loud error. */
  private[graft] var claimTestHook: () => Unit = () => ()

  /** Test seam: runs at [[commit]] entry, before its manifest read and
    * basis check — the window between a commit's content being derived
    * (a DV delete's (file, pos) victims, a compaction's image) and its
    * landing, where a concurrent writer can move the head. */
  private[graft] var basisTestHook: () => Unit = () => ()



  // ---- consumers (durable reader offsets, Paimon consumer-id) ------------

  /**
   * Record a named consumer's progress: `nextSnapshotId` is the first
   * snapshot the consumer has NOT yet processed (Paimon's consumer-id
   * mechanism). Both expiration policies treat every snapshot with
   * `id >= nextSnapshotId` of any registered consumer as pinned, so a
   * lagging downstream job can never have unread history expired from
   * under it. Unregister with [[dropConsumer]] when the consumer retires.
   */
  def commitConsumerOffset(schema: String, table: String, consumerId: String,
      nextSnapshotId: Long): Unit = retryManifestUpdate {
    // a streaming consumer commits offsets WHILE ingest commits data, so
    // the manifest CAS races routinely — idempotent rebase-and-retry
    val m = readManifest(schema, table)
    m.putConsumer(consumerId, nextSnapshotId)
    writeManifest(schema, table, m)
  }

  def dropConsumer(schema: String, table: String, consumerId: String): Unit =
    retryManifestUpdate {
      val m = readManifest(schema, table)
      if (m.removeConsumer(consumerId)) writeManifest(schema, table, m)
    }

  /** All registered consumers → next unprocessed snapshot id. */
  def consumerOffsets(schema: String, table: String): Map[String, Long] =
    readManifest(schema, table).consumers

  /** One row per consumer: id + next unprocessed snapshot (Paimon's
    * `$consumers` table). */
  def consumersTable(schema: String, table: String): DataFrame = {
    val rows = consumerOffsets(schema, table).toSeq
    spark.createDataFrame(rows).toDF("consumer_id", "next_snapshot_id")
  }


  // ---- reads + time travel ----------------------------------------------

  def snapshots(schema: String, table: String): Seq[SnapshotInfo] =
    readManifest(schema, table).snapshots.map(s => SnapshotInfo(s.id, s.timestampMillis))

  /**
   * Read a table at the latest snapshot, a specific snapshot id, or the
   * latest snapshot with timestamp ≤ `asOfMillis`. When neither parameter
   * is given, session-level defaults [[GraftOptions.ScanSnapshotId]] /
   * [[GraftOptions.ScanTimestampMillis]] apply (the session-property flow
   * of TrinoSessionProperties.java:36–37).
   */
  def read(schema: String, table: String, snapshotId: Option[Long] = None,
      asOfMillis: Option[Long] = None): DataFrame =
    read(pin(schema, table, snapshotId, asOfMillis))

  /** [[read]] of a pinned snapshot. */
  def read(p: Pin): DataFrame =
    p.snapshot.flatMap(s => resolveFrames(p.schema, p.table, p.manifest, s.files))
      .getOrElse(emptyFrame(p.manifest))

  /**
   * The one place a read's snapshot is chosen: one manifest read, and in
   * it the snapshot `snapshotId` / `asOfMillis` select — explicit
   * arguments win, then the session scan properties, then the head. Every
   * read path plans from a pin, so all its files and stats come from one
   * snapshot even when a commit lands while it plans.
   */
  def pin(schema: String, table: String, snapshotId: Option[Long] = None,
      asOfMillis: Option[Long] = None): Pin = {
    val m = readManifest(schema, table)
    Pin(schema, table, m,
      m.chooseSnapshot(snapshotId, asOfMillis, spark.conf, s"$schema.$table"))
  }

  /** The head snapshot's merged image resolved from `m` alone — the plan
    * [[read]] builds, pinned to one manifest read so a compaction can
    * fence its commit on exactly that manifest's version. */
  private[sources] def headImage(schema: String, table: String,
      m: Manifest): DataFrame =
    read(Pin(schema, table, m, m.head))

  /** Whether [[headImage]] of `m` merges in fixed-bucket
    * [[bucketedResolve]] legs, one bucket per partition: that image, or
    * a filter or projection of it, lands as a [[Leg]] marked `clustered`
    * (written without the layout shuffle). */
  private[sources] def headMergesPerBucket(m: Manifest): Boolean =
    m.primaryKey.nonEmpty && m.options.bucket.exists(_ >= 1) &&
      m.head.exists(!_.files.exists(_.kind == "dv"))

  /** Zone maps of every live dir (dir name → stats); empty map for
    * pre-stats manifests — those dirs are simply never pruned. */
  def dirStats(schema: String, table: String): Map[String, FileStats.DirStats] =
    readManifest(schema, table).dirStats

  /** Per-FILE zones of every live dir (dir → relative file path → stats)
    * — the reference's actual skip unit (Paimon manifests carry per-file
    * field stats). Empty inner maps for entries written before per-file
    * zones existed; those dirs prune at dir granularity only. */
  def fileStats(schema: String, table: String): Map[String, Map[String, FileStats.DirStats]] =
    fileStatsFrom(schema, table, readManifest(schema, table))

  /**
   * Per-file zones, resolving the hierarchical layout: head entries carry
   * either inline `files` (legacy monolithic manifests — still honored)
   * or a `filesExt` token pointing at the dir's immutable `.zones.json`
   * sidecar. Sidecars are loaded lazily HERE — never at manifest-read
   * time — through a token-keyed process cache (immutable once their dir
   * lands; a reused ordinal after rollback gets a fresh token), with
   * cache misses fetched in bounded parallel so a cold 10⁴-dir table
   * costs O(dirs / 16) planning round-trips, not O(dirs) serial opens.
   * Unreadable sidecars degrade that dir to dir-level pruning (empty
   * inner map) — conservative, never wrong — with one warning each.
   */
  private[sources] def fileStatsFrom(schema: String, table: String,
      m: Manifest): Map[String, Map[String, FileStats.DirStats]] = {
    val zones = m.fileZones
    val out = mutable.LinkedHashMap[String, Map[String, FileStats.DirStats]]()
    zones.foreach { case (d, z) => z.foreach(out += d -> _) }
    val ext = zones.flatMap { case (d, z) => z.left.toOption.map(d -> _) } // dir -> sidecar token
    val dirOf = ext.map(_.swap).toMap
    GraftCatalog.zoneSidecars.warm(ext.map(_._2))(t => loadZoneSidecar(schema, table, dirOf(t), t))
    ext.foreach { case (d, t) => out += d -> loadZoneSidecar(schema, table, d, t) }
    out.toMap
  }

  /** Load one dir's zone sidecar through the token cache. */
  private def loadZoneSidecar(schema: String, table: String, dir: String,
      token: String): Map[String, FileStats.DirStats] =
    GraftCatalog.zoneSidecars.get(token,
        new Path(dirPath(schema, table, dir), GraftCatalog.ZoneSidecar)) { p =>
      val in = fs.open(p)
      val root = try mapper.readTree(in) finally in.close()
      FileStats.sidecarFromJson(root)
    }.getOrElse(Map.empty)

  /** Write one dir's per-file zones as its immutable `.zones.json`
    * sidecar; returns the fresh cache token the head manifest records. */
  private[sources] def writeZoneSidecar(dirPath: Path,
      files: Map[String, FileStats.DirStats]): String = {
    val token = java.util.UUID.randomUUID().toString
    val bytes = mapper.writeValueAsBytes(FileStats.sidecarToJson(files))
    val out = fs.create(new Path(dirPath, GraftCatalog.ZoneSidecar), true)
    try out.write(bytes) finally out.close()
    sidecarBytesWritten.addAndGet(bytes.length)
    token
  }

  /** Cumulative commit-metadata write sizes of THIS catalog instance —
    * the O(delta) tripwire counters (analog of
    * [[FileStats.driverFooterReads]]): tests assert head-manifest bytes
    * per commit stay flat as table file count grows, with only the
    * sidecar (O(this commit's files)) scaling. */
  private[graft] val manifestBytesWritten = new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] val lastManifestBytes = new java.util.concurrent.atomic.AtomicLong(-1L)
  private[graft] val sidecarBytesWritten = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Can a snapshot's dirs be zone-pruned independently? Append-only
    * current-schema snapshots only: on a MoR-pending PK table, pruning
    * the dir holding a key's LATEST version while an older dir survives
    * would resurrect the old version at merge time. */
  /** Bloom-index pointers of the current manifest — dir -> (token,
    * indexed cols); test/ops visibility. */
  private[graft] def bloomIndexInfo(schema: String,
      table: String): Map[String, (String, Set[String])] =
    readManifest(schema, table).bloomIdx

  /**
   * Refine the zone-kept file selections with the per-file bloom index:
   * a file is dropped only when some conjunctive equality/IN constraint
   * on an indexed column admits NONE of its literals (no false
   * negatives ⇒ provably no matching row). Dirs without an index, or
   * predicates without membership constraints, pass through untouched.
   */
  private def bloomRefine(schema: String, table: String, m: Manifest,
      resolved: org.apache.spark.sql.catalyst.expressions.Expression,
      perFile: Map[String, Map[String, FileStats.DirStats]],
      selections: Seq[(FileEntry, Option[Seq[String]])])
      : Seq[(FileEntry, Option[Seq[String]])] = {
    val idx = m.bloomIdx
    if (idx.isEmpty) return selections
    val constraints = FileStats.eqConstraints(resolved)
    if (constraints.isEmpty) return selections
    selections.map { case sel @ (fe, keptOpt) =>
      idx.get(fe.dir) match {
        case Some((token, cols)) if constraints.exists(c => cols.contains(c._1)) =>
          // Candidate inventory: the zone-kept files, else the manifest's
          // per-file zone keys (written by the same commit that built the
          // index — a dir can't have blooms without per-file zones). Only
          // these candidates' sidecars are ever opened (lazy, per-file).
          val bloomDir = dirPath(schema, table, fe.dir)
          keptOpt.orElse(perFile.get(fe.dir).filter(_.nonEmpty)
              .map(_.keys.toSeq.sorted)) match {
            case None => sel // no file inventory: conservative keep
            case Some(candidates) =>
              val pass = BloomIndex.filterMightMatch(
                fs, bloomDir, token, cols, candidates, constraints)
              if (pass.size == candidates.size) sel else (fe, Some(pass))
          }
        case _ => sel
      }
    }
  }

  private def zonePrunable(m: Manifest, entries: Seq[FileEntry]): Boolean = {
    val cur = m.currentSchemaVersion
    // Deletion-vector entries don't block pruning: DVs only REMOVE rows,
    // so a dir's zones stay a sound superset of its live values — pruning
    // on them can only keep too much, never drop a live row.
    entries.forall(e =>
      (e.kind == "data" && e.schemaVersion == cur) || e.kind == "dv") &&
      m.primaryKey.isEmpty
  }

  /**
   * Read with planning-time pruning — `read(...).filter(condition)`'s
   * result, from less of the table:
   *
   *  - Bucket selection (Paimon's `BucketSelectConverter` path): on a
   *    fixed-bucket PK table read at its head snapshot, a condition that
   *    pins every primary-key column with `=`, `<=>` or `IN` merges only
   *    the buckets those keys hash to ([[selectBuckets]]) — a key lookup
   *    is one single-task leg, not N. Driver-side hashing, no job.
   *  - Zone maps: dirs (and files) whose manifest min/max stats prove
   *    `condition` unsatisfiable are never listed, opened, or planned —
   *    the Spark-native analog of the reference's manifest-stats split
   *    skip (TrinoMetadataBase.applyFilter → SnapshotReader.withFilter).
   *    On a 100 TB table where commits arrive time-ordered, a date-range
   *    query plans O(matching dirs) instead of O(all dirs).
   *
   * Falls back to `read(...).filter` whenever neither applies (PK merge
   * state, evolved files, time travel on a bucketed table) or stats are
   * missing; only that fallback resolves every dir of the snapshot.
   */
  def readWhere(schema: String, table: String,
      condition: org.apache.spark.sql.Column,
      snapshotId: Option[Long] = None,
      asOfMillis: Option[Long] = None): DataFrame =
    readWhere(pin(schema, table, snapshotId, asOfMillis), condition)

  /** [[readWhere]] of a pinned snapshot. */
  def readWhere(p: Pin, condition: org.apache.spark.sql.Column): DataFrame = {
    val (schema, table, m, chosen) = (p.schema, p.table, p.manifest, p.snapshot)
    val entries = p.entries
    // read(...)'s frame over THIS manifest read — built only on fallback
    // (it lists and plans every dir of the snapshot)
    lazy val full = resolveFrames(schema, table, m, entries)
      .getOrElse(emptyFrame(m)).filter(condition)
    // The Column's tree is unresolved (plain name + raw literal); the
    // selectors need the analyzer's output — typed literals, coercion
    // casts folded in — so analyze the filter over a zero-row frame of
    // the table's schema (driver-side analysis only: no listing, no job).
    val resolved = emptyFrame(m).filter(condition).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }
    resolved.flatMap(selectBuckets(m, chosen, _)) match {
      case Some(buckets) =>
        // an empty selection proves no row matches (`k = 1 AND k = 2`)
        val slice = if (buckets.isEmpty) None
          else bucketSlice(schema, table, m, entries, m.options.bucket.get, buckets)
        return slice.getOrElse(emptyFrame(m)).filter(condition)
      case None => ()
    }
    // DV-COVERED PK snapshots (every data dir at/below the newest build,
    // current schema) prune like append-only state: the base holds one
    // live version per key, so a dir/file whose zones refute the
    // predicate holds no matching live row — merge can't resurrect a
    // version from a pruned file (it is either DV'd or THE live one).
    // Post-build deltas make pruning unsound again (a pruned old version
    // could mask a delta race) — those fall back to read().filter.
    val pk0 = m.primaryKey
    val coveredPk = pk0.nonEmpty && entries.exists(_.kind == "dv") && {
      val bo = entries.filter(_.kind == "dv").map(entryOrdinal).max
      val cur = m.currentSchemaVersion
      entries.filterNot(_.kind == "dv").forall(fe =>
        fe.kind == "data" && entryOrdinal(fe) <= bo && fe.schemaVersion == cur)
    }
    if (entries.isEmpty || !(zonePrunable(m, entries) || coveredPk)) return full
    if (resolved.isEmpty) return full
    val (dvEntries, dataEntries) = entries.partition(_.kind == "dv")
    val stats = m.dirStats
    val kept = dataEntries.filter(fe =>
      stats.get(fe.dir).forall(FileStats.mightMatch(_, resolved.get)))
    // The bucketed covered-PK branch below reads whole kept dirs (its
    // dirs hold __bucket=k subdirs the per-file machinery doesn't
    // resolve) — computing per-file zone/bloom refinement for it would
    // be sidecar I/O thrown away, so that shape stays dir-level.
    val bucketedCovered = coveredPk && m.options.bucket.isDefined
    // Per-FILE refinement inside surviving dirs — the reference's skip
    // unit (Paimon per-file field stats). A large append dir whose files
    // were written range-clustered (or just time-ordered) prunes to the
    // matching files instead of all-or-nothing; dirs without per-file
    // zones (pre-files manifests) keep all their files.
    val perFile = if (bucketedCovered) Map.empty[String, Map[String, FileStats.DirStats]]
      else fileStatsFrom(schema, table, m)
    val zoneSel: Seq[(FileEntry, Option[Seq[String]])] = kept.map { fe =>
      perFile.get(fe.dir).filter(_.nonEmpty) match {
        case Some(fm) =>
          val keptFiles = fm.collect {
            case (rel, z) if FileStats.mightMatch(z, resolved.get) => rel
          }.toSeq.sorted
          if (keptFiles.size < fm.size) (fe, Some(keptFiles)) else (fe, None)
        case None => (fe, None)
      }
    }
    // Bloom pass AFTER zones: membership pruning for the equality/IN
    // literals min/max can't rule out (unclustered point lookups).
    val selections = if (bucketedCovered) zoneSel
      else bloomRefine(schema, table, m, resolved.get, perFile, zoneSel)
    if (kept.size == dataEntries.size && selections.forall(_._2.isEmpty)) return full
    val picked: Seq[(FileEntry, Option[Seq[String]])] = selections.flatMap {
      case (fe, Some(keptFiles)) =>
        if (keptFiles.isEmpty) None // every file in the dir is provably out
        else Some((fe, Some(keptFiles.map(rel =>
          new Path(dirPath(schema, table, fe.dir), rel).toString))))
      case (fe, None) => Some((fe, None))
    }
    // zonePrunable ⇒ append-only (no PK, no tombstones): the frames union
    // without merge resolution, exactly resolveFrames' no-PK arm —
    // including deletion-vector application (pruning a dirty file is
    // sound: its DV rows then match nothing). The covered-PK branch is
    // the same shape with the merge-free DV-applied base.
    if (picked.isEmpty) emptyFrame(m).filter(condition)
    else if (!coveredPk)
      appendUnion(schema, table, m, picked, dvEntries)
        .drop("__ord", "__del").filter(condition)
    else if (m.options.bucket.isEmpty)
      appendUnion(schema, table, m, picked, dvEntries)
        .select(m.currentFields.map(f => col(f.name)): _*).filter(condition)
    else {
      // bucketed covered base: dirs hold __bucket=k subdirs that
      // appendUnion's per-file machinery doesn't resolve — DIR-level
      // pruning only (whole kept dirs, uniform anti-join), which is
      // where the zones' win lives anyway (time-ordered commits)
      unionAllByName(dirFrames(schema, table, m, picked.map(_._1), withMeta = true))
        .join(dvFrame(schema, table, dvEntries),
          Seq(DvFileCol, DvPosCol), "left_anti")
        .select(m.currentFields.map(f => col(f.name)): _*).filter(condition)
    }
  }

  /**
   * Dynamic-filter join (the Spark-native analog of Trino's
   * DynamicFilter SPI, which the reference connector receives in
   * TrinoSplitManager.java:37 / TrinoPageSourceProvider.java:52 —
   * runtime build-side values prune the probe-side splits): evaluate the
   * SMALL dim side first, turn its distinct join keys into a predicate,
   * and route the fact scan through [[readWhere]] so zone maps drop
   * non-matching dirs AND files before planning — then broadcast-join.
   * On a 100 TB fact table clustered by the join key (ingest order or
   * [[sortCompact]]), a selective dim filter reads O(matching files)
   * instead of the full table; the join applies exact semantics either
   * way, so the derived predicate only ever needs to be a superset.
   *
   * Contract (same as Trino's dynamic filtering, which engages only for
   * broadcast-able builds): `dim` must be small — it is collected
   * (distinct keys, capped at `maxKeys`) and broadcast. Above the cap
   * the filter is abandoned and this degrades to the plain broadcast
   * join (a non-selective filter prunes nothing anyway). Key sets up to
   * `inListMax` prune as per-column IN lists; larger sets degrade to
   * per-column min/max ranges (Trino's large dynamic filters do the
   * same) — still sound, still range-prunable.
   */
  def dynamicFilterJoin(schema: String, table: String, keys: Seq[String],
      dim: DataFrame, dimKeys: Seq[String],
      joinType: String = "inner",
      maxKeys: Int = 100000, inListMax: Int = 1000): DataFrame = {
    require(keys.nonEmpty && keys.size == dimKeys.size,
      s"need matching non-empty key lists, got $keys vs $dimKeys")
    require(joinType == "inner" || joinType == "left_semi",
      s"dynamic filtering needs a fact-preserving-only join (inner or " +
        s"left_semi), got $joinType — an outer fact side would resurrect " +
        "pruned rows as nulls")
    val cond = (f: DataFrame, d: DataFrame) =>
      keys.zip(dimKeys).map { case (k, dk) => f(k) === d(dk) }.reduce(_ && _)
    def join(fact: DataFrame): DataFrame = {
      val d = org.apache.spark.sql.functions.broadcast(dim)
      fact.join(d, cond(fact, d), joinType)
    }
    // ONE pass over the dim side: distinct key tuples, capped — the
    // build-side evaluation Trino does before handing the filter to the
    // split manager. limit(maxKeys + 1) bounds driver memory even when
    // the cap is misjudged.
    val keyRows = dim.select(dimKeys.map(col): _*).distinct()
      .limit(maxKeys + 1).collect()
    if (keyRows.length > maxKeys) return join(read(schema, table))
    // empty build side: inner/semi join is provably empty — no fact scan
    if (keyRows.isEmpty) return join(read(schema, table).filter(lit(false)))
    val pred = keys.zipWithIndex.map { case (k, i) =>
      val vs = keyRows.map(_.get(i)).distinct.filter(_ != null)
      if (vs.isEmpty) lit(false)
      else if (vs.length <= inListMax) col(k).isin(vs.toIndexedSeq: _*)
      else {
        // min/max range per column — conservative superset of the set
        // (collect() returns external types: Long/String/Date/... are
        // all Comparable)
        val sorted = vs.sortWith((a, b) =>
          a.asInstanceOf[Comparable[Any]].compareTo(b) < 0)
        col(k) >= lit(sorted.head) && col(k) <= lit(sorted.last)
      }
    }.reduce(_ && _)
    join(readWhere(schema, table, pred))
  }

  /**
   * Metadata-only row count: `count(*)` answered from manifest zone-map
   * row counts minus deletion-vector positions — zero files opened, zero
   * executor work (the O(1) planning answer a 100 TB `SELECT count(*)`
   * deserves). Some only when provably exact, which takes recorded stats
   * on every counted dir and one of: plain current-schema append data
   * (no primary key), or a DV-covered primary-key snapshot (every data
   * dir at or below the newest DV build, no tombstone dirs), whose image
   * holds one live row per key. Other PK snapshots answer None: MoR merge
   * changes the visible count.
   */
  def countRows(schema: String, table: String,
      snapshotId: Option[Long] = None,
      asOfMillis: Option[Long] = None): Option[Long] =
    countRows(pin(schema, table, snapshotId, asOfMillis))

  /** [[countRows]] of a pinned snapshot. */
  def countRows(p: Pin): Option[Long] = {
    val m = p.manifest
    if (p.snapshot.isEmpty) return Some(0L)
    val entries = p.entries
    // DV-covered PK snapshot (every data dir at/below the newest build,
    // no tombstone dirs): the live image holds exactly one row per key,
    // so the count is metadata-exact by subtraction — the read-optimized
    // mode answers count(*) with zero I/O, like an append table
    // (positions never double-count: each build derives victims over the
    // DV-applied image). Retired-bucket marks at/below a build don't
    // break this: the build DV'd those rows positionally, and dir stats
    // count them, so the subtraction stays exact.
    if (m.primaryKey.nonEmpty) {
      val dvEs0 = entries.filter(_.kind == "dv")
      if (dvEs0.isEmpty) return None
      val buildOrd = dvEs0.map(entryOrdinal).max
      val others = entries.filterNot(_.kind == "dv")
      if (!others.forall(fe => fe.kind == "data" && entryOrdinal(fe) <= buildOrd))
        return None
      val stats0 = m.dirStats
      val counts0 = others.map(fe => stats0.get(fe.dir).map(_.rows))
      val dvIdx0 = m.dvIndex
      val dvRows0 = dvEs0.map(e => dvIdx0.get(e.dir).map(_._2))
      return if (counts0.exists(_.isEmpty) || dvRows0.exists(_.isEmpty)) None
        else Some(counts0.flatten.sum - dvRows0.flatten.sum)
    }
    if (!zonePrunable(m, entries)) return None
    val (dvEs, dataEs) = entries.partition(_.kind == "dv")
    val stats = m.dirStats
    val counts = dataEs.map(fe => stats.get(fe.dir).map(_.rows))
    if (counts.exists(_.isEmpty)) return None
    // Deletion vectors subtract exactly: a position can be deleted only
    // once (deleteWhere evaluates its predicate over the DV-applied
    // image, so an already-deleted row is invisible to later deletes).
    val dvIdx = m.dvIndex
    val dvRows = dvEs.map(e => dvIdx.get(e.dir).map(_._2))
    if (dvRows.exists(_.isEmpty)) None
    else Some(counts.flatten.sum - dvRows.flatten.sum)
  }

  /** What changes how a snapshot dir is read: its kind, write-time schema
    * version and retract flag. Dirs sharing this key read as ONE relation
    * ([[groupFrames]]); the ordinal comes from each row's file path. */
  private def readGroupOf(fe: FileEntry): (String, Int, Boolean) =
    (fe.kind, fe.schemaVersion, fe.retract)

  /**
   * `roots` (each a snapshot dir, a `__bucket=k` leaf of one, or a file
   * of one, paired with its entry) read as one relation per read group
   * ([[readGroupOf]]) instead of one per dir, so a plan grows with its
   * groups, not its dirs, and its generated code is the same from commit
   * to commit. Roots must be flat: a root holding `col=value` subdirs
   * needs partition discovery, which takes a single base dir (see
   * [[dirFrames]]). A group is split into chunks of at most
   * `spark.sql.sources.parallelPartitionDiscovery.threshold` roots, so
   * listing stays on the driver as it does for one-dir relations —
   * beyond it Spark lists through a job.
   */
  private def groupFrames(m: Manifest, roots: Seq[(FileEntry, Path)],
      withMeta: Boolean = false): Seq[DataFrame] =
    roots.map(r => readGroupOf(r._1)).distinct.flatMap { g =>
      roots.filter(r => readGroupOf(r._1) == g).grouped(math.max(1, discoveryChunk))
        .map(part => relationFor(m, part.head._1, part.map(_._2.toString), None,
          withMeta, withBucket = false))
    }

  /** Most roots one relation lists without a listing job: Spark's
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` — beyond it
    * Spark lists through a job. */
  private[sources] def discoveryChunk: Int = spark.conf
    .get("spark.sql.sources.parallelPartitionDiscovery.threshold", "32").toInt

  /**
   * The one way snapshot entries become frames: each mapped onto the
   * current schema by [[relationFor]], as [[groupFrames]] relations over
   * flat roots — the dir, its `__bucket=k` leaves on a bucket-laid dir
   * (listed once; only `onlyBuckets`', and without the entry's retired
   * buckets when `skipRetired`), or the files `files` names for the
   * entry (an empty subset reads nothing). A partitioned data dir (or a
   * file subset of it) needs partition discovery from one base dir, so
   * it reads as its own relation with its buckets filtered after the
   * read. No frame carries the bucket column, so all of them share one
   * column layout and union with [[unionAllByName]].
   */
  private[sources] def dirFrames(schema: String, table: String, m: Manifest,
      entries: Seq[FileEntry], withMeta: Boolean = false,
      onlyBuckets: Option[Seq[Int]] = None, skipRetired: Boolean = false,
      files: Map[FileEntry, Seq[String]] = Map.empty): Seq[DataFrame] = {
    val bucketed = m.options.bucket.isDefined
    def keeps(fe: FileEntry, k: Int) = onlyBuckets.forall(_.contains(k)) &&
      !(skipRetired && fe.excludeBuckets.contains(k))
    val (own, flat) = entries.filterNot(fe => files.get(fe).exists(_.isEmpty))
      .partition(fe => fe.kind == "data" && m.partitionColumns.nonEmpty)
    val ownFrames = own.map { fe =>
      val base = dirPath(schema, table, fe.dir).toString
      val sub = files.get(fe)
      val f = relationFor(m, fe, sub.getOrElse(Seq(base)), sub.map(_ => base),
        withMeta, withBucket = bucketed)
      if (!bucketed) f
      else {
        val retired = if (skipRetired) fe.excludeBuckets else Nil
        (onlyBuckets.map(bs => col(BucketCol).isin(bs.map(Integer.valueOf): _*)) ++
          Some(retired).filter(_.nonEmpty)
            .map(xs => !col(BucketCol).isin(xs.map(Integer.valueOf): _*)))
          .reduceOption(_ && _).fold(f)(f.filter).drop(BucketCol)
      }
    }
    val roots = flat.flatMap { fe =>
      val d = dirPath(schema, table, fe.dir)
      files.get(fe) match {
        case Some(sub) => sub.map(f => fe -> new Path(f))
        case None if bucketed && bucketLaid(fe.kind) =>
          bucketsUnder(d, 0).filter(keeps(fe, _)).sorted
            .map(k => fe -> new Path(d, s"$BucketCol=$k"))
        case None => Seq(fe -> d)
      }
    }
    ownFrames ++ groupFrames(m, roots, withMeta)
  }

  /** Test seam: each data and tombstone dir of the head snapshot with
    * the distinct merge ordinals its rows resolve under
    * ([[GraftCatalog.OrdinalFromPath]], read through [[dirFrames]]). */
  private[graft] def headOrdinals(schema: String,
      table: String): Seq[(String, Seq[Long])] = {
    val m = readManifest(schema, table)
    snapshotFileEntries(schema, table)
      .filter(fe => fe.kind == "data" || fe.kind == "delete").map { fe =>
        val frames = dirFrames(schema, table, m, Seq(fe))
        fe.dir -> (if (frames.isEmpty) Seq.empty
          else unionAllByName(frames).select("__ord").distinct().collect()
            .map(_.getLong(0)).toSeq.sorted)
      }
  }

  /** Bucket ids of the `__bucket=k` leaves under `p`: directly below it,
    * or below up to `depth` levels of `col=value` partition dirs. One
    * driver listing per dir level; a missing dir has none. */
  private[sources] def bucketsUnder(p: Path, depth: Int): Seq[Int] =
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.flatMap { st =>
      val nm = st.getPath.getName
      if (nm.startsWith(s"$BucketCol=")) bucketOfPath(nm)
      else if (depth > 0 && st.isDirectory && nm.contains("="))
        bucketsUnder(st.getPath, depth - 1)
      else Seq.empty
    }

  /** `k` of the first `__bucket=k` segment of a `/`-separated relative
    * path (a file of a bucket-laid dir, or one segment name); None when
    * it has none. */
  private[sources] def bucketOfPath(rel: String): Option[Int] =
    rel.split('/').find(_.startsWith(s"$BucketCol="))
      .flatMap(_.stripPrefix(s"$BucketCol=").toIntOption)

  /** `paths` (dirs, or files under `basePath`) read as one relation
    * mapped onto the current schema: every current column by stable
    * field id (missing → null), plus the snapshot ordinal `__ord` and
    * the tombstone flag `__del` merge-on-read uses. `fe` describes how
    * the paths were written (kind, write-time schema version, retract
    * flag); a changelog (`cl`) dir adds its `_row_kind` column. */
  private def relationFor(m: Manifest, fe: FileEntry, paths: Seq[String],
      basePath: Option[String], withMeta: Boolean,
      withBucket: Boolean): DataFrame = {
    val curFields = m.currentFields
    val allSchemas = m.schemaVersions
    val writeFieldsAll = allSchemas(fe.schemaVersion)
    // Delete files carry only the primary-key columns (write-time names)
    // — plus the sequence field on `sequence.field` tables, where a
    // tombstone must hold its victim's sequence value to win the version
    // race (a missing column reads as NULL, which sorts smallest).
    val writeFields =
      if (fe.kind == "delete") {
        // cross-partition tables: tombstones also carry their victim's
        // partition columns (the OLD residence) — the merge keys on
        // (pk, partition), so the tombstone must land in the right group
        val keep = m.primaryKey.toSet ++ m.options.sequenceField ++
          m.partitionColumns
        val keepIds = curFields.filter(f => keep.contains(f.name)).map(_.id).toSet
        writeFieldsAll.filter(f => keepIds.contains(f.id))
      } else writeFieldsAll
    // data AND tombstone dirs follow the table's file.format (ORC reads
    // columns by write-time NAME, so the field-id mapping below works
    // identically); DV sidecar dirs alone are parquet-pinned (position
    // lists, not data)
    val fmt = if (fe.kind == "dv") "parquet" else m.options.fileFormat
    // ORC/AVRO data files of DV tables carry their row identity as a
    // stored column ([[OrcPosCol]], stamped at write — neither reader
    // has a `_metadata.row_index`); a meta-requesting read pulls it
    // through the explicit schema and surfaces it as [[DvPosCol]] below.
    // DV tables only: a non-DV file never carries the column, and
    // spark-avro refuses schema fields absent from the file (ORC would
    // merely read nulls).
    val orcPos = withMeta && fmt != "parquet" && fe.kind == "data" &&
      m.options.deletionVectors
    // Explicit write-time schema: without it, Spark's partition-dir
    // type inference would coerce string partition values that look
    // numeric ("0123" -> 123) and corrupt the round-trip.
    val writeSchema = StructType(writeFields.map(f =>
      StructField(f.name, TypeMapping.toSparkType(f.trinoType))) ++
      (if (orcPos)
        Seq(StructField(OrcPosCol, org.apache.spark.sql.types.LongType))
      else Seq.empty) ++
      // retract-flagged dirs (aggregation engine) carry the hidden flag
      // column; only flagged dirs read it — spark-avro refuses schema
      // fields absent from the file, and unflagged dirs never wrote it
      (if (fe.retract)
        Seq(StructField(RetractCol, org.apache.spark.sql.types.BooleanType))
      else Seq.empty) ++
      (if (fe.kind == "cl")
        Seq(StructField(RowKindCol, org.apache.spark.sql.types.StringType))
      else Seq.empty) ++
      (if (withBucket)
        Seq(StructField(BucketCol, org.apache.spark.sql.types.IntegerType))
      else Seq.empty))
    val reader = spark.read.schema(writeSchema).format(providerFor(fmt))
    val raw = basePath.fold(reader)(reader.option("basePath", _)).load(paths: _*)
    // Map write-time schema → current schema by field id; struct columns
    // whose SHAPE evolved map member-wise by nested lineage (adaptExpr —
    // a positional cast would mis-wire renamed/added members).
    val byId = writeFields.map(f => f.id -> f).toMap
    val cols = curFields.map { cf =>
      val toDt = TypeMapping.toSparkType(cf.trinoType)
      byId.get(cf.id) match {
        case Some(wf) =>
          val fromDt = TypeMapping.toSparkType(wf.trinoType)
          (fromDt, toDt) match {
            case (f0, t0) if f0 == t0 => col(wf.name).as(cf.name)
            case (_: StructType, _: StructType) =>
              adaptExpr(col(wf.name), fromDt, toDt, curPath = "",
                nestedCurToWrite(m, cf.id, fe.schemaVersion)).as(cf.name)
            case _ => col(wf.name).cast(toDt).as(cf.name)
          }
        case None => lit(null).cast(toDt).as(cf.name)
      }
    }
    // Deletion-vector identity of each row: the file's table-relative
    // path (from the immutable "snap-" dir segment on, so the warehouse
    // can be relocated without invalidating DVs) plus the row's position
    // in that file (`_metadata.row_index` — generated from row-group
    // offsets, stable across reads and pushdown). Both are constant
    // metadata columns, so the scan stays vectorized.
    // The greedy `.*` anchors the capture at the LAST path segment that
    // starts with "snap-": a warehouse path that itself contains a
    // "/snap-…" segment must not shift the capture left, or DV entries
    // would carry warehouse prefixes that never match the table-relative
    // paths the dvIndex and appendUnion compare against.
    val metaCols = if (!withMeta) Seq.empty else Seq(
      org.apache.spark.sql.functions.regexp_extract(
        col("_metadata.file_path"), "^.*/(snap-[^/]+(?:/.+)?)$", 1).as(DvFileCol),
      // parquet: the reader-generated row index (row-group offsets,
      // stable across reads and pushdown). ORC: the stored write-time
      // identity column — same stability contract, different source.
      (if (orcPos) col(OrcPosCol) else col("_metadata.row_index"))
        .as(DvPosCol))
    val bucketCols = if (withBucket) Seq(col(BucketCol)) else Seq.empty
    val clCols = if (fe.kind == "cl") Seq(col(RowKindCol)) else Seq.empty
    // aggregation-engine frames always carry the retract flag so sibling
    // dirs with and without retract batches union by name; unflagged
    // dirs contribute constant false (their rows are all inserts)
    val rkCols = if (m.options.mergeEngine != "aggregation") Seq.empty
      else Seq((if (fe.retract)
        org.apache.spark.sql.functions.coalesce(col(RetractCol), lit(false))
      else lit(false)).as(RetractCol))
    raw.select(cols ++ metaCols ++ bucketCols ++ rkCols ++ clCols ++ Seq(
      OrdinalFromPath.as("__ord"), lit(fe.kind == "delete").as("__del")): _*)
  }


  /**
   * Union the mapped frames and resolve merge-on-read state per the
   * table's merge engine (Paimon's `merge-engine`, default deduplicate):
   *
   *  - `deduplicate`: latest ordinal wins per key; a winning tombstone
   *    removes the key (the only engine that accepts deletes).
   *  - `first-row`: EARLIEST ordinal wins per key.
   *  - `partial-update`: per field, the latest NON-NULL value wins — a
   *    row upserting (id, NULL, x) patches only its non-null fields.
   *  - `aggregation`: per field, the configured `fields.<f>.
   *    aggregate-function` (sum/min/max/last_non_null) folds versions.
   *
   * Append-only tables have no tombstones — plain union. All engines are
   * one hash shuffle on the key (groupBy aggregation for the field-wise
   * engines — partial map-side combine, no sort; window for the
   * ordinal-wise ones).
   */
  private[sources] def resolveFrames(schema: String, table: String, m: Manifest,
      entries: Seq[FileEntry]): Option[DataFrame] = {
    if (entries.isEmpty) return None
    // PK tables carrying deletion vectors (built at compaction) read
    // merge-free below the build ordinal — see pkDvResolve. Checked
    // before the bucketed dispatch: the hybrid read subsumes it.
    if (m.primaryKey.nonEmpty && entries.exists(_.kind == "dv"))
      return pkDvResolve(schema, table, m, entries)
    m.options.bucket match {
      case Some(n) if m.primaryKey.nonEmpty =>
        return bucketedResolve(schema, table, m, entries, n)
      case _ => ()
    }
    val pk = m.primaryKey
    if (pk.isEmpty) {
      // Append-only: plain union, minus any deletion-vector positions.
      val (dvEs, dataEs) = entries.partition(_.kind == "dv")
      if (dataEs.isEmpty) return None
      return Some(appendUnion(schema, table, m, dataEs.map((_, None)), dvEs)
        .drop("__ord", "__del"))
    }
    val all = unionAllByName(dirFrames(schema, table, m, entries))
    def ordinalPick(earliest: Boolean): DataFrame = {
      // first-row keeps pure commit order (sequence.field is validated
      // deduplicate-only at create time)
      val order = if (earliest) Seq(col("__ord").asc) else newestFirst(m)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(pk.map(col): _*)
        .orderBy(order: _*)
      all.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1 && !col("__del"))
        .drop("__ord", "__rn", "__del")
    }
    Some(m.options.mergeEngine match {
      case "deduplicate" => ordinalPick(earliest = false)
      case "first-row" => ordinalPick(earliest = true)
      case engine => // partial-update | aggregation
        // tombstone dirs exist on aggregation tables only under
        // remove-record-on-delete (r16) — the fold then re-aggregates
        // each key from the versions after its latest tombstone;
        // retract-flagged dirs flip the fold to its inverting form
        fieldwiseFold(m, all, engine,
          tombstones = entries.exists(_.kind == "delete"),
          retracts = entries.exists(_.retract))
    })
  }

  /** Resolve an arbitrary `__ord`-tagged frame of row versions under the
    * table's merge engine — the ad-hoc analog of [[resolveFrames]] for
    * frames that are not snapshot entries (the write-time lookup
    * producer's image ∪ patch fold). With `tombstones=true` the input
    * may carry `__del`-flagged remove-record-on-delete rows, which the
    * field-wise fold honors (versions at or below a key's latest
    * tombstone are dead) — without the flag the input must be
    * tombstone-free. */
  private[sources] def resolveVersions(m: Manifest, all: DataFrame,
      tombstones: Boolean = false): DataFrame = {
    val pk = m.primaryKey
    val names = m.currentFields.map(_.name)
    m.options.mergeEngine match {
      case "deduplicate" | "first-row" =>
        val earliest = m.options.mergeEngine == "first-row"
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(pk.map(col): _*)
          .orderBy(if (earliest) col("__ord").asc else col("__ord").desc)
        all.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).select(names.map(col): _*)
      case engine => fieldwiseFold(m, all, engine, tombstones = tombstones)
    }
  }

  /** Union of `entries`' frames zone-pruned against the pk BOUNDS of a
    * key-bearing frame — one O(keys) min/max agg, then per-file zone
    * admission: a file whose pk zone is disjoint from the keys' range on
    * ANY key column can hold none of them. Sharpest when keys cluster
    * (monotonic ids, time-prefixed keys); entries without per-file zones
    * are kept whole — conservative, never wrong. Shared by the
    * incremental DV rebuild's base scan and the field-wise lookup
    * producer's before-image read. */
  private[sources] def keyBoundPrunedUnion(schema: String, table: String,
      m: Manifest, entries: Seq[FileEntry], keyed: DataFrame,
      pk: Seq[String], withMeta: Boolean = false): Option[DataFrame] = {
    import org.apache.spark.sql.functions.{max => fmax, min => fmin}
    val bounds = keyed.select(pk.flatMap(k => Seq(
      fmin(col(k)).as(s"__mn_$k"), fmax(col(k)).as(s"__mx_$k"))): _*).head()
    val rangePred: Option[org.apache.spark.sql.catalyst.expressions.Expression] =
      pk.flatMap { k =>
        val mn = bounds.getAs[Any](s"__mn_$k")
        val mx = bounds.getAs[Any](s"__mx_$k")
        if (mn == null || mx == null) None
        else {
          import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          import org.apache.spark.sql.catalyst.expressions.{And => CAnd,
            GreaterThanOrEqual, LessThanOrEqual, Literal => CLit}
          Some(CAnd(
            GreaterThanOrEqual(UnresolvedAttribute(k), CLit(mn)),
            LessThanOrEqual(UnresolvedAttribute(k), CLit(mx))))
        }
      }.reduceOption(org.apache.spark.sql.catalyst.expressions.And(_, _))
    val perFile = fileStatsFrom(schema, table, m)
    val admitted: Map[FileEntry, Seq[String]] = rangePred.fold(
        Map.empty[FileEntry, Seq[String]]) { p =>
      entries.flatMap(fe => perFile.get(fe.dir).filter(_.nonEmpty).map(fm =>
        fe -> fm.collect {
          case (rel, z) if FileStats.mightMatch(z, p) =>
            new Path(dirPath(schema, table, fe.dir), rel).toString
        }.toSeq.sorted)).toMap
    }
    unionOption(dirFrames(schema, table, m, entries, withMeta = withMeta,
      files = admitted))
  }

  /** Fold an `__ord`-tagged frame of row versions per a FIELD-WISE merge
    * engine (partial-update | aggregation) — one groupBy aggregation
    * over the versions, partial map-side combine, no sort. Shared by
    * [[resolveFrames]] (snapshot reads) and the write-time `lookup`
    * changelog producer (which folds a staged patch batch onto the
    * touched keys' resolved images). */
  private def fieldwiseFold(m: Manifest, all0: DataFrame,
      engine: String, tombstones: Boolean = false,
      retracts: Boolean = false): DataFrame = {
    val pk = m.primaryKey
    val names = m.currentFields.map(_.name)
    // remove-record-on-delete (aggregation, r16): versions at or below a
    // key's latest tombstone ordinal are dead — the key re-aggregates
    // from later versions only, and disappears when none follow. The
    // window shares the groupBy's key partitioning (one exchange).
    val all = if (!tombstones) all0 else {
      val wDel = org.apache.spark.sql.expressions.Window.partitionBy(pk.map(col): _*)
      val dOrd = org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.when(col("__del"), col("__ord"))).over(wDel)
      all0.withColumn("__dord", dOrd)
        .filter(!col("__del") &&
          (col("__dord").isNull || col("__ord") > col("__dord")))
        .drop("__dord")
    }
    // retract inputs present? Gated on the caller's ENTRY-level flag,
    // not just the column (every aggregation frame carries it as
    // constant false) — insert-only histories keep the cheaper
    // comparison-free folds, and collect on unorderable element types
    // (array<map>) keeps working there.
    val hasRk = retracts && all.columns.contains(RetractCol)
    val rkCol = if (hasRk) col(RetractCol) else lit(false)
    /** Latest non-null value of `f` across a key's versions: max over
      * structs ordered by ordinal, built only when `f` is non-null so
      * `max` skips null versions entirely. Deterministic — ordinals are
      * unique per key (one version per commit). */
    def lastNonNull(f: String) =
      org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.when(col(f).isNotNull,
          org.apache.spark.sql.functions.struct(col("__ord").as("o"), col(f).as("v"))))
        .getField("v")
    val cur = m.currentFields
    val opts = m.options
    // sequence-group routing (partial-update only): member field →
    // its group's sequence column; the seq column routes to itself
    val groups = if (engine == "partial-update") opts.sequenceGroups
      else Map.empty[String, Seq[String]]
    val fieldGroup: Map[String, String] =
      groups.flatMap { case (g, ms) => ms.map(_ -> g) } ++
        groups.keys.map(g => g -> g)
    /** The group's winner row is the largest (group-seq, ordinal)
      * among rows with a NON-NULL group sequence; take its value for
      * `f` — nulls included (a higher-versioned row may null a
      * member), unlike the groupless latest-non-null rule. */
    def groupPick(g: String, f0: String) =
      org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.when(col(g).isNotNull,
          org.apache.spark.sql.functions.struct(col(g).as("__s"),
            col("__ord").as("__o"), col(f0).as("__v"))))
        .getField("__v")
    val aggs = cur.filterNot(f => pk.contains(f.name)).map { f =>
      val dt = TypeMapping.toSparkType(f.trinoType)
      import org.apache.spark.sql.functions.{sum => fsum, min => fmin,
        max => fmax, bool_and, bool_or, product, when => fwhen,
        struct => fstruct, collect_list, array_sort, transform,
        array_join}
      // version-ordered struct (ordinal first ⇒ struct comparison /
      // sort IS commit order); built only for non-null values when
      // `nonNullOnly`, so min/max skip null versions entirely
      def ordStruct(f0: String, nonNullOnly: Boolean) = {
        val s0 = fstruct(col("__ord").as("o"), col(f0).as("v"))
        if (nonNullOnly) fwhen(col(f0).isNotNull, s0) else s0
      }
      val e = if (engine == "partial-update")
        fieldGroup.get(f.name) match {
          case Some(g) => groupPick(g, f.name)
          case None => lastNonNull(f.name)
        }
      else opts.fieldAggregate(f.name) match {
        // retract inputs subtract (group inverse — exact, and associative
        // over a compacted prefix); insert-only history folds as before
        case "sum" =>
          if (!hasRk) fsum(col(f.name)).cast(dt)
          else fsum(fwhen(rkCol,
              org.apache.spark.sql.functions.negate(col(f.name)))
            .otherwise(col(f.name))).cast(dt)
        case "min" => fmin(col(f.name))
        case "max" => fmax(col(f.name))
        case "bool_and" => bool_and(col(f.name))
        case "bool_or" => bool_or(col(f.name))
        case "product" => product(col(f.name)).cast(dt)
        // non-null values joined in COMMIT ORDER — associative over
        // a compacted prefix (its ordinal precedes later versions)
        case "listagg" => array_join(transform(
          array_sort(collect_list(ordStruct(f.name, nonNullOnly = true))),
          x => x.getField("v")), ",")
        // min_by/max_by on the ordinal: no struct comparison, so the
        // value type may be unorderable (array<map>, map) — and rows
        // whose ordering key is NULL are skipped, which gives
        // first_non_null for free.
        case "first_value" =>
          org.apache.spark.sql.functions.min_by(col(f.name), col("__ord"))
        case "first_non_null" =>
          org.apache.spark.sql.functions.min_by(col(f.name),
            fwhen(col(f.name).isNotNull, col("__ord")))
        case "last_value" =>
          org.apache.spark.sql.functions.max_by(col(f.name), col("__ord"))
        case "last_non_null" => lastNonNull(f.name)
        // Paimon's `collect`: non-null array versions CONCATENATE in
        // commit order (associative over a compacted prefix exactly
        // like listagg); `fields.<f>.distinct=true` dedups the result.
        // All-null history folds to null, as a fresh accumulator would.
        case "collect" =>
          import org.apache.spark.sql.functions.{flatten, array_distinct,
            size => fsize, when => fwhen, aggregate => fagg,
            concat => fconcat, slice, array_position, array, struct => fstruct2}
          // explicit ordinal-only comparator (as in merge_map below):
          // the default struct ordering would demand an ORDERABLE
          // element type, rejecting e.g. collect on array<map<...>>
          val cmp = (l: org.apache.spark.sql.Column,
              r: org.apache.spark.sql.Column) =>
            fwhen(l.getField("o") < r.getField("o"), -1)
              .when(l.getField("o") > r.getField("o"), 1).otherwise(0)
          if (!hasRk) {
            // insert-only history: versions concatenate in commit order
            val versions = array_sort(
              collect_list(ordStruct(f.name, nonNullOnly = true)), cmp)
            val flat = flatten(transform(versions, x => x.getField("v")))
            val merged = if (opts.fieldCollectDistinct(f.name))
              array_distinct(flat) else flat
            fwhen(fsize(versions) > 0, merged)
          } else {
            // retract inputs REMOVE one occurrence per element (multiset
            // subtraction — the compacted prefix keeps the full array,
            // so retract-after-compact stays exact); fold in commit
            // order so an element re-inserted after its retraction
            // survives. An unfound element leaves the array unchanged.
            val sorted = array_sort(
              collect_list(fwhen(col(f.name).isNotNull,
                fstruct2(col("__ord").as("o"), col(f.name).as("v"),
                  rkCol.as("r")))), cmp)
            def removeFirst(a: org.apache.spark.sql.Column,
                e: org.apache.spark.sql.Column) = {
              val p = array_position(a, e)
              // tail length = size(a), never Int.MaxValue: Slice adds
              // start + length internally and an int overflow silently
              // yields an empty array
              fwhen(p > 0, fconcat(
                slice(a, lit(1), (p - 1).cast("int")),
                slice(a, (p + 1).cast("int"), fsize(a))))
                .otherwise(a)
            }
            val folded = fagg(sorted, array().cast(dt), (acc, x) =>
              fwhen(x.getField("r"),
                fagg(x.getField("v"), acc, (aa, e) => removeFirst(aa, e)))
              .otherwise(fconcat(acc, x.getField("v"))))
            val merged = if (opts.fieldCollectDistinct(f.name))
              array_distinct(folded) else folded
            fwhen(fsize(sorted) > 0, merged)
          }
        // Paimon's `merge_map`: version maps fold entry-wise, a later
        // version's value wins per entry key. Maps are unorderable, so
        // the version sort uses an explicit ordinal comparator and the
        // fold is a lambda aggregate over disjoint-key map_concat.
        case "merge_map" =>
          import org.apache.spark.sql.functions.{aggregate => fagg,
            filter => ffilter, map_filter, map_concat, map_contains_key,
            size => fsize, when => fwhen, map_from_arrays, array,
            expr => _}
          val sorted = array_sort(
            collect_list(fstruct(col("__ord").as("o"), col(f.name).as("v"))),
            (l, r) => fwhen(l.getField("o") < r.getField("o"), -1)
              .when(l.getField("o") > r.getField("o"), 1).otherwise(0))
          val nonNull = ffilter(sorted, x => x.getField("v").isNotNull)
          val emptyMap = map_from_arrays(array(), array()).cast(dt)
          fwhen(fsize(nonNull) > 0,
            fagg(nonNull, emptyMap, (acc, x) => map_concat(
              map_filter(acc, (k, _) =>
                !map_contains_key(x.getField("v"), k)),
              x.getField("v"))))
        // Exact distinct-state sketches: versions hold SERIALIZED
        // roaring bitmaps that fold by OR — associative/commutative,
        // so compacted partials OR with later deltas to the same
        // result. Partial buffers OR map-side (TypedImperativeAggregate),
        // so N versions shuffle as one bitmap per partition.
        case "rbm32" => graft.plans.kernels.rbmOr(col(f.name), bits64 = false)
        case "rbm64" => graft.plans.kernels.rbmOr(col(f.name), bits64 = true)
        // Approximate distinct-state: serialized Apache DataSketches
        // HLL folded with Spark's native union aggregate (codegen'd,
        // merge-associative). allowDifferentLgConfigK: writers may
        // size sketches differently; the union downgrades to the
        // smaller K, exactly Paimon's hll_sketch tolerance.
        case "hll_sketch" =>
          org.apache.spark.sql.functions.hll_union_agg(col(f.name),
            allowDifferentLgConfigK = true)
        // Paimon's `nested_update`: array<row> versions fold in
        // commit order. With `fields.<f>.nested-key` each incoming
        // element REPLACES any accumulated element sharing its key
        // (null-safe equality); without keys versions append. Same
        // lambda-aggregate shape as merge_map — maps/structs may be
        // unorderable, so the version sort uses the ordinal comparator.
        case "nested_update" =>
          import org.apache.spark.sql.functions.{aggregate => fagg,
            filter => ffilter, exists => fexists, concat => fconcat,
            size => fsize, when => fwhen, array}
          val sorted = array_sort(
            collect_list(ordStruct(f.name, nonNullOnly = true)),
            (l, r) => fwhen(l.getField("o") < r.getField("o"), -1)
              .when(l.getField("o") > r.getField("o"), 1).otherwise(0))
          val keys = opts.fieldNestedKeys(f.name)
          val empty = array().cast(dt)
          val step: (org.apache.spark.sql.Column,
              org.apache.spark.sql.Column) => org.apache.spark.sql.Column =
            if (keys.isEmpty) (acc, x) => fconcat(acc, x.getField("v"))
            else (acc, x) => fconcat(
              ffilter(acc, e => !fexists(x.getField("v"), n =>
                keys.map(k => n.getField(k) <=> e.getField(k))
                  .reduce(_ && _))),
              x.getField("v"))
          fwhen(fsize(sorted) > 0, fagg(sorted, empty, step))
      }
      e.as(f.name)
    }
    if (aggs.isEmpty) all.select(pk.map(col): _*).distinct()
    else all.groupBy(pk.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .select(names.map(col): _*)
  }


  /** Ops whose semantics assume latest-version-wins (tombstones,
    * changelogs, in-range merges) are deduplicate-only — same restriction
    * Paimon places on the field-wise merge engines. */
  private[sources] def requireDeduplicate(m: Manifest, table: String, op: String): Unit = {
    val engine = m.options.mergeEngine
    require(engine == "deduplicate",
      s"$op on $table requires merge-engine=deduplicate, table uses $engine")
  }

  /** Tombstone-landing ops (deleteWhere, mergeCommit): deduplicate as
    * ever, plus the field-wise engines under their
    * `<engine>.remove-record-on-delete=true` option (r16) — the fold
    * re-folds each key from the versions after its latest tombstone,
    * so a whole-row delete is well-defined there too. */
  private[sources] def requireTombstoneCapable(m: Manifest, table: String,
      op: String): Unit = {
    val opts = m.options // removeRecordOnDelete: aggregation/partial-update only
    require(opts.mergeEngine == "deduplicate" || opts.removeRecordOnDelete,
      s"$op on $table requires merge-engine=deduplicate (or a field-wise " +
        s"engine with ${opts.mergeEngine}.remove-record-on-delete=true), " +
        s"table uses ${opts.mergeEngine}")
  }

  /** Changelog/incremental protocols resolve latest-in-range PER PRIMARY
    * KEY; a cross-partition MOVE lands a tombstone and the new image at
    * ONE ordinal, which that resolution would tie arbitrarily — refuse
    * at definition time (consuming a changelog INTO a cross-partition
    * table via applyChangelog remains supported). */
  private[sources] def refuseCrossPartition(m: Manifest, table: String, op: String): Unit =
    require(!crossPartition(m),
      s"$op on $table is not supported for cross-partition upsert tables " +
        "(partition not in primary key): a move's tombstone and new image " +
        "share one snapshot ordinal, which per-key in-range resolution " +
        "would tie")

  /**
   * Shuffle-free merge-on-read for bucketed PK tables — the Paimon read
   * model: a key lives in exactly one `__bucket=k` subdir across every
   * delta (the write path hashes each commit the same way), so merge
   * resolution never crosses buckets. Each bucket becomes one
   * single-partition leg — the union of that bucket's delta files,
   * `coalesce(1)` (a narrow dependency, no exchange), then an in-task
   * hash-merge keeping the highest-ordinal version per key and dropping
   * tombstone winners. The whole read is N independent tasks with ZERO
   * exchanges, versus the unbucketed path's full-table shuffle through
   * the keep-latest window. Task memory holds one bucket's keys — the
   * bucket count is the operator's sizing contract, exactly as in Paimon
   * (a 100 TB table with 4096 buckets merges ~25 GB per task of raw
   * input, and only live key versions are retained in the map).
   */
  private[sources] def bucketedResolve(schema: String, table: String, m: Manifest,
      entries: Seq[FileEntry], n: Int,
      onlyBuckets: Option[Seq[Int]] = None): Option[DataFrame] = {
    val curFields = m.currentFields
    val outSchema = StructType(curFields.map(f =>
      StructField(f.name, TypeMapping.toSparkType(f.trinoType))))
    val pk = m.primaryKey
    // Enumerate the buckets that actually EXIST in this snapshot's dirs
    // rather than trusting the current `bucket` option: after a
    // rescaleBucket, older snapshots keep their original layout (a
    // different k range) and must resolve under it — the option only
    // describes the CURRENT snapshot. O(dirs) metadata listings.
    val partCols = m.partitionColumns
    // `__bucket=k` leaves sit directly under a flat dir, or nested below
    // `col=value` partition dirs (data dirs of a partitioned bucketed
    // table; tombstone dirs stay flat — their files CARRY the partition
    // columns as data, since partition ⊆ primary key).
    def nested(fe: FileEntry) = fe.kind == "data" && partCols.nonEmpty
    // ONE listing per entry dir, shared by bucket enumeration and the
    // per-leg skip decisions below (r18 — the flat layout used to probe
    // fs.exists once per (dir, bucket) and build one discovery-backed
    // frame per probe: O(dirs × buckets) driver listings per resolve,
    // the dominant plan-construction cost of the bucketed family).
    val present: Seq[(FileEntry, Set[Int])] = entries.map { fe =>
      fe -> bucketsUnder(dirPath(schema, table, fe.dir),
        if (nested(fe)) partCols.length else 0).toSet
    }
    val wanted: Seq[Int] = onlyBuckets.getOrElse {
      val seen = mutable.SortedSet[Int](0 until n: _*)
      present.foreach { case (_, ks) => seen ++= ks }
      seen.toSeq
    }
    // Partitioned data dirs: one discovery-backed frame per dir with the
    // bucket column RETAINED (`col=value` and `__bucket=k` resolve as
    // partition columns of the declared schema); each leg filters its
    // bucket, so partition pruning keeps per-leg I/O exact while the dir
    // is LISTED once. Every partition's slice of bucket k merges in ONE
    // leg — sound because partition ⊆ primary key makes cross-partition
    // key spaces disjoint, and the sizing contract (one bucket per task)
    // is unchanged.
    val partFrames: Map[FileEntry, DataFrame] = present.collect {
      case (fe, ks) if ks.nonEmpty && nested(fe) =>
        fe -> relationFor(m, fe, Seq(dirPath(schema, table, fe.dir).toString),
          None, withMeta = false, withBucket = true)
    }.toMap
    val legs = wanted.flatMap { k =>
      // A dir whose entry RETIRES bucket k (per-bucket compaction folded
      // it into a later dir) contributes nothing to k's leg — dir-level
      // skip, zero I/O, exact because the compacted dir carries the
      // resolved image of everything excluded. Dirs without bucket k at
      // all are skipped from the same shared listing. Flat dirs read
      // their `__bucket=k` leaves as one relation per read group, so a
      // leg's scans track the groups, not the dirs.
      val live = present.collect {
        case (fe, ks) if ks.contains(k) && !fe.excludeBuckets.contains(k) => fe
      }
      val (part, flat) = live.partition(nested)
      val frames = part.map(fe =>
        partFrames(fe).filter(col(BucketCol) === k).drop(BucketCol)) ++
        groupFrames(m, flat.map(fe =>
          fe -> new Path(dirPath(schema, table, fe.dir), s"$BucketCol=$k")))
      if (frames.isEmpty) None
      else {
        val all = unionAllByName(frames).coalesce(1)
        val inSchema = all.schema
        // Merge key: pk plus any partition column OUTSIDE it. For the
        // standard layout (partition ⊆ pk) this is exactly pk; for
        // cross-partition tables each (partition, key) residence resolves
        // independently — a move's tombstone kills the old residence
        // while the new partition's row lives, and a partition-pruned
        // read of either side stays correct.
        val mergeKey = pk ++ partCols.filterNot(pk.contains)
        Some(GraftCatalog.mergeBucketInTask(all,
          mergeKey.map(inSchema.fieldIndex).toArray,
          inSchema.fieldIndex("__ord"), inSchema.fieldIndex("__del"),
          curFields.map(f => inSchema.fieldIndex(f.name)).toArray, outSchema,
          m.options.sequenceField.map(inSchema.fieldIndex).getOrElse(-1)))
      }
    }
    if (legs.isEmpty) None else Some(unionAllByName(legs))
  }

  /** The snapshot id an explicit/session-level travel request selects —
    * the same resolution [[read]] uses (explicit args win, then the
    * GraftOptions session properties, then latest). None = empty table. */
  def chosenSnapshotId(schema: String, table: String,
      snapshotId: Option[Long] = None,
      asOfMillis: Option[Long] = None): Option[Long] =
    pin(schema, table, snapshotId, asOfMillis).snapshotId

  /** File entries of the selected snapshot (empty before any commit). */
  def snapshotFileEntries(schema: String, table: String,
      snapshotId: Option[Long] = None,
      asOfMillis: Option[Long] = None): Seq[FileEntry] =
    pin(schema, table, snapshotId, asOfMillis).entries

  /** Current schema version number (increments per column DDL). */
  def currentSchemaVersionOf(schema: String, table: String): Int =
    readManifest(schema, table).currentSchemaVersion

  /** Partition columns declared at create time (empty for old manifests). */
  def partitionColumnsOf(schema: String, table: String): Seq[String] =
    readManifest(schema, table).partitionColumns

  /** Primary-key columns declared at create time (empty = append-only). */
  def primaryKeyOf(schema: String, table: String): Seq[String] =
    readManifest(schema, table).primaryKey

  /** The table's options, parsed from the manifest (typed view of the
    * [[TableOptions]] registry). */
  def optionsOf(schema: String, table: String): TableOptions =
    readManifest(schema, table).options

  /** Bucket count of a bucketed PK table (the `bucket` table option). */
  def bucketCountOf(schema: String, table: String): Option[Int] =
    optionsOf(schema, table).bucket

  /** PK-table merge engine (Paimon's `merge-engine` option): how multiple
    * versions of one key resolve at read/compaction. */
  def mergeEngineOf(schema: String, table: String): String =
    optionsOf(schema, table).mergeEngine

  /** User-declared version-order column (Paimon's `sequence.field`):
    * largest value wins per key, ties fall back to commit ordinal, NULL
    * sorts smallest. None = commit order (the default). */
  def sequenceFieldOf(schema: String, table: String): Option[String] =
    optionsOf(schema, table).sequenceField

  /** Data file format (Paimon's `file.format`): parquet (default), orc, avro. */
  def fileFormatOf(schema: String, table: String): String =
    optionsOf(schema, table).fileFormat

  /** Spark DataSource provider for a table format. The avro source is
    * BUNDLED in spark-sql on this distribution but not service-registered
    * (the short name fails lookup with the "external module" hint), so
    * data I/O addresses its FileFormat class directly; file extensions
    * (globs, listings) still use the short name. */
  private[sources] def providerFor(fmt: String): String =
    if (fmt == "avro") "org.apache.spark.sql.avro.AvroFileFormat" else fmt

  /** Newest-version-first window ordering for per-key resolution: the
    * sequence field (when declared) beats the commit ordinal; NULL
    * sequence sorts smallest, so `desc_nulls_last`. */
  private[sources] def newestFirst(m: Manifest): Seq[org.apache.spark.sql.Column] =
    m.options.sequenceField.map(f => col(f).desc_nulls_last).toSeq :+ col("__ord").desc

  /** The bucket a primary-key tuple hashes to — [[BucketSelect.bucketOf]]
    * over the key columns, the same expression on the write path
    * (commit) and driver-side bucket selection. */
  private[sources] def bucketExpr(pk: Seq[String], n: Int): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftColumnBridge.column(BucketSelect.bucketOf(
      pk.map(c => org.apache.spark.sql.GraftColumnBridge.expression(col(c))), n))

  /** The bucket a concrete primary-key tuple lands in — the write path's
    * own expression evaluated over literals on the driver (no Spark
    * job), so hash semantics can never drift from [[bucketExpr]].
    * `values` must follow primary-key column order and are cast to the
    * declared column types before hashing. */
  def bucketFor(schema: String, table: String, values: Seq[Any]): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    val m = readManifest(schema, table)
    val pk = m.primaryKey
    val n = m.options.bucket.getOrElse(
      throw new IllegalArgumentException(s"$schema.$table is not bucketed"))
    require(n != -1, s"$schema.$table is a dynamic-bucket table — " +
      "key→bucket is the index's, not a hash: use dynamicBucketFor")
    require(values.length == pk.length, s"expected ${pk.length} pk values")
    val cur = m.currentFields.map(f => f.name -> f.trinoType).toMap
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    BucketSelect.bucketOfLiterals(pk.zip(values).map { case (c, v) =>
      Cast(Literal(v), TypeMapping.toSparkType(cur(c)), tz)
    }, n)
  }

  /** The buckets `pred` (analyzed over the table's current schema) can
    * hit in the chosen snapshot — [[BucketSelect.select]] behind the
    * table gates: a fixed-bucket PK table, read at the head snapshot of
    * this same manifest read. The `bucket` option describes the head's
    * layout only (an older snapshot may predate a rescaleBucket), so time
    * travel never selects. None = read every bucket. */
  private[sources] def selectBuckets(m: Manifest, chosen: Option[Manifest.Snapshot],
      pred: org.apache.spark.sql.catalyst.expressions.Expression): Option[Seq[Int]] = {
    val pk = m.primaryKey
    m.options.bucket match {
      case Some(n) if n >= 1 && pk.nonEmpty && m.isHead(chosen) =>
        val types = m.currentFields
          .map(f => f.name -> TypeMapping.toSparkType(f.trinoType)).toMap
        BucketSelect.select(pk.map(c => c -> types(c)), n, pred)
      case _ => None
    }
  }

  /**
   * Read ONE bucket of a bucketed PK table, merge-on-read resolved — the
   * split-level consumer API (a bucket is the unit of parallel work, as
   * in Paimon): N independent workers can each process one bucket, and
   * [[bucketFor]] names the bucket of a known key. Key lookups need not
   * come here: [[readWhere]] selects the buckets of a primary-key
   * equality itself.
   */
  def readBucket(schema: String, table: String, bucket: Int,
      snapshotId: Option[Long] = None,
      asOfMillis: Option[Long] = None): DataFrame =
    readBucket(pin(schema, table, snapshotId, asOfMillis), bucket)

  /** [[readBucket]] of a pinned snapshot. */
  def readBucket(p: Pin, bucket: Int): DataFrame = {
    val (schema, table, m) = (p.schema, p.table, p.manifest)
    val n = m.options.bucket.getOrElse(
      throw new IllegalArgumentException(s"$schema.$table is not bucketed"))
    // dynamic tables (n == -1) have no static range — any existing
    // bucket id resolves, an unassigned one reads empty
    require(bucket >= 0 && (n == -1 || bucket < n),
      s"bucket $bucket out of range [0, $n)")
    val target = StructType(m.currentFields.map(f =>
      StructField(f.name, TypeMapping.toSparkType(f.trinoType))))
    p.snapshot.flatMap(s => bucketSlice(schema, table, m, s.files, n, Seq(bucket)))
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], target))
  }

  /** Merge-on-read image of `buckets` only: the hybrid merge-free read
    * restricted to those legs when deletion vectors are live (a point
    * lookup on a DV table reads 1/N of the data too), else the bucketed
    * per-leg merge. None = nothing to read. */
  private def bucketSlice(schema: String, table: String, m: Manifest,
      entries: Seq[FileEntry], n: Int, buckets: Seq[Int]): Option[DataFrame] =
    if (entries.exists(_.kind == "dv"))
      pkDvResolve(schema, table, m, entries, onlyBuckets = Some(buckets))
    else bucketedResolve(schema, table, m, entries, n, Some(buckets))

  /**
   * Bucket-co-located PK join of two bucketed PK tables — the
   * storage-partitioned join Paimon's bucket layout exists to enable:
   * when both tables declare the SAME bucket count and hash-compatible
   * primary keys (same column count and Spark types — the bucket is
   * `xxhash64(pk) % n` on both write paths), equal keys land in equal
   * buckets, so the join runs as N independent in-task hash joins with
   * ZERO exchanges. A shuffle join of the same tables would move BOTH
   * full tables across the cluster; this moves nothing — at 100 TB per
   * side the shuffle saved IS the query cost. Each task holds one
   * bucket's right side in memory (the bucket count is the sizing
   * contract, as everywhere in the bucketed layout).
   *
   * Join keys are the primary keys (the hash contract — arbitrary key
   * joins still need a shuffle). `joinType`: `inner` or `left` (outer).
   * Output: left columns ++ right non-key columns; the right table's
   * non-key column names must not collide with the left's.
   */
  def bucketedJoin(schema: String, leftTable: String, rightTable: String,
      joinType: String = "inner"): DataFrame = {
    require(Seq("inner", "left").contains(joinType),
      s"bucketedJoin supports inner/left, got $joinType")
    val (lm, rm) = (readManifest(schema, leftTable), readManifest(schema, rightTable))
    val n = lm.options.bucket.getOrElse(
      throw new IllegalArgumentException(s"$schema.$leftTable is not bucketed"))
    val rn = rm.options.bucket.getOrElse(
      throw new IllegalArgumentException(s"$schema.$rightTable is not bucketed"))
    require(n >= 1 && rn >= 1, "dynamic-bucket tables have no static " +
      "hash contract — co-located join requires fixed bucket counts")
    require(n == rn, s"bucket counts differ: $n vs $rn — co-located join " +
      "requires identical bucketing")
    val lSchema = currentSchema(lm)
    val rSchema = currentSchema(rm)
    val lPk = lm.primaryKey
    val rPk = rm.primaryKey
    require(lPk.length == rPk.length &&
      lPk.map(lSchema(_).dataType) == rPk.map(rSchema(_).dataType),
      "primary keys are not hash-compatible (column count/types must match)")
    val lVal = lSchema.fields.filterNot(f => lPk.contains(f.name)).toSeq
    val rVal = rSchema.fields.filterNot(f => rPk.contains(f.name)).toSeq
    rVal.foreach(f => require(!lSchema.fieldNames.contains(f.name),
      s"right column ${f.name} collides with a left column"))
    val outSchema = StructType(lSchema.fields.toSeq ++
      rVal.map(_.copy(nullable = true)))
    // Tagged union layout: __side, key..., leftVal..., rightVal... (each
    // side nulls the other's value columns). coalesce(1) over one
    // bucket's two legs is a narrow dependency — the whole join plans
    // with no exchange.
    val names = "__side" +: (lPk.indices.map(i => s"__k$i") ++
      lVal.map(f => s"__l_${f.name}") ++ rVal.map(f => s"__r_${f.name}"))
    // out(i) <- tagged-row position for the left-side part of the output
    val leftOutIdx = lSchema.fields.map { f =>
      val i = lPk.indexOf(f.name)
      if (i >= 0) 1 + i else 1 + lPk.length + lVal.indexWhere(_.name == f.name)
    }
    val rightStart = 1 + lPk.length + lVal.length
    val legs = (0 until n).map { k =>
      val lk = readBucket(schema, leftTable, k)
      val rk = readBucket(schema, rightTable, k)
      val tagged = rk.select(lit(1) +: (rPk.map(col) ++
          lVal.map(f => lit(null).cast(f.dataType)) ++
          rVal.map(f => col(f.name))): _*).toDF(names: _*)
        .unionByName(lk.select(lit(0) +: (lPk.map(col) ++
          lVal.map(f => col(f.name)) ++
          rVal.map(f => lit(null).cast(f.dataType))): _*).toDF(names: _*))
        .coalesce(1)
      GraftCatalog.joinBucketInTask(tagged, lPk.length, leftOutIdx,
        rightStart, rVal.length, joinType == "left", outSchema)
    }
    if (legs.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        outSchema)
    else unionAllByName(legs)
  }

  /**
   * Upsert into a primary-key table: the batch is committed as a new
   * snapshot and reads resolve each key to its latest version
   * (merge-on-read, Paimon's PK-table semantics — writes never rewrite
   * existing data; [[compact]] materializes the resolution). The batch
   * itself must be PK-unique.
   */
  def upsert(schema: String, table: String, df: DataFrame): Long =
    upsertFrom(schema, table, df, basis = None)

  /** [[upsert]] of a batch derived from the head at manifest version
    * `basis` ([[update]]'s updated image): every commit it lands carries
    * that basis, so a writer that moved the head since aborts it instead
    * of having its rows overwritten by the stale image. */
  private[graft] def upsertFrom(schema: String, table: String, df: DataFrame,
      basis: Option[Long]): Long = {
    val m = readManifest(schema, table)
    val pk = m.primaryKey
    require(pk.nonEmpty, s"$schema.$table has no primary key — use append")
    // rowkind.field (Paimon): the batch carries its own CDC kinds — `-D`
    // and `-U` rows retract their keys (tombstones, sequence-aware via
    // mergeCommit), everything else upserts, in ONE atomic snapshot.
    // The batch must be key-unique across the two sides (mergeCommit's
    // contract — a key both upserted and retracted in one batch has no
    // defined winner at a shared ordinal).
    val opts = m.options
    opts.rowkindField match {
      case Some(rk) if df.columns.exists(_.equalsIgnoreCase(rk)) =>
        val kind = org.apache.spark.sql.functions.upper(col(rk))
        // A NULL or unknown kind must fail loudly, not vanish: a null
        // predicate excludes the row from BOTH split sides below, so a
        // malformed CDC feed would silently lose data. Paimon errors on
        // an unparsable row kind; validate on the delta-sized batch.
        val known = Seq("+I", "I", "+U", "U", "-U", "-D", "D")
        val bad = df.filter(kind.isNull || !kind.isin(known: _*))
          .limit(1).collect()
        if (bad.nonEmpty) throw new IllegalArgumentException(
          s"$schema.$table: rowkind.field `$rk` carries an unrecognized " +
          s"row kind ${Option(bad.head.getAs[Any](rk)).getOrElse("NULL")} " +
          s"(expected one of ${known.mkString(", ")}); sample row: ${bad.head}")
        val isRetract = kind === "-D" || kind === "D" || kind === "-U"
        // ignore-delete (Paimon): drop retractions instead of
        // tombstoning — the CDC-fed-patch-table mode
        if (opts.ignoreDelete)
          commit(schema, table, Seq(Leg("", "data", df.filter(!isRetract))), basis = basis)
        else if (opts.mergeEngine == "aggregation") {
          // r16 retraction: `-U` (and `-D` without remove-record-on-
          // delete) rows land as RETRACT inputs the field-wise fold
          // inverts — sum subtracts, collect removes one occurrence per
          // element (see RetractableAggs). With remove-record-on-delete,
          // `-D` rows instead tombstone their keys outright, paired with
          // the data dir under ONE snapshot ordinal.
          val rrod = opts.removeRecordOnDelete
          val isDel = kind === "-D" || kind === "D"
          val retracts = if (rrod) df.filter(kind === "-U")
            else df.filter(isRetract)
          val hasRetracts = !retracts.isEmpty
          if (hasRetracts) {
            // refusal matrix: every aggregated field's function must
            // have an exact retraction; the rowkind column itself is
            // carried data (its last_non_null fold keeps the last kind).
            // Checked AT THE WRITE — accepting a retract the read-time
            // fold cannot execute (e.g. collect over an unorderable
            // element type, whose array_position removal would throw)
            // would poison the table with a committed batch.
            val bad = m.currentFields
              .filterNot(fd => pk.contains(fd.name))
              .filterNot(_.name.equalsIgnoreCase(rk))
              .filterNot(fd => GraftCatalog.retractableField(
                opts.fieldAggregate(fd.name),
                TypeMapping.toSparkType(fd.trinoType)))
              .map(_.name)
            require(bad.isEmpty,
              s"$schema.$table: retract rows (-U/-D) arrived but " +
                s"field(s) ${bad.map(c => s"$c=${opts.fieldAggregate(c)}")
                  .mkString(", ")} have no exact retraction " +
                s"(only ${RetractableAggs.mkString("/")} retract, and " +
                "collect only over orderable element types — its fold " +
                "removes occurrences via ordering-based equality; " +
                "min/max/first/last/listagg/product/sketches cannot " +
                "resurrect values a compacted prefix discarded — set " +
                "aggregation.remove-record-on-delete=true or ignore-delete=true)")
            require(opts.changelogProducer == "none",
              s"$schema.$table: retract inputs are not composed with a " +
                "write-time changelog-producer yet — consume the table " +
                "state directly or disable the producer")
          }
          val ups = df.filter(!isRetract)
          val data = if (!hasRetracts) ups
            else ups.withColumn(RetractCol, lit(false))
              .unionByName(retracts.withColumn(RetractCol, lit(true)))
          val dels = if (rrod) df.filter(isDel) else df.limit(0)
          if (rrod && !dels.isEmpty) {
            // same one-ordinal disjointness contract as mergeCommit
            require(data.join(dels, pk, "left_semi").isEmpty,
              "a key cannot be both written and deleted in one batch")
            commit(schema, table, Seq(Leg("", "data", data, retract = hasRetracts),
              Leg("-del", "delete", dels.select(pk.map(col): _*))), basis = basis)
          } else commit(schema, table,
            Seq(Leg("", "data", data, retract = hasRetracts)), basis = basis)
        }
        else if (opts.mergeEngine == "partial-update") {
          // partial-update + remove-record-on-delete (r16): `-D` rows
          // tombstone their keys (the fold re-patches from later
          // versions only); `-U` has no retraction on this engine —
          // a patch cannot be un-applied — so it refuses loudly.
          require(opts.removeRecordOnDelete,
            s"$schema.$table: rowkind.field on partial-update requires " +
              "partial-update.remove-record-on-delete=true or " +
              "ignore-delete=true")
          val bad = df.filter(kind === "-U").limit(1).collect()
          require(bad.isEmpty,
            s"$schema.$table: partial-update has no retraction for -U " +
              "rows (a patch cannot be un-applied) — send -D (removes " +
              s"the key) or +U (applies the patch); sample row: ${bad.headOption}")
          val ups = df.filter(!isRetract)
          val dels = df.filter(isRetract)
          if (dels.isEmpty) commit(schema, table, Seq(Leg("", "data", ups)), basis = basis)
          else {
            require(ups.join(dels, pk, "left_semi").isEmpty,
              "a key cannot be both written and deleted in one batch")
            commit(schema, table, Seq(Leg("", "data", ups),
              Leg("-del", "delete", dels.select(pk.map(col): _*))), basis = basis)
          }
        }
        else {
          val ups = df.filter(!isRetract)
          // A `-U`/`+U` pair for ONE key in one batch is the canonical
          // Debezium/Flink update shape: under deduplicate semantics the
          // retraction is subsumed by the batch's own newer image, so
          // drop retractions whose key the batch also upserts (mirrors
          // applyChangelog's treatment of `-U`) — they would otherwise
          // trip mergeCommit's key-disjoint contract.
          val dels = df.filter(isRetract).join(ups, pk, "left_anti")
          if (dels.isEmpty) commit(schema, table, Seq(Leg("", "data", ups)), basis = basis)
          else mergeCommit(schema, table, ups, dels, basis = basis)
        }
      case _ => commit(schema, table, Seq(Leg("", "data", df)), basis = basis)
    }
  }

  /**
   * Atomic MERGE commit on a primary-key table: `upserts` (updated +
   * inserted rows at the current schema) and `deleteKeys` (primary-key
   * tuples to tombstone) become ONE snapshot — a data dir paired with a
   * tombstone dir at the same ordinal — so readers never observe the
   * half-applied state two separate commits would expose. The two sets
   * must be key-disjoint (SQL MERGE guarantees it: each target row takes
   * exactly one action). Returns the snapshot id.
   */
  def mergeCommit(schema: String, table: String, upserts: DataFrame,
      deleteKeys: DataFrame, streamBatchId: Option[Long] = None,
      basis: Option[Long] = None): Long = {
    val m = readManifest(schema, table)
    val pk = m.primaryKey
    require(pk.nonEmpty, s"$schema.$table has no primary key — MERGE needs one")
    requireTombstoneCapable(m, s"$schema.$table", "mergeCommit")
    // Both dirs share one ordinal, so an overlapping key would resolve to
    // an arbitrary winner at read time — enforce the contract here (a
    // delta-sized semi join), not just in the SQL command's guard.
    require(upserts.join(deleteKeys, pk, "left_semi").isEmpty,
      "mergeCommit upserts and deleteKeys must be key-disjoint")
    // sequence.field tables: tombstones must carry a sequence value or
    // they lose the version race to the very rows they delete. A batch
    // already carrying the column (CDC `-D` rows) passes it through;
    // otherwise fetch from the current image (delta-sized semi join).
    // The fetched sequences derive from this head, so the commit carries
    // its version: a concurrent upsert of a deleted key aborts the merge
    // instead of outranking a tombstone that carries a stale sequence.
    val (delKeys, fetchBasis) = m.options.sequenceField match {
      case Some(sf) if deleteKeys.columns.contains(sf) =>
        (deleteKeys.select((pk :+ sf).map(col): _*), None)
      case Some(sf) =>
        (headImage(schema, table, m)
          .join(deleteKeys.select(pk.map(col): _*), pk, "left_semi")
          .select((pk :+ sf).map(col): _*), Some(m.commitVersion))
      case None => (deleteKeys.select(pk.map(col): _*), None)
    }
    commit(schema, table,
      Seq(Leg("", "data", upserts), Leg("-del", "delete", delKeys)),
      Change.Add(streamBatchId), basis.orElse(fetchBasis))
  }

  /**
   * Apply one changelog batch (rows carrying `_row_kind`, the
   * [[readChangelog]] / [[readChangelogFull]] shape) to a PK table as
   * ONE atomic snapshot: `+I`/`+U` rows upsert, `-D` rows tombstone
   * their keys, `-U` retraction images are IGNORED (a replica needs only
   * the after image; retractions exist for aggregate-maintaining
   * consumers) — the standard CDC sink. Changelog batches are key-unique
   * per kind by construction (latest in-range version per key), which is
   * exactly [[mergeCommit]]'s contract. With `batchId`, replays are
   * skipped via the same manifest bookkeeping as [[appendStreamBatch]] —
   * exactly-once table contents under streaming restart. Returns the
   * snapshot id when committed.
   */
  def applyChangelog(schema: String, table: String, batch: DataFrame,
      batchId: Option[Long] = None): Option[Long] = {
    val m = readManifest(schema, table)
    val pk = m.primaryKey
    require(pk.nonEmpty, s"$schema.$table has no primary key — changelogs " +
      "apply to PK tables (append-only consumers just append)")
    require(batch.columns.contains(RowKindCol),
      s"changelog batch needs a $RowKindCol column")
    if (batchId.exists(_ <= m.lastStreamBatchId)) return None
    // Paimon's `ignore-delete`: retractions are silently DROPPED and the
    // upserts land as a plain data commit — which also lets field-wise
    // merge engines (partial-update patch feeds) consume changelogs,
    // since no tombstone path is needed.
    if (m.options.ignoreDelete) {
      val ups = batch.filter(col(RowKindCol).isin("+I", "+U")).drop(RowKindCol)
      return Some(commit(schema, table, Seq(Leg("", "data", ups)), Change.Add(batchId)))
    }
    val upserts = batch.filter(col(RowKindCol).isin("+I", "+U")).drop(RowKindCol)
    // `-D` rows keep the sequence column when the replica declares one:
    // a stale source tombstone then loses the replica's own version race
    // instead of clobbering newer state — out-of-order CDC convergence.
    val seqCols = m.options.sequenceField.filter(batch.columns.contains).toSeq
    val deletes = batch.filter(col(RowKindCol) === "-D")
      .select((pk ++ seqCols).map(col): _*)
    Some(mergeCommit(schema, table, upserts, deletes, streamBatchId = batchId))
  }

  /**
   * End-to-end CDC mirror: follow `srcTable`'s changelog as a stream and
   * apply each micro-batch to `dstTable` atomically — the consumer half
   * of [[streamAppend]], upsert-aware. Exactly-once across restart: the
   * source replays pending snapshot ranges deterministically and
   * [[applyChangelog]] skips committed batchIds.
   */
  def streamChangelogApply(srcSchema: String, srcTable: String,
      dstSchema: String, dstTable: String, checkpointDir: String,
      maxSnapshotsPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    readChangelogStream(srcSchema, srcTable,
        maxSnapshotsPerTrigger = maxSnapshotsPerTrigger)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty) { applyChangelog(dstSchema, dstTable, batch.toDF(), Some(batchId)); () }
      }
      .start()

  /**
   * Row-level DELETE on a primary-key table (merge-on-read, Paimon-style):
   * commits a tombstone snapshot holding only the primary keys of matching
   * rows — no data file is rewritten. Reads resolve the tombstone as the
   * key's latest version and drop it; [[compact]] materializes the
   * deletion and retires the tombstone file. Returns the snapshot id.
   */
  def deleteWhere(schema: String, table: String,
      condition: org.apache.spark.sql.Column): Long = {
    val m = readManifest(schema, table)
    val pk = m.primaryKey
    if (pk.isEmpty && m.options.deletionVectors)
      return deleteWhereDv(schema, table, m, condition)
    require(pk.nonEmpty, s"$schema.$table has no primary key — row-level " +
      "delete needs one (append-only tables: set deletion-vectors=true, " +
      "filter at read, or overwrite)")
    requireTombstoneCapable(m, s"$schema.$table", "deleteWhere")
    // sequence.field: the tombstone carries the victim's CURRENT sequence
    // value — tied sequence, later ordinal, so the delete wins; a later
    // upsert with a HIGHER sequence legitimately resurrects the key.
    // Cross-partition tables: carry the victim's partition columns too
    // (its current residence, straight from the image being filtered).
    val extra = m.options.sequenceField.toSeq ++
      (if (crossPartition(m)) m.partitionColumns else Seq.empty)
    val victims = headImage(schema, table, m).filter(condition)
      .select((pk ++ extra).map(col): _*)
    commit(schema, table,
      Seq(Leg("", "delete", victims, clustered = headMergesPerBucket(m))),
      basis = Some(m.commitVersion))
  }

  /** Tombstone-commit the given victim KEYS (PK tables; the SQL
    * subquery-DELETE rewrite computes the victims from an analyzed plan
    * and lands them here — same snapshot shape as [[deleteWhere]]).
    * `basis` is the manifest version the victims were derived from
    * (default: the head read here): a writer that moved the head since
    * aborts the delete. */
  private[graft] def deleteRowsByKey(schema: String, table: String,
      victims: DataFrame, basis: Option[Long] = None): Long = {
    val m = readManifest(schema, table)
    val pk = m.primaryKey
    require(pk.nonEmpty, s"$schema.$table has no primary key")
    requireTombstoneCapable(m, s"$schema.$table", "deleteWhere")
    // sequence.field tables: fetch each victim's current sequence value
    // (one delta-sized semi join) so the tombstone wins the version race.
    // Cross-partition tables: fetch each victim's current residence the
    // same way (partition values must ride the tombstone).
    val keys = (m.options.sequenceField,
        if (crossPartition(m)) m.partitionColumns else Seq.empty) match {
      case (None, Seq()) => victims.select(pk.map(col): _*)
      case (sf, parts) =>
        headImage(schema, table, m).join(victims.select(pk.map(col): _*), pk, "left_semi")
          .select((pk ++ sf.toSeq ++ parts).map(col): _*)
    }
    commit(schema, table, Seq(Leg("", "delete", keys)),
      basis = basis.orElse(Some(m.commitVersion)))
  }


  /**
   * Row-level UPDATE on a primary-key table: reads the current image of
   * matching rows, applies the assignments, and commits them as an
   * ordinary upsert snapshot (merge-on-read — the old versions stay
   * time-travelable). Returns the snapshot id.
   */
  def update(schema: String, table: String,
      condition: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column]): Long = {
    // The updated image derives from this head: its commit carries the
    // head's version, so a concurrent upsert of an updated key aborts
    // the update rather than being overwritten by the stale image.
    val m = readManifest(schema, table)
    val pk = m.primaryKey
    if (pk.isEmpty && m.options.deletionVectors)
      return updateWhereDv(schema, table, condition, assignments)
    require(pk.nonEmpty, s"$schema.$table has no primary key — use overwrite")
    val cur = currentSchema(m)
    assignments.keys.foreach { c =>
      require(cur.fieldNames.contains(c), s"unknown column $c")
      // Assigning a PK column would upsert under the NEW key and leave the
      // old row alive — a silent duplicate, not an update.
      require(!pk.contains(c),
        s"cannot update primary-key column $c (delete + insert instead)")
    }
    // ONE select evaluating every assignment against the OLD row — SQL
    // UPDATE semantics. Chained withColumn would feed earlier assignments
    // into later ones (SET a = b, b = a would fail to swap) with
    // map-iteration-order nondeterminism on top.
    val updated = headImage(schema, table, m).filter(condition)
      .select(cur.fieldNames.toSeq.map(c =>
        assignments.get(c).map(_.as(c)).getOrElse(col(c))): _*)
    upsertFrom(schema, table, updated, basis = Some(m.commitVersion))
  }



  /** Zero-row DataFrame with the table's current schema. */
  private[sources] def emptyFrame(m: Manifest): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(m.currentFields.map(f =>
        StructField(f.name, TypeMapping.toSparkType(f.trinoType)))))

  private[sources] def fcFor(p: Path): org.apache.hadoop.fs.FileContext =
    org.apache.hadoop.fs.FileContext.getFileContext(
      fs.makeQualified(p).toUri, spark.sparkContext.hadoopConfiguration)
}

object GraftCatalog {
  /** Per-table-dir commit lock: closes the local filesystem's
    * check-then-rename window inside one JVM (a real cluster store gives
    * exclusive rename / conditional PUT natively). */
  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[sources] def commitLock(key: String): Object =
    commitLocks.computeIfAbsent(key, _ => new Object)

  /** Shared JSON mapper for manifest-adjacent sidecar files. */
  private[sources] val jsonMapper = new ObjectMapper()

  /** Reserved name prefix for staging lineages (atomic CTAS/RTAS) and
    * moved-aside old images. Hidden from listTables; rejected in user
    * DDL so the staging machinery can never collide with (or sweep) a
    * real table. */
  val StagePrefix = "__stage-"

  /** Durable commit-point marker inside a stage dir: its presence +
    * content (the target name) makes an interrupted swap completable. */
  private[sources] val SwapMarkerFile = ".swap-commit"

  /** Creation stamp inside a stage/trash dir: sweepStaleStages ages from
    * it instead of dir mtime (see promoteStage's rename-aside note). */
  private[sources] val StageStampFile = ".stage-stamp"
  /** 2001-09-09 in epoch millis — any stamp parsing below this is a
    * truncated/garbled read, not a real creation time. */
  private[sources] val MinPlausibleStampMillis = 1000000000000L

  /** Per-attempt-unique stage name: two concurrent RTAS on one table
    * stage independently and the loser fails at promote, never
    * clobbering the winner's in-flight copy. */
  def newStageName(target: String): String =
    StagePrefix + java.util.UUID.randomUUID().toString.substring(0, 8) +
      "-" + target

  /** Dot-prefixed per-commit claim-ownership marker (see commit()'s FS
    * contract note); invisible to parquet discovery like the bloom
    * sidecar dir. */
  private[graft] val ClaimMarker = ".claim"

  /** Dim-image (re)resolutions performed by streamLookupAppend's
    * broadcast route — tests assert quiet-dim batches don't grow it. */
  private[graft] val lookupDimResolves =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Recursive listings the `$files` view had to fall back to (dirs
    * without complete sidecar byte stats) — a tripwire so tests prove a
    * sidecar-complete table answers with ZERO filesystem recursion. */
  private[graft] val filesTableListings =
    new java.util.concurrent.atomic.AtomicLong()

  /** Per-dir zone sidecar file (hierarchical manifest tier): the dir's
    * per-FILE zones, written once into the staging dir so the ordinal
    * claim-rename publishes data and zones atomically. Dot-prefixed —
    * invisible to parquet discovery; deleted with its dir by
    * expiration/rollback/orphan sweep, so retention needs no separate
    * bookkeeping. */
  private[graft] val ZoneSidecar = ".zones.json"

  /** Zone sidecars by cache token. */
  private[sources] val zoneSidecars =
    new SidecarCache[String, Map[String, FileStats.DirStats]]("zone")

  /** Zone sidecar opens at planning time — the cache-effectiveness
    * tripwire (immutable sidecars must be read at most once per process). */
  private[graft] val zoneSidecarLoads = zoneSidecars.loads

  /** Parsed-head cache keyed by the immutable `manifest-v<N>.json` path
    * (each version is CAS'd into existence exactly once — content can
    * never change under a cached key). Stores the inflated manifest;
    * readers receive deep copies. [[headCacheLoads]] counts cold parses. */
  private[sources] val HeadCacheCap = 64
  private[sources] val headCache =
    new java.util.concurrent.ConcurrentHashMap[String, Manifest]()
  private[graft] val headCacheLoads =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Process-wide commit-protocol counters (across ALL catalog
    * instances — the per-instance `manifestBytesWritten` serves suite
    * tripwires; these serve cost attribution over query closures that
    * build their own catalogs, e.g. graft.JobProfile's per-run line). */
  private[graft] val manifestWritesGlobal =
    new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] val manifestBytesGlobal =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Drop every cached head under a (qualified) table-dir prefix —
    * called by dropTable/renameTable so a recreated table whose version
    * numbering restarts on the same paths can never hit the old table's
    * entries (the mtime+length key component already makes that
    * practically impossible; the purge makes it structural). */
  private[sources] def purgeHeadCache(tableDirPrefix: String): Unit = {
    val it = headCache.keySet().iterator()
    while (it.hasNext) if (it.next().startsWith(tableDirPrefix)) it.remove()
  }

  /** Physical bucket-partition column of bucketed PK tables (never part
    * of the logical schema — reads select it away). */
  val BucketCol = "__bucket"

  /** Does a dir of this kind take the `__bucket=k` layout on a bucketed
    * table? DV sidecars are (file, pos) lists with no key columns to
    * hash, changelog dirs are consumed whole-range, never bucket-routed,
    * and index-only dirs carry no rows — all three stay flat. */
  def bucketLaid(kind: String): Boolean =
    kind != "idx" && kind != "dv" && kind != "cl"

  /** Dynamic-bucket hash-index delta subdir inside each data dir (dot
    * prefix: invisible to parquet discovery, atomic under the dir's
    * ordinal claim-rename). */
  private[graft] val DynIdxDir = ".dbidx"

  /** Table-name separator selecting a branch lineage: `t$branch_dev`
    * (Paimon's branch naming convention, same shape as the `$snapshots`
    * metadata-table suffixes). */
  private[graft] val BranchSep = "$branch_"

  /** Subdir of a table holding its branch lineages (dot-prefixed —
    * invisible to parquet discovery and to the snap-* orphan sweep). */
  private[graft] val BranchDirName = ".branch"

  /** Manifest dir-reference prefix marking a BASE-table-relative path —
    * the cross-lineage sharing form (see dirPath). */
  private[graft] val BaseRelMarker = "~/"

  /** Largest batch key set dynamicRoute will hint as a broadcast side
    * (~2M × 16-byte rows ≈ 32 MB serialized — comfortably inside
    * executor broadcast budgets); bigger batches shuffle-join instead. */
  private[sources] val DynBroadcastKeys = 2000000L

  /** Paimon-style duration strings for `snapshot.time-retained`:
    * `<n><unit>`, unit ∈ ms / s / min / h / d (whitespace tolerated). */
  private[sources] def parseDurationMillis(s: String): Long = {
    val t = s.trim.toLowerCase(java.util.Locale.ROOT)
    val m = "^(\\d+)\\s*(ms|s|min|h|d)$".r.findFirstMatchIn(t).getOrElse(
      throw new IllegalArgumentException(
        s"bad duration '$s' (want <n><ms|s|min|h|d>)"))
    val n = m.group(1).toLong
    m.group(2) match {
      case "ms" => n
      case "s" => n * 1000L
      case "min" => n * 60000L
      case "h" => n * 3600000L
      case "d" => n * 86400000L
    }
  }

  /** Row-kind column of changelog reads: `+I` append, `+U` upsert,
    * `-D` delete (Flink/Paimon RowKind shorthand). */
  val RowKindCol = "_row_kind"

  /** Deletion-vector storage columns: the deleted row's table-relative
    * file path and its position in that file. Reserved on tables created
    * with `deletion-vectors=true`. */
  val DvFileCol = "__file"
  val DvPosCol = "__pos"

  /** A row's snapshot ordinal, parsed from its file path: the leading
    * digits of the LAST path segment starting with "snap-" — the dir the
    * file lives in, whatever the warehouse path above it holds (the
    * greedy `.*` anchors there, as [[DvFileCol]]'s capture does).
    * "snap-7", its paired "snap-7-del", a sort-compaction's "snap-7-r2"
    * and a branch's shared `~/snap-7` all read 7 (one atomic snapshot; a
    * key never appears in two dirs of one ordinal, so the tie is
    * unreachable). Per row rather than a per-dir literal, so one relation
    * can span many dirs and the generated code never names a dir. */
  def OrdinalFromPath: org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.regexp_extract(
      col("_metadata.file_path"), "^.*/snap-(\\d+)[^/]*/", 1).cast("long")

  /** Hidden retract flag of aggregation-engine data files (r16,
    * Paimon's retract-input handling): a batch row marked `-U`/`-D`
    * through `rowkind.field` lands as an ordinary data row with this
    * boolean set, and the field-wise fold INVERTS it — sum subtracts,
    * collect removes one occurrence per element. Only dirs whose
    * manifest entry carries the `rk` flag are read with the column
    * (spark-avro refuses missing fields; parquet/orc would just null),
    * so pre-retraction files never pay for it. */
  val RetractCol = "__rk"

  /** Field functions whose retraction is exact AND associative over a
    * compacted prefix: sum subtracts (group inverse), collect removes
    * one occurrence per element (the compacted array keeps the full
    * multiset). min/max/first/last/listagg/bool/product/sketches REFUSE
    * retraction — a compacted prefix has already discarded the inferior
    * values a retract could resurrect (same refusal matrix as Paimon's
    * FieldAggregator.retract; product additionally divides inexactly). */
  val RetractableAggs: Set[String] = Set("sum", "collect")

  /** Does THIS field retract exactly? [[RetractableAggs]] membership
    * plus the type-level caveat: collect's fold removes occurrences via
    * `array_position`, whose ordering-based equality rejects unorderable
    * element types (map, struct-of-map) at READ time — so a table that
    * accepted such a -U/-D write would throw on every later read.
    * Gate retraction on element orderability at the write and create
    * gates instead (r17; the insert-only collect branch stays available
    * for any element type via its ordinal-only comparator). */
  def retractableField(fn: String,
      dt: org.apache.spark.sql.types.DataType): Boolean = fn match {
    case "sum" => true
    case "collect" => dt match {
      case org.apache.spark.sql.types.ArrayType(et, _) =>
        org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(et)
      case _ => false
    }
    case _ => false
  }

  /** Write-time positional identity for ORC and AVRO deletion-vector
    * tables: a hidden long column stamped into every data file at write
    * (Spark 4.1 exposes `_metadata.row_index` only for parquet — only
    * the parquet source overrides `metadataSchemaFields` with it). The
    * DV contract needs a STABLE UNIQUE (file, position) row identity,
    * not the physical row index: `monotonically_increasing_id()`
    * evaluated once at write is unique within the commit's job
    * (partition-id-prefixed), lands in the file bytes, and reads back
    * identically forever. Paimon's row tracking stamps `_ROW_ID` into
    * data files the same way. Invisible to user reads (relationFor maps
    * columns by field id); surfaced as [[DvPosCol]] when a DV path asks
    * for row identity on an ORC/AVRO table. */
  val OrcPosCol = "__gpos"

  /** Union K same-schema frames as ONE N-ary logical Union, analyzed
    * once. `frames.reduce(_ unionByName _)` re-runs the full analyzer on
    * a growing tree at every step — O(K²) driver-side rule work per
    * resolve (r19 rule metering: 564 analyzer batch runs on one bucketed
    * read, ~half the query's driver gap) — while the N-ary form analyzes
    * the final tree once and its already-analyzed children are skipped.
    * Result-identical to the by-name reduce because every call site
    * unions frames built by one projection (same field names, same
    * order, same types) — asserted, since a positional Union of
    * misaligned frames would silently mis-wire columns. */
  private[sources] def unionAllByName(frames: Seq[DataFrame]): DataFrame = {
    require(frames.nonEmpty, "unionAllByName of zero frames")
    if (frames.size == 1) return frames.head
    val names = frames.head.schema.fieldNames.toSeq
    frames.find(_.schema.fieldNames.toSeq != names).foreach(f =>
      throw new IllegalStateException("unionAllByName of misaligned frames: " +
        s"${names.mkString(",")} vs ${f.schema.fieldNames.mkString(",")}"))
    org.apache.spark.sql.GraftColumnBridge.dataFrame(
      frames.head.sparkSession,
      org.apache.spark.sql.catalyst.plans.logical.Union(
        frames.map(_.queryExecution.analyzed)))
  }

  /** [[unionAllByName]] of possibly zero frames: None when there are none
    * (a bucket-laid dir with no leaves left to read yields no frame). */
  private[sources] def unionOption(frames: Seq[DataFrame]): Option[DataFrame] =
    if (frames.isEmpty) None else Some(unionAllByName(frames))

  /** In-task merge of one bucket's delta rows: highest `__ord` wins per
    * primary key — unless `seqIdx >= 0` (a `sequence.field` table), where
    * the sequence value wins first (NULL smallest, ties fall back to the
    * ordinal). A winning tombstone removes the key. Static (object)
    * method so the task closure captures only index arrays — never the
    * catalog instance. */
  private[sources] def mergeBucketInTask(all: DataFrame, pkIdx: Array[Int],
      ordIdx: Int, delIdx: Int, outIdx: Array[Int],
      outSchema: StructType, seqIdx: Int = -1): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    all.mapPartitions { it =>
      def newer(r: Row, prev: Row): Boolean = {
        if (seqIdx >= 0) {
          val a = r.get(seqIdx); val b = prev.get(seqIdx)
          if (a == null && b != null) return false
          if (a != null && b == null) return true
          if (a != null) {
            // one column ⇒ one runtime type, always Comparable
            // (numeric/date/timestamp/string — validated at create)
            val c = a.asInstanceOf[Comparable[Any]].compareTo(b)
            if (c != 0) return c > 0
          }
        }
        prev.getLong(ordIdx) < r.getLong(ordIdx)
      }
      val best = mutable.HashMap.empty[Seq[Any], Row]
      it.foreach { r =>
        val key: Seq[Any] = pkIdx.toIndexedSeq.map(r.get)
        val prev = best.get(key)
        if (prev.isEmpty || newer(r, prev.get)) best(key) = r
      }
      best.valuesIterator.filterNot(_.getBoolean(delIdx))
        .map(r => Row.fromSeq(outIdx.toIndexedSeq.map(r.get)))
    }(Encoders.row(outSchema)).toDF()
  }

  /** In-task hash join of one bucket's tagged union (see bucketedJoin):
    * side-1 (right) rows build the key→values map, side-0 (left) rows
    * probe it. Static so the closure captures only index arrays. */
  private[sources] def joinBucketInTask(tagged: DataFrame, nKeys: Int,
      leftOutIdx: Array[Int], rightStart: Int, nRight: Int,
      leftOuter: Boolean, outSchema: StructType): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    tagged.mapPartitions { it =>
      val build = mutable.HashMap.empty[Seq[Any], mutable.ArrayBuffer[IndexedSeq[Any]]]
      val probe = mutable.ArrayBuffer.empty[Row]
      it.foreach { r =>
        if (r.getInt(0) == 1)
          build.getOrElseUpdate((1 to nKeys).map(r.get),
            mutable.ArrayBuffer.empty) += (rightStart until rightStart + nRight).map(r.get)
        else probe += r
      }
      probe.iterator.flatMap { l =>
        val left = leftOutIdx.toIndexedSeq.map(l.get)
        build.get((1 to nKeys).map(l.get)) match {
          case Some(ms) => ms.iterator.map(rv => Row.fromSeq(left ++ rv))
          case None if leftOuter =>
            Iterator.single(Row.fromSeq(left ++ Seq.fill(nRight)(null)))
          case None => Iterator.empty
        }
      }
    }(Encoders.row(outSchema)).toDF()
  }

  case class FieldInfo(id: Int, name: String, trinoType: String,
      comment: Option[String] = None)
  case class SnapshotInfo(id: Long, timestampMillis: Long)
  /** One snapshot file-list entry; kind is "data" or "delete" (tombstone).
    * `excludeBuckets` (bucketed PK tables only): buckets whose files in
    * this dir are RETIRED as of the owning snapshot — a per-bucket
    * compaction folded them into its own dir, so reads skip them; the
    * bytes stay for older snapshots until expiration reclaims them.
    * `retract` (aggregation engine, r16): this data dir carries the
    * hidden [[GraftCatalog.RetractCol]] flag column — some of its rows
    * are `-U`/`-D` retract inputs the field-wise fold must invert. */
  case class FileEntry(dir: String, schemaVersion: Int, kind: String,
      excludeBuckets: Seq[Int] = Nil, retract: Boolean = false)

  /** One read's snapshot: the manifest it was resolved from and the
    * snapshot the travel arguments chose there (None: no commit yet).
    * A read planned from a pin sees exactly that snapshot however many
    * times it is planned — see [[GraftCatalog.pin]]. */
  final case class Pin(schema: String, table: String, manifest: Manifest,
      snapshot: Option[Manifest.Snapshot]) {
    def entries: Seq[FileEntry] = snapshot.fold(Seq.empty[FileEntry])(_.files)
    def snapshotId: Option[Long] = snapshot.map(_.id)
    /** Whether the pin is the head: the bucket options and the
      * dynamic-bucket hash index describe the head's layout only. */
    def readsHead: Boolean = manifest.isHead(snapshot)
    /** Upper-bound row estimate from manifest dir stats alone (sum of
      * per-dir footer row counts over DATA entries — pre-merge, so
      * MoR-pending PK snapshots over-count; tombstones/DVs only shrink).
      * None when any data dir lacks stats (ORC). Feeds the SQL bridge's
      * reported size, so a small MoR dim auto-broadcasts. */
    def rowsUpperBound: Option[Long] =
      if (snapshot.isEmpty) Some(0L)
      else {
        val stats = manifest.dirStats
        val counts = entries.filter(_.kind == "data").map(fe => stats.get(fe.dir).map(_.rows))
        if (counts.exists(_.isEmpty)) None else Some(counts.flatten.sum)
      }
  }

  /** One dir a [[GraftCatalog.commit]] lands, `snap-<id><suffix>`: `frame`
    * written as `kind` (data / delete / dv / cl / idx). `retract` marks an
    * aggregation-engine retract batch (data dirs carrying
    * [[GraftCatalog.RetractCol]]); `from` is a changelog leg's explicit
    * coverage start (default: the previous head); `index` is the
    * dynamic-bucket index delta (rows, key count) the dir carries;
    * `dvIndex` is a deletion-vector dir's manifest summary (the data
    * files it touches, the positions it deletes);
    * `staged` names a staging dir (relative to the table) already holding
    * the leg's rows, written by [[GraftCatalog.writeDir]]. `clustered`
    * marks a fixed-bucket frame whose partitions each already hold whole
    * layout leaves — [[GraftCatalog.bucketedResolve]]'s one-bucket legs,
    * or a filter or projection of them — so its write skips the layout
    * shuffle (see writeDir). */
  final case class Leg(suffix: String, kind: String, frame: DataFrame,
      retract: Boolean = false, from: Option[Long] = None,
      index: Option[(DataFrame, Long)] = None, staged: Option[String] = None,
      clustered: Boolean = false, dvIndex: Option[(Seq[String], Long)] = None)

  /** What a [[GraftCatalog.commit]]'s snapshot is (Paimon's `CommitKind`).
    * Each change declares what the snapshot keeps of the previous file
    * list (`inherits`, less `drops`, with `retires` excluded on every
    * kept entry; dropped and retired bytes stay for older snapshots until
    * expiration reclaims them), whether it is a `compaction` (bytes move,
    * logical content does not: no dedupe fold, no changelog, no
    * commit-time maintenance after it), its `$snapshots` label, and the
    * `options` it lands with the snapshot in the same manifest CAS. */
  sealed abstract class Change(val compaction: Boolean, val inherits: Boolean = true) {
    def drops: Set[String] = Set.empty
    def retires: Set[Int] = Set.empty
    def options: Map[String, String] = Map.empty
    /** The label of a snapshot landing `fileLegs` (its legs but `-cl`). */
    def label(fileLegs: Seq[Leg]): String = if (compaction) "compact" else "overwrite"
  }
  object Change {
    /** Rows on top of the head: appends, upserts, merges, tombstone and
      * deletion-vector deletes, recording streaming batch `batchId`.
      * Labelled by what lands: `merge` for paired legs, else `delete`
      * for a tombstone or DV leg, else `append`. */
    final case class Add(batchId: Option[Long] = None) extends Change(compaction = false) {
      override def label(fileLegs: Seq[Leg]): String =
        if (fileLegs.size > 1) "merge"
        else if (fileLegs.head.kind == "delete" || fileLegs.head.kind == "dv") "delete"
        else "append"
    }
    /** A new image in place of the head's. */
    case object Overwrite extends Change(compaction = false, inherits = false)
    /** New rows in place of these dirs (partition expiration, dynamic
      * partition overwrite). */
    final case class ReplaceDirs(override val drops: Set[String]) extends Change(compaction = false)
    /** The head's image rewritten (full and sort compaction). */
    case object Compact extends Change(compaction = true, inherits = false)
    /** These dirs folded into one (minor compaction, a DV build retiring
      * tombstone dirs). */
    final case class CompactDirs(override val drops: Set[String]) extends Change(compaction = true)
    /** These buckets' merged images, retired on every inherited entry
      * (per-bucket compaction): the serialized delta stays O(1), one
      * `xbuckets` list applied at inflate. */
    final case class CompactBuckets(override val retires: Set[Int]) extends Change(compaction = true)
    /** The head's image rewritten under `buckets` fixed buckets, landing
      * with the option that describes it. */
    final case class Rescale(buckets: Int) extends Change(compaction = true, inherits = false) {
      override def options: Map[String, String] = Map(TableOptions.Bucket.key -> buckets.toString)
    }
    /** The dynamic-bucket hash index folded into one index-only dir. */
    case object FoldIndex extends Change(compaction = true)
  }

  /** One leg of a commit once staged: its bytes at `dir` (relative to the
    * table) and, for a data leg, its zone stats, zone sidecar token and
    * bloom index (cache token, columns). */
  private[sources] final case class StagedLeg(leg: Leg, dir: String,
      stats: Option[(FileStats.DirStats, Option[String], Option[(String, Seq[String])])])
}

/**
 * Session-level scan options — the analog of TrinoSessionProperties:
 * `scan_snapshot_id`, `scan_timestamp_millis` (:36–37) and the split
 * sizing knob (`minimum_split_weight`, :38). Split planning itself is
 * Spark's file-source machinery (the TrinoSplitManagerBase analog);
 * [[withSplitTargetBytes]] steers how many splits a scan produces.
 */
object GraftOptions {
  val ScanSnapshotId = "graft.scan.snapshot-id"
  val ScanTimestampMillis = "graft.scan.timestamp-millis"

  def setSnapshot(spark: SparkSession, id: Long): Unit =
    spark.conf.set(ScanSnapshotId, id.toString)

  def setAsOf(spark: SparkSession, millis: Long): Unit =
    spark.conf.set(ScanTimestampMillis, millis.toString)

  def clearScanOptions(spark: SparkSession): Unit = {
    spark.conf.unset(ScanSnapshotId)
    spark.conf.unset(ScanTimestampMillis)
  }

  /** Target bytes per input split (smaller → more, finer-grained splits). */
  def withSplitTargetBytes(spark: SparkSession, bytes: Long): Unit = {
    spark.conf.set("spark.sql.files.maxPartitionBytes", bytes.toString)
    spark.conf.set("spark.sql.files.openCostInBytes", math.min(bytes / 4, 4194304).toString)
  }
}
