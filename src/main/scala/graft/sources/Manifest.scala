package graft.sources

import scala.collection.mutable

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.RuntimeConfig

import GraftCatalog.{FieldInfo, FileEntry}

/**
 * One table manifest — the parsed head `manifest-v<N>.json` (Paimon's
 * snapshot + schema files, re-expressed): table metadata (name,
 * partition and primary-key columns, options, schema versions) plus the
 * snapshot log and its side state. This file is the only code that knows
 * the manifest's JSON layout; everything else reads and edits a table's
 * metadata through the typed members below, and [[ManifestStore]] is the
 * only reader and writer of the files.
 *
 * Side state comes in two kinds, each declared once:
 *  - dir-keyed nodes ([[Manifest.DirNodes]]: zone aggregates, the
 *    deletion-vector index, bloom pointers, dynamic-bucket index flags,
 *    producer changelog dirs) — an entry lives and dies with its dir;
 *  - snapshot-keyed state (ANALYZE `statistics`) — it dies with its
 *    snapshot ([[keepSnapshots]]).
 *
 * Every Manifest is a private deep copy of the head it was read from:
 * callers edit it freely and land it with `writeManifest`.
 */
final class Manifest private (private val m: ObjectNode) {
  import Manifest._

  // ---- table metadata ----------------------------------------------------

  /** The manifest's CAS version (0 before the first versioned write) —
    * the basis a derived-content commit fences on. */
  def commitVersion: Long = m.path("commitVersion").asLong(0L)

  private[sources] def setCommitVersion(v: Long): Unit = m.put("commitVersion", v)

  def rename(name: String): Unit = m.put("name", name)

  /** Partition columns declared at create time (empty for old manifests). */
  def partitionColumns: Seq[String] = texts(m.get("partitions"))

  def setPartitionColumns(cols: Seq[String]): Unit = {
    val arr = m.putArray("partitions")
    cols.foreach(arr.add)
  }

  /** Primary-key columns declared at create time (empty = append-only). */
  def primaryKey: Seq[String] = texts(m.get("primaryKey"))

  def setPrimaryKey(cols: Seq[String]): Unit = {
    val arr = m.putArray("primaryKey")
    cols.foreach(arr.add)
  }

  /** The table's options, parsed from the manifest (typed view of the
    * [[TableOptions]] registry). */
  def options: TableOptions = {
    val out = mutable.LinkedHashMap[String, String]()
    Option(m.get("options")).foreach(o =>
      o.fieldNames().forEachRemaining(k => out += k -> o.get(k).asText()))
    TableOptions(out.toMap)
  }

  def putOptions(kvs: Iterable[(String, String)]): Unit = {
    val on = obj("options")
    kvs.foreach { case (k, v) => on.put(k, v) }
  }

  def removeOptions(keys: Iterable[String]): Unit =
    objOpt("options").foreach(o => keys.foreach(o.remove))

  // ---- schema versions (stable field ids) ----------------------------------

  /** Current schema version number (increments per column DDL). */
  def currentSchemaVersion: Int = m.get("currentSchemaVersion").asInt()

  /** Highest field id ever assigned (ids are never reused). */
  def lastFieldId: Int = m.get("lastFieldId").asInt()

  def setLastFieldId(id: Int): Unit = m.put("lastFieldId", id)

  def schemaVersions: Map[Int, Seq[FieldInfo]] = {
    val schemas = m.get("schemas").asInstanceOf[ArrayNode]
    (0 until schemas.size()).map { i =>
      val s = schemas.get(i)
      val fields = s.get("fields").asInstanceOf[ArrayNode]
      s.get("version").asInt() -> (0 until fields.size()).map { j =>
        val f = fields.get(j)
        FieldInfo(f.get("id").asInt(), f.get("name").asText(), f.get("type").asText(),
          if (f.has("comment")) Some(f.get("comment").asText()) else None)
      }
    }.toMap
  }

  def currentFields: Seq[FieldInfo] = schemaVersions(currentSchemaVersion)

  /** Land `fields` as the next schema version and make it current. */
  def addSchemaVersion(fields: Seq[FieldInfo]): Unit = {
    val version = currentSchemaVersion + 1
    writeSchema(m.get("schemas").asInstanceOf[ArrayNode], version, fields)
    m.put("currentSchemaVersion", version)
  }

  /** Nested-path → nested-id map of column `colId` valid at `version`:
    * the newest recorded map at or below it (naming only changes at
    * recorded versions), or the oldest recorded one for pre-history
    * versions (identical naming — the first nested op snapshots the
    * pre-op structure). None = the column was never nested-evolved. */
  def nestedIdsAt(colId: Int, version: Int): Option[Map[String, Int]] = {
    val node = objOpt("nestedIds").flatMap(n => Option(n.get(colId.toString)))
      .getOrElse(return None)
    val versions = mutable.ArrayBuffer.empty[Int]
    node.fieldNames().forEachRemaining { k =>
      if (k != NestedLast) versions += k.toInt
    }
    if (versions.isEmpty) return None
    val pick = versions.filter(_ <= version).maxOption.getOrElse(versions.min)
    val vn = node.get(pick.toString)
    val out = mutable.LinkedHashMap[String, Int]()
    vn.fieldNames().forEachRemaining(p => out += p -> vn.get(p).asInt())
    Some(out.toMap)
  }

  /** Highest nested id minted for column `colId`. */
  def nestedLastId(colId: Int): Int = nestedNode(colId).get(NestedLast).asInt()

  /** Record column `colId`'s nested-id map at `version`, with `last` the
    * highest id minted so far. */
  def putNestedIds(colId: Int, version: Int, ids: Map[String, Int], last: Int): Unit = {
    val colNode = nestedNode(colId)
    colNode.put(NestedLast, last)
    val vn = colNode.putObject(version.toString)
    ids.toSeq.sortBy(_._2).foreach { case (p, i) => vn.put(p, i) }
  }

  private def nestedNode(colId: Int): ObjectNode = {
    val root = obj("nestedIds")
    if (root.has(colId.toString)) root.get(colId.toString).asInstanceOf[ObjectNode]
    else root.putObject(colId.toString)
  }

  // ---- the snapshot log ----------------------------------------------------

  private def log: ArrayNode = m.get("snapshots").asInstanceOf[ArrayNode]

  /** The snapshot log, oldest first. */
  def snapshots: IndexedSeq[Snapshot] = {
    val a = log
    (0 until a.size()).map(i => new Snapshot(a.get(i)))
  }

  def head: Option[Snapshot] = {
    val a = log
    if (a.size() == 0) None else Some(new Snapshot(a.get(a.size() - 1)))
  }

  /** The head snapshot's id, 0 before the first commit. */
  def headId: Long = head.fold(0L)(_.id)

  /** The head snapshot's file entries (empty before the first commit). */
  def headFiles: Seq[FileEntry] = head.fold(Seq.empty[FileEntry])(_.files)

  def snapshot(id: Long): Option[Snapshot] = snapshots.find(_.id == id)

  /** Whether `chosen` is the head snapshot. */
  def isHead(chosen: Option[Snapshot]): Boolean =
    chosen.exists(s => head.exists(_.id == s.id))

  /** Snapshot selection shared by reads and the SQL catalog: explicit
    * id/timestamp beats the session scan properties ([[GraftOptions]])
    * beats the head. None = empty table. */
  def chooseSnapshot(snapshotId: Option[Long], asOfMillis: Option[Long],
      conf: RuntimeConfig, table: => String): Option[Snapshot] = {
    val sessionSnap = conf.getOption(GraftOptions.ScanSnapshotId).map(_.toLong)
    val sessionAsOf = conf.getOption(GraftOptions.ScanTimestampMillis).map(_.toLong)
    val all = snapshots
    (snapshotId.orElse(sessionSnap), asOfMillis.orElse(sessionAsOf)) match {
      case (Some(id), _) =>
        val s = all.find(_.id == id)
        require(s.isDefined, s"no snapshot $id for $table")
        s
      case (None, Some(ts)) => all.reverse.find(_.timestampMillis <= ts)
      case _ => all.lastOption
    }
  }

  /**
   * Entries ADDED by the snapshot at position `i` of [[snapshots]]
   * relative to its immediate predecessor — the per-snapshot delta the
   * changelog scan, the `$snapshots` view, and the rows rate limit all
   * want. Additive commits carry it verbatim in their delta-form `added`
   * field (O(delta), no diff at all); full-form entries (first snapshot,
   * overwrite/compact, entries re-materialized after expiration, legacy
   * manifests) fall back to the positional set difference.
   */
  def addedAt(i: Int): Seq[FileEntry] = {
    val a = log
    val s = a.get(i)
    if (s.has("added") && s.has("baseId") && i > 0 &&
        s.get("baseId").asLong() == a.get(i - 1).get("id").asLong())
      entriesOf(s.get("added"))
    else {
      val prevDirs = if (i == 0) Set.empty[String]
        else entriesOf(a.get(i - 1).get("files")).map(_.dir).toSet
      entriesOf(s.get("files")).filterNot(fe => prevDirs.contains(fe.dir))
    }
  }

  /** Data commits since the newest compaction-kind snapshot — the
    * cadence the delta-commit maintenance triggers count. */
  def commitsSinceCompaction: Int = snapshots.reverse.takeWhile(!_.compaction).size

  /**
   * Append one snapshot entry: `inherited ++ added` is its file list. With
   * a `baseId` (the previous head) the entry also carries its delta form
   * — `added`, the dirs it `removed` from the inherited list and the
   * `retiredBuckets` applied to every inherited entry — which is all the
   * head serializes of it (see [[Manifest.deflate]]).
   */
  def appendSnapshot(id: Long, timestampMillis: Long, compaction: Boolean,
      commitKind: String, inherited: Seq[FileEntry], added: Seq[FileEntry],
      baseId: Option[Long], removed: Seq[String], retiredBuckets: Seq[Int]): Unit = {
    val sn = log.addObject()
    sn.put("id", id)
    sn.put("timestampMillis", timestampMillis)
    // Compaction rewrites bytes, not logical content — the changelog scan
    // skips snapshots carrying this marker (Paimon: compaction produces no
    // changelog entries).
    if (compaction) sn.put("compaction", true)
    sn.put("commitKind", commitKind)
    val fArr = sn.putArray("files")
    (inherited ++ added).foreach(addEntry(fArr, _))
    baseId.foreach { b =>
      sn.put("baseId", b)
      val aArr = sn.putArray("added")
      added.foreach(addEntry(aArr, _))
      if (removed.nonEmpty) {
        val rArr = sn.putArray("removed")
        removed.foreach(rArr.add)
      }
      if (retiredBuckets.nonEmpty) {
        // O(1) delta for a per-bucket compaction: inflate applies the
        // exclusion to every INHERITED entry instead of re-serializing
        // the whole list with per-entry `xb` fields.
        val xArr = sn.putArray("xbuckets")
        retiredBuckets.foreach(xArr.add)
      }
    }
  }

  /** Keep only `kept` of the log (expiration, rollback, a branch point).
    * Snapshot-keyed state dies with its snapshot: ANALYZE statistics of
    * a dropped snapshot are removed — a reused id must never serve
    * another snapshot's numbers. */
  def keepSnapshots(kept: Seq[Snapshot]): Unit = {
    val keptIds = kept.map(_.id).toSet
    val dropped = snapshots.map(_.id).filterNot(keptIds).toSet
    val arr = m.putArray("snapshots")
    kept.foreach(s => arr.add(s.node))
    if (statistics.exists(st => dropped.contains(st.snapshotId))) m.remove("statistics")
  }

  // ---- dir-keyed side nodes --------------------------------------------------

  /** Dir-level zone aggregates of every dir whose stats are in this
    * reader's format (dir → stats); entries in any other stats format are
    * ignored, not trusted — older writers lack this format's guarantees,
    * newer writers may have changed zone semantics. */
  def dirStats: Map[String, FileStats.DirStats] = {
    val out = mutable.LinkedHashMap[String, FileStats.DirStats]()
    dirNode(DirStats).foreach { case (d, n) =>
      if (currentStats(n)) out += d -> FileStats.fromJson(n)
    }
    out.toMap
  }

  /** Per-file zones of every dir with current-format stats: the dir's
    * zone-sidecar token (Left), or the zones carried inline by legacy
    * monolithic manifests (Right). */
  def fileZones: Seq[(String, Either[String, Map[String, FileStats.DirStats]])] =
    dirNode(DirStats).collect { case (d, n) if currentStats(n) =>
      d -> (if (n.has(FilesExt)) Left(n.get(FilesExt).asText())
        else Right(FileStats.filesFromJson(n)))
    }

  /** Every dir whose zone entry points at a `.zones.json` sidecar. */
  def zoneSidecarDirs: Seq[String] =
    dirNode(DirStats).collect { case (d, n) if n.has(FilesExt) => d }

  /** Record a data dir's zone aggregate and its per-file sidecar token. */
  def putDirStats(dir: String, ds: FileStats.DirStats, zoneToken: Option[String]): Unit = {
    val dn = obj(DirStats).putObject(dir)
    FileStats.toJson(dn, ds)
    zoneToken.foreach(dn.put(FilesExt, _))
  }

  /** DV dir → (affected data files table-relative, deleted-position count). */
  def dvIndex: Map[String, (Seq[String], Long)] =
    dirNode(DvIndex).map { case (d, e) =>
      d -> ((texts(e.get("files")), e.get("rows").asLong()))
    }.toMap

  def putDvIndex(dir: String, files: Seq[String], rows: Long): Unit = {
    val e = obj(DvIndex).putObject(dir)
    e.put("rows", rows)
    val fa = e.putArray("files")
    files.foreach(fa.add)
  }

  /** Bloom-index pointers: dir → (cache token, indexed cols). */
  def bloomIdx: Map[String, (String, Set[String])] =
    dirNode(BloomIdx).map { case (d, e) =>
      d -> ((e.get("token").asText(), texts(e.get("cols")).toSet))
    }.toMap

  def putBloomIdx(dir: String, token: String, cols: Seq[String]): Unit = {
    val e = obj(BloomIdx).putObject(dir)
    e.put("token", token)
    val ca = e.putArray("cols")
    cols.foreach(ca.add)
  }

  /** Dirs carrying a dynamic-bucket `.dbidx` delta → its key count. */
  def dynIdx: Map[String, Long] =
    dirNode(DynIdx).map { case (d, e) => d -> e.get("keys").asLong() }.toMap

  /** Flag `dir` as carrying a `.dbidx` delta of `keys` assignments;
    * `replace` first drops every older flag (a full fold records every
    * live key, so an older flag would double-count). */
  def putDynIdx(dir: String, keys: Long, replace: Boolean): Unit = {
    if (replace) m.remove(DynIdx)
    obj(DynIdx).putObject(dir).put("keys", keys)
  }

  /** Persisted changelog dirs: dir → (snapshot id, write-time schema
    * version, coverage-from EXCLUSIVE — the snapshot the dir's rows
    * change FROM). */
  def changelog: Map[String, (Long, Int, Long)] =
    dirNode(Changelog).map { case (d, e) =>
      d -> ((e.get("id").asLong(), e.get("ver").asInt(), e.get("from").asLong()))
    }.toMap

  def putChangelog(dir: String, id: Long, ver: Int, from: Long): Unit = {
    val e = obj(Changelog).putObject(dir)
    e.put("id", id)
    e.put("ver", ver)
    e.put("from", from)
  }

  /** Drop `dirs` from every dir-keyed node. */
  def dropDirs(dirs: Iterable[String]): Unit =
    DirNodes.foreach(k => objOpt(k).foreach(n => dirs.foreach(n.remove)))

  /** Re-key every dir reference — the log's `files`/`added`/`removed`
    * and every dir-keyed node — through `f`; node entries whose new key
    * fails `keep` are dropped. Values are shared by reference. */
  def rekeyDirs(f: String => String, keep: String => Boolean = _ => true): Unit = {
    def rekey(arr: JsonNode): Unit = if (arr != null)
      (0 until arr.size()).foreach { j =>
        val e = arr.get(j).asInstanceOf[ObjectNode]
        e.put("dir", f(e.get("dir").asText()))
      }
    val a = log
    (0 until a.size()).foreach { i =>
      val s = a.get(i)
      rekey(s.get("files"))
      rekey(s.get("added"))
      s.get("removed") match {
        case r: ArrayNode =>
          val moved = texts(r).map(f)
          r.removeAll()
          moved.foreach(r.add)
        case _ => ()
      }
    }
    DirNodes.foreach(k => objOpt(k).foreach { old =>
      val next = JsonMapper.createObjectNode()
      old.fieldNames().forEachRemaining { d =>
        val d2 = f(d)
        if (keep(d2)) next.set[JsonNode](d2, old.get(d))
      }
      m.set[JsonNode](k, next)
    })
  }

  // ---- tags, consumers, streaming sink state ------------------------------

  /** Tag name → pinned snapshot id. */
  def tags: Map[String, Long] = longs("tags")

  def putTag(tag: String, id: Long): Unit = obj("tags").put(tag, id)

  def removeTag(tag: String): Unit = objOpt("tags").foreach(_.remove(tag))

  /** Registered consumer → next unprocessed snapshot id. */
  def consumers: Map[String, Long] = longs("consumers")

  def putConsumer(id: String, nextSnapshotId: Long): Unit =
    obj("consumers").put(id, nextSnapshotId)

  /** Unregister a consumer; false when the table has no consumer node. */
  def removeConsumer(id: String): Boolean =
    objOpt("consumers").exists { c => c.remove(id); true }

  /** Highest streaming batchId committed to this table (-1 = none). */
  def lastStreamBatchId: Long =
    if (m.has("lastStreamBatchId")) m.get("lastStreamBatchId").asLong() else -1L

  def setLastStreamBatchId(b: Long): Unit = m.put("lastStreamBatchId", b)

  // ---- ANALYZE statistics (snapshot-keyed) --------------------------------

  def statistics: Option[Statistics] = objOpt("statistics").map { st =>
    val cols = mutable.ArrayBuffer.empty[(String, ColumnStats)]
    val cn = st.get("cols")
    cn.fieldNames().forEachRemaining { name =>
      val c = cn.get(name)
      def long(k: String) = if (c.has(k)) Some(c.get(k).asLong()) else None
      def text(k: String) = if (c.has(k)) Some(c.get(k).asText()) else None
      cols += name -> ColumnStats(c.get("dataType").asText(), long("nulls"),
        long("ndv"), text("min"), text("max"),
        if (c.has("avgLen")) Some(c.get("avgLen").asDouble()) else None)
    }
    Statistics(st.get("snapshotId").asLong(), st.get("analyzedAtMillis").asLong(),
      st.get("rows").asLong(), cols.toSeq)
  }

  def putStatistics(s: Statistics): Unit = {
    val st = m.putObject("statistics")
    st.put("snapshotId", s.snapshotId)
    st.put("analyzedAtMillis", s.analyzedAtMillis)
    st.put("rows", s.rows)
    val colsNode = st.putObject("cols")
    s.cols.foreach { case (name, c) =>
      val cn = colsNode.putObject(name)
      cn.put("dataType", c.dataType)
      c.nulls.foreach(cn.put("nulls", _))
      c.ndv.foreach(cn.put("ndv", _))
      c.min.foreach(cn.put("min", _))
      c.max.foreach(cn.put("max", _))
      c.avgLen.foreach(cn.put("avgLen", _))
    }
  }

  // ---- branch lineages -----------------------------------------------------

  /** The base snapshot a branch lineage forked at (0 on a base table). */
  def branchBaseId: Long = m.path("branchBaseId").asLong(0L)

  def branchCreatedMillis: Long = m.path("branchCreatedMillis").asLong(0L)

  /**
   * Turn this copy of base table `base`'s manifest into the first
   * manifest of its branch lineage `name` at snapshot `fromId`: the log
   * is truncated at the branch point, every dir reference is re-keyed
   * through `share` (the base-relative sharing form), and node entries
   * of truncated-away dirs are dropped. Tags at-or-before the branch
   * point carry over (their snapshots are in the inherited log);
   * consumers and streaming-sink idempotence state stay with the base —
   * the branch is a fresh consumption scope and a fresh CAS lineage.
   */
  def forkBranch(name: String, base: String, fromId: Long, createdMillis: Long,
      share: String => String): Unit = {
    keepSnapshots(snapshots.filter(_.id <= fromId))
    // producer changelog dirs stay with the base lineage (their node keys
    // are base-local dirs); the branch recomputes changelogs at read and
    // re-materializes from its own commits
    m.remove(Changelog)
    val keptDirs = snapshots.flatMap(_.files).map(fe => share(fe.dir)).toSet
    rekeyDirs(share, keptDirs.contains)
    objOpt("tags").foreach { old =>
      val next = JsonMapper.createObjectNode()
      old.fieldNames().forEachRemaining { k =>
        if (old.get(k).asLong() <= fromId) next.put(k, old.get(k).asLong())
      }
      m.set[JsonNode]("tags", next)
    }
    m.remove("consumers")
    m.remove("lastStreamBatchId")
    m.remove("commitVersion") // fresh CAS lineage: first write lands v1
    m.put("name", name)
    m.put("branchOf", base)
    m.put("branchBaseId", fromId)
    m.put("branchCreatedMillis", createdMillis)
  }

  /**
   * Turn this branch manifest into the next head of base table `name`
   * (fast-forward), whose current manifest is `base`: every dir reference
   * is re-keyed through `toBase`; the base's tags merge in (the base's
   * win on a name conflict); consumption scopes stay with the base
   * lineage; and the base's CAS chain continues, so concurrent base
   * commits lose or abort.
   */
  def adoptAsBase(name: String, base: Manifest, toBase: String => String): Unit = {
    rekeyDirs(toBase)
    base.objOpt("tags").foreach { baseTags =>
      val next = obj("tags")
      baseTags.fieldNames().forEachRemaining(k => next.put(k, baseTags.get(k).asLong()))
    }
    m.remove("consumers")
    base.m.get("consumers") match {
      case c: ObjectNode => m.set[JsonNode]("consumers", c)
      case _ => ()
    }
    m.remove("lastStreamBatchId")
    base.m.get("lastStreamBatchId") match {
      case b: JsonNode if !b.isMissingNode && !b.isNull =>
        m.set[JsonNode]("lastStreamBatchId", b)
      case _ => ()
    }
    m.put("name", name)
    m.remove("branchOf")
    m.remove("branchBaseId")
    m.remove("branchCreatedMillis")
    if (base.m.has("commitVersion"))
      m.set[JsonNode]("commitVersion", base.m.get("commitVersion"))
    else m.remove("commitVersion")
  }

  // ---- JSON plumbing ---------------------------------------------------------

  private def obj(key: String): ObjectNode =
    if (m.has(key)) m.get(key).asInstanceOf[ObjectNode] else m.putObject(key)

  private def objOpt(key: String): Option[ObjectNode] =
    if (m.has(key)) Some(m.get(key).asInstanceOf[ObjectNode]) else None

  private def dirNode(key: String): Seq[(String, JsonNode)] = objOpt(key).fold(
      Seq.empty[(String, JsonNode)]) { n =>
    val out = mutable.ArrayBuffer.empty[(String, JsonNode)]
    n.fieldNames().forEachRemaining(d => out += d -> n.get(d))
    out.toSeq
  }

  private def longs(key: String): Map[String, Long] = {
    val out = mutable.LinkedHashMap[String, Long]()
    objOpt(key).foreach(n =>
      n.fieldNames().forEachRemaining(k => out += k -> n.get(k).asLong()))
    out.toMap
  }

  private[sources] def copy(): Manifest = new Manifest(m.deepCopy[ObjectNode]())

  /** The serialized head: snapshot file lists in delta form, the
    * in-memory node left fully materialized. */
  private[sources] def toBytes: Array[Byte] = {
    val detached = deflate(m)
    try JsonMapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(m)
    finally detached.foreach { case (s, f) => s.set[JsonNode]("files", f) }
  }
}

object Manifest {
  /** Shared JSON mapper (the same default configuration every manifest
    * was ever written with). */
  private val JsonMapper = GraftCatalog.jsonMapper

  private val DirStats = "dirStats"
  private val DvIndex = "dvIndex"
  private val BloomIdx = "bloomIdx"
  private val DynIdx = "dynIdx"
  private val Changelog = "changelog"

  /** The dir-keyed side nodes. Every edit that drops or re-keys dirs —
    * commit, expiration and rollback, branch creation, fast-forward —
    * goes through this one list. */
  private val DirNodes: Seq[String] = Seq(DirStats, DvIndex, BloomIdx, DynIdx, Changelog)

  private val FilesExt = "filesExt"
  private val NestedLast = "_last"

  /** One snapshot of the log (a view over its entry). */
  final class Snapshot private[Manifest] (private[Manifest] val node: JsonNode) {
    def id: Long = node.get("id").asLong()
    def timestampMillis: Long = node.get("timestampMillis").asLong()
    def files: Seq[FileEntry] = entriesOf(node.get("files"))
    /** Compaction-kind: bytes rewritten, no logical change. */
    def compaction: Boolean = node.has("compaction")
    /** What kind of change this snapshot is (Paimon's commitKind). */
    def commitKind: String =
      if (node.has("commitKind")) node.get("commitKind").asText()
      else if (compaction) "compact" // pre-r5 manifests
      else "append"
  }

  final case class ColumnStats(dataType: String, nulls: Option[Long],
      ndv: Option[Long], min: Option[String], max: Option[String],
      avgLen: Option[Double])

  /** ANALYZE results, pinned to the analyzed snapshot. */
  final case class Statistics(snapshotId: Long, analyzedAtMillis: Long,
      rows: Long, cols: Seq[(String, ColumnStats)])

  /** A new table's first manifest: one schema version, an empty log. */
  def create(name: String, fields: Seq[FieldInfo], options: Map[String, String],
      partitionBy: Seq[String], primaryKey: Seq[String]): Manifest = {
    val m = JsonMapper.createObjectNode()
    m.put("name", name)
    val parts = m.putArray("partitions")
    partitionBy.foreach(parts.add)
    val pks = m.putArray("primaryKey")
    primaryKey.foreach(pks.add)
    val opts = m.putObject("options")
    options.foreach { case (k, v) => opts.put(k, v) }
    writeSchema(m.putArray("schemas"), 0, fields)
    m.put("currentSchemaVersion", 0)
    m.put("lastFieldId", fields.length)
    m.putArray("snapshots")
    new Manifest(m)
  }

  private def writeSchema(schemas: ArrayNode, version: Int, fields: Seq[FieldInfo]): Unit = {
    val vn = schemas.addObject()
    vn.put("version", version)
    val arr = vn.putArray("fields")
    fields.foreach { fi =>
      val fn = arr.addObject()
      fn.put("id", fi.id); fn.put("name", fi.name); fn.put("type", fi.trinoType)
      // comments persist like TrinoMetadataBase.java:212's column.getComment()
      fi.comment.foreach(fn.put("comment", _))
    }
  }

  private def texts(n: JsonNode): Seq[String] = n match {
    case arr: ArrayNode => (0 until arr.size()).map(arr.get(_).asText())
    case _ => Seq.empty
  }

  private def currentStats(n: JsonNode): Boolean =
    n.has("v") && n.get("v").asInt() == FileStats.FormatVersion

  private def entryOf(e: JsonNode): FileEntry =
    FileEntry(e.get("dir").asText(), e.get("schemaVersion").asInt(),
      if (e.has("kind")) e.get("kind").asText() else "data",
      if (e.has("xb")) {
        val xa = e.get("xb").asInstanceOf[ArrayNode]
        (0 until xa.size()).map(xa.get(_).asInt())
      } else Nil,
      retract = e.has("rk") && e.get("rk").asBoolean())

  private def entriesOf(arr: JsonNode): Seq[FileEntry] =
    (0 until arr.size()).map(i => entryOf(arr.get(i)))

  private def addEntry(arr: ArrayNode, fe: FileEntry): Unit = {
    val e = arr.addObject(); e.put("dir", fe.dir); e.put("schemaVersion", fe.schemaVersion)
    if (fe.kind != "data") e.put("kind", fe.kind)
    if (fe.retract) e.put("rk", true)
    if (fe.excludeBuckets.nonEmpty) {
      val xa = e.putArray("xb"); fe.excludeBuckets.foreach(xa.add)
    }
  }

  /** Parse a head file's bytes, materializing every snapshot's file list. */
  private[sources] def parse(in: java.io.InputStream): Manifest = {
    val parsed = JsonMapper.readTree(in).asInstanceOf[ObjectNode]
    inflate(parsed)
    new Manifest(parsed)
  }

  /**
   * Materialize each snapshot's full file list from the head's DELTA
   * form: an additive snapshot serializes as `{baseId, added}` (its base
   * is the immediately preceding snapshot; writeManifest guarantees
   * this by materializing any entry whose base was expired away), so the
   * in-memory shape every reader sees is identical to the legacy full
   * form — `files` arrays all the way — while the serialized head stays
   * O(total dirs). Materialization shares entry NODES with the base
   * (reference appends, no copies), so inflating costs less than the
   * full-form JSON parse it replaces. Both `baseId`/`added` and the
   * materialized `files` stay on the node for the write-side round trip.
   */
  private def inflate(m: ObjectNode): Unit = {
    if (!m.has("snapshots")) return
    val snaps = m.get("snapshots").asInstanceOf[ArrayNode]
    var prev: ObjectNode = null
    (0 until snaps.size()).foreach { i =>
      val s = snaps.get(i).asInstanceOf[ObjectNode]
      if (!s.has("files")) {
        require(s.has("baseId") && s.has("added") && prev != null &&
          s.get("baseId").asLong() == prev.get("id").asLong(),
          s"corrupt manifest: snapshot ${s.path("id")} has neither a " +
            "full file list nor a delta resolvable against its " +
            "predecessor")
        val full = JsonMapper.createArrayNode()
        val prevArr = prev.get("files").asInstanceOf[ArrayNode]
        // Per-bucket compaction delta: retire these buckets on every
        // inherited entry. Entries are DEEP-COPIED before mutation —
        // prevArr's nodes are shared with the predecessor's own list.
        val xb: Seq[Int] = if (s.has("xbuckets")) {
          val xArr = s.get("xbuckets").asInstanceOf[ArrayNode]
          (0 until xArr.size()).map(xArr.get(_).asInt())
        } else Nil
        def inherit(e: JsonNode): JsonNode =
          if (xb.isEmpty) e
          else {
            val c = e.deepCopy[JsonNode]().asInstanceOf[ObjectNode]
            val cur = if (c.has("xb")) {
              val xa = c.get("xb").asInstanceOf[ArrayNode]
              (0 until xa.size()).map(xa.get(_).asInt())
            } else Nil
            val merged = (cur ++ xb).distinct.sorted
            val xa = c.putArray("xb"); merged.foreach(xa.add)
            c
          }
        if (s.has("removed")) {
          val rArr = s.get("removed").asInstanceOf[ArrayNode]
          val rm = (0 until rArr.size()).map(rArr.get(_).asText()).toSet
          (0 until prevArr.size()).foreach { j =>
            val e = prevArr.get(j)
            if (!rm.contains(e.get("dir").asText())) full.add(inherit(e))
          }
        } else if (xb.isEmpty) full.addAll(prevArr)
        else (0 until prevArr.size()).foreach(j => full.add(inherit(prevArr.get(j))))
        full.addAll(s.get("added").asInstanceOf[ArrayNode])
        s.set[JsonNode]("files", full)
      }
      prev = s
    }
  }

  /**
   * Serialized-form deflation, the inverse of [[inflate]]: for every
   * snapshot whose recorded base IS the immediately preceding serialized
   * snapshot, detach the materialized `files` array (returned for
   * re-attachment after the write — the in-memory node must stay fully
   * materialized for the caller); for a snapshot whose base was dropped
   * (expiration keeping a tag-pinned middle snapshot), strip the stale
   * delta fields and keep the full list. No comparisons, no copies —
   * O(snapshots) pointer work per write.
   */
  private def deflate(m: ObjectNode): Seq[(ObjectNode, JsonNode)] = {
    if (!m.has("snapshots")) return Seq.empty
    val snaps = m.get("snapshots").asInstanceOf[ArrayNode]
    val detached = mutable.ArrayBuffer[(ObjectNode, JsonNode)]()
    var prevId = Long.MinValue
    (0 until snaps.size()).foreach { i =>
      val s = snaps.get(i).asInstanceOf[ObjectNode]
      if (s.has("baseId")) {
        if (s.get("baseId").asLong() == prevId && s.has("added"))
          detached += s -> s.remove("files")
        else { s.remove("baseId"); s.remove("added"); s.remove("removed")
          s.remove("xbuckets") }
      }
      prevId = s.get("id").asLong()
    }
    detached.toSeq
  }
}

/**
 * The only reader and writer of manifest files: immutable versioned
 * heads (`manifest-v<N>.json`, Paimon's snapshot-N model) landed by
 * exclusive-rename CAS, a process-wide parsed-head cache, and the
 * delta-form serialization. Same-package trait mixed into
 * [[GraftCatalog]].
 */
trait ManifestStore { self: GraftCatalog =>

  private def manifestPath(schema: String, table: String) =
    new Path(tablePath(schema, table), "manifest.json")

  /** `manifest-v<N>.json` → N. */
  private[sources] def manifestFileVersion(name: String): Option[Long] =
    if (name.startsWith("manifest-v") && name.endsWith(".json"))
      name.stripPrefix("manifest-v").stripSuffix(".json").toLongOption
    else None

  /**
   * Highest committed manifest file of a table. Manifests are IMMUTABLE
   * versioned files (`manifest-v<N>.json`, Paimon's snapshot-N model):
   * nothing is ever rewritten in place, so readers can never observe a
   * torn or stale-checksum manifest — they list and open the max
   * version. A pre-versioning `manifest.json` is honored as fallback.
   */
  private def currentManifestFile(schema: String, table: String)
      : Option[org.apache.hadoop.fs.FileStatus] = {
    val dir = tablePath(schema, table)
    val listed =
      try fs.listStatus(dir)
      catch { case _: java.io.FileNotFoundException => return None }
    val versioned = listed.flatMap(st =>
      manifestFileVersion(st.getPath.getName).map(v => (st, v)))
    if (versioned.nonEmpty) Some(versioned.maxBy(_._2)._1)
    else {
      val legacy = manifestPath(schema, table)
      try Some(fs.getFileStatus(legacy))
      catch { case _: java.io.FileNotFoundException => None }
    }
  }

  private[sources] def tableManifestExists(schema: String, table: String): Boolean =
    currentManifestFile(schema, table).isDefined

  private[sources] def readManifest(schema: String, table: String): Manifest = {
    val st = currentManifestFile(schema, table)
    require(st.isDefined, s"no table $schema.$table")
    val p = st.get.getPath
    // Heads are IMMUTABLE versioned files landed by CAS (a version path
    // is written exactly once per table lifetime — rollback/expiration
    // bump the version, never rewrite one), so caching the
    // parsed+inflated node is coherent; freshness comes from the listing
    // in currentManifestFile, which still runs per read. The key carries
    // mtime+length and drop/rename purge the table's prefix, so a
    // DROPPED-then-recreated table (whose numbering restarts at v1 on
    // the same path) can never serve the old table's head. Callers
    // MUTATE the returned manifest (commit's land, evolveSchema), so the
    // cache hands out deep copies — still cheaper than bytes + parse +
    // inflate, and on an object store it saves the GET entirely.
    val key = s"${fs.makeQualified(p)}#${st.get.getModificationTime}#${st.get.getLen}"
    val cache = GraftCatalog.headCache
    val cached = cache.get(key)
    val m = if (cached != null) cached
    else {
      val in = fcFor(p).open(fs.makeQualified(p))
      val parsed = try Manifest.parse(in) finally in.close()
      GraftCatalog.headCacheLoads.incrementAndGet()
      if (cache.size > GraftCatalog.HeadCacheCap) cache.clear()
      cache.put(key, parsed)
      parsed
    }
    m.copy()
  }

  /**
   * Manifest CAS by EXCLUSIVE rename (Paimon's commit protocol): the new
   * manifest is serialized to a unique temp file and renamed — without
   * overwrite — to `manifest-v<basis+1>.json`. If that version already
   * exists, a concurrent writer won: ConcurrentModificationException, the
   * caller re-reads and retries (see `commit`'s rebase loop). Versioned
   * manifests are immutable, so there is no read-torn or lost-update
   * window: the rename either creates the next version or fails. (HDFS
   * and posix give exclusive rename atomically; within one JVM a lock
   * closes the local check-then-rename window; object stores want a
   * conditional PUT here, same contract.) A crash mid-commit leaves at
   * worst an orphan temp file. The last 10 versions are retained for
   * in-flight readers; older ones are deleted best-effort.
   */
  private[sources] def writeManifest(schema: String, table: String, m: Manifest): Unit = {
    val dir = tablePath(schema, table)
    val version = m.commitVersion + 1
    m.setCommitVersion(version)
    val fc = fcFor(dir)
    val tmp = fs.makeQualified(new Path(dir,
      s".manifest.tmp-${java.util.UUID.randomUUID()}"))
    // serialize the DELTA form (snapshot file lists as {baseId, added},
    // per-file zones as sidecar tokens)
    val bytes = m.toBytes
    manifestBytesWritten.addAndGet(bytes.length)
    lastManifestBytes.set(bytes.length)
    GraftCatalog.manifestWritesGlobal.incrementAndGet()
    GraftCatalog.manifestBytesGlobal.addAndGet(bytes.length)
    val out = fc.create(tmp,
      java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE,
        org.apache.hadoop.fs.CreateFlag.OVERWRITE))
    try out.write(bytes)
    finally out.close()
    val dst = fs.makeQualified(new Path(dir, s"manifest-v$version.json"))
    val won = commitLockImpl.publishIfAbsent(fs, fc, tmp, dst)
    if (!won) {
      try fc.delete(tmp, false) catch { case _: java.io.IOException => () }
      throw new java.util.ConcurrentModificationException(
        s"$schema.$table manifest version $version was committed " +
          "concurrently — re-read and retry")
    }
    // Pre-warm the head cache with the manifest just landed (its
    // serialized form IS the file content): the committer's next
    // readManifest — and any other catalog instance in this process —
    // skips the parse.
    try {
      val st = fs.getFileStatus(dst)
      if (GraftCatalog.headCache.size > GraftCatalog.HeadCacheCap)
        GraftCatalog.headCache.clear()
      GraftCatalog.headCache.put(
        s"$dst#${st.getModificationTime}#${st.getLen}", m.copy())
    } catch { case scala.util.control.NonFatal(_) => () }
    // retention + legacy cleanup, best-effort (failures leave extra
    // immutable files, never a broken table)
    try {
      val legacy = manifestPath(schema, table)
      if (fs.exists(legacy)) fs.delete(legacy, false)
      fs.listStatus(dir).foreach { st =>
        manifestFileVersion(st.getPath.getName).foreach { v =>
          if (v <= version - 10) fs.delete(st.getPath, false)
        }
      }
    } catch { case _: java.io.IOException => () }
  }

  /** Idempotent manifest read-modify-write with rebase-and-retry: small
    * metadata mutations (consumer offsets, option changes) race data
    * commits routinely and always re-apply cleanly onto the new head. */
  private[sources] def retryManifestUpdate(body: => Unit): Unit = {
    var attempts = 0
    var done = false
    while (!done) {
      try { body; done = true }
      catch {
        case e: java.util.ConcurrentModificationException =>
          attempts += 1
          if (attempts >= 8) throw e
      }
    }
  }
}
