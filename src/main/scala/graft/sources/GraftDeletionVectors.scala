package graft.sources

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import GraftCatalog._

/**
 * Deletion-vector machinery — split from GraftCatalog.scala along the
 * seam the r14 verdict named (continuing the GraftMetadataViews /
 * GraftChangelog extractions; behavior unchanged). Covers both scopes:
 * append-only position deletes written directly by deleteWhere/update
 * (clean/dirty file split through the manifest dvIndex) and the
 * primary-key build-at-compaction mode (incremental O(delta) rebuilds,
 * merge-free hybrid reads via [[pkDvResolve]]). Same-package trait
 * mixed into [[GraftCatalog]].
 */
trait GraftDeletionVectors { self: GraftCatalog =>

  // ---- deletion vectors (append-only row-level delete) -------------------

  private def dvStorageSchema = StructType(Seq(
    StructField(DvFileCol, org.apache.spark.sql.types.StringType),
    StructField(DvPosCol, org.apache.spark.sql.types.LongType)))

  /** A snapshot's deletion-vector dirs as (file, pos) pairs: one relation
    * per chunk of at most `spark.sql.sources.parallelPartitionDiscovery.threshold`
    * dirs (as [[groupFrames]] chunks), so the plan does not grow with
    * the DV commits and listing runs no job. */
  private[sources] def dvFrame(schema: String, table: String,
      dvEs: Seq[FileEntry]): DataFrame =
    unionAllByName(dvEs.grouped(math.max(1, discoveryChunk)).map(part =>
      spark.read.schema(dvStorageSchema)
        .parquet(part.map(fe => dirPath(schema, table, fe.dir).toString): _*)).toSeq)

  /** A DV position frame shrunk to the given buckets' files — refs carry
    * their `__bucket=k` path segment, and a position outside those files
    * can't match a bucket-restricted row anyway (pure size reduction for
    * the anti-join side). One definition of the path convention, shared
    * by [[pkDvResolve]] and the per-bucket fold. */
  private[sources] def dvPositionsInBuckets(dv: DataFrame,
      buckets: Seq[Int]): DataFrame =
    dv.filter(buckets.map(k => col(DvFileCol).contains(s"/$BucketCol=$k/"))
      .reduce(_ || _))

  /**
   * Union an append-only snapshot's data frames with deletion vectors
   * applied. The manifest's dvIndex names exactly which files a DV
   * touches, so CLEAN files keep the pure vectorized scan — no join, no
   * metadata columns — and only DIRTY files pay the (file, pos)
   * anti-join. A 100 TB table with a few thousand deleted rows reads at
   * full scan speed everywhere except the touched files; nothing is ever
   * rewritten. `selections` carries each data entry's zone-pruned file
   * list (None = whole dir), so [[readWhere]]'s skipping composes with
   * DV application. Output keeps the `__ord`/`__del` bookkeeping columns
   * for the caller to drop.
   */
  private[sources] def appendUnion(schema: String, table: String, m: Manifest,
      selections: Seq[(FileEntry, Option[Seq[String]])],
      dvEs: Seq[FileEntry]): DataFrame = {
    type Sel = (FileEntry, Option[Seq[String]])
    def frames(sels: Seq[Sel], meta: Boolean) =
      dirFrames(schema, table, m, sels.map(_._1), withMeta = meta,
        files = sels.collect { case (fe, Some(fs)) => fe -> fs }.toMap)
    if (dvEs.isEmpty) return unionAllByName(frames(selections, meta = false))
    val idx = m.dvIndex
    // every DV commit writes its index; `known = false` only for a
    // manifest from a foreign writer — then every file is treated dirty
    // (correct, just joins more)
    val known = dvEs.forall(e => idx.contains(e.dir))
    val affected: Set[String] =
      if (known) dvEs.flatMap(e => idx(e.dir)._1).toSet else Set.empty
    val perFile = fileStatsFrom(schema, table, m)
    // DV file refs are dir-NAME-anchored (regex over _metadata.file_path,
    // marker-free); entry dirs may carry the `~/` sharing form — compare
    // and rebuild paths through dirKey/dirPath so a DV laid over an
    // INHERITED dir (branch deleting rows of shared history) resolves.
    def absIn(fe: FileEntry, rel: String) =
      new Path(dirPath(schema, table, fe.dir), rel).toString
    val clean = mutable.ArrayBuffer.empty[Sel]
    val dirty = mutable.ArrayBuffer.empty[Sel]
    selections.foreach { case (fe, sel) =>
      val key = dirKey(fe.dir)
      val dirAffected: Option[Set[String]] = // relative to fe.dir
        if (!known) None
        else Some(affected.filter(_.startsWith(key + "/"))
          .map(_.stripPrefix(key + "/")))
      (sel, dirAffected) match {
        case (Some(files), Some(aff)) =>
          val affAbs = aff.map(r => absIn(fe, r))
          val (d, c) = files.partition(affAbs.contains)
          if (c.nonEmpty) clean += fe -> Some(c)
          if (d.nonEmpty) dirty += fe -> Some(d)
        case (Some(files), None) => dirty += fe -> Some(files)
        case (None, Some(aff)) if aff.isEmpty => clean += fe -> None
        case (None, Some(aff)) =>
          perFile.get(fe.dir).filter(_.nonEmpty) match {
            case Some(fm) => // per-file zones double as the dir's file listing
              val cleanRel = (fm.keySet -- aff).toSeq.sorted
              if (cleanRel.nonEmpty) clean += fe -> Some(cleanRel.map(r => absIn(fe, r)))
              dirty += fe -> Some(aff.toSeq.sorted.map(r => absIn(fe, r)))
            case None => dirty += fe -> None
          }
        case (None, None) => dirty += fe -> None
      }
    }
    val dv = dvFrame(schema, table, dvEs)
    val deduped = unionOption(frames(dirty.toSeq, meta = true))
      .map(_.join(dv, Seq(DvFileCol, DvPosCol), "left_anti")
        .drop(DvFileCol, DvPosCol))
    unionAllByName(frames(clean.toSeq, meta = false) ++ deduped)
  }

  /** Snapshot ordinal of an entry's dir: leading digits of the dir name
    * ("snap-7" and its paired "snap-7-del" share ordinal 7). */
  private[sources] def entryOrdinal(fe: FileEntry): Long =
    dirKey(fe.dir).stripPrefix("snap-").takeWhile(_.isDigit).toLong

  /**
   * Merge-free hybrid read of a PRIMARY-KEY deletion-vector table —
   * Paimon's flagship `deletion-vectors.enabled` read economics, which
   * the reference serves transparently through DV-aware splits
   * (TrinoPageSourceBase reads DV-enabled Paimon tables via
   * SnapshotReader; TrinoTableOptionUtils surfaces the CoreOption).
   *
   * Invariant from [[buildDeletionVectors]]: at or below the newest DV
   * build's ordinal, every key has AT MOST ONE live (non-DV'd) version
   * and no tombstone dirs survive. So the BASE reads with no merge state
   * at all — clean files keep the pure vectorized scan, DV-dirty files
   * pay a (file, pos) anti-join, nothing shuffles on the key. Deltas
   * committed after the build resolve through the ordinary keep-latest
   * window over O(delta) rows, then subtract their keys from the base
   * with one delta-sized anti-join (broadcast under AQE). With no
   * post-build deltas the plan carries NO window and no key exchange —
   * a delete-heavy 100 TB PK table reads at append-table speed.
   *
   * `onlyBuckets` (bucketed tables only) restricts EVERY version source —
   * base files, deltas, tombstones, DV positions — to those buckets'
   * legs. Sound because keys are bucket-sticky (`hash(pk) % n`), so a
   * bucket's slice contains every version of its keys: the point-lookup
   * path reads 1/N of a 100 TB DV table, not the resolved image.
   */
  private[sources] def pkDvResolve(schema: String, table: String, m: Manifest,
      entries: Seq[FileEntry],
      onlyBuckets: Option[Seq[Int]] = None): Option[DataFrame] = {
    val pk = m.primaryKey
    val names = m.currentFields.map(_.name)
    val dvEs = entries.filter(_.kind == "dv")
    val buildOrd = dvEs.map(entryOrdinal).max
    val (base, delta) = entries.filterNot(_.kind == "dv")
      .partition(fe => entryOrdinal(fe) <= buildOrd)
    // a build replaces every tombstone dir at or below its ordinal — a
    // surviving one means a foreign writer broke the DV invariant
    require(base.forall(_.kind == "data"),
      s"$schema.$table: tombstone dir at or below DV-build ordinal " +
        s"$buildOrd — the merge-free base invariant does not hold")
    val bucketed = m.options.bucket.isDefined
    require(onlyBuckets.isEmpty || bucketed,
      s"$schema.$table is not bucketed — no bucket restriction applies")
    val baseLive: Option[DataFrame] =
      if (base.isEmpty) None
      else if (!bucketed)
        // clean/dirty file split via the dvIndex: clean files keep the
        // pure vectorized scan, only DV-touched files pay the anti-join
        Some(appendUnion(schema, table, m, base.map((_, None)), dvEs)
          .select(names.map(col): _*))
      else {
        // bucketed layout: dirs hold __bucket=k subdirs that appendUnion's
        // per-file machinery doesn't resolve — read whole dirs (their
        // bucket leaves, one relation per read group) and apply the
        // anti-join uniformly (the DV side holds deleted positions only;
        // AQE broadcasts it). A bucket restriction reads only those
        // buckets' leaves and shrinks the DV side to their files'
        // positions.
        val dv0 = dvFrame(schema, table, dvEs)
        val dv = onlyBuckets.fold(dv0)(dvPositionsInBuckets(dv0, _))
        unionOption(dirFrames(schema, table, m, base, withMeta = true, onlyBuckets))
          .map(_.join(dv, Seq(DvFileCol, DvPosCol), "left_anti")
            .select(names.map(col): _*))
      }
    val deltaAll = unionOption(dirFrames(schema, table, m, delta,
      onlyBuckets = onlyBuckets)).getOrElse(return baseLive)
    // version order: (sequence, ordinal) on sequence.field tables, pure
    // ordinal otherwise — the same rule as every other resolution path
    // (r15: the sequence.field + DV refusal is lifted)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(pk.map(col): _*).orderBy(newestFirst(m): _*)
    val deltaTop = deltaAll.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    baseLive match {
      case None => Some(deltaTop.filter(!col("__del")).select(names.map(col): _*))
      case Some(b) =>
        m.options.sequenceField match {
          case None =>
            // ordinal-only order: base ordinals are strictly below every
            // delta's, so ANY delta version supersedes its key's base
            val live = deltaTop.filter(!col("__del")).select(names.map(col): _*)
            val deltaKeys = deltaTop.select(pk.map(col): _*)
            Some(b.join(deltaKeys, pk, "left_anti").unionByName(live))
          case Some(sf) =>
            // a late LOWER-sequence delta must LOSE to the DV-built base:
            // arbitrate each touched key on (sequence, ordinal) — base
            // ordinals sit below every delta's, so sequence ties go to
            // the delta, and a null sequence loses to any non-null one.
            // Cost: one extra (pk, sequence)-projected pass over the base
            // for the touched keys, O(delta keys) join — covered reads
            // (no post-build delta) are untouched.
            val bk = b.join(deltaTop.select(pk.map(col): _*), pk, "left_semi")
              .select((pk.map(col) :+ col(sf).as("__bseq")): _*)
            val arbit = deltaTop.join(bk, pk, "left")
            val deltaWins = col("__bseq").isNull ||
              (col(sf).isNotNull && col(sf) >= col("__bseq"))
            val winKeys = arbit.filter(deltaWins).select(pk.map(col): _*)
            val liveWin = deltaTop.join(winKeys, pk, "left_semi")
              .filter(!col("__del")).select(names.map(col): _*)
            Some(b.join(winKeys, pk, "left_anti").unionByName(liveWin))
        }
    }
  }

  /**
   * Build deletion vectors for a primary-key table — the compaction-time
   * maintenance that buys [[pkDvResolve]]'s merge-free reads WITHOUT
   * rewriting a byte of data (Paimon builds DVs during lookup/full
   * compactions the same way; full [[compact]] still rewrites and
   * retires them). One keep-latest window over the DV-applied history
   * finds every data row superseded by a newer version or tombstone;
   * those (file, pos) pairs land as a DV dir in a compaction-kind
   * snapshot (changelog-invisible — no logical content changed), and
   * every tombstone dir is REPLACED by it (their effect is now encoded
   * positionally; older snapshots still reference them for time travel).
   * On a delete-heavy 100 TB table this commits O(superseded rows)
   * positions instead of rewriting O(table) bytes.
   *
   * Returns the new snapshot id (the current one when nothing was
   * superseded and no tombstone dirs needed replacing).
   */
  def buildDeletionVectors(schema: String, table: String): Long = {
    val m = readManifest(schema, table)
    val pk = m.primaryKey
    require(pk.nonEmpty,
      s"$schema.$table is append-only — its DVs are written directly by " +
        "deleteWhere/update; buildDeletionVectors serves primary-key tables")
    require(m.options.deletionVectors,
      s"$schema.$table does not have deletion-vectors enabled")
    val latest = m.head.getOrElse(return 0L)
    val entries = latest.files
    // Per-bucket-compacted history COMPOSES: the build reads retired
    // buckets too (it never asks dirFrames to skip them), so their
    // rows enter the version race, lose to their compacted copies (the
    // fold dir carries a higher ordinal), and land in the DV — the
    // retirement marks become positional, exactly what [[pkDvResolve]]'s
    // whole-dir merge-free read needs. Post-build compactBuckets is
    // refused while DVs are live, so no mark can appear ABOVE a build
    // ordinal and the incremental base invariant holds.
    val dvEs = entries.filter(_.kind == "dv")
    val delEs = entries.filter(_.kind == "delete")
    val dataEs = entries.filter(_.kind == "data")
    if (dataEs.isEmpty) return latest.id
    val bucketed = m.options.bucket.isDefined
    // tombstones join the version race with null position identity
    def tombstoneFrame(es: Seq[FileEntry]): Option[DataFrame] =
      unionOption(dirFrames(schema, table, m, es))
        .map(_.withColumn(DvFileCol,
            lit(null).cast(org.apache.spark.sql.types.StringType))
          .withColumn(DvPosCol, lit(null).cast(org.apache.spark.sql.types.LongType)))
    // version order: (sequence, ordinal) on sequence.field tables, pure
    // ordinal otherwise — tombstones carry their victim's sequence, so
    // they race correctly (a stale-sequence delete never wins)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(pk.map(col): _*).orderBy(newestFirst(m): _*)
    // A prior build at ordinal B guarantees (pkDvResolve's invariant) that
    // the DV-applied base at or below B holds AT MOST ONE live version per
    // key and no tombstone dirs — so a REBUILD only needs the post-B
    // delta, never the table: any delta version (data or tombstone)
    // supersedes its key's base version outright, and in-delta races
    // resolve with an O(delta) window. Base victims are found by reading
    // only the base files the delta's keys can live in — touched buckets
    // on bucketed tables (Paimon's lookup-compaction granularity),
    // zone-admitting files otherwise — each semi-joined against the
    // (small, broadcastable) delta key set. The auto-cadence hook
    // (deletion-vectors.build-delta-commits) therefore pays O(delta) per
    // build as a standing cost, not an O(table) key shuffle.
    val buildOrd = if (dvEs.isEmpty) -1L else dvEs.map(entryOrdinal).max
    val (baseEs, deltaDataEs) = dataEs.partition(entryOrdinal(_) <= buildOrd)
    val incremental = dvEs.nonEmpty && baseEs.nonEmpty &&
      delEs.forall(entryOrdinal(_) > buildOrd)
    val victimsUnpersisted: DataFrame = if (incremental) {
      if (deltaDataEs.isEmpty && delEs.isEmpty)
        return latest.id // no post-build commits: no-op
      val deltaData = unionOption(dirFrames(schema, table, m, deltaDataEs,
        withMeta = true))
      val allDelta = (deltaData, tombstoneFrame(delEs)) match {
        case (Some(d), Some(t)) => d.unionByName(t.select(d.columns.map(col): _*))
        case (Some(d), None) => d
        case (None, Some(t)) => t
        case (None, None) => return latest.id // nothing to read
      }
      val ranked = allDelta.withColumn("__rn", row_number().over(w))
      // (a) versions superseded WITHIN the delta — O(delta) window (a
      // non-top version loses to the delta top, which is itself no
      // better than the overall winner — victim either way)
      val inDelta = ranked.filter(col("__rn") > 1 && col(DvFileCol).isNotNull)
        .select(col(DvFileCol), col(DvPosCol))
      // (b) arbitrate each delta-touched key against its base version —
      // reading only the base files those keys can live in. Without
      // sequence.field, base ordinals sit strictly below every delta's,
      // so membership alone decides
      val deltaKeys = allDelta.select(pk.map(col): _*).distinct()
      val baseScan: Option[DataFrame] =
        if (bucketed) {
          // changed-bucket set from the delta dirs' `__bucket=k` children:
          // one driver listing per delta dir, zero jobs (the
          // readChangelogFull before-image pattern). A flat delta dir
          // (unknown layout) keeps every bucket — conservative.
          val n = m.options.bucket.get
          val changed = changedBucketsOf(schema, table,
            (deltaDataEs ++ delEs).map(_.dir)).getOrElse(0 until n)
          // only the touched buckets' leaves are read: per-build I/O is
          // O(touched buckets)
          unionOption(dirFrames(schema, table, m, baseEs, withMeta = true,
            onlyBuckets = Some(changed)))
        } else {
          // zone-prune base files against the delta's pk bounds: a file
          // whose pk zone is disjoint from the delta's range on ANY key
          // column can hold no touched key. Sharpest when keys cluster
          // (monotonic ids, time-prefixed keys); conservative
          // full-coverage fallback otherwise — and the scan below
          // projects only (pk, file, pos) regardless, so even the
          // fallback reads key bytes, not row bytes.
          keyBoundPrunedUnion(schema, table, m, baseEs, allDelta, pk,
            withMeta = true)
        }
      val baseVictims = baseScan.map { b0 =>
        val touchedCols = pk.map(col) ++
          m.options.sequenceField.map(col).toSeq ++ Seq(col(DvFileCol), col(DvPosCol))
        val touched = b0.select(touchedCols: _*)
          .join(dvFrame(schema, table, dvEs),
            Seq(DvFileCol, DvPosCol), "left_anti") // already-dead rows don't re-count
          .join(deltaKeys, pk, "left_semi")
        m.options.sequenceField match {
          case None => touched.select(col(DvFileCol), col(DvPosCol))
          case Some(sf) =>
            // sequence arbitration: the delta top beats the base iff its
            // (sequence, ordinal) is higher — ties go to the delta (its
            // ordinal is higher), a null sequence loses to any non-null.
            // Base wins → the DELTA TOP's bytes are the victims instead.
            val deltaTop = ranked.filter(col("__rn") === 1)
            val bk = touched.select((pk.map(col) :+ col(sf).as("__bseq") :+
              col(DvFileCol).as("__bfile") :+ col(DvPosCol).as("__bpos")): _*)
            val arbit = deltaTop.join(bk, pk, "left")
            val deltaWins = col("__bseq").isNull ||
              (col(sf).isNotNull && col(sf) >= col("__bseq"))
            arbit.filter(deltaWins && col("__bfile").isNotNull)
              .select(col("__bfile").as(DvFileCol), col("__bpos").as(DvPosCol))
              .unionByName(
                arbit.filter(!deltaWins && col(DvFileCol).isNotNull)
                  .select(col(DvFileCol), col(DvPosCol)))
        }
      }
      baseVictims.map(inDelta.unionByName(_)).getOrElse(inDelta)
    } else unionOption(dirFrames(schema, table, m, dataEs, withMeta = true)) match {
      // every data dir is empty: no row can be superseded
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], dvStorageSchema)
      case Some(dataAll) =>
        // victims are found over the DV-APPLIED image: an already-dead row
        // must not be counted twice (same contract as deleteWhereDv)
        val dataLive = if (dvEs.isEmpty) dataAll
          else dataAll.join(dvFrame(schema, table, dvEs),
            Seq(DvFileCol, DvPosCol), "left_anti")
        val all = tombstoneFrame(delEs).map(d => dataLive.unionByName(
          d.select(dataLive.columns.map(col): _*))).getOrElse(dataLive)
        // every data row that is not its key's live winner is a victim —
        // including all versions of a key whose winner is a tombstone
        all.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") > 1 && col(DvFileCol).isNotNull)
          .select(col(DvFileCol), col(DvPosCol))
    }
    val victims = victimsUnpersisted
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val perFile = victims.groupBy(DvFileCol)
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("n")).collect()
      if (perFile.isEmpty && delEs.isEmpty) return latest.id
      val files = perFile.map(_.getString(0)).toSeq.sorted
      val rows = perFile.map(_.getLong(1)).sum
      commit(schema, table,
        Seq(Leg("", "dv", victims.sortWithinPartitions(DvFileCol, DvPosCol),
          dvIndex = Some((files, rows)))),
        // bytes re-indexed, no logical change: changelog skips it
        Change.CompactDirs(delEs.map(_.dir).toSet),
        // victims are (file, pos) pairs derived from THIS head — abort
        // if a concurrent commit moved it (same contract as deleteWhereDv)
        basis = Some(m.commitVersion))
    } finally { victims.unpersist(); () }
  }

  /**
   * Deletion-vector DELETE on an append-only table (Paimon's
   * `deletion-vectors.enabled`, scoped here to append-only tables):
   * matching rows are recorded as (file, position) pairs in a DV dir —
   * data files are NEVER rewritten, so deleting 0.1% of a 100 TB table
   * costs one predicate scan plus a position write, not a copy-on-write
   * of every touched file. Reads split clean from dirty files via the
   * manifest's dvIndex (see [[appendUnion]]); [[compact]] and
   * [[sortCompact]] materialize the deletions and retire the DVs.
   * Returns the new snapshot id (or the current one if nothing matched
   * — no empty snapshots).
   */
  private[sources] def deleteWhereDv(schema: String, table: String, m: Manifest,
      condition: org.apache.spark.sql.Column): Long = {
    val latest = m.head.getOrElse(return 0L)
    val (dvEs, dataEs) = latest.files.partition(_.kind == "dv")
    if (dataEs.isEmpty) return latest.id
    val withMeta = unionAllByName(dirFrames(schema, table, m, dataEs, withMeta = true))
    // evaluate the predicate over the DV-APPLIED image: an already-deleted
    // row must be invisible, or positions would double-count
    val live = if (dvEs.isEmpty) withMeta
      else withMeta.join(dvFrame(schema, table, dvEs),
        Seq(DvFileCol, DvPosCol), "left_anti")
    val victims = live.filter(condition).select(col(DvFileCol), col(DvPosCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // one small job gives the affected-file index AND the exact count;
      // row count is bounded by deleted positions, file count by the table
      val perFile = victims.groupBy(DvFileCol)
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("n")).collect()
      if (perFile.isEmpty) return latest.id
      val files = perFile.map(_.getString(0)).toSeq.sorted
      val rows = perFile.map(_.getLong(1)).sum
      commit(schema, table,
        Seq(Leg("", "dv", victims.sortWithinPartitions(DvFileCol, DvPosCol),
          dvIndex = Some((files, rows)))),
        // victims are (file, pos) pairs derived from THIS manifest's file
        // set — a concurrent compact/overwrite would retire those files,
        // so the commit must abort if the head moved (see commit()).
        basis = Some(m.commitVersion))
    } finally { victims.unpersist(); () }
  }

  /**
   * Row-level UPDATE on an append-only deletion-vector table: the matched
   * rows' (file, position) pairs land in a DV dir and their updated
   * images in a data dir, paired under ONE snapshot ordinal — retraction
   * and replacement become visible atomically, data files are never
   * rewritten (updating 0.1% of a 100 TB table costs one predicate scan
   * plus the new rows, not a copy-on-write of every touched file — the
   * same economics as [[deleteWhereDv]]). The changelog reads the pair
   * as `-D` old image / `+I` new image, so CDC consumers converge; the
   * victims carry the basis manifest version, so a concurrent
   * compact/overwrite aborts the update instead of landing positions
   * into retired files.
   */
  private[sources] def updateWhereDv(schema: String, table: String,
      condition: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column]): Long = {
    val m = readManifest(schema, table)
    val cur = currentSchema(m)
    assignments.keys.foreach { c =>
      require(cur.fieldNames.contains(c), s"unknown column $c")
    }
    val latest = m.head.getOrElse(return 0L)
    val (dvEs, dataEs) = latest.files.partition(_.kind == "dv")
    if (dataEs.isEmpty) return latest.id
    val withMeta = unionAllByName(dirFrames(schema, table, m, dataEs, withMeta = true))
    // evaluate over the DV-APPLIED image: an already-retracted row must
    // be invisible, or its position would be deleted twice
    val live = if (dvEs.isEmpty) withMeta
      else withMeta.join(dvFrame(schema, table, dvEs),
        Seq(DvFileCol, DvPosCol), "left_anti")
    val matched = live.filter(condition)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val perFile = matched.groupBy(DvFileCol)
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("n")).collect()
      if (perFile.isEmpty) return latest.id
      val files = perFile.map(_.getString(0)).toSeq.sorted
      val rows = perFile.map(_.getLong(1)).sum
      // ONE select evaluating every assignment against the OLD row (SQL
      // UPDATE semantics, same contract as the PK path above)
      val updated = matched.select(cur.fieldNames.toSeq.map(c =>
        assignments.get(c).map(_.as(c)).getOrElse(col(c))): _*)
      commit(schema, table, Seq(Leg("", "data", updated),
          Leg("-dv", "dv", matched.select(col(DvFileCol), col(DvPosCol))
            .sortWithinPartitions(DvFileCol, DvPosCol), dvIndex = Some((files, rows)))),
        basis = Some(m.commitVersion))
    } finally { matched.unpersist(); () }
  }
}
