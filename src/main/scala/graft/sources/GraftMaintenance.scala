package graft.sources

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import GraftCatalog._

/**
 * Table maintenance — split from GraftCatalog.scala along the seam the
 * r14 verdict named (continuing the GraftMetadataViews / GraftChangelog
 * / GraftDeletionVectors extractions; behavior unchanged). Covers the
 * commit-time auto hooks (auto compact / expire / DV cadence / index
 * fold), full + small-file + per-bucket + sorted/Z-order compaction,
 * bucket rescale, snapshot and partition expiration, orphan-dir sweep,
 * rollback, and the read-optimized resolved-snapshot views. Same-
 * package trait mixed into [[GraftCatalog]].
 */
trait GraftMaintenance { self: GraftCatalog =>

  /**
   * Commit-time auto-compaction (the writer-side compaction Paimon
   * tables run from their options): `compaction.max-file-dirs` triggers
   * a FULL [[compact]] when the snapshot references more dirs (any
   * table), `compaction.min.small-files` a MINOR [[compactSmall]] when
   * that many sub-`compaction.small-bytes` dirs accumulate (append-only
   * — the only tables compactSmall serves). Best-effort after the land;
   * never reentered from a compaction commit itself, and each trigger
   * drops its own metric below threshold, so the chain terminates.
   */
  private[sources] def autoMaintain(schema: String, table: String,
      fromCompaction: Boolean): Unit =
    if (!fromCompaction) try {
      val m = readManifest(schema, table)
      val opts = m.options
      // Paimon's write-only: ingestion-only writers skip ALL commit-time
      // maintenance (a dedicated maintenance job runs it elsewhere) —
      // the latency knob for high-frequency streaming commits
      if (opts.writeOnly) return
      opts.maxFileDirs.foreach { n =>
        compactIfNeeded(schema, table, maxFileDirs = n)
      }
      // Paimon's num-sorted-run.compaction-trigger: per-BUCKET compaction
      // of hot buckets once that many sorted runs accumulate — the
      // write-side maintenance shape that survives streaming ingest at
      // 100 TB (O(hot buckets) per call, never O(table)).
      opts.sortedRunTrigger.foreach { n =>
        compactHotBuckets(schema, table, trigger = n)
      }
      // Paimon's full-compaction.delta-commits: a FULL compact after
      // every N data commits since the last compaction snapshot —
      // the cadence knob for changelog-heavy PK tables where dir count
      // alone understates merge debt (many small same-bucket versions).
      opts.fullCompactionDeltaCommits.foreach { n =>
        if (readManifest(schema, table).commitsSinceCompaction >= n)
          compact(schema, table)
      }
      // PK deletion-vector maintenance cadence: build DVs after every N
      // data commits — the lookup-compaction rhythm that keeps a DV
      // table's reads merge-free WITHOUT rewriting data bytes (the build
      // is compaction-kind, so the counter resets and it never reenters).
      opts.dvBuildDeltaCommits.foreach { n =>
        if (opts.deletionVectors && m.primaryKey.nonEmpty &&
            readManifest(schema, table).commitsSinceCompaction >= n)
          buildDeletionVectors(schema, table)
      }
      opts.minSmallFiles.foreach { n =>
        if (m.primaryKey.isEmpty) {
          compactSmall(schema, table, opts.smallBytes, minDirs = math.max(n, 2))
        }
      }
      // Dynamic-bucket hash-index fold: streaming ingest fragments the
      // index into one `.dbidx` delta per commit; past the threshold the
      // live set folds into a single delta — O(keys), zero data bytes
      // rewritten (see foldDynamicBucketIndex). Never reentered: the
      // fold commit is kind "idx"/compaction, which skips autoMaintain.
      if (opts.dynamicBucket) {
        val thresh = opts.indexFoldDeltas
        if (thresh > 0 && dynIdxDeltaCount(schema, table) >= thresh)
          foldDynamicBucketIndex(schema, table)
      }
    } catch {
      // best-effort by contract, but never SILENT: a failing maintenance
      // hook (e.g. a misconfigured trigger) would otherwise starve the
      // table of compaction forever with nothing in the logs
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"auto-maintenance skipped for $schema.$table", e)
    }

  private[sources] def autoExpire(schema: String, table: String): Unit =
    try {
      val m = readManifest(schema, table)
      val opts = m.options
      if (opts.writeOnly) return // see autoMaintain
      opts.snapshotNumRetained.foreach { n =>
        expireSnapshots(schema, table, keepLast = n)
      }
      opts.snapshotTimeRetainedMs.foreach { ms =>
        expireSnapshotsOlderThan(schema, table, System.currentTimeMillis() - ms)
      }
      // Paimon's tag.automatic-creation (process-time): the first commit
      // of each period pins its snapshot under a period-named tag —
      // periodic savepoints as a table contract (a tag is a retention
      // promise, so snapshot expiration keeps one image per period).
      // `tag.num-retained-max` bounds the savepoint set: oldest
      // PERIOD-NAMED tags beyond the cap are deleted; manually named
      // tags are never touched.
      if (opts.autoTags) {
        val now = java.time.ZonedDateTime.now(java.time.ZoneOffset.UTC)
        val name = opts.tagPeriod match {
          case "daily" => now.toLocalDate.toString
          case "hourly" =>
            f"${now.toLocalDate} ${now.getHour}%02d".replace(' ', 'T')
          case other => throw new IllegalArgumentException(
            s"tag.creation-period must be daily|hourly, got '$other'")
        }
        val existing = tags(schema, table)
        if (!existing.contains(name))
          snapshots(schema, table).lastOption.foreach(s =>
            createTag(schema, table, name, Some(s.id)))
        opts.tagNumRetainedMax.foreach { cap =>
          val auto = tags(schema, table).keys.toSeq
            .filter(_.matches("\\d{4}-\\d{2}-\\d{2}(T\\d{2})?")).sorted
          auto.dropRight(cap).foreach(deleteTag(schema, table, _))
        }
      }
      // Paimon's partition.expiration-time: partitions whose DATE value
      // (parsed from the partition column named by
      // `partition.expiration.column`, default the first partition
      // column) is older than the cutoff expire after each commit. The
      // inner commit re-enters autoExpire; it terminates because the
      // re-entry finds nothing expired.
      opts.partitionExpirationMs.foreach { ms =>
        opts.partitionExpirationColumn.orElse(m.partitionColumns.headOption)
          .foreach { pc =>
            val cutoff = java.time.LocalDate.ofInstant(
              java.time.Instant.ofEpochMilli(System.currentTimeMillis() - ms),
              java.time.ZoneOffset.UTC).toString
            expirePartitions(schema, table,
              col(pc).cast(org.apache.spark.sql.types.DateType) <
                lit(cutoff).cast(org.apache.spark.sql.types.DateType))
          }
      }
    } catch {
      case scala.util.control.NonFatal(e) => // see autoMaintain: log, never throw
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"auto-expiration skipped for $schema.$table", e)
    }

  /**
   * Compaction: rewrite the current snapshot's (possibly many, possibly
   * schema-heterogeneous) files into one fresh snapshot at the current
   * schema — Paimon's small-file compaction, expressed as a
   * compaction-marked commit that inherits nothing. Old snapshots remain
   * time-travelable.
   *
   * The image is resolved from ONE manifest read, and the commit carries
   * that manifest's version as its basis: a commit landing anywhere
   * after that read — while the image is planned or written — aborts
   * the compaction with a ConcurrentModificationException instead of
   * being dropped by it. The caller re-runs against the new head.
   */
  def compact(schema: String, table: String): Long = {
    val m = readManifest(schema, table)
    // full-compaction changelog producer: this compaction carries the
    // accumulated row-kinded diff since the last carrier (Paimon's
    // full-compaction mode — the before-image resolve runs here, once,
    // and consumers read only files). The first compaction emits the
    // whole image as +I, exactly Paimon's initial full-compaction scan.
    val cl: Option[Leg] =
      if (m.options.changelogProducer == "full-compaction" &&
          m.primaryKey.nonEmpty) {
        val headId = m.headId
        val from = m.changelog.values.map(_._1).maxOption.getOrElse(0L)
        if (headId > from) Some(Leg("-cl", "cl",
          readChangelogFull(schema, table, from, headId), from = Some(from)))
        else None
      } else None
    commit(schema, table, Leg("", "data", headImage(schema, table, m),
        clustered = headMergesPerBucket(m)) +: cl.toSeq,
      InheritNone, basis = Some(m.commitVersion), compaction = true)
  }

  /**
   * PER-BUCKET compaction — Paimon's actual compaction granularity (its
   * CompactManager works per bucket, triggered by that bucket's
   * sorted-run count, never table-wide): fold ONLY the given buckets'
   * version runs into one fresh dir and leave every other bucket's
   * bytes untouched. On a 100 TB table under streaming ingest this is
   * the difference between compaction you can run continuously
   * (O(hot buckets)) and one you cannot run at all (full [[compact]] is
   * O(table) every time).
   *
   * Mechanics: the merged image of the chosen buckets (resolved through
   * the ordinary per-bucket merge legs, tombstones folded) lands as a
   * normal compaction-marked commit, and every INHERITED manifest entry
   * marks those buckets RETIRED (`xb`) — reads skip the retired subdirs
   * at dir level (zero I/O), older snapshots still reference the
   * unexcluded entries (time travel intact), and expiration deletes a
   * retired `__bucket=k` subtree once NO retained snapshot references
   * the dir without the exclusion. The serialized snapshot delta is
   * O(1): one `xbuckets` list applied at inflate, not a re-serialized
   * file list. Content derives from the current head, so a concurrent
   * commit ABORTS this one, never the reverse.
   *
   * Fixed-bucket PK tables only (flat or partitioned): dynamic-bucket
   * tables fold their key index in full [[compact]]; append-only tables
   * use [[compactSmall]].
   */
  def compactBuckets(schema: String, table: String, buckets: Seq[Int]): Long = {
    val m = readManifest(schema, table)
    val n = m.options.bucket.getOrElse(throw new IllegalArgumentException(
      s"$schema.$table is not bucketed — per-bucket compaction needs a " +
        "fixed bucket layout; use compact() or compactSmall()"))
    require(n >= 1, s"$schema.$table uses dynamic bucket mode — compact() " +
      "folds its key index atomically; per-bucket compaction serves fixed layouts")
    require(m.primaryKey.nonEmpty,
      s"$schema.$table is append-only — use compactSmall for minor maintenance")
    require(buckets.nonEmpty, "no buckets given")
    require(buckets.forall(b => b >= 0 && b < n),
      s"buckets must be in [0, $n), got ${buckets.mkString(", ")}")
    require(m.head.isDefined, s"$schema.$table has no snapshots")
    val entries = m.headFiles
    if (entries.exists(_.kind == "dv"))
      return compactBucketsDv(schema, table, buckets.distinct.sorted)
    val img = bucketedResolve(schema, table, m, entries, n,
      onlyBuckets = Some(buckets.distinct.sorted)).getOrElse(emptyFrame(m))
    commit(schema, table, Seq(Leg("", "data", img, clustered = true)),
      InheritRetiring(buckets.toSet), basis = Some(m.commitVersion),
      compaction = true)
  }

  /**
   * Per-bucket compaction of a LIVE deletion-vector snapshot — Paimon's
   * lookup-compaction granularity: fold only the chosen buckets' bytes,
   * keep the merge-free read contract. Runs in two steps: (1) an
   * incremental [[buildDeletionVectors]] restores the one-live-version-
   * per-key invariant (post-build deltas get covered, tombstone dirs are
   * replaced — O(delta), a no-op when nothing changed since the last
   * build); (2) the buckets' DV-APPLIED live rows (no window — step 1
   * guarantees uniqueness) are rewritten as one fresh leg, whose commit
   * PAIRS the copied rows' old (file, pos) positions as a DV dir under
   * the same ordinal and marks the buckets retired on inherited entries.
   * The paired DV dir raises the build ordinal to the fold commit, so
   * the next read plans the merge-free base-only shape immediately, and
   * metadata-only count(*) stays exact (old copies are DV-subtracted,
   * the fold leg's stats add them back once).
   */
  private def compactBucketsDv(schema: String, table: String,
      buckets: Seq[Int]): Long = {
    buildDeletionVectors(schema, table) // restore the covered invariant
    val m = readManifest(schema, table)
    val basis = Some(m.commitVersion)
    val entries = m.headFiles
    val (dvEs, dataEs) = entries.partition(_.kind == "dv")
    require(entries.forall(fe => fe.kind == "data" || fe.kind == "dv"),
      s"$schema.$table: tombstone dirs survived a DV build — " +
        "the covered invariant does not hold")
    val names = m.currentFields.map(_.name)
    // only the chosen buckets' leaves are read, minus each inherited
    // entry's RETIRED buckets (prior folds): their rows are dead to the
    // head — without this they are re-read and re-anti-joined on every
    // fold, and an empty-fold retirement (below) would re-select the
    // same dead bytes forever
    val inBuckets = unionOption(dirFrames(schema, table, m, dataEs,
        withMeta = true, onlyBuckets = Some(buckets), skipRetired = true))
      .getOrElse(return m.headId)
    val live = (if (dvEs.isEmpty) inBuckets
      // the anti-join side shrinks to the chosen buckets' positions
      else inBuckets.join(
        dvPositionsInBuckets(dvFrame(schema, table, dvEs), buckets),
        Seq(DvFileCol, DvPosCol), "left_anti"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val perFile = live.groupBy(DvFileCol)
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("n")).collect()
      if (perFile.isEmpty) {
        // Zero live rows in the chosen buckets. Distinguish two cases:
        // buckets holding NO bytes at all are a true no-op (committing
        // would land one empty snapshot per invocation); buckets whose
        // rows are ALL deleted still hold dead files — commit the EMPTY
        // fold so the retirement marks release those subtrees to
        // expiration (without this, each invocation re-selects the same
        // bucket, no-ops, and the dead bytes are never reclaimed). No
        // DV pairing: there are no copied positions to tombstone; the
        // next build re-covers the head.
        //
        // held-bytes answered from METADATA (r18): the per-file zone
        // sidecars double as each dir's file listing (one FS listing per
        // sidecar-less dir as fallback) — never a second Spark scan of
        // the unpersisted inBuckets plan, which doubled the chosen
        // buckets' I/O on exactly this all-dead path.
        val zones = fileStatsFrom(schema, table, m)
        val chosen = buckets.toSet
        val holdsBytes = dataEs.exists { fe =>
          val inDir: Set[Int] = zones.get(fe.dir).filter(_.nonEmpty) match {
            case Some(fm) => fm.keysIterator.flatMap(bucketOfPath).toSet
            case None => bucketsUnder(dirPath(schema, table, fe.dir),
              m.partitionColumns.length).toSet
          }
          (inDir -- fe.excludeBuckets).exists(chosen.contains)
        }
        if (!holdsBytes) return m.headId
        return commit(schema, table,
          Seq(Leg("", "data", live.select(names.map(col): _*))),
          InheritRetiring(buckets.toSet), basis, compaction = true)
      }
      val files = perFile.map(_.getString(0)).toSeq.sorted
      val rows = perFile.map(_.getLong(1)).sum
      commit(schema, table,
        Seq(Leg("", "data", live.select(names.map(col): _*)),
          Leg("-dv", "dv", live.select(col(DvFileCol), col(DvPosCol))
            .sortWithinPartitions(DvFileCol, DvPosCol), dvIndex = Some((files, rows)))),
        InheritRetiring(buckets.toSet), basis, compaction = true)
    } finally { live.unpersist(); () }
  }

  /**
   * Sorted-run count per bucket at the current head: how many un-retired
   * dirs contribute files to each bucket (tombstone runs count — they
   * are merge debt too). Metadata-only when per-file zones exist (the
   * zone sidecar doubles as the dir's file listing); dirs without zones
   * pay one FS listing each.
   */
  def bucketSortedRuns(schema: String, table: String): Map[Int, Int] = {
    val m = readManifest(schema, table)
    val n = m.options.bucket.getOrElse(return Map.empty)
    if (n < 1 || m.primaryKey.isEmpty) return Map.empty
    val entries = m.headFiles.filter(fe => fe.kind == "data" || fe.kind == "delete")
    val perFile = fileStatsFrom(schema, table, m)
    val partDepth = m.partitionColumns.length
    def listed(fe: FileEntry): Set[Int] = bucketsUnder(
      dirPath(schema, table, fe.dir), if (fe.kind == "data") partDepth else 0).toSet
    val counts = mutable.Map.empty[Int, Int].withDefaultValue(0)
    entries.foreach { fe =>
      val present: Set[Int] = perFile.get(fe.dir).filter(_.nonEmpty) match {
        case Some(fm) => fm.keysIterator.flatMap(bucketOfPath).toSet
        case None => listed(fe)
      }
      (present -- fe.excludeBuckets).foreach(k => counts(k) += 1)
    }
    counts.toMap
  }

  /**
   * Compact every bucket whose sorted-run count reached `trigger`
   * (Paimon's `num-sorted-run.compaction-trigger`, default 5) in ONE
   * commit. Returns the new snapshot id when any bucket was hot. The
   * streaming-ingest maintenance loop for bucketed PK tables: each call
   * costs O(hot buckets) data I/O and leaves every compacted bucket at
   * one run, so back-to-back calls are no-ops.
   */
  def compactHotBuckets(schema: String, table: String,
      trigger: Int = 5): Option[Long] = {
    require(trigger >= 2, s"trigger must be >= 2, got $trigger")
    val hot = bucketSortedRuns(schema, table)
      .collect { case (k, c) if c >= trigger => k }.toSeq.sorted
    if (hot.isEmpty) None else Some(compactBuckets(schema, table, hot))
  }

  /**
   * Bucket rescaling (Paimon's `rescale` maintenance action): rewrite
   * the table's full merged image under a NEW bucket count and flip the
   * `bucket` option in the SAME manifest CAS — a reader before the
   * commit sees the old layout with the old option, a reader after sees
   * the new pair; no mixed state is ever observable, which is why the
   * option is immutable through [[setTableOptions]]. The rewrite is
   * compaction-marked (bytes move, logical content doesn't — changelog
   * consumers stay silent) and carries the basis-version fence, so a
   * concurrent commit aborts the rescale instead of being swallowed by
   * its overwrite. Time travel to pre-rescale snapshots still resolves
   * under the OLD count (bucket membership is read from the `__bucket=k`
   * dirs of each snapshot's own files).
   */
  def rescaleBucket(schema: String, table: String, newBuckets: Int): Long = {
    require(newBuckets >= 1, s"bucket count must be >= 1, got $newBuckets")
    val m = readManifest(schema, table)
    val old = m.options.bucket.getOrElse(throw new IllegalArgumentException(
      s"$schema.$table is not bucketed — set `bucket` at create"))
    require(old != -1, s"$schema.$table is a dynamic-bucket table — it " +
      "sizes itself (dynamic-bucket.target-row-num); rescale applies to " +
      "fixed-bucket layouts")
    if (old == newBuckets) return m.headId
    commit(schema, table, Seq(Leg("", "data", headImage(schema, table, m))),
      InheritNone, basis = Some(m.commitVersion), compaction = true,
      optionOverrides = Map(TableOptions.Bucket.key -> newBuckets.toString))
  }

  /**
   * Sort-compaction (Paimon's `sort-compact` / order-by maintenance):
   * rewrite the table's current image range-partitioned and sorted by
   * `by`, landing ONE snapshot that references `ranges` separate file
   * dirs — each dir covers a disjoint value range, so its manifest zone
   * map is tight and [[readWhere]]/the SQL GraftZonePrune rule skip all
   * but the matching dirs at planning time. This is the maintenance op
   * that turns append-order data into data-skipping layout: a 100 TB
   * table sort-compacted by event date answers a one-day query by
   * planning 1/ranges of its files. Within each dir, rows are sorted, so
   * parquet row-group stats are tight too (scan-time skipping).
   *
   * One distributed job: repartitionByRange (a range shuffle) + in-task
   * sort, written once through [[writeDir]] with `__range` as the
   * leading partition column. Each `__range=i` subdir then lands through
   * [[commit]] as its own data leg `snap-<id>-r<i>`, so range dirs get
   * the same zone stats, bloom index, claim marker, file format,
   * compression, position stamp and post-commit retention as every
   * other commit. The commit carries the version of the manifest this
   * call read first as its basis: a concurrent commit, or a range dir
   * claimed by another writer, aborts the sort-compaction with a
   * ConcurrentModificationException and never deletes that writer's dir.
   * With `zorder = true`, clustering is by the interleaved-bit z-value
   * of the `by` columns instead of their lexicographic order — every
   * listed dimension gets a tight per-dir zone (multi-dimensional data
   * skipping: a query on the SECOND column alone still prunes, which a
   * lexicographic sort cannot give). Numeric/date/timestamp columns only.
   * Refused on bucketed tables (the bucket layout is their contract);
   * PK tables compact their merged image (rows are key-unique, and all
   * dirs share the new snapshot's ordinal).
   */
  def sortCompact(schema: String, table: String, by: Seq[String],
      ranges: Int = 16, zorder: Boolean = false): Long = {
    require(by.nonEmpty, "sortCompact needs at least one order-by column")
    require(ranges >= 1, "ranges must be >= 1")
    val m = readManifest(schema, table)
    // __range / __z are scratch columns of this rewrite (mirrors the
    // BucketCol reservation in createTable): a user column with either
    // name would be silently overwritten by withColumn and corrupted in
    // the rewritten snapshot.
    m.currentFields.map(_.name).foreach { n =>
      require(n != "__range" && !(zorder && n == "__z"),
        s"sortCompact reserves column name $n (rename the column first)")
    }
    require(m.options.bucket.isEmpty || m.primaryKey.isEmpty,
      s"$schema.$table is bucketed — its layout is the read contract; " +
        "use compact() instead")
    val cur = currentSchema(m)
    by.foreach(c => require(cur.fieldNames.contains(c), s"unknown column $c"))
    // Linear order: range-partition + sort by the columns themselves.
    // Z-order: range-partition + sort by the interleaved-bit z-value, so
    // EVERY `by` column gets a tight per-dir zone (a lexicographic sort
    // only tightens the leading column; a query on the second column
    // alone would prune nothing). The z-value is a scratch column
    // computed from 16-bit quantized ranks (min/max from one agg job)
    // and dropped before write.
    val img = headImage(schema, table, m)
    val clustered =
      if (!zorder) img.repartitionByRange(ranges, by.map(col): _*)
        .sortWithinPartitions(by.map(col): _*)
      else {
        val z = zValueColumn(img, by, cur)
        img.withColumn("__z", z)
          .repartitionByRange(ranges, col("__z"))
          .sortWithinPartitions(col("__z"))
          .drop("__z")
      }
    // UNIQUE per-attempt staging dir: two concurrent sortCompacts at the
    // same head never share or clobber each other's staging bytes.
    // __range leads the partition spec so each range subdir still nests
    // the table's own col=value layout inside it (landed dirs keep the
    // identity-partition structure $partitions and pruning expect).
    val staging = s".staging-sort-${java.util.UUID.randomUUID()}"
    writeDir(schema, table, m,
      clustered.withColumn("__range", spark_partition_id()),
      staging, "data", buckets = None, lead = Seq("__range"))
    try {
      val rangeDirs = fs.listStatus(new Path(tablePath(schema, table), staging))
        .filter(_.isDirectory).map(_.getPath.getName)
        .filter(_.startsWith("__range=")).sortBy(_.stripPrefix("__range=").toInt)
      // an empty image writes no range dir: land one empty leg instead
      val legs = if (rangeDirs.isEmpty) Seq(Leg("-r0", "data", img))
        else rangeDirs.toSeq.map(rd => Leg(s"-r${rd.stripPrefix("__range=")}",
          "data", img, staged = Some(s"$staging/$rd")))
      commit(schema, table, legs, InheritNone,
        basis = Some(m.commitVersion), compaction = true)
    } finally {
      // landed ranges moved out; an aborted attempt's unclaimed ones go
      try fs.delete(new Path(tablePath(schema, table), staging), true)
      catch { case _: java.io.IOException => () }
    }
  }

  /**
   * Interleaved-bit z-value for [[sortCompact]]'s `zorder` mode: each
   * `by` column is quantized to a 16-bit rank between its global min and
   * max (one agg job), and the ranks' bits are interleaved into one
   * bigint — points close in EVERY dimension get close z-values, so
   * range-partitioning by z gives every dimension a tight per-dir zone.
   * Pure bitwise/arithmetic Column expressions (shiftleft/and/or), fully
   * inside whole-stage codegen; numeric/date/timestamp columns only.
   */
  private def zValueColumn(df: DataFrame, by: Seq[String],
      schema: StructType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{floor, greatest, least, lit, max, min, shiftleft, shiftright, unix_date}
    import org.apache.spark.sql.types.{DateType, NumericType, TimestampNTZType, TimestampType}
    def numeric(c: String): org.apache.spark.sql.Column = schema(c).dataType match {
      case DateType => unix_date(col(c)).cast("double")
      case TimestampType | TimestampNTZType => col(c).cast("double")
      case _: NumericType => col(c).cast("double")
      case dt => throw new IllegalArgumentException(
        s"zorder column $c must be numeric/date/timestamp, got ${dt.simpleString}")
    }
    val aggs = by.flatMap(c =>
      Seq(min(numeric(c)).as(s"__mn_$c"), max(numeric(c)).as(s"__mx_$c")))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val n = by.size
    // total interleaved width must fit a signed long: 16 bits per
    // dimension up to 3 dims, then 63/n (4 dims -> 15 bits, 8 -> 7, ...)
    val bits = math.min(16, 63 / n)
    require(bits >= 1, s"zorder supports at most 63 columns, got $n")
    val maxRank = (1 << bits) - 1
    by.zipWithIndex.map { case (c, ci) =>
      val mn = Option(row.getAs[java.lang.Double](s"__mn_$c")).map(_.toDouble).getOrElse(0d)
      val mx = Option(row.getAs[java.lang.Double](s"__mx_$c")).map(_.toDouble).getOrElse(0d)
      val q =
        if (mx <= mn) lit(0L)
        else least(greatest(floor((numeric(c) - lit(mn)) / lit(mx - mn) * lit(maxRank.toDouble)),
          lit(0d)), lit(maxRank.toDouble)).cast("bigint")
      (0 until bits).map(b =>
        shiftleft(shiftright(q, b).bitwiseAND(lit(1L)), b * n + ci))
        .reduce(_ bitwiseOR _)
    }.reduce(_ bitwiseOR _)
  }

  /**
   * Compact only when the current snapshot references more than
   * `maxFileDirs` file dirs — the Paimon-style small-file trigger
   * (num-sorted-run threshold) a streaming ingest loop calls after each
   * batch without paying a rewrite every time. Returns the new snapshot
   * id when compaction ran.
   */
  def compactIfNeeded(schema: String, table: String,
      maxFileDirs: Int = 10): Option[Long] = {
    require(maxFileDirs >= 1, "maxFileDirs must be >= 1")
    if (snapshotFileEntries(schema, table).size > maxFileDirs)
      Some(compact(schema, table))
    else None
  }

  /**
   * MINOR (small-file) compaction for append-only tables — Paimon's
   * streaming-ingest maintenance shape, which a full [[compact]] cannot
   * replace at scale: rewrite ONLY the data dirs smaller than
   * `smallBytes` into one fresh dir and leave large dirs untouched. The
   * new snapshot's file list is the previous list minus the compacted
   * dirs plus the new one, so the cost is O(small dirs) — on a 100 TB
   * table ingesting micro-batches this is the difference between a
   * maintenance op you can run hourly and one you cannot run at all
   * (full compact is O(table) every time). Older snapshots still
   * reference the compacted dirs (time travel intact); expiration
   * reclaims them once unreferenced. The snapshot carries the
   * compaction marker, so changelog reads skip it (bytes moved, no
   * logical change).
   *
   * Scope: append-only tables only — PK tables interleave per-key
   * version ordinals across dirs, and merging an ordinal SUBSET would
   * need the merged dir to sit at the subset's ordinal position, which
   * the full-image [[compact]] sidesteps. DV-DIRTY dirs are skipped
   * (rewriting them belongs to full compact, which applies and retires
   * the DVs; a dirty dir rewritten here would orphan its (file, pos)
   * entries). Content derives from the current head, so a concurrent
   * commit ABORTS this one, never the reverse. Returns the new snapshot
   * id, or None when fewer than two small clean dirs exist.
   */
  def compactSmall(schema: String, table: String,
      smallBytes: Long = 32L << 20, minDirs: Int = 2): Option[Long] = {
    require(smallBytes > 0, "smallBytes must be positive")
    require(minDirs >= 2, "minDirs must be >= 2 (one dir has nothing to merge)")
    val m = readManifest(schema, table)
    require(m.primaryKey.isEmpty,
      s"$schema.$table has a primary key — use compact(): per-key version " +
        "ordinals interleave across dirs, so only the full image merges soundly")
    if (m.head.isEmpty) return None
    val entries = m.headFiles
    // a DV-dirty dir: any dir some deletion-vector entry names a file in
    val dirtyDirs: Set[String] = m.dvIndex.values
      .flatMap(_._1).map(_.takeWhile(_ != '/')).toSet
    val candidates = entries.filter(e => e.kind == "data" &&
      !dirtyDirs.contains(dirKey(e.dir)) &&
      (try fs.getContentSummary(
        dirPath(schema, table, e.dir)).getLength < smallBytes
      catch { case _: java.io.IOException => false }))
    if (candidates.size < minDirs) return None
    val img = unionAllByName(dirFrames(schema, table, m, candidates))
      .drop("__ord", "__del")
    // Pin the head the candidates were derived from: a commit landing in
    // between (e.g. a DV delete touching a candidate dir) would make the
    // rewrite stale — abort via the basis-version fence, same contract
    // as DV deletes.
    Some(commit(schema, table, Seq(Leg("", "data", img)),
      InheritAllExcept(candidates.map(_.dir).toSet),
      basis = Some(m.commitVersion), compaction = true))
  }

  /**
   * Snapshot expiration (Paimon's snapshot.num-retained): keep the last
   * `keepLast` snapshots, drop the older entries from the manifest, and
   * delete file dirs no surviving snapshot references. Time travel to
   * expired snapshots fails thereafter; the current image is untouched.
   * This is the maintenance op that bounds storage at 100 TB — without
   * it every overwrite/compact doubles the footprint forever.
   */
  def expireSnapshots(schema: String, table: String, keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val m = readManifest(schema, table)
    val all = m.snapshots
    if (all.size <= keepLast) return Seq.empty
    // Tagged snapshots are pinned (a tag is a retention promise), and so
    // is everything a registered consumer has not yet processed
    // (Paimon's consumer-id: never expire unread history).
    val tagged = m.tags.values.toSet
    // keep next-1 too: it is the consumer's exclusive replay BASIS — the
    // changelog range (next-1, to] needs that snapshot's position so the
    // per-snapshot set difference stays exact (dropping it would attribute
    // already-processed history to the oldest retained snapshot and
    // over-replay it)
    val minUnconsumed = m.consumers.values.minOption
      .map(n => math.max(1L, n - 1)).getOrElse(Long.MaxValue)
    val (candidates, kept0) = all.splitAt(all.size - keepLast)
    val (pinned, dropped) = candidates.partition(s =>
      tagged.contains(s.id) || s.id >= minUnconsumed)
    if (dropped.isEmpty) return Seq.empty
    val kept = (pinned ++ kept0).sortBy(_.id)
    dropSnapshots(schema, table, m, kept, dropped)
    try sweepOrphanDirs(schema, table)
    catch { case _: java.io.IOException => () }
    dropped.map(_.id)
  }

  /**
   * Time-based snapshot expiration (Paimon's `snapshot.time-retained`):
   * drop snapshots whose commit timestamp is older than `olderThanMillis`,
   * always keeping the current snapshot and any tag-pinned ones — the
   * companion retention policy to [[expireSnapshots]]'s count-based one
   * (production tables typically run both: keep N days AND at most M
   * snapshots). Returns the dropped snapshot ids.
   */
  def expireSnapshotsOlderThan(schema: String, table: String,
      olderThanMillis: Long): Seq[Long] = {
    val m = readManifest(schema, table)
    val all = m.snapshots
    if (all.isEmpty) return Seq.empty
    val tagged = m.tags.values.toSet
    // next-1 kept as the consumer's exclusive replay basis (see above)
    val minUnconsumed = m.consumers.values.minOption
      .map(n => math.max(1L, n - 1)).getOrElse(Long.MaxValue)
    val currentId = all.last.id
    val (dropped, kept) = all.partition { s =>
      s.timestampMillis < olderThanMillis &&
        s.id != currentId && !tagged.contains(s.id) && s.id < minUnconsumed
    }
    if (dropped.isEmpty) return Seq.empty
    dropSnapshots(schema, table, m, kept, dropped)
    try sweepOrphanDirs(schema, table)
    catch { case _: java.io.IOException => () }
    dropped.map(_.id)
  }

  /**
   * Partition expiration (the action behind Paimon's
   * `partition.expiration-time` CoreOption): drop every identity
   * partition matching `where` — a predicate over the PARTITION columns
   * only — from the current image as ONE snapshot commit. Dirs whose
   * live files all belong to expired partitions are dropped with ZERO
   * data I/O (the replace-subset commit simply stops referencing them —
   * the time-partitioned common case, where a day's commits carry that
   * day's partition); dirs mixing live and expired partitions rewrite
   * only their surviving rows into a fresh dir. Older snapshots still
   * see the partitions until snapshot expiration reclaims the bytes.
   *
   * Append-only tables only (a PK table's per-key ordinals interleave
   * across dirs; its row-level path is [[deleteWhere]]), and not under
   * live deletion vectors (their (file,pos) entries name files this
   * commit would retire — compact first). Like [[overwrite]], the drop
   * carries no row-kinded retraction — pause changelog consumers across
   * it. Rows whose partition value is NULL (the default-partition dir)
   * expire only if `where` is literally true for null input.
   * Returns the expired partition paths (`c1=v1[/c2=v2]`), sorted.
   */
  def expirePartitions(schema: String, table: String,
      where: org.apache.spark.sql.Column): Seq[String] =
    replacePartitions(schema, table, where, None)._1

  /** Shared partition-replacement commit behind [[expirePartitions]]
    * (drop only) and [[overwriteDynamic]] (drop + land replacement
    * data). Returns (replaced partition paths, committed snapshot id).
    */
  private[sources] def replacePartitions(schema: String, table: String,
      where: org.apache.spark.sql.Column,
      newData: Option[DataFrame]): (Seq[String], Option[Long]) = {
    import scala.jdk.CollectionConverters._
    val m = readManifest(schema, table)
    require(m.primaryKey.isEmpty,
      s"$schema.$table has a primary key — partition expiration serves " +
        "append-only tables; use deleteWhere for row-level PK deletes")
    require(m.dvIndex.isEmpty,
      s"$schema.$table has live deletion vectors — compact() first so no " +
        "DV names a file this commit would retire")
    val pcols = m.partitionColumns
    require(pcols.nonEmpty, s"$schema.$table is not partitioned")
    if (m.head.isEmpty) return (Seq.empty,
      newData.map(d => commit(schema, table, Seq(Leg("", "data", d)))))
    val allEntries = m.headFiles.filter(_.kind == "data")
    // Candidate prefilter from the head's dir-level zones (partition
    // columns carry path-segment zones): a dir the evaluator PROVES
    // cannot hold a row matching `where` holds no expired partition, so
    // its recursive listing is skipped. Steady-state auto mode on a
    // time-partitioned table costs ZERO listings per commit — old dirs
    // drop once, new dirs' zones refute the cutoff. Conservative: dirs
    // without stats or unmodeled predicate shapes stay candidates.
    val resolvedCond = read(schema, table).filter(where)
      .queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }
    val headStats = m.dirStats
    val entries = resolvedCond match {
      case Some(cond) => allEntries.filter(fe =>
        headStats.get(fe.dir).forall(FileStats.mightMatch(_, cond)))
      case None => allEntries
    }
    if (entries.isEmpty) return (Seq.empty,
      newData.map(d => commit(schema, table, Seq(Leg("", "data", d)))))
    // live partition paths per dir: one recursive metadata listing
    val dirParts: Map[String, Set[String]] = entries.map { fe =>
      val basePath = dirPath(schema, table, fe.dir)
      val parts =
        if (!fs.exists(basePath)) Seq.empty
        else FileStats.filesUnder(fs, basePath, FileStats.DataFileExts)
          .map(_._1.split('/').dropRight(1).mkString("/"))
      fe.dir -> parts.filter(_.nonEmpty).toSet
    }.toMap
    val allParts = dirParts.values.flatten.toSet.toSeq.sorted
    if (allParts.isEmpty) return (Seq.empty,
      newData.map(d => commit(schema, table, Seq(Leg("", "data", d)))))
    // Evaluate `where` over the distinct partition tuples, typed exactly
    // as Spark partition discovery types them: unescape the path value,
    // NULL for the default-partition token, explicit cast to the
    // declared column type (never inference).
    val sch = currentSchema(m)
    val typeOf = sch.fields.map(f => f.name.toLowerCase -> f.dataType).toMap
    val rows = allParts.map { pp =>
      val vals = pp.split('/').map(_.split("=", 2)).map { kv =>
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(kv(1))
      }
      org.apache.spark.sql.Row.fromSeq(pp +: vals.toSeq)
    }
    val strSchema = StructType(
      StructField("__part", org.apache.spark.sql.types.StringType) +:
        pcols.map(c => StructField(c, org.apache.spark.sql.types.StringType)))
    val typed = spark.createDataFrame(rows.asJava, strSchema)
      .select(col("__part") +: pcols.map { c =>
        when(col(c) === "__HIVE_DEFAULT_PARTITION__", lit(null))
          .otherwise(col(c)).cast(typeOf(c.toLowerCase)).as(c)
      }: _*)
    val expired = typed.filter(where).select("__part")
      .collect().map(_.getString(0)).toSet
    if (expired.isEmpty) return (Seq.empty,
      newData.map(d => commit(schema, table, Seq(Leg("", "data", d)))))
    val affected = entries.filter(fe => dirParts(fe.dir).exists(expired.contains))
    val mixed = affected.filter(fe => !dirParts(fe.dir).forall(expired.contains))
    // Survivor filter keeps null-predicate rows: a partition `where`
    // cannot decide must NOT silently vanish from a rewritten dir.
    val keep = org.apache.spark.sql.functions.not(
      org.apache.spark.sql.functions.coalesce(where, lit(false)))
    val survivors = unionOption(dirFrames(schema, table, m, mixed))
      .map(_.drop("__ord", "__del").filter(keep))
    val img = (survivors, newData) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case (None, None) => emptyFrame(m)
    }
    val sid = commit(schema, table, Seq(Leg("", "data", img)),
      InheritAllExcept(affected.map(_.dir).toSet),
      basis = Some(m.commitVersion))
    (expired.toSeq.sorted, Some(sid))
  }

  /**
   * Reclaim orphan dirs: `snap-*` dirs on disk that NO manifest snapshot
   * references (a claimed-but-never-landed commit attempt — e.g. a
   * non-retryable CAS loss or a crash between dir claim and manifest
   * write — leaves a full data copy referenced by nothing; expiration
   * alone never reclaims it because [[dropSnapshots]] only deletes dirs
   * that dropped snapshot ENTRIES referenced), plus dead dot-staging
   * files. Only entries older than `graceMillis` are touched, so an
   * in-flight commit between its dir claim and manifest CAS is never
   * swept. Runs best-effort from both expiration entry points; callable
   * directly for immediate cleanup. Returns the deleted dir names.
   */
  def sweepOrphanDirs(schema: String, table: String,
      graceMillis: Long = 3600000L): Seq[String] = {
    val m = readManifest(schema, table)
    val referenced = m.snapshots.flatMap(_.files).map(_.dir).toSet ++
      m.changelog.keySet // producer changelog dirs are live too
    val cutoff = System.currentTimeMillis() - graceMillis
    // a local dir another lineage of the same base still references
    // (a branch inheriting it, or the base after a fast-forward) is not
    // an orphan — it is shared history owned here but pinned there
    val pinned = siblingLineageRefs(schema, table)
    fs.listStatus(tablePath(schema, table)).toSeq.flatMap { st =>
      val name = st.getPath.getName
      val orphanSnap = name.startsWith("snap-") && !referenced.contains(name) &&
        !pinned.contains(baseRelativeDir(table, name))
      val deadStaging = (name.startsWith(".staging-") ||
        name.startsWith(".manifest.tmp-") || name.startsWith(".snap-"))
      if ((orphanSnap || deadStaging) && st.getModificationTime < cutoff) {
        try { fs.delete(st.getPath, true); Some(name) }
        catch { case _: java.io.IOException => None }
      } else None
    }
  }

  /** Shared tail of [[expireSnapshots]] and [[rollbackTo]]: rewrite the
    * snapshot list to `kept` (dropping what was keyed by the dropped
    * snapshots), remove the dir-keyed entries of newly-orphaned dirs,
    * commit the manifest FIRST and delete orphan dirs after (a crash
    * between the two leaves unreferenced dirs, never a dangling
    * manifest). */
  private def dropSnapshots(schema: String, table: String, m: Manifest,
      kept: Seq[Manifest.Snapshot], dropped: Seq[Manifest.Snapshot]): Unit = {
    val keptDirs = kept.flatMap(_.files).map(_.dir).toSet
    val orphanDirs = dropped.flatMap(_.files).map(_.dir).distinct
      .filterNot(keptDirs.contains)
    // changelog dirs belong to their snapshot: dropped snapshot → entry
    // removed here, dir deleted below with the other orphans
    val droppedIds = dropped.map(_.id).toSet
    val deadClDirs = m.changelog.collect {
      case (d, (id, _, _)) if droppedIds.contains(id) => d
    }.toSeq
    m.keepSnapshots(kept)
    m.dropDirs(orphanDirs ++ deadClDirs)
    writeManifest(schema, table, m)
    // Cross-lineage pinning: a dir still referenced by ANY other lineage
    // of the same base table (a branch that inherited it, or the base
    // after fast-forwarding a branch) survives — its manifest entry here
    // is gone, but the bytes belong to every lineage that references
    // them; the LAST lineage to stop referencing a dir reclaims it
    // (directly here, or via sweepOrphanDirs using the same pin set).
    val pinnedElsewhere = siblingLineageRefs(schema, table)
    (orphanDirs ++ deadClDirs).foreach { d =>
      if (!pinnedElsewhere.contains(baseRelativeDir(table, d)))
        fs.delete(dirPath(schema, table, d), true)
    }
    // Per-bucket compaction leftovers: once EVERY retained snapshot
    // referencing a dir retires bucket k there (intersection of the
    // entries' exclusion sets), no reader — current or time-traveling —
    // can need that subtree, so its bytes are reclaimed in place. Dirs a
    // sibling lineage (branch) still references are left whole: the
    // other lineage's entries may carry no exclusion.
    val keptRefs = kept.flatMap(_.files).groupBy(_.dir)
      .filter { case (_, fes) => fes.forall(_.excludeBuckets.nonEmpty) }
    keptRefs.foreach { case (d, fes) =>
      val common = fes.map(_.excludeBuckets.toSet).reduce(_ intersect _)
      if (common.nonEmpty && !pinnedElsewhere.contains(baseRelativeDir(table, d))) {
        def walk(p: Path): Unit =
          if (fs.exists(p)) fs.listStatus(p).foreach { st =>
            val nm = st.getPath.getName
            if (st.isDirectory) {
              if (nm.startsWith(s"$BucketCol=")) {
                if (bucketOfPath(nm).exists(common.contains))
                  fs.delete(st.getPath, true)
              } else if (nm.contains("=")) walk(st.getPath)
            }
          }
        try walk(dirPath(schema, table, d))
        catch { case _: java.io.IOException => () }
      }
    }
  }

  /**
   * Roll the table back to `snapshotId` (Paimon's rollback-to): snapshots
   * NEWER than the target are dropped from the manifest and their
   * newly-orphaned file dirs deleted — the emergency undo for a bad
   * write. History up to the target is untouched (time travel within it
   * still works). Refused while a tag pins a newer snapshot: delete the
   * tag first (a tag is a retention promise, same as in expiration).
   */
  def rollbackTo(schema: String, table: String, snapshotId: Long): Unit = {
    val m = readManifest(schema, table)
    val all = m.snapshots
    require(all.exists(_.id == snapshotId),
      s"no snapshot $snapshotId for $schema.$table")
    val (kept, dropped) = all.partition(_.id <= snapshotId)
    if (dropped.isEmpty) return
    val droppedIds = dropped.map(_.id).toSet
    val pinning = m.tags.filter(kv => droppedIds.contains(kv._2))
    require(pinning.isEmpty, s"cannot roll back $schema.$table past tagged " +
      s"snapshot(s) ${pinning.map(kv => s"${kv._1}→${kv._2}").mkString(", ")} — " +
      "delete the tag(s) first")
    dropSnapshots(schema, table, m, kept, dropped)
  }

  /** Roll back to the snapshot a tag pins (rollback-to-tag). */
  def rollbackToTag(schema: String, table: String, tag: String): Unit =
    rollbackTo(schema, table, tags(schema, table).getOrElse(tag,
      throw new IllegalArgumentException(s"no tag $tag on $schema.$table")))

  /**
   * Latest snapshot (optionally ≤ `upTo`) whose file set needs NO
   * merge-on-read work: every entry is current-schema data, and for PK
   * tables all dirs share one commit ordinal (exactly the post-compact /
   * post-overwrite state). None when no such snapshot exists yet.
   */
  def resolvedSnapshotId(schema: String, table: String,
      upTo: Option[Long] = None): Option[Long] = {
    val m = readManifest(schema, table)
    val cur = m.currentSchemaVersion
    val pk = m.primaryKey
    def ordinal(dir: String) = dirKey(dir).stripPrefix("snap-").takeWhile(_.isDigit)
    m.snapshots.reverseIterator.collectFirst {
      case s if upTo.forall(s.id <= _) && {
        val entries = s.files
        entries.nonEmpty &&
          entries.forall(e => e.kind == "data" && e.schemaVersion == cur) &&
          (pk.isEmpty || entries.map(e => ordinal(e.dir)).distinct.size == 1)
      } => s.id
    }
  }

  /**
   * Read-optimized read (Paimon's `table$ro`): the table as of its
   * latest fully-compacted snapshot — zero merge work, the raw
   * vectorized-scan path, at the cost of not seeing deltas committed
   * since the last [[compact]]/[[sortCompact]]/overwrite. The
   * speed-over-freshness trade for batch consumers over PK tables.
   * Empty until a resolved snapshot exists.
   */
  def readOptimized(schema: String, table: String,
      upTo: Option[Long] = None): DataFrame =
    resolvedSnapshotId(schema, table, upTo) match {
      case Some(id) => read(schema, table, snapshotId = Some(id))
      case None => emptyFrame(readManifest(schema, table))
    }
}
