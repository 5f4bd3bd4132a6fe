package graft.sources

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import GraftCatalog._

/**
 * Incremental + changelog reads and the write-time changelog producer —
 * split from GraftCatalog.scala along the seam the r14 verdict named
 * (continuing the GraftMetadataViews extraction; behavior unchanged).
 * Covers: incremental-between scans, upsert/full changelog computation,
 * the producer fast paths (input/lookup/full-compaction carriers +
 * range-cover collapse), the field-wise resolved-image pairing, and the
 * changelog streaming source definition. Same-package trait mixed into
 * [[GraftCatalog]].
 */
trait GraftChangelog { self: GraftCatalog =>

  /**
   * Incremental read: the rows added between `fromSnapshotId` (exclusive)
   * and `toSnapshotId` (inclusive) — Paimon's `incremental-between` scan,
   * the thing a downstream consumer uses to process only the delta instead
   * of rescanning 100 TB. Only the delta files are opened, so cost is
   * O(new data). For PK tables the delta is resolved merge-on-read within
   * the range (latest version per key; keys whose latest change in range
   * is a delete are omitted).
   */
  def readIncremental(schema: String, table: String, fromSnapshotId: Long,
      toSnapshotId: Long): DataFrame = {
    require(fromSnapshotId <= toSnapshotId,
      s"fromSnapshotId $fromSnapshotId > toSnapshotId $toSnapshotId")
    val m = readManifest(schema, table)
    if (m.primaryKey.nonEmpty)
      requireDeduplicate(m, s"$schema.$table", "readIncremental")
    refuseCrossPartition(m, s"$schema.$table", "readIncremental")
    def entriesAt(id: Long): Seq[FileEntry] =
      if (id == 0) Seq.empty
      else {
        val s = m.snapshot(id)
        require(s.isDefined, s"no snapshot $id for $schema.$table")
        s.get.files
      }
    val before = entriesAt(fromSnapshotId).map(_.dir).toSet
    val delta = entriesAt(toSnapshotId).filterNot(fe => before.contains(fe.dir))
    // a DV commit in range REMOVES rows — an additive incremental read
    // cannot express that (no row-kinded retraction here)
    require(delta.forall(_.kind != "dv"),
      s"readIncremental on $schema.$table crosses a deletion-vector " +
        "commit — deletions have no additive delta; compact() first or " +
        "use a primary-key table for CDC")
    resolveFrames(schema, table, m, delta).getOrElse(emptyFrame(m))
  }

  /**
   * Incremental read between two TIMESTAMPS (Paimon's
   * `incremental-between-timestamp` CoreOption, the wall-clock twin of
   * [[readIncremental]]'s snapshot-id form): the delta between the last
   * snapshot committed at/before `fromMillis` and the last committed
   * at/before `toMillis`. Resolution is two scans of the snapshot log's
   * (id, timestampMillis) pairs — one manifest read, no file I/O — then
   * the ordinary O(delta) incremental read. A `fromMillis` predating
   * every commit reads from the beginning; a `toMillis` past the head
   * reads up to it.
   */
  def readIncrementalBetweenTimestamps(schema: String, table: String,
      fromMillis: Long, toMillis: Long): DataFrame = {
    require(fromMillis <= toMillis,
      s"fromMillis $fromMillis > toMillis $toMillis")
    val snaps = snapshots(schema, table)
    def lastAtOrBefore(ts: Long): Long =
      snaps.takeWhile(_.timestampMillis <= ts).lastOption.map(_.id).getOrElse(0L)
    readIncremental(schema, table,
      lastAtOrBefore(fromMillis), lastAtOrBefore(toMillis))
  }

  /**
   * Changelog between two snapshots — the row-kinded delta a CDC-style
   * consumer applies downstream (Paimon's flagship consumption pattern:
   * PK tables read as upsert changelogs). Output: the table's columns
   * plus `_row_kind`:
   *
   *  - append-only tables: every added row as `+I`;
   *  - PK tables: the latest in-range version per changed key — `+U`
   *    (upsert: insert-or-update, undistinguished without the pre-image,
   *    exactly Paimon's default no-changelog-producer semantics) or `-D`
   *    (delete tombstone won: primary-key columns set, the rest null).
   *
   * Cost is O(delta): only file dirs ADDED by in-range snapshots are
   * opened, never the table image. Compaction snapshots (marker written
   * by [[compact]]) rewrite bytes, not content, and are skipped; an
   * [[overwrite]] in range emits its new rows but cannot retract the
   * replaced image (no per-key tombstones exist) — pause changelog
   * consumers across overwrites, as in Paimon's default
   * streaming-read-overwrite behavior.
   */
  def readChangelog(schema: String, table: String, fromSnapshotId: Long,
      toSnapshotId: Long): DataFrame = {
    require(fromSnapshotId <= toSnapshotId,
      s"fromSnapshotId $fromSnapshotId > toSnapshotId $toSnapshotId")
    val m = readManifest(schema, table)
    if (m.primaryKey.nonEmpty)
      requireDeduplicate(m, s"$schema.$table", "readChangelog")
    refuseCrossPartition(m, s"$schema.$table", "readChangelog")
    val delta = changelogEntries(m, schema, table, fromSnapshotId, toSnapshotId)
    val target = changelogSchema(m)
    def emptyChangelog = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], target)
    if (delta.isEmpty) return emptyChangelog
    val pk = m.primaryKey
    if (pk.isEmpty) {
      // Append-only changelog, DV-aware: a deletion-vector commit in
      // range emits `-D` retractions carrying the FULL before image —
      // the DV names (file, pos), the file still holds the bytes (DVs
      // never rewrite), so the image resolves by position from exactly
      // the touched files (dvIndex), never a table scan. Paimon's DV
      // tables serve changelog consumers the same way. Net-zero rows
      // (inserted AND deleted inside the range) are elided: in-range
      // `+I` rows anti-join the in-range DV pairs, and `-D` resolution
      // is restricted to files already visible at `fromSnapshotId`.
      val (dvDelta, dataDelta) = delta.partition(_.kind == "dv")
      val names = m.currentFields.map(_.name)
      val dv = if (dvDelta.isEmpty) None
        else Some(dvFrame(schema, table, dvDelta))
      val inserts = unionOption(dirFrames(schema, table, m, dataDelta,
          withMeta = dv.isDefined)).map { base =>
        dv.fold(base)(base.join(_, Seq(DvFileCol, DvPosCol), "left_anti"))
          .select(names.map(col): _*).withColumn(RowKindCol, lit("+I"))
      }
      val deletes = dv.flatMap { d =>
        val idx = m.dvIndex
        // A dv dir with no dvIndex entry (e.g. a foreign-writer manifest)
        // can't be narrowed to its touched files — fall back to resolving
        // against EVERY before-snapshot file (the semi-join on (file, pos)
        // still picks only the retracted rows), mirroring appendUnion's
        // conservative all-dirty treatment, rather than dropping the
        // retractions while the +I side still anti-joins them.
        val touched: Option[Seq[String]] =
          if (dvDelta.exists(e => !idx.contains(e.dir))) None
          else Some(dvDelta.flatMap(e => idx(e.dir)._1).distinct)
        val beforeEntries: Seq[FileEntry] =
          if (fromSnapshotId == 0) Seq.empty
          else m.snapshot(fromSnapshotId).map(_.files).getOrElse(Seq.empty)
            .filter(_.kind == "data")
        val subsets: Map[FileEntry, Seq[String]] = touched.fold(
            Map.empty[FileEntry, Seq[String]]) { t =>
          beforeEntries.map { fe =>
            val key = dirKey(fe.dir) + "/"
            fe -> t.filter(_.startsWith(key)).sorted.map(r => new Path(
              dirPath(schema, table, fe.dir), r.stripPrefix(key)).toString)
          }.toMap
        }
        unionOption(dirFrames(schema, table, m, beforeEntries, withMeta = true,
            files = subsets))
          .map(_.join(d, Seq(DvFileCol, DvPosCol), "left_semi")
            .select(names.map(col): _*).withColumn(RowKindCol, lit("-D")))
      }
      return (inserts.toSeq ++ deletes.toSeq)
        .reduceOption(_ unionByName _).getOrElse(emptyChangelog)
    }
    // Producer-served fast path (input/lookup): the commits persisted
    // their changelog — when files exactly cover the range, serve them
    // (collapsed to the same newest-wins-per-key form this method
    // computes, so consumers see identical batches either way). `-U`
    // rows are dropped first: upsert mode carries no retraction arm.
    if (m.options.changelogProducer != "none")
      changelogCover(m, fromSnapshotId, toSnapshotId).foreach { dirs =>
        return changelogFrame(schema, table, m, dirs)
          .map(f => collapseUpsertChangelog(m,
            f.filter(col(RowKindCol) =!= "-U"), dirs.size))
          .getOrElse(emptyChangelog)
      }
    // PK tables: latest in-range version per key wins — the same
    // newest-wins rule as merge-on-read, restricted to the delta. The
    // shuffle is O(delta), bounded by the micro-batch, never the table.
    val all = unionOption(dirFrames(schema, table, m, delta))
      .getOrElse(return emptyChangelog)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(pk.map(col): _*).orderBy(newestFirst(m): _*)
    all.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .withColumn(RowKindCol,
        org.apache.spark.sql.functions.when(col("__del"), "-D").otherwise("+U"))
      .drop("__ord", "__rn", "__del")
  }

  /**
   * Full changelog between two snapshots — like [[readChangelog]] but
   * with UPDATE_BEFORE images (Paimon's `full-compaction` / `lookup`
   * changelog-producer row kinds), so a downstream consumer maintaining
   * an AGGREGATE (not just a replica) can retract the old contribution
   * before adding the new one:
   *
   *  - `+I` — key did not exist at `fromSnapshotId` (a true insert,
   *    distinguishable here because the before image is consulted);
   *  - `-U`/`+U` — retraction pair for an updated key: the row as of
   *    `fromSnapshotId`, then the new version (pair them by key);
   *  - `-D` — deleted key, carrying the full before image (not the
   *    pk-only tombstone of upsert mode).
   *
   * Cost: O(delta) for the new side plus ONE merge-on-read scan of the
   * table at `fromSnapshotId` for the before image (a read-time lookup —
   * Paimon pays this at write time in the `lookup` producer and at
   * compaction in `full-compaction`; a snapshot reader must pay it on
   * read). The two sides meet in a single left equi-join on the primary
   * key; per-row output is a ≤2-element exploded array, so the whole
   * plan stays codegen. PK deduplicate-engine tables only (the before
   * image is the resolved prior version; append-only tables have no
   * before image — use [[readChangelog]]).
   */
  def readChangelogFull(schema: String, table: String, fromSnapshotId: Long,
      toSnapshotId: Long): DataFrame = {
    require(fromSnapshotId <= toSnapshotId,
      s"fromSnapshotId $fromSnapshotId > toSnapshotId $toSnapshotId")
    val m = readManifest(schema, table)
    val pk = m.primaryKey
    require(pk.nonEmpty, s"$schema.$table is append-only — full changelog " +
      "needs a primary-key table (no before image exists); use readChangelog")
    refuseCrossPartition(m, s"$schema.$table", "readChangelogFull")
    // Producer-served fast path: lookup tables persisted full retraction
    // pairs at every commit, full-compaction tables at every compact —
    // when the files exactly cover the range, serve them with NO
    // before-image join (the whole point of paying the resolve at write:
    // N consumers × M batches read files, the join ran once). `input`
    // files carry no before images, so full mode falls through to the
    // read-time resolve there. Checked BEFORE the engine dispatch: a
    // field-wise table's producer files are resolved-image pairs too.
    if (m.options.changelogProducer == "lookup" ||
        m.options.changelogProducer == "full-compaction")
      changelogCover(m, fromSnapshotId, toSnapshotId).foreach { dirs =>
        return changelogFrame(schema, table, m, dirs)
          .map(collapseFullChangelog(m, _, dirs.size))
          .getOrElse(spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            changelogSchema(m)))
      }
    // Field-wise engines (partial-update / aggregation / first-row) CAN
    // serve full changelog — a delta row is a PATCH, not the image, so
    // the after side must be the RESOLVED image, not the in-range winner.
    if (m.options.mergeEngine != "deduplicate")
      return fieldwiseChangelogFull(schema, table, m, fromSnapshotId, toSnapshotId)
    val delta = changelogEntries(m, schema, table, fromSnapshotId, toSnapshotId)
    // unreachable on PK tables (DVs are append-only by construction);
    // on append-only tables a DV commit REMOVES rows, which a +I-only
    // changelog cannot express
    require(delta.forall(_.kind != "dv"),
      s"changelog on $schema.$table crosses a deletion-vector commit — " +
        "position deletes carry no row image to emit as -D; use a " +
        "primary-key table for CDC")
    val target = changelogSchema(m)
    if (delta.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], target)
    val names = m.currentFields.map(_.name)
    // scratch-name reservation, mirroring sortCompact's __range/__z guard
    require(!names.exists(n => n.startsWith("__pre_") || n == "__rn" || n == "__e"),
      s"$schema.$table has columns colliding with readChangelogFull scratch " +
        "names (__pre_*, __rn, __e)")
    // Latest in-range version per key — same newest-wins rule as
    // readChangelog; __del marks keys whose last in-range change is a
    // tombstone.
    val all = unionOption(dirFrames(schema, table, m, delta)).getOrElse(
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], target))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(pk.map(col): _*).orderBy(newestFirst(m): _*)
    val news = all.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__ord", "__rn")
    // Before image: the resolved table at fromSnapshotId (renamed so the
    // join output carries both versions side by side). For BUCKETED
    // tables the lookup is pruned to the buckets the delta touched —
    // bucketed commits materialize `__bucket=k` subdirs, so the changed
    // bucket set is one driver metadata listing per delta dir, ZERO
    // Spark jobs. A small micro-batch against a 4096-bucket 100 TB
    // table then resolves a handful of bucket legs, never the whole
    // image. A delta dir with no bucket children (unknown layout) falls
    // back to every bucket — conservative, never wrong.
    val pre =
      if (fromSnapshotId == 0) emptyFrame(m)
      else m.options.bucket match {
        case Some(n) =>
          val sFrom = m.snapshot(fromSnapshotId).get // checked above
          changedBucketsOf(schema, table, delta.map(_.dir)) match {
            case Some(changed) =>
              bucketedResolve(schema, table, m, sFrom.files, n, Some(changed))
                .getOrElse(emptyFrame(m))
            case None if n >= 1 => // flat delta dir: keep every bucket
              bucketedResolve(schema, table, m, sFrom.files, n,
                  Some(0 until n)).getOrElse(emptyFrame(m))
            case None =>
              // dynamic buckets have no static range to enumerate — the
              // conservative fallback is the UNPRUNED before image, never
              // "no buckets" (0 until -1 would silently empty it)
              read(schema, table, snapshotId = Some(fromSnapshotId))
          }
        case None => read(schema, table, snapshotId = Some(fromSnapshotId))
      }
    pairWithPreImage(m, news, pre)
  }

  /**
   * Pair post-change rows against a before image into full row-kinded
   * changelog rows — shared by the read-time [[readChangelogFull]] and
   * the write-time `lookup` changelog producer (the same resolve, paid
   * once at commit instead of by every consumer). `news`: the table's
   * columns plus a `__del` tombstone flag (tombstone rows carry nulls
   * outside the key/sequence columns); `pre`: the resolved before image.
   */
  private def pairWithPreImage(m: Manifest, news: DataFrame,
      pre: DataFrame): DataFrame = {
    val pk = m.primaryKey
    val names = m.currentFields.map(_.name)
    val preR = pre.select(names.map(c => col(c).as(s"__pre_$c")): _*)
    val joined = news.join(preR,
      pk.map(k => news(k) === col(s"__pre_$k")).reduce(_ && _), "left")
    val preExists = col(s"__pre_${pk.head}").isNotNull // pk never null in stored rows
    def ev(kind: String, fromPre: Boolean) = struct(
      names.map(c => (if (fromPre) col(s"__pre_$c") else col(c)).as(c)) :+
        lit(kind).as(RowKindCol): _*)
    // sequence.field: the in-range winner CHANGES the image only when it
    // beats the before image's sequence (a tie goes to the in-range row —
    // it carries the later commit ordinal; NULL sorts smallest). A late
    // batch that loses the version race produces NO change — emitting a
    // stale -U/+U pair would corrupt aggregate-maintaining consumers.
    val beats = m.options.sequenceField match {
      case Some(sf) => !preExists || col(s"__pre_$sf").isNull ||
        (col(sf).isNotNull && col(sf) >= col(s"__pre_$sf"))
      case None => lit(true)
    }
    joined
      .filter(beats)
      // a key inserted and deleted entirely inside the range is net nothing
      .filter(!col("__del") || preExists)
      .select(explode(
        when(col("__del"), array(ev("-D", fromPre = true)))
          .when(preExists, array(ev("-U", fromPre = true), ev("+U", fromPre = false)))
          .otherwise(array(ev("+I", fromPre = false)))).as("__e"))
      .select((names :+ RowKindCol).map(n => col(s"__e.$n").as(n)): _*)
  }

  // ---- write-time changelog materialization (changelog-producer) ---------

  /** Persisted changelog dirs (dir, write-time schema version) read
    * through [[dirFrames]]: table columns, `_row_kind`, and `__ord`, the
    * carrier's snapshot ordinal; None when there are none. */
  private def changelogFrame(schema: String, table: String, m: Manifest,
      dirs: Seq[(String, Int)]): Option[DataFrame] =
    unionOption(dirFrames(schema, table, m,
      dirs.map { case (d, v) => FileEntry(d, v, "cl") }))
      .map(_.select((m.currentFields.map(_.name) :+ RowKindCol :+ "__ord")
        .map(col): _*))

  /**
   * The persisted changelog dirs that exactly cover `(fromId, toId]`,
   * walked through each carrier's coverage link — or None when any gap
   * could hide a logical change (a data commit without files: overwrite,
   * pre-producer history, a foreign writer). Compaction-kind snapshots
   * in a gap are fine — they change bytes, not content.
   */
  private def changelogCover(m: Manifest, fromId: Long,
      toId: Long): Option[Seq[(String, Int)]] = {
    if (fromId >= toId) return Some(Seq.empty)
    val carriers = m.changelog.toSeq
      .map { case (d, (id, ver, from)) => (id, d, ver, from) }
      .filter { case (id, _, _, _) => id > fromId && id <= toId }
      .sortBy(_._1)
    val kindOf = m.snapshots.map(s => s.id -> s.compaction).toMap
    // snapshot ids are dense ordinals: every id in a gap must be PRESENT
    // (not expired away — an absent id is unknown history, never "no
    // change") and compaction-kind
    def noChange(a: Long, b: Long): Boolean =
      (a + 1 to b).forall(id => kindOf.get(id).contains(true))
    var expected = fromId
    val out = mutable.ArrayBuffer.empty[(String, Int)]
    carriers.foreach { case (id, d, ver, from) =>
      if (from < expected) return None // carrier overlaps the range start
      if (from > expected && !noChange(expected, from)) return None
      out += ((d, ver)); expected = id
    }
    if (expected < toId && !noChange(expected, toId)) return None
    Some(out.toSeq)
  }

  /**
   * Collapse per-commit changelog parts (ordered by snapshot id) to the
   * ≤-one-change-per-key form the read-time resolve emits — exact parity
   * with [[readChangelogFull]]'s collapsed output AND applyChangelog's
   * key-disjoint batch contract, while staying JOIN-FREE (one key-grouped
   * aggregate over O(changelog rows in range)). The first event fixes
   * whether the key existed at range start (its `-U`/`-D` image IS the
   * range-start image); the last event fixes survival and the final
   * image; a key inserted and deleted inside the range nets to nothing.
   * `parts` is [[changelogFrame]]'s union of `carriers` dirs.
   */
  private def collapseFullChangelog(m: Manifest, parts: DataFrame,
      carriers: Int): DataFrame = {
    import org.apache.spark.sql.functions.{min_by, max_by}
    val names = m.currentFields.map(_.name)
    if (carriers == 1) return parts.select((names :+ RowKindCol).map(col): _*)
    val pk = m.primaryKey
    // within one commit a key has at most one logical event; a -U sorts
    // before its +U partner so first/last land on the right halves
    val ordKey = col("__ord") * 2 +
      when(col(RowKindCol) === "-U", lit(0L)).otherwise(lit(1L))
    val ev = struct(col(RowKindCol).as("__k") +: names.map(col): _*)
    val agg = parts.groupBy(pk.map(col): _*)
      .agg(min_by(ev, ordKey).as("__first"), max_by(ev, ordKey).as("__last"))
    val existed = col("__first.__k") =!= "+I"
    val dead = col("__last.__k") === "-D"
    def img(side: String, kind: String) = struct(
      names.map(c => col(s"$side.$c").as(c)) :+ lit(kind).as(RowKindCol): _*)
    // Field-wise engines suppress -U/+U pairs whose images net to zero
    // across the range (a patch applied then reverted) — exact parity
    // with pairResolvedImages' read-time filter. Deduplicate keeps them:
    // its read-time pairWithPreImage emits identical-image pairs too
    // (an upsert that rewrites the same row IS a logical event there).
    val netZero =
      if (m.options.mergeEngine == "deduplicate") lit(false)
      else existed && !dead &&
        (struct(names.map(c => col(s"__first.$c")): _*) <=>
          struct(names.map(c => col(s"__last.$c")): _*))
    agg.filter((existed || !dead) && !netZero) // net-zero in range elides
      .select(explode(
        when(existed && dead, array(img("__first", "-D")))
          .when(existed, array(img("__first", "-U"), img("__last", "+U")))
          .otherwise(array(img("__last", "+I")))).as("__e"))
      .select((names :+ RowKindCol).map(n => col(s"__e.$n").as(n)): _*)
  }

  /** Upsert-mode collapse: the key's LAST in-range event wins (-U rows
    * were already dropped by the caller) — the same newest-wins rule the
    * read-time upsert resolve applies. Join-free. */
  private def collapseUpsertChangelog(m: Manifest, parts: DataFrame,
      carriers: Int): DataFrame = {
    import org.apache.spark.sql.functions.max_by
    val names = m.currentFields.map(_.name)
    if (carriers == 1) return parts.select((names :+ RowKindCol).map(col): _*)
    val pk = m.primaryKey
    val ev = struct(col(RowKindCol).as("__k") +: names.map(col): _*)
    parts.groupBy(pk.map(col): _*)
      .agg(max_by(ev, col("__ord")).as("__last"))
      .select(names.map(c => col(s"__last.$c").as(c)) :+
        col("__last.__k").as(RowKindCol): _*)
  }

  /**
   * Commit-side changelog builder for the `input`/`lookup` producers.
   * Derives the rows from the STAGED dirs just written (one evaluation of
   * the input plan — the committed bytes are the source of truth), so a
   * nondeterministic input frame can never diverge between data and
   * changelog. `input` kinds the rows as written (+I data, -D tombstone
   * — Paimon's input mode trusts the writer's stream to BE the
   * changelog); `lookup` pays the before-image resolve here, ONCE, via
   * [[pairWithPreImage]] — bucket-pruned to the buckets the staged dirs
   * touched on fixed-bucket tables, so a small commit against a 4096-
   * bucket 100 TB table looks up a handful of bucket legs, never the
   * image.
   */
  private[sources] def producerChangelog(schema: String, table: String, m: Manifest,
      producer: String, dataDir: Option[String],
      delDir: Option[String]): Option[DataFrame] = {
    val names = m.currentFields.map(_.name)
    // a staged dir reads like a committed one of its kind (a tombstone
    // dir's non-key columns come back null)
    def stagedBack(d: String, kind: String): DataFrame =
      unionOption(dirFrames(schema, table, m,
          Seq(FileEntry(d, m.currentSchemaVersion, kind))))
        .map(_.select(names.map(col): _*)).getOrElse(emptyFrame(m))
    val ups = dataDir.map(stagedBack(_, "data"))
    val dels = delDir.map(stagedBack(_, "delete"))
    if (ups.isEmpty && dels.isEmpty) return None
    if (producer == "input") {
      val kinded =
        ups.map(_.withColumn(RowKindCol, lit("+I"))).toSeq ++
          dels.map(_.withColumn(RowKindCol, lit("-D")))
      return Some(kinded.reduce(_ unionByName _))
    }
    if (m.options.mergeEngine != "deduplicate") {
      // Field-wise lookup producer: a staged row is a PATCH, so the
      // persisted changelog must carry RESOLVED images on both sides —
      // exactly the pairs fieldwiseChangelogFull computes read-time,
      // materialized once here instead of by every consumer. The before
      // image is the head's resolved rows for the TOUCHED keys only
      // (version frames semi-join the key set BEFORE the fold, so the
      // shuffle is O(touched keys' versions), never table-wide), and the
      // after image folds the staged patch batch onto it with the same
      // engine (associative, so the two-layer fold equals the direct
      // one). A staged tombstone dir (r17 — `<engine>.remove-record-on-
      // delete` routes deleteWhere / `-D` rowkind rows here) removes its
      // keys from the after image; pairResolvedImages' full-outer `-D`
      // arm then emits their before images. Within one snapshot the data
      // and delete dirs are key-disjoint (the commit contract), so the
      // anti-join cannot swallow a same-batch patch.
      val pk = m.primaryKey
      val delKeys = dels.map(_.select(pk.map(col): _*).distinct())
      val keys = (ups.map(_.select(pk.map(col): _*)).toSeq ++ delKeys)
        .reduce(_ unionByName _).distinct()
      val headEs = m.headFiles
      // before-image file I/O is zone-pruned to the files the staged
      // keys can live in (field-wise tables are never bucketed — the
      // create guard pins bucket to deduplicate — so key-bound zones
      // are the pruning lever here, same as the DV rebuild's base scan);
      // the semi-join then cuts rows, not bytes. HEAD tombstone dirs
      // (earlier remove-record-on-delete commits) ride along so the
      // resolve excludes each key's pre-tombstone versions — without
      // them the before image would resurrect deleted keys (tombstone
      // dirs carry no zones, so they union whole — conservative).
      val pre = keyBoundPrunedUnion(schema, table, m,
          headEs.filter(e => e.kind == "data" || e.kind == "delete"), keys, pk)
        .map(v => resolveVersions(m, v.join(keys, pk, "left_semi"),
          tombstones = headEs.exists(_.kind == "delete")))
        .getOrElse(emptyFrame(m))
      val patched = ups match {
        case Some(staged) => resolveVersions(m,
          pre.withColumn("__ord", lit(0L)).unionByName(
            staged.withColumn("__ord", lit(1L))))
        case None => pre
      }
      val after = delKeys.map(patched.join(_, pk, "left_anti"))
        .getOrElse(patched)
      return Some(pairResolvedImages(m, after, pre))
    }
    // lookup: full retraction pairs against the pre-commit image
    val news = (ups.map(_.withColumn("__del", lit(false))).toSeq ++
      dels.map(_.withColumn("__del", lit(true)))).reduce(_ unionByName _)
    val headEntries = m.headFiles
    val pre = m.options.bucket match {
      // fixed buckets AND dynamic (-1): dynamic assignment is STICKY
      // (the .dbidx index routes every later version of a key to its
      // original bucket), so the staged dirs' buckets are exactly where
      // the before images live — same pruning, no index read (r15; the
      // cross-partition case re-assigns on move and is refused from
      // changelog ops at definition anyway, but falls through safely).
      case Some(n) if (n >= 1 || n == -1) && !crossPartition(m) &&
          headEntries.nonEmpty && !headEntries.exists(_.kind == "dv") =>
        // changed buckets from the staged dirs' `__bucket=k` subdirs —
        // one driver listing per staged dir, zero Spark jobs. An
        // unknown/flat staged layout (None) falls through to the
        // unpruned resolve — NEVER to "no buckets" (under dynamic
        // buckets there is no n to enumerate a conservative set from).
        changedBucketsOf(schema, table, (dataDir.toSeq ++ delDir)) match {
          case Some(Nil) => emptyFrame(m)
          case Some(changed) =>
            bucketedResolve(schema, table, m, headEntries, n, Some(changed))
              .getOrElse(emptyFrame(m))
          case None =>
            resolveFrames(schema, table, m, headEntries).getOrElse(emptyFrame(m))
        }
      case _ =>
        resolveFrames(schema, table, m, headEntries).getOrElse(emptyFrame(m))
    }
    Some(pairWithPreImage(m, news, pre))
  }

  /**
   * Full changelog for the FIELD-WISE merge engines (partial-update /
   * aggregation / first-row) — Paimon's full-compaction / lookup
   * changelog-producer semantics for patch tables: a delta row is a
   * PATCH, not an image, so both sides of each retraction pair are
   * RESOLVED images — `-U` the key's resolved row at `fromSnapshotId`,
   * `+U` at `toSnapshotId`. Keys touched in range whose resolved image
   * did not actually change (an all-null patch, an aggregation of zero,
   * a first-row re-insert) emit NOTHING. Keys REMOVED in range (an
   * `<engine>.remove-record-on-delete` tombstone — the changed-key set
   * includes tombstone dirs, whose frames carry the victims' keys) emit
   * `-D` with the full before image through pairResolvedImages'
   * full-outer arm (r17).
   *
   * Cost: the delta files give the changed-key set (O(delta)); each side
   * then pays one resolved read SEMI-JOINED to those keys. That is the
   * read-time price of full images on engines where versions fold —
   * Paimon pays the equivalent at write (lookup producer) or compaction
   * (full-compaction producer); the deduplicate path above pays the same
   * one before-image read.
   */
  private def fieldwiseChangelogFull(schema: String, table: String,
      m: Manifest, fromSnapshotId: Long, toSnapshotId: Long): DataFrame = {
    val pk = m.primaryKey
    val delta = changelogEntries(m, schema, table, fromSnapshotId, toSnapshotId)
    val target = changelogSchema(m)
    // scratch-name collisions are validated by pairResolvedImages below
    val changedKeys = unionOption(dirFrames(schema, table, m, delta))
      .getOrElse(return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], target))
      .select(pk.map(col): _*).distinct()
    val after = read(schema, table, snapshotId = Some(toSnapshotId))
      .join(changedKeys, pk, "left_semi")
    val before = (if (fromSnapshotId == 0) emptyFrame(m)
      else read(schema, table, snapshotId = Some(fromSnapshotId)))
      .join(changedKeys, pk, "left_semi")
    pairResolvedImages(m, after, before)
  }

  /** Pair RESOLVED after/before images per key into `+I` / `-U`,`+U` /
    * `-D` changelog rows with net-zero suppression (images equal
    * null-safe → nothing emitted). The `-D` arm (r17): a key present
    * only in the before image was REMOVED — field-wise engines reach
    * this through `<engine>.remove-record-on-delete` tombstones
    * (deleteWhere / `-D` rowkind rows), and the full-outer join emits
    * its full before image, matching Paimon's full-compaction row
    * kinds. Shared by [[fieldwiseChangelogFull]] (read-time) and the
    * field-wise `lookup` producer (the same pairing paid once at
    * write). */
  private def pairResolvedImages(m: Manifest, after: DataFrame,
      before: DataFrame): DataFrame = {
    val pk = m.primaryKey
    val names = m.currentFields.map(_.name)
    require(!names.exists(n => n.startsWith("__pre_") || n == "__e"),
      "table has columns colliding with changelog scratch names (__pre_*, __e)")
    val preR = before.select(names.map(c => col(c).as(s"__pre_$c")): _*)
    val joined = after.join(preR,
      pk.map(k => after(k) === col(s"__pre_$k")).reduce(_ && _), "full_outer")
    val preExists = col(s"__pre_${pk.head}").isNotNull
    // primary keys are non-null by contract, so a null after-side key
    // marks a pre-only (deleted) row of the full-outer join
    val postExists = after(pk.head).isNotNull
    // net-zero suppression: resolved images equal (null-safe) → no rows
    val changed = !(struct(names.map(col): _*) <=>
      struct(names.map(c => col(s"__pre_$c")): _*))
    def ev(kind: String, fromPre: Boolean) = struct(
      names.map(c => (if (fromPre) col(s"__pre_$c") else col(c)).as(c)) :+
        lit(kind).as(RowKindCol): _*)
    joined
      .filter(!preExists || !postExists || changed)
      .select(explode(
        when(preExists && postExists,
          array(ev("-U", fromPre = true), ev("+U", fromPre = false)))
          .when(postExists, array(ev("+I", fromPre = false)))
          .otherwise(array(ev("-D", fromPre = true)))).as("__e"))
      .select((names :+ RowKindCol).map(n => col(s"__e.$n").as(n)): _*)
  }

  /** The changelog row type: current table columns + `_row_kind`. */
  private[sources] def changelogSchema(m: Manifest): StructType =
    StructType(m.currentFields.map(f =>
      StructField(f.name, TypeMapping.toSparkType(f.trinoType))) :+
      StructField(RowKindCol, org.apache.spark.sql.types.StringType))

  def changelogSchemaOf(schema: String, table: String): StructType =
    changelogSchema(readManifest(schema, table))

  /** File entries ADDED by each non-compaction snapshot in
    * (fromId, toId] — per-snapshot set difference against its immediate
    * predecessor, so an overwrite inside the range contributes only its
    * own dirs and a compaction contributes nothing. */
  private def changelogEntries(m: Manifest, schema: String, table: String,
      fromId: Long, toId: Long): Seq[FileEntry] = {
    val all = m.snapshots
    def exists(id: Long) = id == 0 || all.exists(_.id == id)
    require(exists(fromId), s"no snapshot $fromId for $schema.$table " +
      "(expired snapshots cannot be replayed as changelog)")
    require(exists(toId), s"no snapshot $toId for $schema.$table")
    all.zipWithIndex
      .filter { case (s, _) => s.id > fromId && s.id <= toId && !s.compaction }
      .flatMap { case (_, i) => m.addedAt(i) }
  }

  /**
   * Streaming changelog read — the consumption half Paimon PK tables are
   * built for, as a Structured Streaming source: each micro-batch is
   * [[readChangelog]] over the snapshots committed since the last batch
   * (offset = snapshot id), so PK, bucketed, partitioned, and evolved
   * tables all stream (lifting [[readStream]]'s file-level refusals).
   * Exactly-once: offsets ride the query checkpoint, and a restarted
   * batch recomputes the identical delta because snapshots are immutable
   * — don't [[expireSnapshots]] past a live consumer's committed offset.
   * Pair with [[appendStreamBatch]] on the sink side for end-to-end
   * exactly-once table-to-table CDC.
   */
  def readChangelogStream(schema: String, table: String,
      fromSnapshotId: Long = 0L,
      maxSnapshotsPerTrigger: Option[Int] = None,
      mode: String = "upsert",
      maxRowsPerTrigger: Option[Long] = None,
      consumerId: Option[String] = None,
      scanMode: String = "full",
      fromTimestampMillis: Option[Long] = None,
      consumerIgnoreProgress: Boolean = false): DataFrame = {
    require(mode == "upsert" || mode == "full",
      s"changelog mode must be 'upsert' or 'full', got '$mode'")
    // fail at stream definition, not first micro-batch. Upsert mode needs
    // deduplicate (an in-range PATCH row is not the image on field-wise
    // engines); FULL mode serves every engine — field-wise tables route
    // through fieldwiseChangelogFull's resolved-image pairs.
    val m0 = readManifest(schema, table)
    refuseCrossPartition(m0, s"$schema.$table", "readChangelogStream")
    if (m0.primaryKey.nonEmpty && mode == "upsert")
      requireDeduplicate(m0, s"$schema.$table", "readChangelogStream")
    // deletion-vector commits stream fine: readChangelog resolves each
    // DV batch to full-image `-D` retractions (no refusal needed)
    if (mode == "full")
      require(m0.primaryKey.nonEmpty, s"$schema.$table is append-only — " +
        "full changelog mode needs a primary-key table")
    val r = spark.readStream.format("graft.sources.GraftChangelogProvider")
      .option("warehouse", warehouse)
      .option("schema", schema)
      .option("table", table)
      .option("mode", mode)
      .option("fromSnapshotId", fromSnapshotId.toString)
    maxSnapshotsPerTrigger.foreach(n =>
      r.option("maxSnapshotsPerTrigger", n.toString))
    maxRowsPerTrigger.foreach(n => r.option("maxRowsPerTrigger", n.toString))
    consumerId.foreach(c => r.option("consumerId", c))
    r.option("scanMode", scanMode)
    fromTimestampMillis.foreach(t => r.option("fromTimestampMillis", t.toString))
    if (consumerIgnoreProgress) r.option("consumerIgnoreProgress", "true")
    r.load()
  }

  /**
   * Per-snapshot NEW-row counts in `(fromExclusive, to]`, answered from
   * head dir-level aggregates — one manifest read, zero file I/O. This
   * is what the changelog source's `maxRowsPerTrigger` advisory rate
   * limit plans micro-batch boundaries from (Paimon's
   * scan.max-splits-per-task analog at snapshot granularity): a bulk
   * backfill landing 10⁹ rows in one snapshot is VISIBLE to the planner
   * before the batch is built, instead of discovered mid-execution.
   * Dirs without recorded stats count 0 — the limit is advisory, and
   * correctness never depends on where a batch boundary falls.
   */
  def snapshotDeltaRows(schema: String, table: String, fromExclusive: Long,
      to: Long): Seq[(Long, Long)] = {
    val m = readManifest(schema, table)
    val stats = m.dirStats
    m.snapshots.zipWithIndex.collect {
      case (s, i) if s.id > fromExclusive && s.id <= to =>
        s.id -> m.addedAt(i).filter(_.kind == "data")
          .flatMap(fe => stats.get(fe.dir)).map(_.rows).sum
    }
  }

  /** [[readIncremental]] between two TAGS (Paimon's
    * incremental-between-tags scan). */
  def readIncrementalBetweenTags(schema: String, table: String,
      fromTag: String, toTag: String): DataFrame = {
    val t = tags(schema, table)
    def id(tag: String): Long = t.getOrElse(tag,
      throw new IllegalArgumentException(s"no tag $tag on $schema.$table"))
    readIncremental(schema, table, id(fromTag), id(toTag))
  }
}
