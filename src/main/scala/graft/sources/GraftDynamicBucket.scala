package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import GraftCatalog._

/**
 * Dynamic-bucket mode (Paimon's `bucket = -1`) — split from
 * GraftCatalog.scala (continuing the r13/r14 seam; behavior unchanged):
 * the key→bucket hash index (`.dbidx` parquet deltas + fold), routing
 * for upserts/tombstones, point lookups, and the cross-partition global
 * residence index. Same-package trait mixed into [[GraftCatalog]].
 */
trait GraftDynamicBucket { self: GraftCatalog =>

  // ---- dynamic bucket (Paimon's bucket = -1) -----------------------------

  private def dynIdxSchema = StructType(Seq(
    StructField("__kh", org.apache.spark.sql.types.LongType),
    StructField("__b", org.apache.spark.sql.types.IntegerType)))

  /** Cross-partition upsert mode (Paimon's partitioned PK table whose
    * primary key does NOT contain the partition columns — legal only
    * under dynamic bucket): the index tracks each key's current
    * partition and upserts may MOVE a key, tombstoning its old
    * residence. */
  private[sources] def crossPartition(m: Manifest): Boolean = {
    val parts = m.partitionColumns
    val pk = m.primaryKey
    parts.nonEmpty && pk.nonEmpty && !parts.forall(pk.contains)
  }

  /** Index storage columns for a cross-partition table's partition
    * values: POSITIONAL names (`__p0`, `__p1`, …) so a partition-column
    * rename never strands old `.dbidx` files (the partitions list keeps
    * its order across renames). */
  private def dynIdxPartFields(m: Manifest): Seq[StructField] = {
    val byName = m.currentFields.map(f => f.name -> f).toMap
    m.partitionColumns.zipWithIndex.map { case (c, i) =>
      StructField(s"__p$i", TypeMapping.toSparkType(byName(c).trinoType))
    }
  }

  private def dynIdxSchemaFor(m: Manifest): StructType =
    if (!crossPartition(m)) dynIdxSchema
    else StructType(dynIdxSchema.fields ++ dynIdxPartFields(m))

  /**
   * The persisted key→bucket hash index of a dynamic-bucket table
   * (Paimon's dynamic-bucket hash index files): a DataFrame of
   * `(__kh = xxhash64(primary key), __b = bucket)`, the union of the
   * immutable per-commit `.dbidx` parquet deltas inside every data dir
   * the CURRENT snapshot references and the manifest flags. Deltas are
   * key-disjoint by construction — a commit records only the keys it
   * newly assigned; compaction re-records the live fold in its own dir,
   * so expired pre-compact dirs take their deltas with them safely.
   * O(keys) bytes read DISTRIBUTED, never collected to the driver.
   */
  private def readDynamicIndex(schema: String, table: String,
      m: Manifest): DataFrame = {
    val flagged = m.dynIdx
    val dirs: Seq[String] = m.headFiles.filter(fe =>
      (fe.kind == "data" || fe.kind == "idx") && flagged.contains(fe.dir)).map(_.dir)
    val idxSchema = dynIdxSchemaFor(m)
    if (dirs.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        if (!crossPartition(m)) idxSchema
        else StructType(idxSchema.fields :+
          StructField("__io", org.apache.spark.sql.types.LongType)))
    else {
      val raw = spark.read.schema(idxSchema).parquet(
        dirs.map(d => new Path(dirPath(schema, table, d),
          DynIdxDir).toString): _*)
      if (!crossPartition(m)) raw
      else
        // Cross-partition deltas are NOT key-disjoint: a move RE-RECORDS
        // its key with the new partition, superseding the older entry.
        // Stamp each row with its dir ordinal (from the immutable
        // `snap-<id>` path segment) so callers resolve latest-wins; the
        // plain-bucket contract (disjoint deltas) stays stamp-free.
        raw.withColumn("__io",
          org.apache.spark.sql.functions.regexp_extract(
            col("_metadata.file_path"), "/snap-(\\d+)", 1).cast("long"))
    }
  }

  /** Number of `.dbidx` delta dirs the CURRENT snapshot's index reads
    * union — the fragmentation metric the index-only fold triggers on. */
  def dynIdxDeltaCount(schema: String, table: String): Int = {
    val m = readManifest(schema, table)
    val flagged = m.dynIdx
    m.headFiles.count(fe => flagged.contains(fe.dir))
  }

  /**
   * Index-only fold for dynamic-bucket tables — the minor-compaction
   * analog for the key→bucket hash index. Streaming ingest lands one
   * immutable `.dbidx` delta per commit, so routing reads fragment to
   * O(commits) files between full compactions; this folds the CURRENT
   * live assignment set into a single consolidated delta carried by an
   * index-only snapshot dir (kind "idx") and rebuilds the manifest flag
   * to it alone. O(live keys) read+write, ZERO data bytes rewritten;
   * superseded index-only dirs leave the file list and reclaim on
   * expiration. Auto-triggered after data commits once
   * `dynamic-bucket.index-fold.deltas` (default 32; 0 disables) deltas
   * accumulate. Cross-partition tables fold latest-wins (the new dir's
   * ordinal supersedes every prior record). Derived-content commit: a
   * concurrent write aborts it loudly rather than losing assignments.
   * Returns the fold snapshot id, or -1 when there is nothing to fold.
   */
  def foldDynamicBucketIndex(schema: String, table: String): Long = {
    val m = readManifest(schema, table)
    require(m.options.bucket.contains(-1),
      s"$schema.$table is not a dynamic-bucket table")
    if (dynIdxDeltaCount(schema, table) <= 1) return -1L
    val idx = readDynamicIndex(schema, table, m)
    val folded =
      if (!crossPartition(m)) idx // key-disjoint: the fold IS the union
      else dynIdxLatest(m, idx) // resolve moves; new ordinal re-stamps
    val keys = folded.count()
    if (keys == 0) return -1L
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      currentSchema(m))
    commit(schema, table, Seq(Leg("", "idx", empty, index = Some((folded, keys)))),
      basis = Some(m.commitVersion), compaction = true)
  }

  /** Latest index record per key of a cross-partition table — apply
    * AFTER any batch-key semi join so a micro-batch never shuffles the
    * whole index through the latest-wins aggregate. */
  private def dynIdxLatest(m: Manifest, idx: DataFrame): DataFrame = {
    val partIdx = dynIdxPartFields(m).map(_.name)
    val payload = org.apache.spark.sql.functions.struct(
      (col("__io") +: col("__b") +: partIdx.map(col)): _*)
    idx.groupBy("__kh")
      .agg(org.apache.spark.sql.functions.max(payload).as("__best"))
      .select(col("__kh") +: col("__best.__b").as("__b") +:
        partIdx.map(p => col(s"__best.$p").as(p)): _*)
  }

  /**
   * Route a dynamic-bucket commit through the hash index — Paimon's
   * dynamic-bucket assigner, expressed as joins: existing keys go to
   * their recorded bucket; NEW keys (data commits only) fill the
   * lowest-numbered buckets with free capacity up to
   * `dynamic-bucket.target-row-num` assigned keys each, then open fresh
   * buckets. Tombstones for never-assigned keys are no-ops and drop.
   *
   * Scale shape: the batch key set is SIZE-ADAPTIVE — a micro-batch's
   * keys broadcast against the distributed index scan (the index never
   * shuffles), while a bulk backfill / compaction fold (whose "batch"
   * keys are table-sized) falls back to a shuffle join instead of
   * broadcasting a table-sized key set. New-key ranking is a
   * DISTRIBUTED two-phase global rank on backfills (range-shuffle on
   * key hash, per-partition local ranks + O(partitions) collected
   * offsets) — no single-partition window, which beats Paimon's single
   * assigner operator on huge backfills; micro-batches rank in one
   * window.
   *
   * Job shape (r19 single-pass rework): a data commit runs exactly
   * THREE Spark jobs — (1) the batch key set materializes eagerly with
   * its total/data-key counts OBSERVED on the same job, (2) the
   * batch-keyed index subset materializes with its known/known-data
   * counts observed (new-key count = data keys − known data keys, no
   * anti-join job), (3) the new-key assignment materializes with the
   * per-bucket census, free-slot table (a cumulative-capacity window
   * over O(buckets) rows — the exact relational form of the old
   * driver-side fill loop) and rank join all riding one job. The old
   * shape paid separate jobs for the key count, the new-key count and
   * the census collect. Cross-partition commits fold ALL their derived
   * frames (resolved user deletes, move tombstones, index delta) into
   * ONE further tagged-union checkpoint whose per-tag counts are
   * observed — previously three checkpoints plus an isEmpty probe and
   * a delta count. Every checkpoint is eager, so no index lineage
   * survives the commit and caches release deterministically.
   *
   * `fold` (compaction): the returned delta is the full LIVE assignment
   * set — the compacted dir becomes the index's sole basis and dead
   * keys' slots are reclaimed. `reset` (overwrite): the previous index
   * is ignored and every key assigns fresh from bucket 0.
   *
   * Returns (routed main frame, routed delete frame, index delta with
   * its key count — None when the commit assigns nothing new).
   */
  private[sources] def dynamicRoute(schema: String, table: String, m: Manifest,
      df: DataFrame, deleteDf: Option[DataFrame], kind: String,
      fold: Boolean, reset: Boolean):
      (DataFrame, Option[DataFrame], Option[(DataFrame, Long)]) = {
    val pk = m.primaryKey
    val hash = xxhash64(pk.map(col): _*)
    val crossPart = crossPartition(m)
    val partCols = m.partitionColumns
    val fn = org.apache.spark.sql.functions
    /** Read an observed-metrics long, null-safe (empty frames aggregate
      * count to 0 but sums to null). */
    def metric(d: DataFrame, name: String, i: Int): Long = {
      val row = d.queryExecution.observedMetrics(name)
      if (row.isNullAt(i)) 0L else row.getLong(i)
    }
    val index = (if (reset)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          if (!crossPart) dynIdxSchema
          else StructType(dynIdxSchemaFor(m).fields :+
            StructField("__io", org.apache.spark.sql.types.LongType)))
      else readDynamicIndex(schema, table, m)).persist()
    // Job 1 — the batch's distinct key set, flagged `__d = 1` when the
    // key appears in the DATA frame (delete-only keys carry 0, so the
    // new-key arithmetic below never counts them). Eager checkpoint;
    // total and data-key counts ride the same job as observed metrics.
    val allKeysPre = unionAllByName(
      df.select(hash.as("__kh"), lit(1).as("__d")) +:
        deleteDf.toSeq.map(_.select(hash.as("__kh"), lit(0).as("__d"))))
      .groupBy("__kh").agg(fn.max(col("__d")).as("__d"))
      .observe("graft_dyn_keys", fn.count(lit(1)).as("n"),
        fn.sum(col("__d")).cast("long").as("nd"))
    val allKeys = allKeysPre.localCheckpoint(true)
    val nKeys = metric(allKeysPre, "graft_dyn_keys", 0)
    val nDataKeys = metric(allKeysPre, "graft_dyn_keys", 1)
    // Size-adaptive join strategy: only hint broadcast when the batch's
    // key set is executor-memory-safe; above the cap (a backfill or a
    // compaction fold routing the whole table) the joins shuffle.
    val bcCap = spark.conf
      .getOption("graft.dynamic-bucket.broadcast-keys")
      .map(_.toLong).getOrElse(DynBroadcastKeys)
    val smallBatch = nKeys <= bcCap
    def sized(d: DataFrame): DataFrame =
      if (smallBatch) fn.broadcast(d) else d
    // Job 2 — the batch-keyed index subset: each known key's recorded
    // bucket (cross-partition: resolved latest-wins to its CURRENT
    // (bucket, partition) — the aggregate runs on the batch-sized
    // subset, never the whole index). The `__d` flag rides through so
    // the known-DATA-key count can be observed on the same job; the
    // new-key count is then nDataKeys − nKnownData, with no anti-join
    // probe job. Skipped entirely on reset (the index is empty).
    val knownSchema = StructType(
      StructField("__kh", org.apache.spark.sql.types.LongType) +:
      StructField("__b", org.apache.spark.sql.types.IntegerType) +:
      (if (crossPart) dynIdxPartFields(m) else Seq.empty) :+
      StructField("__d", org.apache.spark.sql.types.IntegerType))
    val (known, nKnown, nKnownData) =
      if (reset || nKeys == 0) {
        (spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], knownSchema),
          0L, 0L)
      } else {
        val sub = index.join(sized(allKeys), Seq("__kh"))
        val resolved =
          if (!crossPart) sub.select(col("__kh"), col("__b"), col("__d"))
          else {
            // latest-wins per key (moves re-record; newest dir ordinal
            // supersedes) — `__d` is constant per key, max() carries it
            val partIdx = dynIdxPartFields(m).map(_.name)
            val payload = fn.struct(
              (col("__io") +: col("__b") +: partIdx.map(col)): _*)
            sub.groupBy("__kh")
              .agg(fn.max(payload).as("__best"), fn.max(col("__d")).as("__d"))
              .select(col("__kh") +: col("__best.__b").as("__b") +:
                partIdx.map(p => col(s"__best.$p").as(p)) :+ col("__d"): _*)
          }
        val pre = resolved.observe("graft_dyn_known",
          fn.count(lit(1)).as("n"),
          fn.count(when(col("__d") === 1, 1)).as("nd"))
        val ck = pre.localCheckpoint(true)
        (ck, metric(pre, "graft_dyn_known", 0), metric(pre, "graft_dyn_known", 1))
      }
    val nNew = if (kind == "data") nDataKeys - nKnownData else 0L
    var rankCache: Option[DataFrame] = None
    // Job 3 (only when the commit assigns new keys) — the new-key
    // assignment. The per-bucket census, the free-slot table and the
    // rank join all ride this one job: `slots` is the relational form
    // of the old driver fill loop — per bucket, free = max(0, target −
    // assigned), a running-capacity window over O(buckets) rows gives
    // each bucket its global slot range [lo, hi], and new keys join on
    // rank ∈ [lo, hi]. Identical assignment to the loop (buckets fill
    // lowest-first; a bucket with no free capacity contributes an empty
    // range), with no O(buckets) collect to the driver.
    val assignedOpt: Option[DataFrame] =
      if (kind != "data" || nNew == 0) None
      else {
        val target = m.options.dynamicTargetRows
        val newKeys = allKeys.filter(col("__d") === 1)
          .join(sized(known.select("__kh")), Seq("__kh"), "left_anti")
          .select("__kh")
        // Cross-partition deltas may RE-RECORD a key on a move (same
        // bucket, new partition), so census distinct keys per bucket
        // there; plain deltas are key-disjoint and count raw.
        val countsBase = if (crossPart)
          index.select("__kh", "__b").distinct() else index
        val census = countsBase.groupBy("__b")
          .agg(fn.count(lit(1)).as("__c"))
        val extraB = ((nNew + target - 1) / target).toInt
        val allB = census.agg(fn.coalesce(fn.max(col("__b")), lit(-1)).as("__mb"))
          .select(fn.explode(fn.sequence(lit(0),
            col("__mb") + lit(extraB))).as("__b"))
        val slots = allB.join(census, Seq("__b"), "left")
          .select(col("__b"), fn.greatest(lit(0L),
            lit(target) - fn.coalesce(col("__c"), lit(0L))).as("__free"))
          .withColumn("__hi", fn.sum(col("__free")).over(
            org.apache.spark.sql.expressions.Window.orderBy("__b")))
          .withColumn("__lo", col("__hi") - col("__free") + 1)
          .filter(col("__free") > 0 && col("__lo") <= nNew)
        // New-key GLOBAL rank, size-adaptive like the join strategy
        // above. Micro-batches (the broadcast-safe size class) rank in
        // ONE single-partition window — batch-bound by the same
        // contract that lets them broadcast. Backfills rank in TWO
        // distributed phases: range-shuffle on __kh (RangePartitioner
        // gives ascending partitions ascending ids), rank locally
        // WITHIN each partition, then add the exclusive prefix sum of
        // earlier partitions' counts — collected O(shuffle-partitions)
        // rows, never the keys. Both equal rank-by-__kh exactly (hashes
        // are distinct and totally ordered; DynamicBucketSpec asserts
        // route parity), so assignment stays deterministic — and no
        // single-partition window bottlenecks a billion-new-key
        // backfill.
        val ranked =
          if (nNew <= bcCap)
            newKeys.withColumn("__rank", row_number().over(
              org.apache.spark.sql.expressions.Window.orderBy("__kh"))
              .cast("long"))
          else {
            val ranked0 = newKeys.repartitionByRange(col("__kh"))
              .withColumn("__pid", fn.spark_partition_id())
              .withColumn("__lr", row_number().over(
                org.apache.spark.sql.expressions.Window
                  .partitionBy("__pid").orderBy("__kh")))
              .persist()
            rankCache = Some(ranked0)
            val pidCounts = ranked0.groupBy("__pid")
              .agg(fn.count(lit(1)).as("c"))
              .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
            val offsets = pidCounts.keys.toSeq.sorted.foldLeft(
              (Map.empty[Int, Long], 0L)) { case ((acc, run), pid) =>
              (acc + (pid -> run), run + pidCounts(pid))
            }._1
            val offDf = spark.createDataFrame(offsets.toSeq)
              .toDF("__pid", "__off")
            ranked0
              .join(fn.broadcast(offDf), Seq("__pid"))
              .withColumn("__rank", col("__off") + col("__lr"))
          }
        Some(ranked
          .join(fn.broadcast(slots),
            col("__rank") >= col("__lo") && col("__rank") <= col("__hi"))
          .select(col("__kh"), col("__b"))
          .localCheckpoint(true))
      }
    rankCache.foreach(_.unpersist())
    index.unpersist()
    // The full assignment is the union of two eagerly-checkpointed
    // frames — no further materialization job, and no index lineage.
    val asg = assignedOpt match {
      case Some(a) => known.select("__kh", "__b").unionByName(a)
      case None => known.select("__kh", "__b")
    }
    val nAsg = nKnown + nNew
    def route(frame: DataFrame): DataFrame = {
      val cols = frame.columns
      // |asg| <= |allKeys| — the same size class, so reuse the decision
      frame.withColumn("__kh", hash)
        .join(sized(asg), Seq("__kh"))
        .select((cols.map(col) :+ col("__b").as(BucketCol)): _*)
    }
    if (!crossPart) {
      val delta: Option[(DataFrame, Long)] =
        if (kind != "data") None
        else if (fold || reset) {
          if (nAsg == 0) None else Some((asg, nAsg))
        }
        else assignedOpt.map(a => (a, nNew))
      return (route(df), deleteDf.map(route), delta)
    }
    // ---- cross-partition upsert (partition not in primary key) ----------
    // Every tombstone must land in the key's RECORDED partition: user
    // deletes resolve their residence from the index, and a data row
    // whose partition differs from the recorded one is a MOVE — the new
    // image lands in its own partition while a synthesized tombstone
    // kills the old residence in the SAME atomic snapshot (Paimon's
    // cross-partition update). All joins here are batch-keyed against
    // the already-resolved `known` subset, so a micro-batch stays
    // broadcast-cheap. The three derived frames — resolved user
    // deletes (tag D), move tombstones (tag M) and the index delta
    // (tag X) — union into ONE tagged frame, eagerly local-checkpointed
    // with per-tag counts observed: one job where the old shape paid
    // two checkpoints, an isEmpty probe and a delta count.
    val loc = known
    def sizedLoc(d: DataFrame): DataFrame =
      if (nKnown <= bcCap) fn.broadcast(d) else d
    val oldPartCols = partCols.zipWithIndex.map { case (c, i) =>
      col(s"__p$i").as(c) }
    val pkTypes = {
      val byName = df.schema.fields.map(f => f.name -> f.dataType).toMap
      pk.map(byName)
    }
    val partTypes = dynIdxPartFields(m).map(_.dataType)
    // Normalized leg schema: __tag, __kh, pk..., old partition values
    // (__p<i>), __b, new partition values (__np<i>). Absent columns are
    // typed nulls so the legs union by position-safe names.
    def dLeg: Option[DataFrame] = deleteDf.map { d =>
      d.select(pk.map(col): _*).withColumn("__kh", hash)
        .join(sizedLoc(loc.select(("__kh" +: partCols.indices.map(i => s"__p$i"))
          .map(col): _*)), Seq("__kh"))
        .select(Seq(lit("D").as("__tag"), col("__kh")) ++ pk.map(col) ++
          partCols.indices.map(i => col(s"__p$i")) ++
          Seq(lit(null).cast("int").as("__b")) ++
          partTypes.zipWithIndex.map { case (t, i) =>
            lit(null).cast(t).as(s"__np$i") }: _*)
    }
    val movedPred = partCols.zipWithIndex.map { case (c, i) =>
      !(col(c) <=> col(s"__p$i")) }.reduce(_ || _)
    // Move detection only on incremental data commits: a compaction fold
    // routes the resolved image (residences already current) and a reset
    // starts from an empty index — neither can move a key.
    val detectMoves = kind == "data" && !fold && !reset
    def mLeg: Option[DataFrame] =
      if (!detectMoves) None
      else Some(df.withColumn("__kh", hash)
        .join(sizedLoc(loc), Seq("__kh")).filter(movedPred)
        .select(Seq(lit("M").as("__tag"), col("__kh")) ++ pk.map(col) ++
          partCols.indices.map(i => col(s"__p$i")) ++
          Seq(lit(null).cast("int").as("__b")) ++
          partTypes.zipWithIndex.map { case (t, i) =>
            lit(null).cast(t).as(s"__np$i") }: _*))
    // Index delta: new keys AND moved keys re-record (kh, bucket, new
    // partition); a fold/reset records the full live set. Later records
    // supersede older ones via the read-side `__io` latest-wins. The
    // moved-key set is recomputed inside this leg (same deterministic
    // join as the M leg) so both ride one job.
    def xLeg: Option[DataFrame] =
      if (kind != "data") None
      else {
        val dfLoc = df.select((hash.as("__kh") +: partCols.map(col)): _*)
        val recordKeys: DataFrame =
          if (fold || reset) asg
          else {
            val nk = assignedOpt.getOrElse(spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              dynIdxSchema))
            if (!detectMoves) nk
            else {
              // disjoint by construction: moved keys are known, new aren't
              val mvKeys = df.withColumn("__kh", hash)
                .join(sizedLoc(loc), Seq("__kh")).filter(movedPred)
                .select("__kh")
              nk.unionByName(mvKeys.join(sized(asg), Seq("__kh")))
            }
          }
        Some(recordKeys.join(dfLoc, Seq("__kh"))
          .select(Seq(lit("X").as("__tag"), col("__kh")) ++
            pkTypes.zipWithIndex.map { case (t, i) =>
              lit(null).cast(t).as(pk(i)) } ++
            partTypes.zipWithIndex.map { case (t, i) =>
              lit(null).cast(t).as(s"__p$i") } ++
            Seq(col("__b")) ++ partCols.zipWithIndex.map { case (c, i) =>
              col(c).cast(partTypes(i)).as(s"__np$i") }: _*))
      }
    val legs = Seq(dLeg, mLeg, xLeg).flatten
    val (combined, nDel, nMoved, nRec) =
      if (legs.isEmpty) (None: Option[DataFrame], 0L, 0L, 0L)
      else {
        val pre = unionAllByName(legs)
          .observe("graft_dyn_extras",
            fn.count(when(col("__tag") === "D", 1)).as("d"),
            fn.count(when(col("__tag") === "M", 1)).as("m"),
            fn.count(when(col("__tag") === "X", 1)).as("x"))
        val ck = pre.localCheckpoint(true)
        (Some(ck), metric(pre, "graft_dyn_extras", 0),
          metric(pre, "graft_dyn_extras", 1),
          metric(pre, "graft_dyn_extras", 2))
      }
    val delta: Option[(DataFrame, Long)] =
      if (nRec == 0) None
      else Some((combined.get.filter(col("__tag") === "X")
        .select(col("__kh") +: col("__b") +:
          partCols.indices.map(i => col(s"__np$i").as(s"__p$i")): _*), nRec))
    val routedDel: Option[DataFrame] =
      if (nDel + nMoved == 0) None
      else Some(combined.get.filter(col("__tag") =!= "X")
        .select(pk.map(col) ++ oldPartCols: _*))
    (route(df), routedDel.map(route), delta)
  }

  /**
   * The bucket the index assigns to a concrete primary-key tuple of a
   * DYNAMIC-bucket table — the point-lookup router (the dynamic analog
   * of [[bucketFor]]'s modular hash). None = the key was never assigned,
   * i.e. the table has no such key. One index read with `__kh = v`
   * pushed into the parquet scan (deltas are hash-sorted, so row-group
   * stats skip non-matching files).
   */
  def dynamicBucketFor(schema: String, table: String,
      values: Seq[Any]): Option[Int] =
    dynamicBucketFor(pin(schema, table, None, None), values)

  /** [[dynamicBucketFor]] in a pinned manifest's index. */
  def dynamicBucketFor(p: GraftCatalog.Pin, values: Seq[Any]): Option[Int] = {
    val (schema, table, m) = (p.schema, p.table, p.manifest)
    require(m.options.bucket.contains(-1),
      s"$schema.$table is not a dynamic-bucket table")
    val pk = m.primaryKey
    require(values.length == pk.length, s"expected ${pk.length} pk values")
    val cur = m.currentFields.map(f => f.name -> f.trinoType).toMap
    val row = spark.range(1).select(pk.zip(values).map { case (c, v) =>
      lit(v).cast(TypeMapping.toSparkType(cur(c))).as(c)
    }: _*)
    val kh = row.select(xxhash64(pk.map(col): _*).as("h")).head().getLong(0)
    val hits = readDynamicIndex(schema, table, m).filter(col("__kh") === kh)
    if (!crossPartition(m))
      hits.select("__b").collect().headOption.map(_.getInt(0))
    else
      // superseded move records share the key — latest dir ordinal wins
      hits.orderBy(col("__io").desc).select("__b").collect()
        .headOption.map(_.getInt(0))
  }

  /**
   * A cross-partition key's CURRENT residence: (partition values in
   * declared order, bucket) — the point-lookup against the global index
   * (`__kh = v` pushes into the hash-sorted parquet deltas; the newest
   * record wins, so a moved key reports its new partition). None = the
   * key was never assigned.
   */
  def dynamicLocationFor(schema: String, table: String,
      values: Seq[Any]): Option[(Seq[Any], Int)] = {
    val m = readManifest(schema, table)
    require(crossPartition(m),
      s"$schema.$table is not a cross-partition upsert table — " +
        "use dynamicBucketFor / bucketFor")
    val pk = m.primaryKey
    require(values.length == pk.length, s"expected ${pk.length} pk values")
    val cur = m.currentFields.map(f => f.name -> f.trinoType).toMap
    val row = spark.range(1).select(pk.zip(values).map { case (c, v) =>
      lit(v).cast(TypeMapping.toSparkType(cur(c))).as(c)
    }: _*)
    val kh = row.select(xxhash64(pk.map(col): _*).as("h")).head().getLong(0)
    val nParts = m.partitionColumns.length
    readDynamicIndex(schema, table, m).filter(col("__kh") === kh)
      .orderBy(col("__io").desc).collect().headOption.map { r =>
        ((0 until nParts).map(i => r.get(r.fieldIndex(s"__p$i"))),
          r.getInt(r.fieldIndex("__b")))
      }
  }
}
