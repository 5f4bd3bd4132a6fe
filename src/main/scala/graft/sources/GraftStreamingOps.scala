package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import GraftCatalog._

/**
 * Streaming sinks and sources over catalog tables — split from
 * GraftCatalog.scala (continuing the r13/r14 seam; behavior unchanged):
 * batchId-idempotent exactly-once appends, streaming near-dup-gated
 * ingest, the lookup-join enrichment sink (quiet-dim cached), the
 * zero-Exchange bucketed lookup, and the file-level readStream source.
 * Same-package trait mixed into [[GraftCatalog]].
 */
trait GraftStreamingOps { self: GraftCatalog =>

  /** Highest streaming batchId committed to this table (-1 = none). */
  def lastStreamBatchId(schema: String, table: String): Long =
    readManifest(schema, table).lastStreamBatchId

  /**
   * Idempotent micro-batch append: commits the batch as one snapshot and
   * records its batchId in the manifest atomically, so a batch replayed
   * after a failure/restart (same checkpoint, same batchId) is skipped
   * instead of committed twice — exactly-once table contents on top of
   * foreachBatch's at-least-once delivery. Returns true iff committed.
   */
  def appendStreamBatch(schema: String, table: String, df: DataFrame,
      batchId: Long): Boolean = {
    if (batchId <= lastStreamBatchId(schema, table)) false
    else { commit(schema, table, Seq(Leg("", "data", df)), streamBatchId = Some(batchId)); true }
  }

  /**
   * Streaming ingestion: append each micro-batch as a catalog snapshot —
   * the Spark-native analog of Paimon's streaming table writes (the
   * reference connector reads tables a Flink stream writes; here the
   * stream and the table store are one system). Returns the started query;
   * each batch becomes one immutable, time-travelable snapshot. Replayed
   * batches (failure/restart) are skipped via [[appendStreamBatch]]'s
   * batchId bookkeeping, so table contents are exactly-once.
   */
  def streamAppend(schema: String, table: String, stream: DataFrame,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty) { appendStreamBatch(schema, table, batch.toDF(), batchId); () }
      }
      .start()

  /**
   * Streaming ingestion WITH cross-batch near-dedup — the end-to-end
   * shape of a deduplicating corpus pipeline: each micro-batch (1) drops
   * exact duplicates within itself (keep-first by id), (2) drops
   * near-duplicates of everything already ingested via
   * [[graft.operators.Dedup.dedupAgainstCorpus]] against the persisted
   * signature table (the corpus text is never re-read — the state table
   * carries hashed shingle sets + signatures), then (3) lands the
   * survivors in `docsTable` and their state in `sigsTable`, each as a
   * batchId-idempotent snapshot. A replayed batch after restart skips
   * whichever of the two appends already committed, so BOTH tables
   * converge exactly-once even if a crash lands between them.
   * Within-batch NEAR-dups (distinct ids, similar text) are deliberately
   * not removed here — both land and the second batch onward dedups
   * against them; run [[graft.operators.Dedup.minhashPairs]] offline if
   * batch-internal near-dedup matters.
   */
  def streamDedupAppend(schema: String, docsTable: String, sigsTable: String,
      stream: DataFrame, checkpointDir: String,
      idCol: String, textCol: String, tau: Double,
      maxBucket: Int = 1024): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty) {
          val unique = {
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(md5(col(textCol).cast("binary"))).orderBy(idCol)
            batch.toDF().withColumn("__rn", row_number().over(w))
              .filter(col("__rn") === 1).drop("__rn")
          }
          val kept = graft.operators.Dedup.dedupAgainstCorpus(unique,
            read(schema, sigsTable), idCol, textCol, tau,
            maxBucket = maxBucket).persist()
          try {
            appendStreamBatch(schema, docsTable, kept, batchId)
            appendStreamBatch(schema, sigsTable,
              graft.operators.Dedup.signatureState(kept, idCol, textCol),
              batchId)
          } finally kept.unpersist()
          ()
        }
      }
      .start()

  /**
   * Streaming LOOKUP JOIN (Paimon's lookup join, the flagship Flink-side
   * consumption pattern, expressed Spark-first): each micro-batch
   * left-joins the arriving rows against the dim table's LATEST
   * merge-on-read image — re-resolved at batch time, so a dim upsert is
   * visible to every later batch. That is the refresh-per-batch point on
   * Paimon's lookup freshness axis (its Flink cache refreshes on a TTL;
   * a micro-batch IS our refresh tick, with no staleness window inside a
   * batch because the join runs against one immutable snapshot).
   * Enriched rows land in `dstTable` batchId-idempotently — exactly-once
   * under restart like every streaming sink here.
   *
   * Scale shape: the dim side broadcasts by default (the lookup-join
   * contract — a dim that doesn't fit an executor should be a bucketed
   * co-located join instead, see [[bucketedJoin]]); with
   * `broadcastDim = false` it degrades to a shuffle join for mid-size
   * dims. The fact stream never re-reads history — each batch pays
   * O(batch) plus the dim resolution.
   */
  def streamLookupAppend(schema: String, dimTable: String, dstTable: String,
      stream: DataFrame, checkpointDir: String, joinKeys: Seq[String],
      broadcastDim: Boolean = true,
      // zero-Exchange route for a BUCKETED dim: each micro-batch row
      // joins inside its key's bucket task — no BroadcastExchange (the
      // dim may exceed executor memory), no shuffle of the dim.
      bucketedDim: Boolean = false): org.apache.spark.sql.streaming.StreamingQuery = {
    // Quiet-dim cache (broadcast route): the dim's resolved MoR image is
    // persisted and keyed by (head snapshot id, manifest commitVersion) —
    // micro-batches between dim commits reuse the cached image instead of
    // re-resolving (and re-broadcasting the merge) every batch; a new dim
    // commit is detected by one manifest read and swaps the cache, so the
    // per-batch freshness contract is unchanged. commitVersion is in the
    // key because snapshot ORDINALS are reused after rollbackTo (the
    // bloom-index cache salts a per-build token for the same reason): a
    // dim rolled back and re-committed to the same head id mid-stream
    // must not serve the stale image. The cache lives for the query's
    // lifetime (unpersisted via a termination listener below) and holds
    // ONE image (the broadcast contract already implies the dim fits in
    // memory). The bucketed route keys its per-bucket legs off the batch,
    // so it re-plans per batch by construction — but its dim I/O is
    // already O(touched buckets). AtomicReference: the micro-batch thread
    // writes it, the listener-bus thread clears it at termination — a
    // plain var would let the listener observe a stale value under the
    // JMM and unpersist the wrong image (leaking the fresh one).
    val cachedDim = new java.util.concurrent.atomic.AtomicReference[
      Option[((Long, Long), DataFrame)]](None)
    val query = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty) {
          val enriched =
            if (bucketedDim) bucketedLookup(schema, dimTable, batch.toDF(), joinKeys)
            else {
              val p = pin(schema, dimTable)
              val dimKey = (p.snapshotId.getOrElse(0L), p.manifest.commitVersion)
              val dim0 = cachedDim.get() match {
                case Some((k, df)) if k == dimKey => df
                case stale =>
                  stale.foreach(_._2.unpersist(blocking = false))
                  GraftCatalog.lookupDimResolves.incrementAndGet()
                  val fresh = read(p)
                    .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
                  // the listener may have cleared the cache concurrently
                  // (query terminating): if the swap loses, release the
                  // image we just persisted instead of leaking it
                  if (!cachedDim.compareAndSet(stale, Some((dimKey, fresh))))
                    fresh.unpersist(blocking = false)
                  fresh
              }
              val dim = if (broadcastDim)
                org.apache.spark.sql.functions.broadcast(dim0) else dim0
              batch.toDF().join(dim, joinKeys, "left")
            }
          appendStreamBatch(schema, dstTable, enriched, batchId)
          ()
        }
      }
      .start()
    // Release the persisted dim image when THIS query stops — without
    // this the blocks outlive the stream for the session's lifetime.
    val streams = spark.streams
    streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.id == query.id) {
          cachedDim.getAndSet(None).foreach(_._2.unpersist(blocking = false))
          streams.removeListener(this)
        }
    })
    query
  }

  /**
   * Zero-Exchange lookup enrichment of a delta-sized frame against a
   * BUCKETED PK dim table: each bucket leg unions the dim bucket's
   * resolved rows with the batch rows whose join keys HASH to that
   * bucket (the write path's own [[bucketExpr]], so the routing can
   * never drift from the layout) and joins them IN-TASK — no
   * BroadcastExchange (the dim may exceed executor memory) and no
   * shuffle Exchange (the bucket layout is the co-location), the same
   * contract as [[bucketedJoin]]. Per-leg dim I/O is bucket k's files
   * only; the batch side of each leg is a narrow filter over the
   * (micro-batch-sized) frame. Output: every batch column, then the
   * dim's value columns (left join; duplicate batch keys each probe
   * independently).
   */
  def bucketedLookup(schema: String, dimTable: String, batch: DataFrame,
      joinKeys: Seq[String]): DataFrame = {
    val m = readManifest(schema, dimTable)
    val n = m.options.bucket.getOrElse(
      throw new IllegalArgumentException(s"$schema.$dimTable is not bucketed"))
    require(n >= 1, "dynamic-bucket dims have no static hash contract — " +
      "bucketed lookup requires a fixed bucket count")
    val dSchema = currentSchema(m)
    val pk = m.primaryKey
    require(joinKeys.length == pk.length &&
      joinKeys.map(k => batch.schema(k).dataType) == pk.map(dSchema(_).dataType),
      s"join keys $joinKeys are not hash-compatible with ${dimTable}'s " +
        s"primary key $pk (column count/types must match)")
    val dVal = dSchema.fields.filterNot(f => pk.contains(f.name)).toSeq
    dVal.foreach(f => require(!batch.columns.contains(f.name),
      s"dim column ${f.name} collides with a batch column"))
    val bCols = batch.schema.fields.toSeq
    val outSchema = StructType(bCols ++ dVal.map(_.copy(nullable = true)))
    val names = "__side" +: (pk.indices.map(i => s"__k$i") ++
      bCols.map(f => s"__l_${f.name}") ++ dVal.map(f => s"__r_${f.name}"))
    val leftOutIdx = Array.tabulate(bCols.length)(i => 1 + pk.length + i)
    val rightStart = 1 + pk.length + bCols.length
    val legs = (0 until n).map { k =>
      val lb = batch.filter(bucketExpr(joinKeys, n) === k)
      val taggedL = lb.select(lit(0) +: (joinKeys.map(col) ++
          bCols.map(f => col(f.name)) ++
          dVal.map(f => lit(null).cast(f.dataType))): _*).toDF(names: _*)
      val taggedR = readBucket(schema, dimTable, k)
        .select(lit(1) +: (pk.map(col) ++
          bCols.map(f => lit(null).cast(f.dataType)) ++
          dVal.map(f => col(f.name))): _*).toDF(names: _*)
      GraftCatalog.joinBucketInTask(taggedR.unionByName(taggedL).coalesce(1),
        pk.length, leftOutIdx, rightStart, dVal.length,
        leftOuter = true, outSchema)
    }
    if (legs.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        outSchema)
    else unionAllByName(legs)
  }

  /**
   * Streaming read of an append-only table: a Structured Streaming
   * DataFrame that emits rows as new snapshots commit — the consumer half
   * of Paimon's streaming tables (a downstream job follows the table
   * instead of rescanning it). Built on Spark's file-stream source
   * watching the immutable `snap-*` dirs: snapshots only ever ADD files,
   * so file discovery is exactly snapshot discovery, and the source's
   * checkpointed file log gives exactly-once per file. Combine with
   * [[streamAppend]] on the producer side for an end-to-end exactly-once
   * table-to-table pipeline.
   *
   * Restrictions (refused, not silently wrong — [[readChangelogStream]]
   * serves every refused shape at snapshot granularity): PK tables
   * (merge-on-read resolution is a table-level, not file-level,
   * operation), partitioned tables (partition values live in dir names
   * the glob stream cannot resolve), and evolved tables (the file source
   * applies one fixed schema). The followed table must stay pure-append
   * while streamed: [[compact]] and [[overwrite]] rewrite rows into
   * fresh dirs (the old dirs stay on disk for time travel), which a
   * file-level follower would re-emit.
   */
  def readStream(schema: String, table: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val m = readManifest(schema, table)
    require(m.primaryKey.isEmpty,
      s"$schema.$table has a primary key — use readChangelogStream (PK " +
        "tables stream as row-kinded upsert changelogs)")
    require(m.partitionColumns.isEmpty,
      s"$schema.$table is partitioned — partition values live in dir names, " +
        "which the glob file stream cannot resolve; use readChangelogStream")
    require(m.currentSchemaVersion == 0,
      s"$schema.$table has evolved schemas — compact() first or use " +
        "readChangelogStream (it maps schemas by field id)")
    // a DV dir's (file, pos) parquet would match the snap-* glob and be
    // emitted as data; and a delete is not expressible file-level anyway
    require(!m.options.deletionVectors,
      s"$schema.$table has deletion-vectors enabled — file-level " +
        "streaming cannot express deletes; use a primary-key table for CDC")
    val target = StructType(m.currentFields.map(f =>
      StructField(f.name, TypeMapping.toSparkType(f.trinoType))))
    val fmt = m.options.fileFormat
    val reader = spark.readStream.schema(target)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.option("pathGlobFilter", s"*.$fmt").format(providerFor(fmt))
      .load(new Path(tablePath(schema, table), "snap-*").toString)
  }
}
