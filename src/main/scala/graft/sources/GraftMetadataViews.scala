package graft.sources

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import GraftCatalog.BucketCol

/**
 * The `table$snapshots`-style metadata views and ANALYZE (the system
 * tables the reference surfaces through Trino; Paimon: SnapshotsTable /
 * FilesTable / SchemasTable / OptionsTable / StatisticsTable) — split
 * from GraftCatalog.scala along the seam the r13 verdict named (the
 * file is a change-risk concentration; this is the first, lowest-risk
 * extraction: pure readers plus the ANALYZE aggregate, no commit-path
 * logic). Same-package trait mixed into [[GraftCatalog]]; behavior
 * unchanged.
 */
trait GraftMetadataViews { self: GraftCatalog =>


  /** One row per snapshot: id, commit time, commit kind, cumulative +
    * added file dirs. */
  def snapshotsTable(schema: String, table: String): DataFrame = {
    val m = readManifest(schema, table)
    val rows = m.snapshots.zipWithIndex.map { case (s, i) =>
      // set difference, not count difference: overwrite/compact snapshots
      // reference fewer dirs than their predecessor but still ADD dirs
      (s.id, s.timestampMillis, s.commitKind,
        s.files.map(_.dir).distinct.size, m.addedAt(i).map(_.dir).distinct.size)
    }
    spark.createDataFrame(rows).toDF(
      "snapshot_id", "timestamp_millis", "commit_kind", "n_file_dirs", "n_added_dirs")
  }

  /** One row per file dir referenced by the current (or given) snapshot:
    * dir, kind, schema version, part-file count, bytes on disk. */
  def filesTable(schema: String, table: String,
      snapshotId: Option[Long] = None): DataFrame =
    filesTable(pin(schema, table, snapshotId))

  /** [[filesTable]] of a pinned snapshot. */
  def filesTable(p: GraftCatalog.Pin): DataFrame = {
    val (schema, table, m) = (p.schema, p.table, p.manifest)
    // Per-dir file counts/bytes answer from the ZONE SIDECARS (the same
    // manifest tier `$partitions` reads — per-file entries now carry the
    // on-disk length): a 10⁵-file table costs cached sidecar reads, not
    // an O(files) recursive listing per dir. Only dirs WITHOUT complete
    // sidecar stats (tombstone/DV dirs, ORC, pre-bytes manifests) fall
    // back to the filesystem — bounded by those dirs alone, counted by
    // the tripwire below.
    val perFile = fileStatsFrom(schema, table, m)
    val rows = p.entries.map { fe =>
      // retired buckets' subtrees may already be reclaimed from disk —
      // drop their sidecar entries so counts match what a reader plans
      val sidecar = perFile.get(fe.dir)
        .map(_.filter { case (rel, _) =>
          !bucketOfPath(rel).exists(fe.excludeBuckets.contains)
        })
        .filter(fm => fm.nonEmpty && fm.valuesIterator.forall(_.bytes >= 0))
      val (parts, bytes) = sidecar match {
        case Some(fm) => (fm.size, fm.valuesIterator.map(_.bytes).sum)
        case None =>
          GraftCatalog.filesTableListings.incrementAndGet()
          val p = dirPath(schema, table, fe.dir)
          // recursive: partitioned dirs nest part-files under col=value/
          val files = FileStats.filesUnder(fs, p, FileStats.DataFileExts)
          (files.size, files.map(_._2.getLen).sum)
      }
      (fe.dir, fe.kind, fe.schemaVersion, parts, bytes,
        fe.excludeBuckets.mkString(","))
    }
    spark.createDataFrame(rows).toDF(
      "file_dir", "kind", "schema_version", "n_part_files", "size_bytes",
      "retired_buckets")
  }

  /**
   * One row per partition of the current (or given) snapshot: partition
   * value(s), live file count, bytes on disk, and footer row count — the
   * per-partition operational view a warehouse operator reaches for
   * (Paimon's `$partitions` table; record_count/file_size_in_bytes/
   * file_count there come from manifest stats the same way). Partition
   * identity is the `col=value` subdir path: identity-partitioned tables
   * group by their partition columns, bucketed PK tables by `__bucket=k`,
   * unpartitioned tables collapse to one row with partition ''.
   *
   * Counts are FILE-level (pre-merge): on a MoR-pending PK table the row
   * count includes superseded versions, and tombstone dirs are reported
   * under kind='delete' rows so the operator can see compaction debt.
   * Row counts come from the manifest tier's per-file zone SIDECARS
   * (token-cached, 16-way-parallel cold loads — the footer row counts
   * every commit already recorded), so the view costs one metadata
   * LISTING per dir plus cached sidecar reads: a 10⁵-file table answers
   * without a single parquet footer OPEN on the driver. Dirs without
   * sidecar stats (tombstone dirs, pre-sidecar manifests) fall back to
   * per-file footer reads — bounded by those dirs alone.
   */
  def partitionsTable(schema: String, table: String,
      snapshotId: Option[Long] = None): DataFrame =
    partitionsTable(pin(schema, table, snapshotId))

  /** [[partitionsTable]] of a pinned snapshot. */
  def partitionsTable(p: GraftCatalog.Pin): DataFrame = {
    val (schema, table, m, entries) = (p.schema, p.table, p.manifest, p.entries)
    val conf = spark.sparkContext.hadoopConfiguration
    val perFile = fileStatsFrom(schema, table, m)
    val agg = mutable.LinkedHashMap[(String, String), (Long, Long, Long)]()
    entries.foreach { fe =>
      val base = dirPath(schema, table, fe.dir)
      val dirStats = perFile.getOrElse(fe.dir, Map.empty)
      if (fs.exists(base)) {
        val files = FileStats.filesUnder(fs, base, FileStats.DataFileExts)
        files.foreach { case (fileRel, st) =>
          val nm = st.getPath.getName
          val isParquet = nm.endsWith(".parquet")
          val rel = fileRel.split('/').dropRight(1).mkString("/")
          val rows = dirStats.get(fileRel).map(_.rows).getOrElse {
            FileStats.driverFooterReads.incrementAndGet() // tripwire
            if (isParquet) {
              val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
                org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
              try rd.getRecordCount finally rd.close()
            } else if (nm.endsWith(".orc")) {
              val rd = org.apache.orc.OrcFile.createReader(st.getPath,
                org.apache.orc.OrcFile.readerOptions(conf))
              try rd.getNumberOfRows finally rd.close()
            } else {
              // avro: sum per-block record counts from block headers —
              // I/O over the file, zero record decode
              val in = new org.apache.avro.mapred.FsInput(st.getPath, conf)
              val rd = new org.apache.avro.file.DataFileReader(in,
                new org.apache.avro.generic.GenericDatumReader[AnyRef]())
              try {
                var n = 0L
                while (rd.hasNext) { n += rd.getBlockCount; rd.nextBlock() }
                n
              } finally rd.close()
            }
          }
          val key = (rel, fe.kind)
          val (f0, b0, r0) = agg.getOrElse(key, (0L, 0L, 0L))
          agg(key) = (f0 + 1, b0 + st.getLen, r0 + rows)
        }
      }
    }
    val rows = agg.toSeq.map { case ((part, kind), (f, b, r)) =>
      (part, kind, f, b, r) }
    spark.createDataFrame(rows).toDF(
      "partition", "kind", "n_files", "size_bytes", "row_count")
  }

  /**
   * One row per metadata-tier artifact (Paimon's `$manifests` view,
   * reshaped for this layout's hierarchy): retained HEAD versions
   * (`manifest-v<N>.json` — the snapshot-list/manifest-list analog),
   * the per-dir immutable `.zones.json` sidecars the current head points
   * at (manifest-file analog, the O(files × cols) payload), and the
   * `.bloomidx/` sidecar trees. The operator view of commit-metadata
   * weight: what a commit wrote, what expiration reclaims. Driver-side
   * metadata listing only — O(artifacts), no executors.
   */
  def manifestsTable(schema: String, table: String): DataFrame = {
    val tp = tablePath(schema, table)
    val heads = fs.listStatus(tp).toSeq
      .flatMap(st => manifestFileVersion(st.getPath.getName)
        .map(v => ("head", st.getPath.getName, v, st.getLen)))
      .sortBy(_._3)
    val m = readManifest(schema, table)
    val zones = m.zoneSidecarDirs.flatMap { d =>
      val p = new Path(new Path(tp, d), GraftCatalog.ZoneSidecar)
      if (!fs.exists(p)) None
      else Some(("zones", s"$d/${GraftCatalog.ZoneSidecar}", -1L,
        fs.getFileStatus(p).getLen))
    }
    // a dir-keyed sidecar tree, sized when present on disk
    def trees(kind: String, dirs: Iterable[String], sub: String) = dirs.toSeq.flatMap { d =>
      val p = new Path(new Path(tp, d), sub)
      if (!fs.exists(p)) None
      else Some((kind, s"$d/$sub", -1L, fs.getContentSummary(p).getLength))
    }
    val blooms = trees("bloom", m.bloomIdx.keys, BloomIndex.DirName)
    val dynIdxs = trees("dynidx", m.dynIdx.keys, GraftCatalog.DynIdxDir)
    spark.createDataFrame(heads ++ zones.sortBy(_._2) ++
        blooms.sortBy(_._2) ++ dynIdxs.sortBy(_._2))
      .toDF("artifact", "path", "head_version", "size_bytes")
  }

  /** One row per tag: name, pinned snapshot id, snapshot commit time
    * (Paimon's `$tags` table). */
  /**
   * ANALYZE (Paimon's statistics surface — its `$statistics` system
   * table and the stats files a CBO-aware engine plans from): ONE
   * distributed aggregate over the table's resolved image computes, per
   * column, null count, approximate NDV (HLL — deterministic for a fixed
   * dataset), min/max rendered as strings for orderable atomic types,
   * and average byte length for strings/binary; plus the exact row
   * count. The result — O(columns) numbers — lands in the manifest via
   * the ordinary CAS (retry-on-race, like consumer offsets), tagged with
   * the analyzed snapshot id so staleness is visible. Returns that id.
   */
  def analyzeTable(schema: String, table: String): Long = {
    import org.apache.spark.sql.functions.{approx_count_distinct, avg, count,
      length, max => fmax, min => fmin, sum}
    val sid = readManifest(schema, table).headId
    val df = read(schema, table)
    val fields = df.schema.fields.toSeq
    def atomic(dt: org.apache.spark.sql.types.DataType) = dt match {
      case _: NumericType => true
      case org.apache.spark.sql.types.StringType |
           org.apache.spark.sql.types.BooleanType |
           org.apache.spark.sql.types.BinaryType |
           org.apache.spark.sql.types.DateType |
           org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType => true
      case _ => false // complex types: nulls only (no hashable NDV/minmax)
    }
    val aggs = count(lit(1)).as("__rows") +: fields.flatMap { f =>
      val c = col(f.name)
      Seq(sum(when(c.isNull, 1L).otherwise(0L)).as(s"__n_${f.name}")) ++
        (if (atomic(f.dataType))
          Seq(approx_count_distinct(c).as(s"__d_${f.name}"),
            fmin(c).cast("string").as(s"__mn_${f.name}"),
            fmax(c).cast("string").as(s"__mx_${f.name}"))
        else Seq.empty) ++
        (f.dataType match {
          case org.apache.spark.sql.types.StringType |
               org.apache.spark.sql.types.BinaryType =>
            Seq(avg(length(c)).as(s"__l_${f.name}"))
          case _ => Seq.empty
        })
    }
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    def opt[T](name: String): Option[T] =
      if (r.schema.fieldNames.contains(name) && !r.isNullAt(r.fieldIndex(name)))
        Some(r.getAs[T](name)) else None
    val stats = Manifest.Statistics(sid, System.currentTimeMillis(),
      r.getAs[Long]("__rows"), fields.map { f =>
        f.name -> Manifest.ColumnStats(f.dataType.simpleString,
          opt[Long](s"__n_${f.name}"), opt[Long](s"__d_${f.name}"),
          opt[String](s"__mn_${f.name}"), opt[String](s"__mx_${f.name}"),
          opt[java.lang.Double](s"__l_${f.name}").map(_.doubleValue()))
      })
    retryManifestUpdate {
      val mm = readManifest(schema, table)
      mm.putStatistics(stats)
      writeManifest(schema, table, mm)
    }
    sid
  }

  /**
   * ANALYZE statistics for the CBO (r14): exact row count plus per-column
   * (ndv, nulls, avgLen), keyed by lower-cased column name — the numbers
   * [[analyzeTable]] collected, served ONLY when the analyzed snapshot IS
   * the snapshot being scanned (stale statistics would mis-size joins;
   * re-run ANALYZE after ingest, as in Spark's own catalog workflow).
   * These flow into the DSv2 scan's reported Statistics so the optimizer
   * sizes joins from LOGICAL rows/widths, not compressed file bytes, and
   * join selectivity estimation sees NDVs under spark.sql.cbo.enabled.
   */
  def analyzeStatsOf(schema: String, table: String,
      snapshotId: Option[Long] = None, asOfMillis: Option[Long] = None)
      : Option[(Long, Map[String, (Option[Long], Option[Long], Option[Double])])] =
    analyzeStatsOf(pin(schema, table, snapshotId, asOfMillis))

  /** [[analyzeStatsOf]] of a pinned snapshot. */
  def analyzeStatsOf(p: GraftCatalog.Pin)
      : Option[(Long, Map[String, (Option[Long], Option[Long], Option[Double])])] = {
    val (schema, table) = (p.schema, p.table)
    val st = p.manifest.statistics.getOrElse(return None)
    val chosen = p.snapshotId
    if (!chosen.contains(st.snapshotId)) {
      // surfaced, not silent (r16): a stale-stats fallback flips join
      // strategies with nothing in the logs — at 100× scale an operator
      // needs to know WHY a broadcast became a shuffle. `$statistics`
      // carries the same signal as a `stale` column.
      org.slf4j.LoggerFactory.getLogger(getClass).info(
        s"$schema.$table: ANALYZE statistics are STALE (analyzed snapshot " +
          s"${st.snapshotId}, scanning ${chosen.getOrElse(-1L)})" +
          " — planning falls back to file-size estimates; re-run ANALYZE")
      return None
    }
    Some((st.rows, st.cols.map { case (name, c) =>
      name.toLowerCase(java.util.Locale.ROOT) -> ((c.ndv, c.nulls, c.avgLen))
    }.toMap))
  }

  /** `t$statistics`: one row per column from the last [[analyzeTable]]
    * run (empty until analyzed) — column name, type, analyzed snapshot,
    * row/null/ndv counts, min/max, average length, plus `stale` (r16):
    * true when the analyzed snapshot is no longer the table head, i.e.
    * scans are currently planning WITHOUT these numbers (the
    * [[analyzeStatsOf]] gate never serves stale stats). */
  def statisticsTable(schema: String, table: String): DataFrame = {
    val m = readManifest(schema, table)
    val head = m.headId
    val rows: Seq[(String, String, Long, Long, Long, Long, String, String,
        java.lang.Double, Boolean)] = m.statistics.toSeq.flatMap { st =>
      st.cols.map { case (name, c) =>
        (name, c.dataType, st.snapshotId, st.rows, c.nulls.getOrElse(0L),
          c.ndv.getOrElse(0L), c.min.orNull, c.max.orNull,
          c.avgLen.map(Double.box).orNull, st.snapshotId != head)
      }
    }
    spark.createDataFrame(rows).toDF("column_name", "data_type", "snapshot_id",
      "row_count", "null_count", "ndv", "min", "max", "avg_len", "stale")
  }

  def tagsTable(schema: String, table: String): DataFrame = {
    val byId = snapshots(schema, table).map(s => s.id -> s.timestampMillis).toMap
    val rows = tags(schema, table).toSeq.map { case (tag, id) =>
      (tag, id, byId.getOrElse(id, 0L))
    }
    spark.createDataFrame(rows).toDF("tag_name", "snapshot_id", "timestamp_millis")
  }

  /** One row per (schema version, field): the full evolution history. */
  def schemasTable(schema: String, table: String): DataFrame = {
    val m = readManifest(schema, table)
    val rows = m.schemaVersions.toSeq.sortBy(_._1).flatMap { case (v, fields) =>
      fields.map(f => (v, f.id, f.name, f.trinoType, f.comment))
    }
    spark.createDataFrame(rows).toDF(
      "schema_version", "field_id", "field_name", "field_type", "field_comment")
  }

  /** One row per table option (plus partition/primary-key declarations). */
  def optionsTable(schema: String, table: String): DataFrame = {
    val m = readManifest(schema, table)
    val declared = Seq(
      "partition-by" -> m.partitionColumns.mkString(","),
      "primary-key" -> m.primaryKey.mkString(",")).filter(_._2.nonEmpty)
    val rows = declared ++ m.options.raw.toSeq
    spark.createDataFrame(rows).toDF("key", "value")
  }
}
