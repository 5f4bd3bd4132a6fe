package graft.sources

import scala.collection.mutable

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
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
    val snaps = m.get("snapshots").asInstanceOf[ArrayNode]
    val all = (0 until snaps.size()).map(snaps.get)
    val rows = all.indices.map { i =>
      val s = all(i)
      // set difference, not count difference: overwrite/compact snapshots
      // reference fewer dirs than their predecessor but still ADD dirs
      val commitKind =
        if (s.has("commitKind")) s.get("commitKind").asText()
        else if (s.has("compaction")) "compact" // pre-r5 manifests
        else "append"
      (s.get("id").asLong(), s.get("timestampMillis").asLong(), commitKind,
        filesOf(s).map(_.dir).distinct.size, addedEntries(all, i).map(_.dir).distinct.size)
    }
    spark.createDataFrame(rows).toDF(
      "snapshot_id", "timestamp_millis", "commit_kind", "n_file_dirs", "n_added_dirs")
  }

  /** One row per file dir referenced by the current (or given) snapshot:
    * dir, kind, schema version, part-file count, bytes on disk. */
  def filesTable(schema: String, table: String,
      snapshotId: Option[Long] = None): DataFrame = {
    val m = readManifest(schema, table)
    val snaps = m.get("snapshots").asInstanceOf[ArrayNode]
    val all = (0 until snaps.size()).map(snaps.get)
    val chosen = snapshotId match {
      case Some(id) =>
        val s = all.find(_.get("id").asLong() == id)
        require(s.isDefined, s"no snapshot $id for $schema.$table"); s
      case None => all.lastOption
    }
    // Per-dir file counts/bytes answer from the ZONE SIDECARS (the same
    // manifest tier `$partitions` reads — per-file entries now carry the
    // on-disk length): a 10⁵-file table costs cached sidecar reads, not
    // an O(files) recursive listing per dir. Only dirs WITHOUT complete
    // sidecar stats (tombstone/DV dirs, ORC, pre-bytes manifests) fall
    // back to the filesystem — bounded by those dirs alone, counted by
    // the tripwire below.
    val perFile = fileStatsFrom(schema, table, m)
    val rows = chosen.map(filesOf).getOrElse(Seq.empty).map { fe =>
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
      snapshotId: Option[Long] = None): DataFrame = {
    val m = readManifest(schema, table)
    val entries = chooseSnapshot(m, schema, table, snapshotId, None)
      .map(filesOf).getOrElse(Seq.empty)
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
    val zones = mutable.ArrayBuffer[(String, String, Long, Long)]()
    if (m.has("dirStats")) {
      val sn = m.get("dirStats").asInstanceOf[ObjectNode]
      sn.fieldNames().forEachRemaining { d =>
        if (sn.get(d).has("filesExt")) {
          val p = new Path(new Path(tp, d), GraftCatalog.ZoneSidecar)
          if (fs.exists(p))
            zones += (("zones", s"$d/${GraftCatalog.ZoneSidecar}", -1L,
              fs.getFileStatus(p).getLen))
        }
      }
    }
    val blooms = mutable.ArrayBuffer[(String, String, Long, Long)]()
    if (m.has("bloomIdx")) {
      val bn = m.get("bloomIdx").asInstanceOf[ObjectNode]
      bn.fieldNames().forEachRemaining { d =>
        val p = new Path(new Path(tp, d), BloomIndex.DirName)
        if (fs.exists(p))
          blooms += (("bloom", s"$d/${BloomIndex.DirName}", -1L,
            fs.getContentSummary(p).getLength))
      }
    }
    val dynIdxs = mutable.ArrayBuffer[(String, String, Long, Long)]()
    if (m.has("dynIdx")) {
      val dn = m.get("dynIdx").asInstanceOf[ObjectNode]
      dn.fieldNames().forEachRemaining { d =>
        val p = new Path(new Path(tp, d), GraftCatalog.DynIdxDir)
        if (fs.exists(p))
          dynIdxs += (("dynidx", s"$d/${GraftCatalog.DynIdxDir}", -1L,
            fs.getContentSummary(p).getLength))
      }
    }
    spark.createDataFrame(heads ++ zones.toSeq.sortBy(_._2) ++
        blooms.toSeq.sortBy(_._2) ++ dynIdxs.toSeq.sortBy(_._2))
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
    val m = readManifest(schema, table)
    val snaps = m.get("snapshots").asInstanceOf[ArrayNode]
    val sid = if (snaps.size() == 0) 0L
      else snaps.get(snaps.size() - 1).get("id").asLong()
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
    retryManifestUpdate {
      val mm = readManifest(schema, table)
      val st = mm.putObject("statistics")
      st.put("snapshotId", sid)
      st.put("analyzedAtMillis", System.currentTimeMillis())
      st.put("rows", r.getAs[Long]("__rows"))
      val colsNode = st.putObject("cols")
      fields.foreach { f =>
        val cn = colsNode.putObject(f.name)
        cn.put("dataType", f.dataType.simpleString)
        opt[Long](s"__n_${f.name}").foreach(cn.put("nulls", _))
        opt[Long](s"__d_${f.name}").foreach(cn.put("ndv", _))
        opt[String](s"__mn_${f.name}").foreach(cn.put("min", _))
        opt[String](s"__mx_${f.name}").foreach(cn.put("max", _))
        opt[java.lang.Double](s"__l_${f.name}").foreach(d =>
          cn.put("avgLen", d.doubleValue()))
      }
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
      : Option[(Long, Map[String, (Option[Long], Option[Long], Option[Double])])] = {
    val m = readManifest(schema, table)
    if (!m.has("statistics")) return None
    val st = m.get("statistics").asInstanceOf[ObjectNode]
    val chosen = chooseSnapshot(m, schema, table, snapshotId, asOfMillis)
      .map(_.get("id").asLong())
    if (!chosen.contains(st.get("snapshotId").asLong())) {
      // surfaced, not silent (r16): a stale-stats fallback flips join
      // strategies with nothing in the logs — at 100× scale an operator
      // needs to know WHY a broadcast became a shuffle. `$statistics`
      // carries the same signal as a `stale` column.
      org.slf4j.LoggerFactory.getLogger(getClass).info(
        s"$schema.$table: ANALYZE statistics are STALE (analyzed snapshot " +
          s"${st.get("snapshotId").asLong()}, scanning ${chosen.getOrElse(-1L)})" +
          " — planning falls back to file-size estimates; re-run ANALYZE")
      return None
    }
    val colsNode = st.get("cols").asInstanceOf[ObjectNode]
    val cols = mutable.LinkedHashMap[String,
      (Option[Long], Option[Long], Option[Double])]()
    colsNode.fieldNames().forEachRemaining { name =>
      val c = colsNode.get(name).asInstanceOf[ObjectNode]
      cols += name.toLowerCase(java.util.Locale.ROOT) -> ((
        if (c.has("ndv")) Some(c.get("ndv").asLong()) else None,
        if (c.has("nulls")) Some(c.get("nulls").asLong()) else None,
        if (c.has("avgLen")) Some(c.get("avgLen").asDouble()) else None))
    }
    Some((st.get("rows").asLong(), cols.toMap))
  }

  /** `t$statistics`: one row per column from the last [[analyzeTable]]
    * run (empty until analyzed) — column name, type, analyzed snapshot,
    * row/null/ndv counts, min/max, average length, plus `stale` (r16):
    * true when the analyzed snapshot is no longer the table head, i.e.
    * scans are currently planning WITHOUT these numbers (the
    * [[analyzeStatsOf]] gate never serves stale stats). */
  def statisticsTable(schema: String, table: String): DataFrame = {
    val m = readManifest(schema, table)
    val snaps = m.get("snapshots").asInstanceOf[ArrayNode]
    val head = if (snaps.size() == 0) 0L
      else snaps.get(snaps.size() - 1).get("id").asLong()
    val rows: Seq[(String, String, Long, Long, Long, Long, String, String,
        java.lang.Double, Boolean)] =
      if (!m.has("statistics")) Seq.empty
      else {
        val st = m.get("statistics").asInstanceOf[ObjectNode]
        val sid = st.get("snapshotId").asLong()
        val nrows = st.get("rows").asLong()
        val cols = st.get("cols").asInstanceOf[ObjectNode]
        val out = mutable.ArrayBuffer[(String, String, Long, Long, Long, Long,
          String, String, java.lang.Double, Boolean)]()
        cols.fieldNames().forEachRemaining { name =>
          val c = cols.get(name).asInstanceOf[ObjectNode]
          out += ((name, c.get("dataType").asText(), sid, nrows,
            if (c.has("nulls")) c.get("nulls").asLong() else 0L,
            if (c.has("ndv")) c.get("ndv").asLong() else 0L,
            if (c.has("min")) c.get("min").asText() else null,
            if (c.has("max")) c.get("max").asText() else null,
            if (c.has("avgLen")) Double.box(c.get("avgLen").asDouble()) else null,
            sid != head))
        }
        out.toSeq
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
    val rows = schemaVersions(m).toSeq.sortBy(_._1).flatMap { case (v, fields) =>
      fields.map(f => (v, f.id, f.name, f.trinoType, f.comment))
    }
    spark.createDataFrame(rows).toDF(
      "schema_version", "field_id", "field_name", "field_type", "field_comment")
  }

  /** One row per table option (plus partition/primary-key declarations). */
  def optionsTable(schema: String, table: String): DataFrame = {
    val m = readManifest(schema, table)
    val declared = Seq(
      "partition-by" -> partitionColumns(m).mkString(","),
      "primary-key" -> primaryKey(m).mkString(",")).filter(_._2.nonEmpty)
    val rows = declared ++ optionsOf(m).raw.toSeq
    spark.createDataFrame(rows).toDF("key", "value")
  }
}
