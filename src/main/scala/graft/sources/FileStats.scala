package graft.sources

import scala.collection.mutable

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Per-dir column zone maps (min / max / null count + row count), the
 * Spark-native analog of the per-file field stats Paimon manifests carry
 * and the reference connector prunes splits with (the `TupleDomain`
 * handed through `TrinoMetadataBase.applyFilter` reaches Paimon's
 * `SnapshotReader.withFilter`, which skips whole files on manifest
 * min/max — this module gives the same planning-time skip to every
 * catalog scan here).
 *
 * Collection reads only parquet FOOTERS of the files a commit just wrote.
 * The path is SCALE-ADAPTIVE (r18): small commits — at most
 * [[FileStats.DriverMaxFiles]] files, the
 * steady upsert/streaming delta shape — read footers on the driver over a
 * bounded thread pool, because below that count one Spark job LAUNCH
 * costs more than all the KB-scale footer reads it would distribute.
 * Larger commits fan the footer reads out over the executors in one
 * distributed job ([[collectWithFiles]]), so a bulk load landing
 * 10⁴–10⁵ files in one snapshot never serializes footer round-trips on
 * the driver — the commit-side cost Paimon avoids by having its writers
 * emit per-file stats. A sequential driver-side pass ([[collect]]) is
 * kept only as the fallback when no job can run. Driver-side reads count
 * in [[driverFooterReads]] so tests can bound each path (ZonePruneSpec
 * asserts bulk stays distributed). Dirs are immutable, so stats are computed
 * exactly once and ride in the manifest (`dirStats` node) for the dir's
 * lifetime — BOTH per-dir aggregates (cheap planning-time dir skip) and
 * per-file zones (the reference's actual skip unit: Paimon manifests
 * carry per-file field stats, and `TrinoMetadataBase.applyFilter` →
 * `SnapshotReader.withFilter` skips single files on them).
 *
 * Pruning is strictly conservative: a dir/file is skipped only when the
 * zone PROVES no row can match. Columns without usable stats (nested
 * types, decimals, INT96 timestamps, missing footer stats) and predicate
 * shapes the evaluator doesn't model simply keep the dir.
 */
private[graft] object FileStats {

  /** Zone of one column within one dir. `min`/`max` are None when the
    * dir holds no non-null value for the column (then `nulls == rows`
    * unless nulls is unknown). `nulls == -1` means the writer footer did
    * not record null counts. Domain of min/max by column type:
    * Long (integral/date/timestamp-micros), Double, String, Boolean. */
  final case class ColZone(min: Option[Any], max: Option[Any], nulls: Long)

  /** Zone map of one commit dir: exact row count + per-column zones
    * (keyed by lower-cased write-time column name). `bytes` is the
    * on-disk size (file level: that file's length; dir level: sum);
    * -1 = unknown (pre-bytes manifests) — readers fall back to a
    * filesystem listing for those dirs only. */
  final case class DirStats(rows: Long, cols: Map[String, ColZone],
      bytes: Long = -1L)

  /** Type tag for JSON round-trip: l=long, d=double, s=string, b=bool. */
  private def tagOf(v: Any): String = v match {
    case _: Long => "l"
    case _: Double => "d"
    case _: String => "s"
    case _: Boolean => "b"
  }

  // ---- collection (commit-time, footers only) ----------------------------

  private sealed trait Domain
  private case object LongDom extends Domain
  private case object DoubleDom extends Domain
  private case object StringDom extends Domain
  private case object BoolDom extends Domain

  private def domainOf(dt: DataType): Option[Domain] = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType => Some(LongDom)
    case TimestampType | TimestampNTZType => Some(LongDom) // INT64 micros
    case FloatType | DoubleType => Some(DoubleDom)
    case StringType => Some(StringDom)
    case BooleanType => Some(BoolDom)
    case _ => None // decimal/binary/nested: not tracked
  }

  /** Widen a parquet footer min/max value to the column's domain; None
    * when the physical value is not what the domain expects (e.g. INT96
    * timestamps) — the column is then dropped from the zone map. */
  private def widen(dom: Domain, v: AnyRef): Option[Any] = (dom, v) match {
    case (LongDom, i: java.lang.Integer) => Some(i.longValue())
    case (LongDom, l: java.lang.Long) => Some(l.longValue())
    case (DoubleDom, f: java.lang.Float) => Some(f.doubleValue())
    case (DoubleDom, d: java.lang.Double) => Some(d.doubleValue())
    case (StringDom, b: org.apache.parquet.io.api.Binary) =>
      Some(b.toStringUsingUTF8)
    case (BoolDom, b: java.lang.Boolean) => Some(b.booleanValue())
    case _ => None
  }

  private def lt(a: Any, b: Any): Boolean = cmp(a, b) < 0

  /** Zone literals for timestamp columns are micros; accept footer stats
    * only when the file's logical type annotation says MICROS too
    * (TIMESTAMP_MILLIS files would make zones 1000x too small and
    * mis-prune; INT96 has no annotation and is dropped by widen). */
  private def isMicrosTimestamp(
      chunk: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData): Boolean =
    chunk.getPrimitiveType.getLogicalTypeAnnotation match {
      case ts: org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
        ts.getUnit == org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MICROS
      case _ => false
    }

  /** Parse one `col=value` partition-path value into the zone domain of
    * the column's type. None → unparseable, drop the column. */
  private def partitionValue(dom: Domain, dt: DataType, raw: String): Option[Any] = {
    val v = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .unescapePathName(raw)
    try dt match {
      case ByteType | ShortType | IntegerType | LongType => Some(v.toLong)
      case DateType => Some(java.time.LocalDate.parse(v).toEpochDay)
      case FloatType | DoubleType => Some(v.toDouble)
      case StringType => Some(v)
      case BooleanType => Some(v.toBoolean)
      case _ => None
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Footer reads performed on the DRIVER — the bounded small-commit fast
    * path (≤ [[DriverMaxFiles]] files, r18) and
    * the sequential no-job fallback. Bulk commits must never grow this
    * (asserted in ZonePruneSpec: a 1000-file load stays distributed), and
    * the READ/planning paths must never grow it at all (BloomIndexSpec /
    * ManifestScaleSpec tripwires). */
  private[graft] val driverFooterReads = new java.util.concurrent.atomic.AtomicLong

  /** Commits of at most this many files read their footers on the
    * driver; larger ones fan the reads out in one distributed job. */
  private[graft] val DriverMaxFiles = 64

  /** Hadoop Configuration is not Serializable; standard write/readFields
    * envelope so executor tasks can open footers with the session conf. */
  private[sources] class SerConf(@transient var value: Configuration) extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject(); value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject(); value = new Configuration(false); value.readFields(in)
    }
  }

  /**
   * Zone of ONE parquet file: footer min/max/nullCount/rowCount for data
   * columns plus `col=value` zones parsed from the file's partition-path
   * `segments` (partition columns never appear in the file itself; null
   * partitions conservatively drop the column). Pure function of the
   * file — runs in executor tasks ([[collectWithFiles]]) or on the
   * driver ([[collect]] fallback). None = footer unreadable.
   */
  /** Shared mutable-state collector for one file's zones; the
    * parquet/ORC footer walkers feed it, [[toDirStats]] folds it. */
  private final class ZoneAcc {
    var rows = 0L
    val mins = mutable.HashMap[String, Any]()
    val maxs = mutable.HashMap[String, Any]()
    val nulls = mutable.HashMap[String, Long]()
    val sawValue = mutable.HashSet[String]()
    val dropped = mutable.HashSet[String]()
    def see(path: String, mn: Any, mx: Any): Unit = {
      sawValue += path
      if (!mins.contains(path) || lt(mn, mins(path))) mins(path) = mn
      if (!maxs.contains(path) || lt(maxs(path), mx)) maxs(path) = mx
    }
    /** `col=value` partition-path zones (partition columns never appear
      * in the file itself; null partitions conservatively drop). */
    def applySegments(segments: Seq[String], tracked: Map[String, Domain],
        typeByName: Map[String, DataType]): Unit =
      segments.foreach { name =>
        val eq = name.indexOf('=')
        if (eq > 0) {
          val colName = org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils.unescapePathName(name.take(eq)).toLowerCase
          tracked.get(colName).filterNot(_ => dropped.contains(colName)).foreach { _ =>
            val raw = name.drop(eq + 1)
            if (raw == "__HIVE_DEFAULT_PARTITION__") dropped += colName
            else partitionValue(tracked(colName), typeByName(colName), raw) match {
              case Some(v) =>
                nulls.getOrElseUpdate(colName, 0L)
                see(colName, v, v)
              case None => dropped += colName
            }
          }
        }
      }
    def toDirStats(tracked: Map[String, Domain]): DirStats = {
      val cols = tracked.keysIterator.filterNot(dropped.contains).flatMap { p =>
        val nn = nulls.getOrElse(p, -1L)
        if (sawValue.contains(p))
          Some(p -> ColZone(Some(mins(p)), Some(maxs(p)), nn))
        else if (nn >= 0) // all-null column with known null count
          Some(p -> ColZone(None, None, nn))
        else None
      }.toMap
      DirStats(rows, cols)
    }
  }

  private def fileZone(conf: Configuration, absPath: String,
      segments: Seq[String], tracked: Map[String, Domain],
      typeByName: Map[String, DataType]): Option[DirStats] = {
    val acc = new ZoneAcc
    import acc.{mins, maxs, nulls, sawValue, dropped}
    try {
      acc.applySegments(segments, tracked, typeByName)
      val rd = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(absPath), conf))
      try {
        val bi = rd.getFooter.getBlocks.iterator()
        while (bi.hasNext) {
          val block = bi.next()
          acc.rows += block.getRowCount
          val ci = block.getColumns.iterator()
          while (ci.hasNext) {
            val chunk = ci.next()
            val path = chunk.getPath.toDotString.toLowerCase
            tracked.get(path).filterNot(_ => dropped.contains(path)).foreach { dom =>
              val sparkDt = typeByName(path)
              val s = chunk.getStatistics
              if ((sparkDt == TimestampType || sparkDt == TimestampNTZType) &&
                  !isMicrosTimestamp(chunk)) dropped += path
              else if (s == null) dropped += path
              else {
                if (s.isNumNullsSet && nulls.getOrElse(path, 0L) >= 0L)
                  nulls(path) = nulls.getOrElse(path, 0L) + s.getNumNulls
                else nulls(path) = -1L
                if (s.hasNonNullValue) {
                  (widen(dom, s.genericGetMin.asInstanceOf[AnyRef]),
                      widen(dom, s.genericGetMax.asInstanceOf[AnyRef])) match {
                    case (Some(mn), Some(mx)) => acc.see(path, mn, mx)
                    case _ => dropped += path
                  }
                } else if (!s.isNumNullsSet) {
                  // no values AND no null count: nothing usable
                  dropped += path
                }
              }
            }
          }
        }
      } finally rd.close()
    } catch { case scala.util.control.NonFatal(_) => return None }
    Some(acc.toDirStats(tracked))
  }

  /**
   * Zone of ONE ORC file — the same contract as the parquet [[fileZone]],
   * read from the ORC footer's per-column statistics (ORC carries
   * min/max/value counts exactly like parquet, which is why the 13r
   * degradation was a gap, not a design limit). Timestamp columns are
   * conservatively DROPPED: ORC's timestamp statistics are writer-zone
   * sensitive, and a mis-zoned timestamp would mis-prune. Date columns
   * use day-of-epoch (the same Long domain as parquet DATE int32 days);
   * truncated string statistics fall back to the writer's lower/upper
   * bounds, which remain sound zone endpoints.
   */
  private def fileZoneOrc(conf: Configuration, absPath: String,
      segments: Seq[String], tracked: Map[String, Domain],
      typeByName: Map[String, DataType]): Option[DirStats] = {
    val acc = new ZoneAcc
    import acc.{nulls, dropped}
    try {
      acc.applySegments(segments, tracked, typeByName)
      val rd = org.apache.orc.OrcFile.createReader(new Path(absPath),
        org.apache.orc.OrcFile.readerOptions(conf))
      try {
        acc.rows = rd.getNumberOfRows
        val orcSchema = rd.getSchema
        val names = orcSchema.getFieldNames
        val children = orcSchema.getChildren
        val stats = rd.getStatistics
        (0 until names.size()).foreach { i =>
          val path = names.get(i).toLowerCase
          tracked.get(path).filterNot(_ => dropped.contains(path)).foreach { _ =>
            val sparkDt = typeByName(path)
            val cs = stats(children.get(i).getId)
            if (sparkDt == TimestampType || sparkDt == TimestampNTZType)
              dropped += path
            else {
              val nonNull = cs.getNumberOfValues
              // exact for top-level columns: every row has an entry
              if (nulls.getOrElse(path, 0L) >= 0L)
                nulls(path) = nulls.getOrElse(path, 0L) + (acc.rows - nonNull)
              if (nonNull > 0) cs match {
                case s: org.apache.orc.IntegerColumnStatistics =>
                  acc.see(path, s.getMinimum, s.getMaximum)
                case s: org.apache.orc.DoubleColumnStatistics =>
                  acc.see(path, s.getMinimum, s.getMaximum)
                case s: org.apache.orc.StringColumnStatistics =>
                  (Option(s.getMinimum).orElse(Option(s.getLowerBound)),
                    Option(s.getMaximum).orElse(Option(s.getUpperBound))) match {
                    case (Some(mn), Some(mx)) => acc.see(path, mn, mx)
                    case _ => dropped += path
                  }
                case s: org.apache.orc.DateColumnStatistics =>
                  acc.see(path, s.getMinimumDayOfEpoch, s.getMaximumDayOfEpoch)
                case s: org.apache.orc.BooleanColumnStatistics =>
                  acc.see(path, s.getFalseCount == 0L, s.getTrueCount > 0L)
                case _ => dropped += path // unexpected stats shape
              }
            }
          }
        }
      } finally rd.close()
    } catch { case scala.util.control.NonFatal(_) => return None }
    Some(acc.toDirStats(tracked))
  }

  /**
   * Zone of ONE AVRO file — the small-commit driver path's data-read
   * analog of [[fileZone]] (avro files carry no column statistics, so
   * min/max/null counts come from decoding the records themselves; the
   * distributed [[collectFromData]] aggregation computes the same values
   * for bulk commits, and AvroFormatSpec pins the two paths identical).
   * Domain mapping mirrors collectFromData's domCast exactly: integrals
   * widen to long, DATE stays raw epoch days (the int the writer stored,
   * logical-type conversion deliberately not applied), TIMESTAMP is
   * accepted only with a timestamp-micros logical type (millis would
   * make zones 1000× off — dropped, conservative), float/double widen,
   * strings/booleans as-is, TimestampNTZ/decimal/nested untracked.
   */
  private def fileZoneAvro(conf: Configuration, absPath: String,
      segments: Seq[String], tracked: Map[String, Domain],
      typeByName: Map[String, DataType]): Option[DirStats] = {
    val acc = new ZoneAcc
    import acc.{nulls, dropped}
    try {
      acc.applySegments(segments, tracked, typeByName)
      val in = new org.apache.avro.mapred.FsInput(new Path(absPath), conf)
      val rd = org.apache.avro.file.DataFileReader.openReader(in,
        new org.apache.avro.generic.GenericDatumReader[
          org.apache.avro.generic.GenericRecord]())
      try {
        // tracked DATA columns present in this file, by write-time name
        // (partition columns never appear in the file; they came from
        // the path segments above)
        val fields = rd.getSchema.getFields
        val byLower: Map[String, org.apache.avro.Schema.Field] =
          (0 until fields.size()).map(fields.get)
            .map(f => f.name().toLowerCase -> f).toMap
        /** The field's value schema (nullable columns are union[null, T]). */
        def valueSchema(f: org.apache.avro.Schema.Field): org.apache.avro.Schema = {
          val s = f.schema()
          if (s.getType != org.apache.avro.Schema.Type.UNION) s
          else {
            val it = s.getTypes.iterator()
            var out: org.apache.avro.Schema = null
            while (it.hasNext) {
              val t = it.next()
              if (t.getType != org.apache.avro.Schema.Type.NULL) out = t
            }
            if (out == null) s else out
          }
        }
        val cols: Seq[(String, org.apache.avro.Schema.Field, Domain)] =
          tracked.toSeq.flatMap { case (name, dom) =>
            byLower.get(name).map((name, _, dom)) }
        // TIMESTAMP columns: micros logical type only (collectFromData
        // extracts unix_micros; a millis file must not feed 1000×-off
        // zones). DATE ints are epoch days with or without the logical
        // annotation.
        cols.foreach { case (name, f, _) =>
          val dt = typeByName(name)
          if (dt == TimestampType) {
            val lt = Option(valueSchema(f).getLogicalType).map(_.getName)
            if (!lt.contains("timestamp-micros")) dropped += name
          }
        }
        val live = cols.filterNot { case (n, _, _) => dropped.contains(n) }
        var rows = 0L
        while (rd.hasNext) {
          val rec = rd.next()
          rows += 1
          live.foreach { case (name, f, dom) =>
            if (!dropped.contains(name)) {
              val v = rec.get(f.pos())
              if (v == null) nulls(name) = nulls.getOrElse(name, 0L) + 1L
              else {
                nulls.getOrElseUpdate(name, 0L)
                val widened: Option[Any] = (dom, v) match {
                  case (LongDom, i: java.lang.Integer) => Some(i.longValue())
                  case (LongDom, l: java.lang.Long) => Some(l.longValue())
                  case (DoubleDom, fl: java.lang.Float) => Some(fl.doubleValue())
                  case (DoubleDom, d: java.lang.Double) => Some(d.doubleValue())
                  case (StringDom, s: org.apache.avro.util.Utf8) => Some(s.toString)
                  case (StringDom, s: String) => Some(s)
                  case (BoolDom, b: java.lang.Boolean) => Some(b.booleanValue())
                  case _ => None
                }
                widened match {
                  case Some(w) => acc.see(name, w, w)
                  case None => dropped += name
                }
              }
            }
          }
        }
        acc.rows = rows
      } finally rd.close()
    } catch { case scala.util.control.NonFatal(_) => return None }
    Some(acc.toDirStats(tracked))
  }

  /** Fold per-file zones into the dir aggregate. A column survives only
    * when EVERY file tracks it (a file that dropped it proves nothing
    * about its rows); null counts go unknown (-1) if any file's are. */
  private def mergeZones(allFiles: Seq[DirStats]): DirStats = {
    // bytes sum over EVERY file (zero-row files still occupy disk);
    // any unknown poisons the dir total to unknown
    val totalBytes = if (allFiles.exists(_.bytes < 0)) -1L
      else allFiles.map(_.bytes).sum
    // A zero-row file (external writers emit them) tracks no columns and
    // proves nothing about any row — it must not erase the columns every
    // data-carrying file tracks from the intersection below.
    val files = allFiles.filter(_.rows > 0L)
    if (files.isEmpty) return DirStats(0L, Map.empty, totalBytes)
    val rows = files.map(_.rows).sum
    val names = files.map(_.cols.keySet).reduce(_ intersect _)
    val cols = names.iterator.map { n =>
      val zs = files.map(_.cols(n))
      val nn = if (zs.exists(_.nulls < 0)) -1L else zs.map(_.nulls).sum
      val mns = zs.flatMap(_.min)
      val mxs = zs.flatMap(_.max)
      if (mns.isEmpty) n -> ColZone(None, None, nn)
      else n -> ColZone(Some(mns.reduce((a, b) => if (lt(a, b)) a else b)),
        Some(mxs.reduce((a, b) => if (lt(a, b)) b else a)), nn)
    }.collect {
      // a valueless column with unknown null count carries nothing usable
      case (n, z) if z.min.isDefined || z.nulls >= 0 => n -> z
    }.toMap
    DirStats(rows, cols, totalBytes)
  }

  /** List every data file of the given format under `dir` recursively as
    * (relative-path, absolute-path, length) — one metadata listing per
    * dir level, no footer reads. None = dir missing or listing failed. */
  private def listDataFiles(fs: FileSystem, dir: Path,
      fmt: String): Option[Seq[(String, String, Long)]] =
    try {
      if (!fs.exists(dir)) None
      else Some(filesUnder(fs, dir, Seq("." + fmt)).map { case (rel, st) =>
        (rel, st.getPath.toString, st.getLen)
      })
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Name suffixes of the data files of every table format. */
  val DataFileExts: Seq[String] = Seq(".parquet", ".orc", ".avro")

  /** The files under `dir` whose names end in one of `exts`, recursively,
    * as (path relative to `dir`, status), in `listFiles`' depth-first
    * order. A plain `listStatus` walk: the located statuses `listFiles`
    * builds load each file's permissions, which the local filesystem
    * without native Hadoop answers by spawning one `ls` process per file.
    * Throws what the listing throws, a missing `dir` included. */
  def filesUnder(fs: FileSystem, dir: Path,
      exts: Seq[String]): Seq[(String, org.apache.hadoop.fs.FileStatus)] = {
    val qdir = fs.makeQualified(dir).toString
    val out = mutable.ArrayBuffer[(String, org.apache.hadoop.fs.FileStatus)]()
    def walk(d: Path): Unit = fs.listStatus(d).foreach { st =>
      val p = st.getPath
      if (st.isDirectory) walk(p)
      else if (exts.exists(p.getName.endsWith)) {
        out += ((p.toString.stripPrefix(qdir).stripPrefix("/"), st))
      }
    }
    walk(dir)
    out.toSeq
  }

  /**
   * Collect the dir's zone map AND its per-file zones, reading footers in
   * a DISTRIBUTED job (the driver does one listing; executors read the
   * footers — a 10⁵-file bulk-load commit costs one short Spark job, not
   * 10⁵ sequential driver round-trips). Per-file partition segments come
   * from each file's relative path, so the `col=value` zones match the
   * sequential path exactly. Returns None if the dir has no readable
   * stats (any unreadable footer poisons the whole dir — conservative:
   * it is then never pruned). Falls back to the sequential driver pass
   * if the job itself cannot run.
   */
  def collectWithFiles(spark: org.apache.spark.sql.SparkSession, fs: FileSystem,
      dir: Path, schema: StructType,
      fmt: String = "parquet"): Option[(DirStats, Map[String, DirStats])] = {
    val avro = fmt == "avro"
    // Avro files carry no usable column statistics: zones come from the
    // DATA itself. TimestampNTZ stays untracked on every avro path (its
    // epoch extraction would be session-zone-dependent — see
    // collectFromData); the footer formats keep tracking it.
    val tracked: Map[String, Domain] = schema.fields.flatMap(f =>
      if (avro && f.dataType == TimestampNTZType) None
      else domainOf(f.dataType).map(d => f.name.toLowerCase -> d)).toMap
    val typeByName: Map[String, DataType] =
      schema.fields.map(f => f.name.toLowerCase -> f.dataType).toMap
    val files = listDataFiles(fs, dir, fmt) match {
      case None => return None
      case Some(fl) if fl.isEmpty => return Some((DirStats(0L, Map.empty), Map.empty))
      case Some(fl) => fl
    }
    val sc = spark.sparkContext
    val orc = fmt == "orc"
    // Scale-adaptive (r18, guide §1/§2): a footer is a KB-scale metadata
    // read, so below DriverMaxFiles a Spark job LAUNCH costs more
    // than every read it would distribute — small commits (the steady
    // streaming/upsert delta shape) read footers on the driver over a
    // bounded pool, bulk loads keep the distributed job (the 10⁵-file
    // story is unchanged; ZonePruneSpec asserts it stays off the driver).
    // Avro stats are DATA reads, not footer reads, so the driver path is
    // additionally BYTE-capped (r19): below the cap one sequential decode
    // of the just-written bytes costs less than a Spark job launch (and
    // on an object store, a few MB-scale GETs ≈ one job-scheduling round
    // trip); above it the distributed aggregation keeps the bulk-load
    // story. 0 disables the avro driver path entirely.
    val avroDriverMaxBytes =
      try spark.conf.get(
        "spark.graft.commit-stats.driver-max-avro-bytes", "16777216").toLong
      catch { case scala.util.control.NonFatal(_) => 16777216L }
    if (avro && (files.size > DriverMaxFiles ||
        files.map(_._3).sum > avroDriverMaxBytes))
      return collectFromData(spark, fs, dir, schema, fmt)
    if (files.size <= DriverMaxFiles) {
      val hconf = sc.hadoopConfiguration
      def zoneOf(rel: String, abs: String, len: Long): (String, Option[DirStats]) = {
        driverFooterReads.incrementAndGet()
        val segs = rel.split('/').toSeq.dropRight(1)
        rel -> (if (avro) fileZoneAvro(hconf, abs, segs, tracked, typeByName)
          else if (orc) fileZoneOrc(hconf, abs, segs, tracked, typeByName)
          else fileZone(hconf, abs, segs, tracked, typeByName))
          .map(_.copy(bytes = len))
      }
      val perFile: Seq[(String, Option[DirStats])] =
        if (files.size <= 4) files.map((zoneOf _).tupled)
        else {
          val pool = java.util.concurrent.Executors.newFixedThreadPool(
            math.min(files.size, 8))
          try files.map { case (rel, abs, len) =>
            pool.submit(new java.util.concurrent.Callable[(String, Option[DirStats])] {
              override def call(): (String, Option[DirStats]) = zoneOf(rel, abs, len)
            })
          }.map(_.get())
          finally pool.shutdown()
        }
      if (perFile.exists(_._2.isEmpty)) return None
      val fileMap = perFile.map { case (rel, z) => rel -> z.get }.toMap
      return Some((mergeZones(fileMap.values.toSeq), fileMap))
    }
    val conf = new SerConf(sc.hadoopConfiguration)
    val perFile: Seq[(String, Option[DirStats])] =
      try {
        val slices = math.max(1, math.min(files.size, sc.defaultParallelism * 2))
        sc.parallelize(files, slices).map { case (rel, abs, len) =>
          val segs = rel.split('/').toSeq.dropRight(1)
          rel -> (if (orc) fileZoneOrc(conf.value, abs, segs, tracked, typeByName)
            else fileZone(conf.value, abs, segs, tracked, typeByName))
            .map(_.copy(bytes = len))
        }.collect().toSeq
      } catch { case scala.util.control.NonFatal(_) =>
        // no job could run (e.g. stopped context): sequential fallback
        return collect(fs, sc.hadoopConfiguration, dir, schema, fmt)
          .map(_ -> Map.empty)
      }
    if (perFile.exists(_._2.isEmpty)) return None
    val fileMap = perFile.map { case (rel, z) => rel -> z.get }.toMap
    Some((mergeZones(fileMap.values.toSeq), fileMap))
  }

  /**
   * Collect a dir's zone map + per-file zones from the DATA ITSELF in one
   * distributed aggregation job — the write-time stats path for formats
   * whose files carry no usable column statistics (avro). Paimon collects
   * per-file stats at WRITE time into the manifest for every format
   * (SimpleStatsCollector, format-independent); here the commit job pays
   * one re-read of the just-written bytes (O(commit), never O(table)) and
   * feeds the same `.zones.json` sidecars, so avro tables zone-prune,
   * file-skip, metadata-count and serve `$partitions` exactly like
   * parquet/ORC. TimestampNTZ columns are left untracked on this path
   * (their epoch-micros extraction would route through the session zone;
   * untracked = never pruned, conservative).
   */
  def collectFromData(spark: org.apache.spark.sql.SparkSession, fs: FileSystem,
      dir: Path, schema: StructType,
      fmt: String): Option[(DirStats, Map[String, DirStats])] = {
    import org.apache.spark.sql.functions.{col, count, lit, max => fmax,
      min => fmin, sum, when, datediff, unix_micros}
    val files = listDataFiles(fs, dir, fmt) match {
      case None => return None
      case Some(fl) if fl.isEmpty => return Some((DirStats(0L, Map.empty), Map.empty))
      case Some(fl) => fl
    }
    val lenByRel = files.map { case (rel, _, len) => rel -> len }.toMap
    /** Column cast into its zone domain's runtime type — matching what
      * the footer readers store (dates as epoch days, timestamps as
      * epoch micros, integrals widened to long, floats to double). */
    def domCast(f: StructField): Option[org.apache.spark.sql.Column] =
      f.dataType match {
        case TimestampNTZType => None // session-zone-dependent: untracked
        case DateType =>
          Some(datediff(col(f.name), lit(java.sql.Date.valueOf("1970-01-01")))
            .cast("long"))
        case TimestampType => Some(unix_micros(col(f.name)))
        case ByteType | ShortType | IntegerType | LongType =>
          Some(col(f.name).cast("long"))
        case FloatType | DoubleType => Some(col(f.name).cast("double"))
        case StringType | BooleanType => Some(col(f.name))
        case _ => None
      }
    val trackedFs = schema.fields.flatMap(f => domCast(f).map(f.name -> _))
    try {
      val qdir = fs.makeQualified(dir).toString
      // explicit schema + basePath: partition `col=value` segments resolve
      // as typed partition columns without inference coercion (the
      // relationFor contract), so their zones come out as exact points
      // the avro short name is not registered in every environment — use
      // the class name, as GraftCatalog.providerFor does
      val provider =
        if (fmt == "avro") "org.apache.spark.sql.avro.AvroFileFormat" else fmt
      val df = spark.read.schema(schema).format(provider)
        .option("basePath", qdir).load(files.map(_._2): _*)
      val aggs = count(lit(1)).as("__rows") +: trackedFs.toSeq.flatMap {
        case (n, c) => Seq(fmin(c).as(s"__mn_$n"), fmax(c).as(s"__mx_$n"),
          sum(when(col(n).isNull, 1L).otherwise(0L)).as(s"__nl_$n"))
      }
      val rows = df.groupBy(col("_metadata.file_path").as("__f"))
        .agg(aggs.head, aggs.tail: _*).collect() // one row per file
      // `_metadata.file_path` is Spark's URL-ENCODED SparkPath rendering
      // (a partition value with a space or '%' encodes differently from
      // the decoded Hadoop-Path strings listDataFiles rels use). Key the
      // group rows back to rels through an explicit map over BOTH
      // renderings of each listed file, never by prefix-stripping the
      // decoded dir off an encoded path.
      val relByPath: Map[String, String] = files.flatMap {
        case (rel, abs, _) =>
          Seq(abs -> rel, new Path(abs).toUri.toString -> rel)
      }.toMap
      val statByRel: Map[String, DirStats] = rows.map { r =>
        val got = r.getString(0)
        val rel = relByPath.getOrElse(got,
          got.stripPrefix(qdir).stripPrefix("/"))
        val cols = trackedFs.flatMap { case (n, _) =>
          val mn = Option(r.get(r.fieldIndex(s"__mn_$n")))
          val mx = Option(r.get(r.fieldIndex(s"__mx_$n")))
          val nulls = r.getLong(r.fieldIndex(s"__nl_$n"))
          Some(n.toLowerCase -> ColZone(mn, mx, nulls))
        }.toMap
        rel -> DirStats(r.getLong(r.fieldIndex("__rows")), cols,
          bytes = lenByRel.getOrElse(rel, -1L))
      }.toMap
      // a zero-row file produces no aggregate group: give it an empty
      // zone (never pruned, counts 0) so per-file coverage stays total
      val fileMap = statByRel ++ files.collect {
        case (rel, _, len) if !statByRel.contains(rel) =>
          rel -> DirStats(0L, Map.empty, bytes = len)
      }
      Some((mergeZones(fileMap.values.toSeq), fileMap))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /**
   * Sequential DRIVER-side aggregation — the fallback for files no write
   * job produced (externally-written dirs, stopped contexts). The commit
   * path uses [[collectWithFiles]] instead; [[driverFooterReads]] counts
   * this path's reads so tests can prove commits never take it.
   */
  def collect(fs: FileSystem, conf: Configuration, dir: Path,
      schema: StructType, fmt: String = "parquet"): Option[DirStats] = {
    val tracked: Map[String, Domain] = schema.fields.flatMap(f =>
      domainOf(f.dataType).map(d => f.name.toLowerCase -> d)).toMap
    val typeByName: Map[String, DataType] =
      schema.fields.map(f => f.name.toLowerCase -> f.dataType).toMap
    val files = listDataFiles(fs, dir, fmt) match {
      case None => return None
      case Some(fl) if fl.isEmpty => return Some(DirStats(0L, Map.empty))
      case Some(fl) => fl
    }
    val zones = files.map { case (rel, abs, len) =>
      driverFooterReads.incrementAndGet()
      val segs = rel.split('/').toSeq.dropRight(1)
      (if (fmt == "orc") fileZoneOrc(conf, abs, segs, tracked, typeByName)
       else fileZone(conf, abs, segs, tracked, typeByName))
        .map(_.copy(bytes = len))
    }
    if (zones.exists(_.isEmpty)) None else Some(mergeZones(zones.map(_.get)))
  }

  // ---- manifest JSON round-trip ------------------------------------------

  /** Stats format version. Bump when zone semantics change so stale
    * manifest entries written by older code are ignored (treated as
    * no-stats -> never pruned) instead of mis-pruning — e.g. v2 added
    * the timestamp-unit and UTF-8 string-order guarantees. */
  val FormatVersion = 2

  private def statsToJson(node: ObjectNode, ds: DirStats): Unit = {
    node.put("rows", ds.rows)
    if (ds.bytes >= 0) node.put("bytes", ds.bytes)
    val cols = node.putObject("cols")
    ds.cols.foreach { case (name, z) =>
      val c = cols.putObject(name)
      c.put("nulls", z.nulls)
      z.min.foreach { v =>
        c.put("t", tagOf(v))
        v match {
          case l: Long => c.put("min", l); c.put("max", z.max.get.asInstanceOf[Long])
          case d: Double => c.put("min", d); c.put("max", z.max.get.asInstanceOf[Double])
          case s: String => c.put("min", s); c.put("max", z.max.get.asInstanceOf[String])
          case b: Boolean => c.put("min", b); c.put("max", z.max.get.asInstanceOf[Boolean])
        }
      }
    }
  }

  /** Write one dir's manifest node: the per-dir aggregate plus (when
    * available) per-file zones under `files` — the reference's skip unit
    * (Paimon manifests are per-file). Pre-files manifest entries simply
    * lack the node, so readers degrade to dir-level pruning. */
  def toJson(node: ObjectNode, ds: DirStats,
      files: Map[String, DirStats] = Map.empty): Unit = {
    node.put("v", FormatVersion)
    statsToJson(node, ds)
    if (files.nonEmpty) {
      val fn = node.putObject("files")
      files.toSeq.sortBy(_._1).foreach { case (rel, fz) =>
        statsToJson(fn.putObject(rel), fz)
      }
    }
  }

  private def statsFromJson(node: JsonNode): DirStats = {
    val rows = node.get("rows").asLong()
    val bytes = node.path("bytes").asLong(-1L)
    val cols = mutable.LinkedHashMap[String, ColZone]()
    val cn = node.get("cols").asInstanceOf[ObjectNode]
    cn.fieldNames().forEachRemaining { name =>
      val c = cn.get(name)
      val nulls = c.get("nulls").asLong()
      if (c.has("t")) {
        val (mn, mx) = c.get("t").asText() match {
          case "l" => (c.get("min").asLong(), c.get("max").asLong())
          case "d" => (c.get("min").asDouble(), c.get("max").asDouble())
          case "s" => (c.get("min").asText(), c.get("max").asText())
          case "b" => (c.get("min").asBoolean(), c.get("max").asBoolean())
        }
        cols += name -> ColZone(Some(mn), Some(mx), nulls)
      } else cols += name -> ColZone(None, None, nulls)
    }
    DirStats(rows, cols.toMap, bytes)
  }

  def fromJson(node: JsonNode): DirStats = statsFromJson(node)

  /** Per-file zones of one dir node (empty for pre-files entries). */
  def filesFromJson(node: JsonNode): Map[String, DirStats] = {
    if (!node.has("files")) return Map.empty
    val fn = node.get("files").asInstanceOf[ObjectNode]
    val out = mutable.LinkedHashMap[String, DirStats]()
    fn.fieldNames().forEachRemaining { rel => out += rel -> statsFromJson(fn.get(rel)) }
    out.toMap
  }

  // ---- per-dir zone SIDECAR (hierarchical manifest tier) -----------------

  /**
   * Serialize one dir's per-FILE zones as a standalone sidecar document —
   * the graft analog of a Paimon manifest FILE: immutable, written once
   * by the commit that created the dir, referenced from the head manifest
   * by a token. The head keeps only the dir-level aggregate (the
   * manifest-LIST's partition-stats analog), so commit metadata writes
   * are O(this commit's files), never O(table files).
   */
  def sidecarToJson(files: Map[String, DirStats]): ObjectNode = {
    val root = GraftCatalog.jsonMapper.createObjectNode()
    root.put("v", FormatVersion)
    val fn = root.putObject("files")
    files.toSeq.sortBy(_._1).foreach { case (rel, fz) =>
      statsToJson(fn.putObject(rel), fz)
    }
    root
  }

  /** Parse a zone sidecar. None on any version/shape mismatch — readers
    * then degrade to dir-level pruning, never mis-prune. */
  def sidecarFromJson(root: JsonNode): Option[Map[String, DirStats]] =
    if (root == null || root.path("v").asInt(-1) != FormatVersion ||
        !root.has("files")) None
    else scala.util.Try(filesFromJson(root)).toOption

  // ---- zone evaluation (planning-time, conservative) ---------------------

  /** Convert a Catalyst literal to the zone domain of its type.
    * None → predicate shape not modeled, keep the dir. */
  private def literalDomain(v: Any, dt: DataType): Option[Any] = dt match {
    case ByteType => Some(v.asInstanceOf[Byte].toLong)
    case ShortType => Some(v.asInstanceOf[Short].toLong)
    case IntegerType | DateType => Some(v.asInstanceOf[Int].toLong)
    case LongType | TimestampType | TimestampNTZType => Some(v.asInstanceOf[Long])
    case FloatType => Some(v.asInstanceOf[Float].toDouble)
    case DoubleType => Some(v.asInstanceOf[Double])
    case StringType => Some(v.asInstanceOf[UTF8String].toString)
    case BooleanType => Some(v.asInstanceOf[Boolean])
    case _ => None
  }

  /** Domain comparator. Strings compare as UNSIGNED UTF-8 BYTES — the
    * order parquet's binary comparator wrote the footer min/max in and
    * the order Spark's UTF8String comparisons use; java.lang.String's
    * UTF-16 order disagrees for supplementary characters (U+10000 and
    * up sort below [U+E000, U+FFFF] there), which would mis-prune. */
  private[graft] def cmp(a: Any, b: Any): Int =
    cmpOpt(a, b).getOrElse(0) // same-domain callers only (zone vs zone of one column)

  /** None = mixed domains — INCONCLUSIVE, never a proof. Encoding it as 0
    * would let strict-inequality checks (`cmp(mn, v) < 0` for op "<")
    * read "inconclusive" as "false" and mis-prune a dir. */
  private def cmpOpt(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: Long, y: Long) => Some(java.lang.Long.compare(x, y))
    case (x: Double, y: Double) =>
      // SQL comparison semantics, not IEEE total order: -0.0 = 0.0 (the
      // +0.0 add normalizes signed zeros; Double.compare alone would say
      // -0.0 < 0.0 and let decides()/pointOf answer a metadata-only
      // aggregate WRONGLY for a p=-0.0 partition probed with p = 0.0).
      // NaN stays largest-and-self-equal, matching Spark.
      Some(java.lang.Double.compare(x + 0.0d, y + 0.0d))
    case (x: String, y: String) =>
      Some(UTF8String.fromString(x).binaryCompare(UTF8String.fromString(y)))
    case (x: Boolean, y: Boolean) => Some(java.lang.Boolean.compare(x, y))
    case _ => None
  }

  /** Unsigned byte-wise compare of `s` truncated to `prefix`'s byte
    * length vs `prefix` — UTF-8 is prefix-preserving, so this is the
    * byte-order analog of `s.take(n) <=> prefix`. */
  private def prefixCmp(s: String, prefix: Array[Byte]): Int = {
    val sb = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(sb.length, prefix.length)
    var i = 0
    while (i < n) {
      val c = java.lang.Integer.compare(sb(i) & 0xff, prefix(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    // s truncated to prefix length: shorter s sorts first
    java.lang.Integer.compare(math.min(sb.length, prefix.length), prefix.length)
  }

  private def attrName(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name.toLowerCase)
    case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
      Some(a.name.toLowerCase)
    case _ => None
  }

  private def litVal(e: Expression): Option[(Any, DataType)] = e match {
    case Literal(null, _) => None // null literals never prune (ternary logic)
    case Literal(v, dt) => Some((v, dt))
    case _ if e.foldable =>
      // analysis-time coercion casts (`id = 150` wraps the literal in
      // CAST before constant folding runs) — evaluate driver-side
      try Option(e.eval(org.apache.spark.sql.catalyst.InternalRow.empty))
        .map(v => (v, e.dataType))
      catch { case scala.util.control.NonFatal(_) => None }
    case _ => None
  }

  /** Could any row of a dir with zone `z` satisfy `attr op v`? Mixed
    * literal/zone domains are inconclusive → keep the dir. */
  private def rangeMatch(z: ColZone, v: Any, op: String): Boolean =
    (z.min, z.max) match {
      case (Some(mn), Some(mx)) =>
        (cmpOpt(mn, v), cmpOpt(mx, v)) match {
          case (Some(cMn), Some(cMx)) => op match {
            case "=" => cMn <= 0 && cMx >= 0
            case "<" => cMn < 0 // some value < v
            case "<=" => cMn <= 0
            case ">" => cMx > 0
            case ">=" => cMx >= 0
          }
          case _ => true // inconclusive: never a proof
        }
      case _ => false // all-null dir: no non-null value can match
    }

  /**
   * Conservative zone-map check: true unless the zone PROVES no row in
   * the dir can satisfy `pred`. Unknown columns/shapes return true.
   */
  def mightMatch(ds: DirStats, pred: Expression): Boolean = pred match {
    case And(l, r) => mightMatch(ds, l) && mightMatch(ds, r)
    case Or(l, r) => mightMatch(ds, l) || mightMatch(ds, r)
    case EqualTo(a, lit) if attrName(a).isDefined => binCheck(ds, a, lit, "=")
    case EqualTo(lit, a) if attrName(a).isDefined => binCheck(ds, a, lit, "=")
    case EqualNullSafe(a, lit) if attrName(a).isDefined => binCheck(ds, a, lit, "=")
    case EqualNullSafe(lit, a) if attrName(a).isDefined => binCheck(ds, a, lit, "=")
    case LessThan(a, lit) if attrName(a).isDefined => binCheck(ds, a, lit, "<")
    case LessThan(lit, a) if attrName(a).isDefined => binCheck(ds, a, lit, ">")
    case LessThanOrEqual(a, lit) if attrName(a).isDefined => binCheck(ds, a, lit, "<=")
    case LessThanOrEqual(lit, a) if attrName(a).isDefined => binCheck(ds, a, lit, ">=")
    case GreaterThan(a, lit) if attrName(a).isDefined => binCheck(ds, a, lit, ">")
    case GreaterThan(lit, a) if attrName(a).isDefined => binCheck(ds, a, lit, "<")
    case GreaterThanOrEqual(a, lit) if attrName(a).isDefined => binCheck(ds, a, lit, ">=")
    case GreaterThanOrEqual(lit, a) if attrName(a).isDefined => binCheck(ds, a, lit, "<=")
    case In(a, list) =>
      (for (name <- attrName(a); z <- ds.cols.get(name)) yield {
        val vals = list.flatMap(litVal)
        if (vals.size != list.size) true // non-literal member: inconclusive
        else vals.exists { case (v, dt) =>
          literalDomain(v, dt).forall(rangeMatch(z, _, "="))
        }
      }).getOrElse(true)
    case InSet(a: AttributeReference, set) => // resolved attrs only: .dataType
      (for (name <- attrName(a); z <- ds.cols.get(name)) yield {
        set.exists(v => v != null &&
          literalDomain(v, a.dataType).forall(rangeMatch(z, _, "=")))
      }).getOrElse(true)
    case IsNull(a) =>
      (for (name <- attrName(a); z <- ds.cols.get(name)) yield
        z.nulls != 0L).getOrElse(true) // -1 (unknown) keeps the dir
    case IsNotNull(a) =>
      (for (name <- attrName(a); z <- ds.cols.get(name)) yield
        z.min.isDefined || z.nulls < ds.rows).getOrElse(true)
    case StartsWith(a, p) =>
      (for (name <- attrName(a); z <- ds.cols.get(name);
            (v, dt) <- litVal(p) if dt == StringType;
            mn <- z.min; mx <- z.max) yield {
        val pb = v.asInstanceOf[UTF8String].toString
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        // a value starting with `prefix` exists only if
        // min.takeBytes(n) <= prefix <= max.takeBytes(n) (byte order)
        prefixCmp(mn.asInstanceOf[String], pb) <= 0 &&
          prefixCmp(mx.asInstanceOf[String], pb) >= 0
      }).getOrElse(true)
    case Not(EqualTo(a, lit)) if attrName(a).isDefined => notEqCheck(ds, a, lit)
    case Not(EqualTo(lit, a)) if attrName(a).isDefined => notEqCheck(ds, a, lit)
    case _ => true
  }

  /**
   * Three-valued EXACT decision: does `pred` hold for EVERY row of the
   * zone's file (Some(true)), for NO row (Some(false)), or is the zone
   * insufficient to prove either (None)? Unlike [[mightMatch]] this is
   * never conservative — it answers only when the decision is total for
   * the whole file, which is what metadata-only FILTERED aggregates
   * need (`count(*) WHERE p = 'x'` sums exactly the matching files).
   * Comparison leaves decide only on UNIFORM columns — null-free with
   * min == max, i.e. partition columns (path-segment zones are the
   * exact value for every row in the file) or constant data columns.
   */
  def decides(ds: DirStats, pred: Expression): Option[Boolean] = pred match {
    // a zero-row file contributes nothing to any aggregate either way;
    // "no row matches" is vacuously true and keeps it decidable
    case _ if ds.rows == 0L => Some(false)
    case And(l, r) => (decides(ds, l), decides(ds, r)) match {
      case (Some(false), _) | (_, Some(false)) => Some(false)
      case (Some(true), Some(true)) => Some(true)
      case _ => None
    }
    case Or(l, r) => (decides(ds, l), decides(ds, r)) match {
      case (Some(true), _) | (_, Some(true)) => Some(true)
      case (Some(false), Some(false)) => Some(false)
      case _ => None
    }
    case Not(e) => decides(ds, e).map(!_)
    case EqualTo(a, lit) if attrName(a).isDefined => decideCmp(ds, a, lit, "=")
    case EqualTo(lit, a) if attrName(a).isDefined => decideCmp(ds, a, lit, "=")
    case EqualNullSafe(a, lit) if attrName(a).isDefined => decideCmp(ds, a, lit, "=")
    case EqualNullSafe(lit, a) if attrName(a).isDefined => decideCmp(ds, a, lit, "=")
    case LessThan(a, lit) if attrName(a).isDefined => decideCmp(ds, a, lit, "<")
    case LessThan(lit, a) if attrName(a).isDefined => decideCmp(ds, a, lit, ">")
    case LessThanOrEqual(a, lit) if attrName(a).isDefined => decideCmp(ds, a, lit, "<=")
    case LessThanOrEqual(lit, a) if attrName(a).isDefined => decideCmp(ds, a, lit, ">=")
    case GreaterThan(a, lit) if attrName(a).isDefined => decideCmp(ds, a, lit, ">")
    case GreaterThan(lit, a) if attrName(a).isDefined => decideCmp(ds, a, lit, "<")
    case GreaterThanOrEqual(a, lit) if attrName(a).isDefined => decideCmp(ds, a, lit, ">=")
    case GreaterThanOrEqual(lit, a) if attrName(a).isDefined => decideCmp(ds, a, lit, "<=")
    case In(a, list) if attrName(a).isDefined =>
      val vals = list.flatMap(litVal)
      if (vals.size != list.size) None // non-literal / null member
      else {
        val perVal = vals.map { case (v, dt) =>
          literalDomain(v, dt).flatMap(dv =>
            pointOf(ds, attrName(a).get).flatMap(pv =>
              cmpOpt(pv, dv).map(_ == 0)))
        }
        if (perVal.exists(_.contains(true))) Some(true)
        else if (perVal.forall(_.contains(false))) Some(false)
        else None
      }
    case IsNull(a) if attrName(a).isDefined =>
      ds.cols.get(attrName(a).get).flatMap { z =>
        if (z.nulls == 0L) Some(false)
        else if (z.min.isEmpty && z.nulls == ds.rows) Some(true)
        else None
      }
    case IsNotNull(a) if attrName(a).isDefined =>
      ds.cols.get(attrName(a).get).flatMap { z =>
        if (z.nulls == 0L) Some(true)
        else if (z.min.isEmpty && z.nulls == ds.rows) Some(false)
        else None
      }
    case _ => None
  }

  /** The single value every row of the file holds in column `name`, if
    * the zone proves uniformity (null-free, min == max). */
  private def pointOf(ds: DirStats, name: String): Option[Any] =
    ds.cols.get(name).flatMap { z =>
      for (mn <- z.min; mx <- z.max; c <- cmpOpt(mn, mx)
           if c == 0 && z.nulls == 0L) yield mn
    }

  private def decideCmp(ds: DirStats, aExpr: Expression, litExpr: Expression,
      op: String): Option[Boolean] =
    for (name <- attrName(aExpr); pv <- pointOf(ds, name);
         (v, dt) <- litVal(litExpr); dv <- literalDomain(v, dt);
         c <- cmpOpt(pv, dv)) yield op match {
      case "=" => c == 0
      case "<" => c < 0
      case "<=" => c <= 0
      case ">" => c > 0
      case ">=" => c >= 0
    }

  /** `aExpr` is the attribute side, `litExpr` the literal side — call
    * sites pass them in canonical order with `op` already oriented as
    * `attr op lit`. */
  private def binCheck(ds: DirStats, aExpr: Expression, litExpr: Expression,
      op: String): Boolean =
    (for (name <- attrName(aExpr); z <- ds.cols.get(name);
          (v, dt) <- litVal(litExpr); dv <- literalDomain(v, dt)) yield
      rangeMatch(z, dv, op)).getOrElse(true)

  /** `a != v` can only be pruned when the whole dir is the single value
    * v with no nulls. */
  private def notEqCheck(ds: DirStats, aExpr: Expression,
      litExpr: Expression): Boolean =
    (for (name <- attrName(aExpr); z <- ds.cols.get(name);
          (v, dt) <- litVal(litExpr); dv <- literalDomain(v, dt);
          mn <- z.min; mx <- z.max) yield
      !(cmpOpt(mn, dv).contains(0) && cmpOpt(mx, dv).contains(0) &&
        z.nulls == 0L)).getOrElse(true)

  /**
   * Top-level conjunctive MEMBERSHIP constraints of `pred` for the bloom
   * index: each returned `(column, literals)` is a NECESSARY condition —
   * any matching row has the column equal to one of the literals. Only
   * And is descended (an Or/other branch yields no constraint — sound:
   * fewer constraints only keep more files), only `col = lit` / `col IN
   * (lits)` shapes with canonical Long/String domains qualify (the two
   * domains the bloom hashes).
   */
  private[graft] def eqConstraints(pred: Expression): Seq[(String, Seq[Any])] = {
    def bloomable(v: Any): Boolean = v.isInstanceOf[Long] || v.isInstanceOf[String]
    def ofEq(a: Expression, lit: Expression): Seq[(String, Seq[Any])] =
      (for (name <- attrName(a); (v, dt) <- litVal(lit);
            dv <- literalDomain(v, dt) if bloomable(dv))
        yield Seq(name -> Seq(dv))).getOrElse(Seq.empty)
    pred match {
      case And(l, r) => eqConstraints(l) ++ eqConstraints(r)
      case EqualTo(a, lit) if attrName(a).isDefined => ofEq(a, lit)
      case EqualTo(lit, a) if attrName(a).isDefined => ofEq(a, lit)
      case EqualNullSafe(a, lit) if attrName(a).isDefined => ofEq(a, lit)
      case EqualNullSafe(lit, a) if attrName(a).isDefined => ofEq(a, lit)
      case In(a, list) if attrName(a).isDefined =>
        val vals = list.flatMap(litVal)
        if (vals.size != list.size) Seq.empty // non-literal member
        else {
          val doms = vals.flatMap { case (v, dt) => literalDomain(v, dt) }
          if (doms.size != vals.size || !doms.forall(bloomable)) Seq.empty
          else Seq(attrName(a).get -> doms)
        }
      case InSet(a: AttributeReference, set) =>
        // null members never make IN true — dropping them keeps the
        // constraint a necessary condition
        val nonNull = set.toSeq.filter(_ != null)
        val doms = nonNull.flatMap(v => literalDomain(v, a.dataType))
        if (doms.size != nonNull.size || !doms.forall(bloomable)) Seq.empty
        else Seq(a.name.toLowerCase -> doms)
      case _ => Seq.empty
    }
  }
}
