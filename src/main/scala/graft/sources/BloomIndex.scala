package graft.sources

import java.nio.charset.StandardCharsets
import java.util.Base64
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, unix_date, unix_micros}
import org.apache.spark.sql.types._

/**
 * Per-file BLOOM-FILTER index for equality / IN predicates — the
 * Spark-native analog of Paimon's `file-index.bloom-filter.columns`
 * (the reference connector exposes every Paimon CoreOption as DDL,
 * TrinoTableOptionUtils.java:53, and Paimon's SnapshotReader consults
 * file indexes when `applyFilter` hands it an equality domain).
 *
 * Zone maps answer RANGE questions; on a column with no clustering —
 * a hash-distributed id on a 100 TB table — every dir spans the full
 * value range and min/max prunes nothing. A bloom filter answers the
 * MEMBERSHIP question those columns actually get asked (`id = X`,
 * `id IN (...)`): each data file carries one bitset per indexed column,
 * and a point lookup opens only the files whose bloom admits the
 * literal — O(1) files instead of O(table).
 *
 * Write side: [[build]] runs ONE distributed job over the freshly
 * committed dir. Executors hash the indexed columns of their splits
 * into per-file bitsets (sized from the footer row counts), a single
 * shuffle OR-merges partial bitsets per file, and THE EXECUTOR THAT
 * HOLDS EACH FILE'S MERGED BITSETS WRITES THAT FILE'S SIDECAR —
 * `<dir>/.bloomidx/<relpath>.json`, dot-prefixed so parquet discovery
 * never sees it, inside the staging dir so the ordinal claim-rename
 * moves data and index atomically. No bitset ever crosses to the
 * driver (a bulk load landing 10⁵ files × 1 MiB/col would otherwise
 * collect tens of GiB — the same flaw class as a driver-side footer
 * pass); the job's only driver-visible result is the count of sidecars
 * written, and [[driverBitsetBytes]] stays 0 as the tripwire tests
 * assert. Paimon likewise writes per-file index files, consulted
 * lazily by SnapshotReader.
 *
 * Read side is strictly conservative and LAZY: planning loads only the
 * sidecars of files a query's zone/partition-admitted candidates name
 * ([[sidecarLoads]] counts opens), cached per (token, file). A file is
 * dropped only when EVERY literal of some conjunctive equality/IN
 * constraint on an indexed column is PROVABLY absent (bloom filters
 * have no false negatives). Unknown columns, non-equality shapes,
 * unreadable sidecars keep the file. Deletion vectors compose (deletes
 * only shrink a file's value set). Hashing uses the same canonical
 * domains as the zone evaluator (integral/date/timestamp → Long,
 * string → UTF-8 String), computed by the SAME JVM code on both sides,
 * so write/read hashes always agree.
 */
private[graft] object BloomIndex {

  /** Sidecar directory inside each data dir; the leading dot hides the
    * whole subtree from parquet discovery. One JSON per data file. */
  val DirName = ".bloomidx"
  val FormatVersion = 2

  /** Hash-function count. With ~12 bits/key, k=5 gives FPP ≈ 0.5%. */
  val K = 5

  /** Bytes of bitset materialized ON THE DRIVER during builds. The
    * executor-write design keeps this 0; tests assert it (the analog of
    * FileStats.driverFooterReads). */
  val driverBitsetBytes = new AtomicLong(0L)

  // Sidecars are immutable once their dir lands: cached per (manifest
  // token, file) — a reused ordinal after rollback gets a fresh token.
  private val cache = new SidecarCache[(String, String), FileBloom]("bloom")

  /** Per-file sidecar opens at planning time — lazy loading means a
    * query pays O(admitted files), not O(table). */
  val sidecarLoads: AtomicLong = cache.loads

  /** High-water mark of concurrent sidecar loads — lets tests assert the
    * batch probe path actually overlaps its FS opens. */
  val peakConcurrentLoads: AtomicLong = cache.peakConcurrentLoads

  def sidecarPath(dirPath: Path, rel: String): Path =
    new Path(dirPath, s"$DirName/$rel.json")

  /** Columns whose canonical domain is Long or String — the domains the
    * build projection and the literal canonicalization both produce. */
  def indexable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | StringType => true
    case _ => false
  }

  /** Build-side projection to the canonical domain (matches
    * [[FileStats]]' literalDomain: date → epoch days, timestamp →
    * epoch micros, integrals → long, string as-is). */
  private def canonical(f: StructField): org.apache.spark.sql.Column = f.dataType match {
    case StringType => col(f.name)
    case DateType => unix_date(col(f.name)).cast(LongType) // ANSI casts refuse DATE → INT
    case TimestampType => unix_micros(col(f.name))
    case _ => col(f.name).cast(LongType)
  }

  /** Bitset size for a file of `rows` keys: ~12 bits/key rounded up to a
    * power of two, clamped to [2^13, 2^23] bits (1 KiB – 1 MiB of
    * index per column; beyond the cap FPP degrades gracefully, never
    * soundness). */
  def bitsFor(rows: Long): Int = {
    val want = math.max(1L << 13, math.min(1L << 23, rows * 12))
    var m = 1L << 13
    while (m < want) m <<= 1
    m.toInt
  }

  private def bytesOf(v: Any): Array[Byte] = v match {
    case l: Long =>
      val b = new Array[Byte](8)
      var x = l; var i = 0
      while (i < 8) { b(i) = (x & 0xff).toByte; x >>>= 8; i += 1 }
      b
    case s: String => s.getBytes(StandardCharsets.UTF_8)
  }

  /** Double hashing over two murmur3 seeds: bit_i = (h1 + i·h2) mod m.
    * Pure-Scala murmur3 is bit-stable across JVMs — the write job and
    * the planning-time lookup always agree. */
  private def setOrTest(words: Array[Long], mBits: Int, v: Any,
      set: Boolean): Boolean = {
    val b = bytesOf(v)
    val h1 = scala.util.hashing.MurmurHash3.bytesHash(b, 0x9747b28c)
    val h2 = scala.util.hashing.MurmurHash3.bytesHash(b, 0x85ebca6b) | 1
    var i = 0
    while (i < K) {
      val bit = (h1 + i * h2) & (mBits - 1) // mBits is a power of two
      if (set) words(bit >>> 6) |= 1L << (bit & 63)
      else if ((words(bit >>> 6) & (1L << (bit & 63))) == 0L) return false
      i += 1
    }
    true
  }

  def add(words: Array[Long], mBits: Int, v: Any): Unit = {
    setOrTest(words, mBits, v, set = true); ()
  }

  def mightContain(words: Array[Long], mBits: Int, v: Any): Boolean =
    setOrTest(words, mBits, v, set = false)

  /** One file's loaded index: column → (bits, words). A sidecar EXISTS
    * for every file of an indexed dir (zero-row / all-null files carry
    * empty column maps), so a missing column in a present sidecar means
    * "no non-null value was ever added" — provably empty for any
    * literal; a missing sidecar means "unknown", kept conservatively. */
  final case class FileBloom(cols: Map[String, (Int, Array[Long])])

  /**
   * Build the dir's bloom sidecars in ONE distributed job: per-split
   * partial bitsets → one shuffle OR-merge per file → the holding
   * executor writes `<dir>/.bloomidx/<rel>.json`. `fileRows` are the
   * footer row counts the zone collection just produced (sizes each
   * file's bitset). Every file in `fileRows` gets a sidecar — files
   * whose indexed columns are entirely null get an empty one, which is
   * the "provably empty" marker readers rely on. Returns the indexed
   * column names, or None when nothing was written (no indexable
   * columns / empty dir / job failure — all conservative: readers
   * simply don't bloom-prune this dir).
   */
  def build(spark: SparkSession, fs: FileSystem, dirPath: Path,
      schema: StructType, colsWanted: Set[String],
      fileRows: Map[String, Long],
      // Spark source provider of the dir's data files (r16: bloom
      // indexes are format-independent — the build needs only
      // `_metadata.file_path` plus the indexed columns, and `fileRows`
      // comes from the same zone collection that serves orc footers and
      // avro data-derived stats)
      provider: String = "parquet",
      // the table, named in the warning a failed build logs
      table: String = "(unnamed)"): Option[Seq[String]] = {
    val idxFields = schema.fields.filter(f =>
      colsWanted.contains(f.name.toLowerCase) && indexable(f.dataType))
    if (idxFields.isEmpty || fileRows.isEmpty) return None
    val names = idxFields.map(_.name.toLowerCase).toSeq
    // `/dirname/` is the unambiguous boundary in `_metadata.file_path`
    // regardless of URI scheme spelling (file:/ vs file:///)
    val marker = s"/${dirPath.getName}/"
    val sizes = fileRows.map { case (r, n) => r -> bitsFor(n) }
    try {
      val sc = spark.sparkContext
      val proj = col("_metadata.file_path") +:
        idxFields.toSeq.map(f => canonical(f))
      // a schema-less parquet read runs a one-task inference job first, so
      // parquet is read with the indexed fields as its schema. Orc and
      // avro infer on the driver, and avro stores byte/short columns as
      // int, which its reader does not narrow to a given schema
      val reader = spark.read.format(provider)
      val df = (if (provider == "parquet") reader.schema(StructType(idxFields)) else reader)
        .load(dirPath.toString).select(proj: _*)
      val bSizes = sc.broadcast(sizes)
      val confB = sc.broadcast(new FileStats.SerConf(sc.hadoopConfiguration))
      val dirStr = dirPath.toString
      val nCols = names.length
      // Per-split partial bitsets, keyed by file: Map(colIdx -> words).
      val partial = df.rdd.mapPartitions { it =>
        val acc = mutable.HashMap[String, mutable.HashMap[Int, Array[Long]]]()
        it.foreach { row =>
          val abs = row.getString(0)
          val cut = abs.indexOf(marker)
          if (cut >= 0) {
            val rel = abs.substring(cut + marker.length)
            val mBits = bSizes.value.getOrElse(rel, 0)
            if (mBits > 0) {
              val byCol = acc.getOrElseUpdate(rel, mutable.HashMap())
              var c = 0
              while (c < nCols) {
                if (!row.isNullAt(c + 1)) {
                  val words = byCol.getOrElseUpdate(c,
                    new Array[Long](mBits >>> 6))
                  add(words, mBits, row.get(c + 1))
                }
                c += 1
              }
            }
          }
        }
        acc.iterator.map { case (rel, m) => rel -> m.toMap }
      }
      // Seed every file with an empty map so all-null / zero-row files
      // still land a (provably-empty) sidecar.
      val seeds = sc.parallelize(fileRows.keys.toSeq,
        math.max(1, math.min(fileRows.size, 32)))
        .map(rel => rel -> Map.empty[Int, Array[Long]])
      // One shuffle: OR-merge partials per file; the reducer that ends
      // up holding a file's bitsets writes its sidecar right there.
      val written = partial.union(seeds).reduceByKey { (a, b) =>
        if (a.isEmpty) b
        else if (b.isEmpty) a
        else {
          val out = mutable.HashMap[Int, Array[Long]]() ++= a
          b.foreach { case (ci, w) =>
            out.get(ci) match {
              case Some(ex) =>
                var i = 0; while (i < ex.length) { ex(i) |= w(i); i += 1 }
              case None => out += ci -> w
            }
          }
          out.toMap
        }
      }.map { case (rel, byCol) =>
        val conf = confB.value.value
        val target = sidecarPath(new Path(dirStr), rel)
        val fsx = target.getFileSystem(conf)
        val root = GraftCatalog.jsonMapper.createObjectNode()
        root.put("v", FormatVersion)
        root.put("k", K)
        val cn = root.putObject("cols")
        byCol.toSeq.sortBy(_._1).foreach { case (ci, words) =>
          val c = cn.putObject(names(ci))
          c.put("m", words.length << 6)
          val bytes = new Array[Byte](words.length * 8)
          val bb = java.nio.ByteBuffer.wrap(bytes)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          words.foreach(bb.putLong)
          c.put("b64", Base64.getEncoder.encodeToString(bytes))
        }
        val out = fsx.create(target, true)
        try out.write(GraftCatalog.jsonMapper.writeValueAsBytes(root))
        finally out.close()
        1L
      }.fold(0L)(_ + _)
      if (written == fileRows.size.toLong) Some(names) else None
    } catch {
      // the dir goes unindexed (readers just don't bloom-prune it), but
      // never silently: a build that fails on every commit would drop
      // the table's bloom pruning with nothing in the logs
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"bloom index build failed for $table at $dirPath; the dir gets no bloom index", e)
        None
    }
  }

  /** One file's bloom sidecar; None when it does not exist or predates
    * the current format. */
  def loadFile(fs: FileSystem, dirPath: Path, token: String,
      rel: String): Option[FileBloom] =
    cache.get((token, rel), sidecarPath(dirPath, rel)) { p =>
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val root = try GraftCatalog.jsonMapper.readTree(in) finally in.close()
        if (root.path("v").asInt(-1) != FormatVersion ||
            root.path("k").asInt(-1) != K) None
        else {
          val cn = root.get("cols")
            .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          val m = mutable.HashMap[String, (Int, Array[Long])]()
          cn.fieldNames().forEachRemaining { c =>
            val e = cn.get(c)
            val bytes = Base64.getDecoder.decode(e.get("b64").asText())
            val words = new Array[Long](bytes.length / 8)
            val bb = java.nio.ByteBuffer.wrap(bytes)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            var i = 0
            while (i < words.length) { words(i) = bb.getLong; i += 1 }
            m += c -> (e.get("m").asInt(), words)
          }
          Some(FileBloom(m.toMap))
        }
      }
    }

  /**
   * Keep `rel` only if every applicable constraint admits at least one
   * literal. A sidecar present but lacking the column has a
   * provably-empty bloom (only null values were written) — an equality
   * literal cannot match; a file with NO sidecar is kept.
   */
  def fileMightMatch(fs: FileSystem, dirPath: Path, token: String,
      indexedCols: Set[String], rel: String,
      constraints: Seq[(String, Seq[Any])]): Boolean =
    loadFile(fs, dirPath, token, rel) match {
      case None => true // missing / unreadable sidecar: conservative keep
      case Some(fb) => constraints.forall { case (cn, vs) =>
        if (!indexedCols.contains(cn)) true
        else fb.cols.get(cn) match {
          case None => false // indexed col, zero non-null values in file
          case Some((m, words)) => vs.exists(v => mightContain(words, m, v))
        }
      }
    }

  /**
   * Batch [[fileMightMatch]] over many files of one dir: uncached
   * sidecars are loaded in parallel ([[SidecarCache.warm]]), then the
   * per-file decision runs against the warmed (token, file) cache with
   * semantics identical to the sequential path. Returns kept rels in
   * input order.
   */
  def filterMightMatch(fs: FileSystem, dirPath: Path, token: String,
      indexedCols: Set[String], rels: Seq[String],
      constraints: Seq[(String, Seq[Any])]): Seq[String] = {
    cache.warm(rels.map(token -> _)) { case (_, r) => loadFile(fs, dirPath, token, r); () }
    rels.filter(r => fileMightMatch(fs, dirPath, token, indexedCols, r, constraints))
  }
}
