package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/**
 * Parquet table access — the Spark-native analog of the reference's read
 * path (TrinoPageSourceBase.java / TrinoSplitManagerBase.java). Instead of
 * hand-built splits and page sources, we declare the scan via
 * `spark.read.parquet` and let Catalyst + the vectorized parquet reader do
 * split planning, filter/projection pushdown, and columnar decode.
 *
 * Like the reference, which takes a table's columns from its metadata,
 * a table open reads no data to learn its shape: [[parquet]] reads the
 * schema from one footer on the driver and hands it to the reader, so
 * opening a table starts no Spark job (a schema-less
 * `spark.read.parquet` runs a one-task inference job per open).
 */
object Tables {

  /** Load table `name` from scale-factor dir `dir` (e.g. /root/testdata/sf0.01). */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    // events.parquet has shipped with two physical `ts` encodings across
    // testdata generations: TIMESTAMP(NANOS) (read as long via the legacy
    // flag — the vectorized reader rejects nanos) and plain µs timestamps
    // (read natively, NTZ when unadjusted). Normalize both to the same
    // logical surface: `ts` TIMESTAMP (µs) + exact `ts_ns` BIGINT. The
    // legacy flag is session-wide, so it is only touched for the one
    // table that needs it (and only when not already set); it must be
    // set before the footer schema is converted.
    if (name == "events") {
      if (spark.conf.getOption(NanosAsLong).forall(_ != "true"))
        spark.conf.set(NanosAsLong, "true")
      val raw = parquet(spark, path)
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => // nanos-as-long file
          raw.withColumn("ts_ns", col("ts"))
            .withColumn("ts", expr("timestamp_micros(ts div 1000)")) // integer div: doubles lose ns precision at 2024 epoch-nanos magnitude
        case org.apache.spark.sql.types.TimestampNTZType =>
          // the NTZ→TZ cast is only value-preserving under UTC (same
          // micros DuckDB sees in the file) — fail loudly on a
          // misconfigured session instead of silently shifting ts/ts_ns
          val tz = spark.conf.get("spark.sql.session.timeZone")
          require(tz == "UTC",
            s"events NTZ timestamps require spark.sql.session.timeZone=UTC (got $tz): the ts cast would shift values against the oracle")
          raw.withColumn("ts", col("ts").cast("timestamp"))
            .withColumn("ts_ns", expr("unix_micros(ts) * 1000"))
        case _ => // already a µs timestamp
          raw.withColumn("ts_ns", expr("unix_micros(ts) * 1000"))
      }
    } else parquet(spark, path)
  }

  /**
   * Open the parquet file or dir at `path` with the schema Spark's
   * inference would give it, without the inference job: the schema comes
   * from the footer of the file that inference reads (see [[schemaFile]]),
   * converted by Spark's own footer conversion under this session's
   * conf. A footer read costs milliseconds, so nothing is cached. Paths
   * [[schemaFile]] does not cover are read schema-less, so Spark infers
   * and reports them as before.
   */
  def parquet(spark: SparkSession, path: String): DataFrame =
    schemaFile(spark, path) match {
      case Some(f) =>
        spark.read.schema(GraftColumnBridge.parquetFooterSchema(spark, f)).parquet(path)
      case None => spark.read.parquet(path)
    }

  /**
   * The file whose footer Spark's parquet inference reads for `path`:
   * the path itself when it is a file; in a flat dir, among the entries
   * Spark's listing keeps and in path order, `_common_metadata`, else
   * `_metadata`, else the first data file (`ParquetUtils.inferSchema`).
   * None for a glob, a missing or hidden path, a dir with subdirs (its
   * partition columns are Spark's to discover) or one without data files.
   */
  private def schemaFile(spark: SparkSession, path: String): Option[FileStatus] = {
    val p = new Path(path)
    if (path.exists("{}[]*?\\".contains(_)) ||
        GraftColumnBridge.hiddenPathName(p.getName)) return None
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root =
      try fs.getFileStatus(p)
      catch { case _: java.io.FileNotFoundException => return None }
    if (!root.isDirectory) return Some(root)
    val entries = fs.listStatus(p)
      .filterNot(st => GraftColumnBridge.hiddenPathName(st.getPath.getName))
      .sortBy(_.getPath.toString)
    if (entries.exists(_.isDirectory)) return None
    def named(n: String) = entries.find(_.getPath.getName == n)
    named(CommonMetadata).orElse(named(Metadata))
      .orElse(entries.find(st => !Set(CommonMetadata, Metadata)(st.getPath.getName)))
  }

  private val CommonMetadata = "_common_metadata"
  private val Metadata = "_metadata"
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /**
   * Ensure at least default-parallelism partitions for compute-bound
   * per-row stages (hashing, signatures, winnowing). Small tables arrive
   * as one file split and would otherwise serialize the kernel work on a
   * single core; at cluster scale real tables have many splits and this
   * is a no-op.
   */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /**
   * Deterministic double aggregation for DuckDB hash-parity: sum in exact
   * decimal (order-independent), then one IEEE cast back to double.
   * See SURVEY.md §4.
   */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 4))).cast("double")

  /** Deterministic avg: exact decimal sum as double, divided by exact count. */
  def davg(c: Column): Column = dsum(c) / count(c)
}
