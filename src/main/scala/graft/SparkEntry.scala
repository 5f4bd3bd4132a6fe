package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  private val packs: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (ScanQueries.queries, ScanQueries.oracle),
      (RelationalQueries.queries, RelationalQueries.oracle),
      (TypeQueries.queries, TypeQueries.oracle),
      (DedupQueries.queries, DedupQueries.oracle),
      (AnnQueries.queries, AnnQueries.oracle),
      (TextQueries.queries, TextQueries.oracle),
      (BpeTrainer.queries, BpeTrainer.oracle),
      (TextClassifier.queries, TextClassifier.oracle),
      (StreamQueries.queries, StreamQueries.oracle),
      (ExtQueries.queries, ExtQueries.oracle),
      (CatalogQueries.queries, CatalogQueries.oracle),
      (TpchExtQueries.queries, TpchExtQueries.oracle),
    )

  /** The local session the dev tools (JobProfile, Verify, PlanAudit) run
    * registered queries in: `cpus` threads and shuffle partitions, UTC,
    * graft's extensions, WARN logging. */
  def localSession(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    packs.map(_._1).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    packs.map(_._2).reduce(_ ++ _)
}
