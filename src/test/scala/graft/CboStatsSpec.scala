package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.sources.GraftCatalog

/**
 * ANALYZE statistics wired into the DSv2 scan's reported Statistics
 * (r14): join sizing uses LOGICAL rows × avgLen-weighted width instead
 * of compressed file bytes, and per-column NDV/null counts reach
 * Spark's CBO. The flagship assertion: a broadcast join's BUILD SIDE
 * flips once ANALYZE reveals that the on-disk-small dim is logically
 * huge (100x-compressible padding) while the fact is logically small.
 */
class CboStatsSpec extends SparkSpecBase {

  private lazy val warehouse = Files.createTempDirectory("graft-cbowh").toString
  private lazy val gc: GraftCatalog = new GraftCatalog(spark, warehouse)

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.gcbo", "graft.sources.GraftSparkCatalog")
    spark.conf.set("spark.sql.catalog.gcbo.warehouse", warehouse)
    gc.createSchema("db")
    // dim: 30k rows of 300-byte constant padding — parquet RLE crushes it
    // to ~1% on disk, logically ~9 MB
    val dim = spark.range(30000).selectExpr("id AS k", "repeat('x', 300) AS pad")
    gc.createTable("db", "dim", dim.schema)
    gc.append("db", "dim", dim)
    // fact: 30k rows of incompressible md5 strings — on disk ~1 MB,
    // logically ~1.2 MB
    val fact = spark.range(30000)
      .selectExpr("id AS fk", "md5(cast(id AS string)) AS fv")
    gc.createTable("db", "fact", fact.schema)
    gc.append("db", "fact", fact)
  }

  private val joinSql =
    "SELECT f.fk, d.pad FROM gcbo.db.fact f JOIN gcbo.db.dim d ON f.fk = d.k"

  /** Output column names of the broadcast build side of the first
    * BroadcastHashJoin in the INITIAL physical plan (pre-AQE — the
    * decision under test is the optimizer's, not runtime re-planning). */
  private def buildSideCols(q: String): Set[String] = {
    val plan = spark.sql(q).queryExecution.sparkPlan
    val bhj = plan.collectFirst {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }.getOrElse(fail(s"no BroadcastHashJoin in:\n$plan"))
    val side = bhj.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildLeft => bhj.left
      case _ => bhj.right
    }
    side.output.map(_.name).toSet
  }

  test("ANALYZE flips the broadcast build side: logical size beats file bytes") {
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (2L << 20).toString)
    try {
      // precondition: the dim really is the on-disk featherweight
      def diskBytes(t: String): Long = {
        val d = java.nio.file.Paths.get(s"$warehouse/db/$t")
        java.nio.file.Files.walk(d).filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum()
      }
      assert(diskBytes("dim") < diskBytes("fact"),
        s"dim=${diskBytes("dim")} fact=${diskBytes("fact")}")
      // without statistics both sides report compressed bytes (< 2 MB):
      // the smaller dim becomes the build side
      assert(buildSideCols(joinSql) === Set("k", "pad"))
      gc.analyzeTable("db", "dim")
      gc.analyzeTable("db", "fact")
      // with statistics the dim reports ~9 MB logical (over threshold),
      // the fact ~1.2 MB (under) — the build side FLIPS to the fact
      assert(buildSideCols(joinSql) === Set("fk"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("CBO sees exact rowCount and per-column NDV from ANALYZE") {
    val cbo = spark.conf.get("spark.sql.cbo.enabled")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val df = spark.sql("SELECT k, pad FROM gcbo.db.dim")
      val rel = df.queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
      }.getOrElse(fail("no V2 scan relation"))
      val stats = rel.stats
      assert(stats.rowCount.contains(BigInt(30000)))
      val ndvByName = stats.attributeStats.map { case (a, s) =>
        a.name -> s.distinctCount }.toMap
      assert(ndvByName.get("k").exists(_.exists(n =>
        n > BigInt(25000) && n < BigInt(35000)))) // approx NDV of 30k keys
      assert(ndvByName.get("pad").exists(_.contains(BigInt(1))))
    } finally spark.conf.set("spark.sql.cbo.enabled", cbo)
  }

  test("rollback drops the statistics of the snapshots it drops") {
    gc.createTable("db", "rb", spark.range(0).toDF("id").schema)
    (0 until 3).foreach(i => gc.append("db", "rb", spark.range(i * 100, i * 100 + 100).toDF("id")))
    assert(gc.analyzeTable("db", "rb") === 3L)
    gc.rollbackTo("db", "rb", 1L)
    gc.append("db", "rb", spark.range(1000, 1001).toDF("id"))
    gc.append("db", "rb", spark.range(1001, 1002).toDF("id"))
    // ids are reused: the head is snapshot 3 again, holding 102 live rows
    assert(gc.snapshots("db", "rb").map(_.id) === Seq(1L, 2L, 3L))
    assert(gc.read("db", "rb").count() === 102L)
    // the 300-row numbers died with the snapshot they described
    assert(gc.analyzeStatsOf("db", "rb") === None)
    val st = gc.statisticsTable("db", "rb")
    assert(st.filter(!col("stale")).count() === 0L, st.collect().mkString("\n"))
  }

  test("stale statistics are never served: a new commit detaches them") {
    import spark.implicits._
    gc.append("db", "dim", Seq((999999L, "y")).toDF("k", "pad"))
    val df = spark.sql("SELECT k, pad FROM gcbo.db.dim")
    val rel = df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
    }.get
    // the analyzed snapshot is no longer the scanned one — logical size
    // falls back to the delegate's file-byte estimate (well under the
    // 9 MB the stale row stats would claim)
    assert(rel.stats.sizeInBytes < BigInt(4L << 20))
    // time travel BACK to the analyzed snapshot serves them again
    val back = spark.sql("SELECT k, pad FROM gcbo.db.dim VERSION AS OF 1")
    val relBack = back.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
    }.get
    assert(relBack.stats.sizeInBytes > BigInt(8L << 20))
  }

  test("partition pruning keeps its factor: whole-table ANALYZE rows are " +
      "scaled by the pruned/full byte ratio (r15 ADVICE)") {
    val part = spark.range(50000)
      .selectExpr("id AS k", "md5(cast(id AS string)) AS v",
        "cast(id % 10 AS int) AS p")
    gc.createTable("db", "partt", part.schema, partitionBy = Seq("p"))
    gc.append("db", "partt", part)
    gc.analyzeTable("db", "partt")
    def scanRows(q: String): BigInt = {
      val rel = spark.sql(q).queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
      }.getOrElse(fail("no V2 scan relation"))
      rel.stats.rowCount.getOrElse(fail("no rowCount reported"))
    }
    // unfiltered: exact ANALYZE rows
    assert(scanRows("SELECT k, v FROM gcbo.db.partt") === BigInt(50000))
    // one partition of ten: Catalyst removed the pushed partition filter
    // from the logical plan, so the SCAN must carry the pruning factor —
    // ~5k rows, never the whole-table 50k
    val pruned = scanRows("SELECT k, v FROM gcbo.db.partt WHERE p = 3")
    assert(pruned < BigInt(10000) && pruned > BigInt(1000),
      s"partition-pruned scan reported $pruned of 50000 rows")
  }

  test("MoR-pending reads get ANALYZE stats through the spliced merge " +
      "plan: the broadcast build side flips there too (r15)") {
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (2L << 20).toString)
    try {
      // PK dim upserted twice → MoR-pending (SQL reads go through the
      // GraftMorNativeRead splice, not a single relation node); padding
      // compresses ~100x on disk but is ~9 MB logical
      val dim = spark.range(30000).selectExpr("id AS k", "repeat('x', 300) AS pad")
      gc.createTable("db", "mdim", dim.schema, primaryKey = Seq("k"))
      gc.upsert("db", "mdim", dim)
      gc.upsert("db", "mdim", dim.limit(100))
      val q = "SELECT f.fk, d.pad FROM gcbo.db.fact f JOIN gcbo.db.mdim d ON f.fk = d.k"
      // without statistics the spliced subtree estimates compressed
      // version-file bytes: the dim looks tiny and becomes the build side
      assert(buildSideCols(q) === Set("k", "pad"))
      gc.analyzeTable("db", "mdim")
      // the pin reports 9 MB logical (over threshold) for the analyzed
      // snapshot — the build side FLIPS to the fact, exactly as on the
      // raw-file path above (the V1 bridge could never surface this:
      // V1ScanWrapper forwards no Statistics)
      assert(buildSideCols(q) === Set("fk"))
      // a new commit detaches the stats (never served stale): the dim
      // becomes the build side again
      import spark.implicits._
      gc.upsert("db", "mdim", Seq((999999L, "y")).toDF("k", "pad"))
      assert(buildSideCols(q) === Set("k", "pad"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  // NOTE: shapes still on the V1 bridge (DELETE pushdown relations,
  // `$audit_log`-style wrapped reads, splice fallbacks) cannot surface
  // these stats — Spark's V1ScanWrapper does not forward
  // SupportsReportStatistics (this also swallows the r11 pre-merge rows
  // hint; AQE re-plans those from runtime sizes). MoR SQL reads default
  // to the native splice, which since r15 pins ANALYZE statistics onto
  // its subtree (GraftStatsPin) — tested above.
}
