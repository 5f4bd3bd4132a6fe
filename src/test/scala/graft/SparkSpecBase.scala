package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs (one JVM-wide session, local[4]). */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.session
  lazy val sfDir: String = "/root/testdata/sf0.001"

  /** Records scanned by every task during `body` (listener-observed
    * input metrics; the bus is flushed before reading). Rows removed by
    * partition pruning / zone skipping never become records — the
    * "reads O(delta)" tripwire. (Bytes-read counters are blind here:
    * the local-mode vectorized readers bypass Hadoop FS statistics.) */
  def recordsScanned(body: => Unit): Long = {
    val acc = new java.util.concurrent.atomic.AtomicLong(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          acc.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(l)
    try { body; org.apache.spark.GraftTestBus.waitUntilEmpty(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    acc.get()
  }

  /** Spark jobs `body` starts (listener-observed, bus flushed). */
  def jobsDuring(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.GraftTestBus.waitUntilEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { body; org.apache.spark.GraftTestBus.waitUntilEmpty(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    jobs.get()
  }

  /** File-scan leaves of `df`'s executed plan. */
  def fileScans(df: org.apache.spark.sql.DataFrame): Int =
    SparkSpecBase.scansIn(df.queryExecution.executedPlan)

  /** File-scan leaves of every query `body` runs, writes included
    * (listener-observed, bus flushed); a cached frame's scans count at
    * each query that reads it. */
  def fileScansDuring(body: => Unit): Int = {
    val scans = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        scans.addAndGet(SparkSpecBase.scansIn(qe.executedPlan))
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.GraftTestBus.waitUntilEmpty(spark.sparkContext)
    spark.listenerManager.register(l)
    try { body; org.apache.spark.GraftTestBus.waitUntilEmpty(spark.sparkContext) }
    finally spark.listenerManager.unregister(l)
    scans.get()
  }

  /** Shuffle exchanges of every query `body` runs, writes included
    * (listener-observed, bus flushed), through adaptive plans and their
    * query stages; a reused exchange does not count again. */
  def shuffleExchangesDuring(body: => Unit): Int = {
    val exchanges = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        exchanges.addAndGet(SparkSpecBase.shufflesIn(qe.executedPlan))
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.GraftTestBus.waitUntilEmpty(spark.sparkContext)
    spark.listenerManager.register(l)
    try { body; org.apache.spark.GraftTestBus.waitUntilEmpty(spark.sparkContext) }
    finally spark.listenerManager.unregister(l)
    exchanges.get()
  }

  /** Every data and tombstone dir of the head snapshot resolves its rows
    * under the ordinal its name carries: `snap-7`, `snap-7-del`,
    * `snap-7-r2` and a branch's `~/snap-7` all read 7. */
  def assertDirOrdinals(cat: graft.sources.GraftCatalog, schema: String,
      table: String): Unit = {
    val got = cat.headOrdinals(schema, table)
    assert(got.nonEmpty, s"$schema.$table has no data or tombstone dirs")
    got.foreach { case (dir, ords) =>
      val want = "snap-(\\d+)".r.findAllMatchIn(dir).toSeq.last.group(1).toLong
      assert(ords === Seq(want), s"$dir reads ordinals $ords")
    }
  }
}

object SparkSpecBase {
  import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}

  /** File-scan leaves under `p`, through adaptive plans, their query
    * stages and cached relations. */
  def scansIn(p: SparkPlan): Int = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      scansIn(a.executedPlan)
    case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => scansIn(s.plan)
    case i: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
      scansIn(i.relation.cachedPlan)
    case _: FileSourceScanExec => 1
    case o => o.children.map(scansIn).sum
  }

  /** Shuffle exchanges under `p`, through adaptive plans and their
    * query stages. */
  def shufflesIn(p: SparkPlan): Int = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      shufflesIn(a.executedPlan)
    case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => shufflesIn(s.plan)
    case _: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => 0
    case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
      1 + e.children.map(shufflesIn).sum
    case o => o.children.map(shufflesIn).sum
  }

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-test-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
