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
