package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/**
 * Measurement tool (guide §1): runs named queries and reports, per query,
 * wall seconds vs SCHEDULED work — job / stage / task counts and summed
 * task time. A query whose summed task time is a small fraction of
 * wall × cores is bounded by fixed per-job overhead (launch, planning,
 * stage scheduling), not by data work — the optimization lever is then
 * FEWER actions/stages, not faster kernels. Each run also reports its
 * Janino compile count: generated code that differs from query to query
 * (a plan that grows with the table's dirs, say) misses the codegen
 * cache and recompiles. A `[jobsites]` line per run counts its jobs by
 * call site, so a job regression names where it comes from, and the
 * commit-protocol metadata counters — manifest writes and bytes, zone
 * and bloom sidecar loads, driver footer reads — so a warehouse
 * query's drift is attributable to a named step. Dev tool only;
 * reported numbers come from Bench.
 *
 * Usage: sbt "runMain graft.JobProfile <sfDir> [-explain] <query>..."
 * (`-explain` also prints each query's executed plan after its runs).
 * For warehouse cost attribution, profile the slowest `catalog_*` bench
 * queries: catalog_cross_partition catalog_bucket_compact
 * catalog_bucketed_join catalog_dv_bucket_fold catalog_dynamic_bucket
 * catalog_stream_changelog_full catalog_rescale
 * catalog_partitioned_bucket catalog_bucketed_mor catalog_dv_sequence
 * catalog_avro_mor.
 */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).filterNot(_ == "-explain")
    val explain = args.contains("-explain")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkEntry.localSession(cpus)
    // Janino compiles of generated code (whole-stage, projections,
    // predicates): each one is a codegen-cache miss
    def compiles(): Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // process-wide commit-protocol counters: the queries build their own
    // catalogs, so per-instance counters cannot see them
    val metaNames = Seq("manifestWrites", "manifestBytes", "zoneSidecarLoads",
      "bloomSidecarLoads", "driverFooterReads")
    def metaCounters(): Seq[Long] = {
      import graft.sources.{BloomIndex, FileStats, GraftCatalog}
      Seq(GraftCatalog.manifestWritesGlobal.get(), GraftCatalog.manifestBytesGlobal.get(),
        GraftCatalog.zoneSidecarLoads.get(), BloomIndex.sidecarLoads.get(),
        FileStats.driverFooterReads.get())
    }
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskMs = new AtomicLong
    // Per-job wall intervals (start/end millis), so each run can report
    // how much wall time had NO job running at all — that residue is
    // driver-only work (plan analysis, manifest IO, dir listings), the
    // §1 attribution that separates "needs fewer/faster kernels" from
    // "needs less driver-side planning".
    val jobSpans =
      java.util.Collections.synchronizedList(new java.util.ArrayList[(Long, Long)])
    val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]
    val verbose = sys.env.get("SPARK_GRAFT_PROFILE_VERBOSE").contains("1")
    // Jobs per call site, reset per run: a job regression names its
    // origin (`parquet at Tables.scala:45`, `count at ...`) in the run's
    // summary line. Adaptive query stages all materialize from the same
    // executor frame, so they count as one site.
    val jobSites = new java.util.concurrent.ConcurrentHashMap[String, Integer]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        jobStarts.put(j.jobId, j.time)
        val cs = j.stageInfos.lastOption.map(_.name).getOrElse("?")
        val site = if (cs.contains("withThreadLocalCaptured")) "AQE stage" else cs
        jobSites.merge(site, 1, (a, b) => a + b)
        if (verbose) {
          val nTasks = j.stageInfos.map(_.numTasks).sum
          println(s"[job] $cs stages=${j.stageInfos.size} tasks=$nTasks")
        }
        ()
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(jobStarts.remove(j.jobId))
          .foreach(s => jobSpans.add((s, j.time)))
        ()
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        { stages.incrementAndGet(); () }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        Option(t.taskInfo).foreach(i => taskMs.addAndGet(i.duration))
        ()
      }
    })
    // Driver-thread stack sampler (SPARK_GRAFT_PROFILE_STACKS=1): samples
    // the query thread every 5 ms and aggregates the deepest frame in
    // graft/catalyst/hadoop-fs code, attributing the driverGap to actual
    // driver work (plan analysis vs FS listings vs manifest JSON vs
    // commit bookkeeping). Janino compiles mostly run on task and AQE
    // stage-materialization threads, which the query thread's samples
    // never show, so each tick also checks every RUNNABLE thread of the
    // JVM for a Janino frame.
    val sampleStacks = sys.env.get("SPARK_GRAFT_PROFILE_STACKS").contains("1")
    val sampled = new java.util.concurrent.ConcurrentHashMap[String, Integer]
    val ticks = new AtomicInteger
    val janinoTicks = new AtomicInteger
    val samplerOn = new java.util.concurrent.atomic.AtomicBoolean(false)
    val queryThread = Thread.currentThread()
    if (sampleStacks) {
      val t = new Thread(() => {
        while (true) {
          if (samplerOn.get()) {
            ticks.incrementAndGet()
            val compiling = Thread.getAllStackTraces.entrySet.stream.anyMatch { e =>
              e.getKey.getState == Thread.State.RUNNABLE &&
                e.getValue.exists(_.getClassName.startsWith("org.codehaus."))
            }
            if (compiling) janinoTicks.incrementAndGet()
            val st = queryThread.getStackTrace
            // topmost frame from an attributable package, else the top
            // non-jdk frame
            val pick = st.find { f =>
              val c = f.getClassName
              c.startsWith("graft.") ||
                c.startsWith("org.apache.spark.sql.catalyst.") ||
                c.startsWith("org.apache.spark.sql.execution.datasources.") ||
                c.startsWith("org.apache.hadoop.fs.") ||
                c.startsWith("com.fasterxml.jackson.")
            }.orElse(st.find(f => !f.getClassName.startsWith("java.") &&
              !f.getClassName.startsWith("jdk.") &&
              !f.getClassName.startsWith("scala.")))
            pick.foreach { f =>
              val key = f.getClassName + "." + f.getMethodName
              sampled.merge(key, 1, (a, b) => a + b)
            }
          }
          Thread.sleep(5)
        }
      })
      t.setDaemon(true)
      t.start()
    }
    try SparkEntry.queries("q1_agg")(spark, sfDir).count()
    catch { case _: Throwable => }
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to 2).foreach { run =>
        spark.catalog.clearCache()
        // let the listener bus drain so counters attribute to this run
        Thread.sleep(300)
        jobSpans.clear()
        jobSites.clear()
        val (j0, s0, t0, m0) =
          (jobs.get(), stages.get(), tasks.get(), taskMs.get())
        val c0 = compiles()
        val meta0 = metaCounters()
        sampled.clear()
        ticks.set(0)
        janinoTicks.set(0)
        samplerOn.set(true)
        val wc0 = System.currentTimeMillis()
        val w0 = System.nanoTime()
        fn(spark, sfDir).queryExecution.toRdd.count()
        val wall = (System.nanoTime() - w0) / 1e9
        val wc1 = System.currentTimeMillis()
        samplerOn.set(false)
        Thread.sleep(300)
        // union of job intervals clipped to the run window; the rest of
        // the wall is job-free driver time
        val spans = {
          import scala.jdk.CollectionConverters._
          jobSpans.asScala.toSeq
            .map { case (s, e) => (math.max(s, wc0), math.min(e, wc1)) }
            .filter { case (s, e) => e > s }.sortBy(_._1)
        }
        var covered = 0L
        var hi = Long.MinValue
        spans.foreach { case (s, e) =>
          covered += math.max(0L, e - math.max(s, hi))
          hi = math.max(hi, e)
        }
        val driverGap = math.max(0.0, wall - covered / 1e3)
        println(f"[jobprofile] $name run$run wall=$wall%.2fs " +
          f"jobs=${jobs.get - j0} stages=${stages.get - s0} " +
          f"tasks=${tasks.get - t0} compiles=${compiles() - c0} " +
          f"taskTime=${(taskMs.get - m0) / 1e3}%.1fs " +
          f"(parallel-occupancy ${(taskMs.get - m0) / 1e3 / (wall * cpus.toInt) * 100}%.0f%%) " +
          f"jobWall=${covered / 1e3}%.2fs driverGap=$driverGap%.2fs " +
          metaNames.zip(metaCounters().zip(meta0))
            .map { case (k, (a, b)) => s"$k=${a - b}" }.mkString(" "))
        locally {
          import scala.jdk.CollectionConverters._
          val sites = jobSites.asScala.toSeq.sortBy { case (k, n) => (-n.toInt, k) }
          println(s"[jobsites] $name run$run " +
            sites.map { case (k, n) => s"$k=$n" }.mkString(", "))
        }
        if (sampleStacks) {
          import scala.jdk.CollectionConverters._
          val top = sampled.asScala.toSeq.sortBy(-_._2).take(20)
          val n = math.max(1, sampled.asScala.values.map(_.toInt).sum)
          top.foreach { case (k, c) =>
            println(f"[stacks] $name run$run ${c.toInt * 100.0 / n}%5.1f%% ($c) $k")
          }
          val jt = janinoTicks.get
          println(f"[stacks] $name run$run janino (any thread) " +
            f"${jt * 100.0 / math.max(1, ticks.get)}%5.1f%% ($jt of ${ticks.get} ticks)")
        }
        // Per-Catalyst-rule cumulative time for this run (driver-side
        // analysis/optimization attribution); reset between runs.
        if (sys.env.get("SPARK_GRAFT_PROFILE_RULES").contains("1")) {
          val m = org.apache.spark.sql.catalyst.rules.RuleExecutor.getCurrentMetrics()
          println(s"[rules] $name run$run analysis+optimization " +
            f"totalRuleMs=${m.time / 1e6}%.0f numRuns=${m.numRuns}")
          println(org.apache.spark.sql.catalyst.rules.RuleExecutor.dumpTimeSpent()
            .linesIterator.take(28).map(l => s"[ruledump] $l").mkString("\n"))
          org.apache.spark.sql.catalyst.rules.RuleExecutor.resetMetrics()
        }
      }
      if (explain)
        println(fn(spark, sfDir).queryExecution.executedPlan.toString.take(4000))
    }
    spark.stop()
  }
}
