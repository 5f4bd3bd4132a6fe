package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.SparkListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload, one seed, one timed closed loop.
  *
  * Usage: perfbench.Main --workload ingest|mor_read|analytics --seed N
  *   --seconds S --trace 0|1 --out DIR [--data DIR]
  *        perfbench.Main --selftest --out DIR
  *
  * Writes DIR/result.json (and DIR/ledger.json when traced); the Python
  * front end turns it into the benchmark's result line. */
object Main {
  /** Set-up builds per run; `setup_s` is their median CPU time, so the
    * first, cold build does not decide it. */
  val SetupBuilds = 3

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def writeJson(file: File, v: Any): Unit = mapper.writeValue(file, v)

  def session(cpus: Int, out: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.local.dir", new File(out, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(out, "spark-warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.filterNot(_ == "--selftest").grouped(2)
      .collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = new File(opts("out"))
    out.mkdirs()
    val code =
      if (args.contains("--selftest")) SelfTest(out)
      else run(opts, out)
    sys.exit(code)
  }

  private def run(opts: Map[String, String], out: File): Int = {
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val cpus = Runtime.getRuntime.availableProcessors()
    // JVM launch to a ready session: printed, not gated, as it is
    // mostly the JVM's and Spark's start-up rather than graft's
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cpus, out)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val ledger = new Ledger(spark, trace)
    val w: Workload = workload match {
      case "ingest" => new Ingest(spark, ledger, seed)
      case "mor_read" => new MorRead(spark, ledger, seed)
      case "analytics" =>
        new Analytics(spark, ledger, seed, opts("data"), new File(out, "results"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // process CPU time (all driver and executor threads) moves less
    // than wall time with the load of a shared host, though it still does
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    // several builds, each in a fresh directory; the loop uses the last.
    // Each is timed in wall and in CPU seconds
    val builds = (1 to SetupBuilds).map { i =>
      val dir = new File(out, s"warehouse-$i")
      val (t0, cpu0) = (System.nanoTime(), os.getProcessCpuTime)
      w.setup(dir)
      ((System.nanoTime() - t0) / 1e9, (os.getProcessCpuTime - cpu0) / 1e9)
    }
    val setupS = Workload.quantile(builds.map(_._2), 0.5)
    val setupWallS = Workload.quantile(builds.map(_._1), 0.5)
    val work = new WorkCounter
    spark.sparkContext.addSparkListener(work)
    val tWarm = System.nanoTime()
    w.warmup()
    val warmupS = (System.nanoTime() - tWarm) / 1e9

    var cpuNs = 0L
    val (jobs0, tasks0) = work.counts(spark)
    val coin = new Random(seed ^ 0x7ace)
    val lat = ArrayBuffer.empty[(String, Double)]
    val traced = ArrayBuffer.empty[Boolean]
    var failed = 0
    // whole rounds until the time is up, so each run has the same op mix;
    // a traced run takes two, so more op kinds have a traced and an
    // untraced sample to measure the tracing overhead with
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var rounds = 0
    while (System.nanoTime() < deadline || (trace && rounds < 2)) {
      rounds += 1
      w.round().foreach { op =>
        // traced runs trace a seeded half of the ops; the other half
        // measures what the tracing costs
        val cpu0 = os.getProcessCpuTime
        val rec = ledger.op(lat.size, op.kind, trace && coin.nextBoolean())(op.body)
        cpuNs += os.getProcessCpuTime - cpu0
        lat += ((op.kind, rec.wallNs / 1e9))
        traced += rec.traced
        if (!rec.ok) failed += 1
        w.afterOp()
      }
    }
    val loopS = lat.map(_._2).sum
    val (jobs1, tasks1) = work.counts(spark)
    failed += w.finish()
    val attempted = lat.size
    val all = lat.map(_._2).toSeq

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    metrics("setup_s") = (setupS, "s")
    metrics("setup_wall_s") = (setupWallS, "s")
    metrics("session_s") = (sessionS, "s")
    metrics("jobs_per_op") = ((jobs1 - jobs0).toDouble / attempted, "count")
    metrics("tasks_per_op") = ((tasks1 - tasks0).toDouble / attempted, "count")
    metrics("cpu_s_per_op") = (cpuNs / 1e9 / attempted, "s")
    metrics("ops_per_s") = (attempted / loopS, "1/s")
    // the steady summary of latency over ops of different kinds: a run
    // holds too few ops for a pooled percentile to settle
    metrics("op_geomean_s") = (math.exp(all.map(math.log).sum / attempted), "s")
    metrics("op_p50_s") = (Workload.quantile(all, 0.5), "s")
    metrics("op_p90_s") = (Workload.quantile(all, 0.9), "s")
    metrics("fail_frac") = (failed.toDouble / attempted, "ratio")
    w.extra(lat.toSeq, loopS).foreach { case (n, v, u) => metrics(n) = (v, u) }

    val layers =
      if (trace) Trace.summarize(ledger, lat.toSeq, traced.toSeq, workload, seed, out)
      else Map.empty[String, (Double, String)]

    val result = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "attempted" -> attempted, "failed" -> failed,
      "session_s" -> sessionS, "setup_builds_wall_s" -> builds.map(_._1),
      "setup_builds_cpu_s" -> builds.map(_._2), "warmup_s" -> warmupS,
      "op_latency_s" -> lat.groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2) },
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "layers" -> layers.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }) ++
      w.report
    Main.writeJson(new File(out, "result.json"), result)
    ledger.close()
    spark.stop()
    0
  }
}

/** Counts the Spark jobs and tasks of the whole process: work counts
  * that repeat nearly exactly, where wall and CPU times follow the load
  * of a shared host. */
final class WorkCounter extends SparkListener {
  private val jobs = new AtomicLong
  private val tasks = new AtomicLong
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
  /** (jobs, tasks) so far, once the listener bus has delivered every event. */
  def counts(spark: SparkSession): (Long, Long) = {
    SparkListenerDrain(spark.sparkContext)
    (jobs.get, tasks.get)
  }
}

/** Turns a traced run's ledger into per-layer metrics and writes the
  * ledger dump. */
object Trace {
  private val Units = Seq("_s" -> "s", "_bytes" -> "bytes", "bytes_read" -> "bytes",
    "bytes_written" -> "bytes", "bytes_rewritten" -> "bytes", "_ratio" -> "ratio",
    "_per_row_out" -> "ratio")
  def unit(name: String): String =
    Units.collectFirst { case (suffix, u) if name.endsWith(suffix) => u }.getOrElse("count")

  def summarize(ledger: Ledger, lat: Seq[(String, Double)], traced: Seq[Boolean],
      workload: String, seed: Long, out: File): Map[String, (Double, String)] = {
    val ops = ledger.ops.toSeq
    val perOp = ops.map(op => op -> Ledger.layerTotals(op))
    val n = math.max(1, ops.size)
    val sums = mutable.LinkedHashMap.empty[String, Double]
    perOp.foreach { case (_, m) => m.foreach { case (k, v) => sums(k) = sums.getOrElse(k, 0.0) + v } }
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    // per-op means, except operators.<query>_s: the median of that query
    sums.foreach { case (k, v) =>
      if (k.startsWith("operators.") && k != "operators.self_s") {
        val xs = perOp.flatMap(_._2.get(k))
        metrics(k) = (Workload.quantile(xs, 0.5), "s")
      } else metrics(k) = (v / n, unit(k))
    }
    def total(k: String) = sums.getOrElse(k, 0.0)
    metrics("catalyst.rule_effective_ratio") =
      (total("catalyst.rule_effective") / math.max(1.0, total("catalyst.rule_runs")), "ratio")
    metrics("exec.rows_read_per_row_out") =
      (total("exec.rows_read") / math.max(1.0, total("exec.rows_out")), "ratio")
    // tracing overhead: per op kind, traced median minus untraced median,
    // weighted by the kind's share of the ops
    val byKind = lat.zip(traced).groupBy(_._1._1)
    val overhead = byKind.values.map { xs =>
      val (t, u) = xs.partition(_._2)
      if (t.isEmpty || u.isEmpty) 0.0
      else (Workload.quantile(t.map(_._1._2), 0.5) - Workload.quantile(u.map(_._1._2), 0.5)) * xs.size / lat.size
    }.sum
    val untraced = lat.zip(traced).collect { case ((_, s), false) => s }
    metrics("trace.overhead_s") = (overhead, "s")
    metrics("trace.overhead_ratio") = (overhead / math.max(1e-9, Workload.quantile(untraced, 0.5)), "ratio")
    metrics("trace.ops") = (ops.size.toDouble, "count")

    val kinds = perOp.groupBy(_._1.kind).map { case (kind, xs) =>
      val keys = xs.flatMap(_._2.keys).distinct
      kind -> (Map("ops" -> xs.size, "wall_s" -> Workload.quantile(xs.map(_._1.wallNs / 1e9), 0.5)) ++
        keys.map(k => k -> Workload.quantile(xs.map(_._2.getOrElse(k, 0.0)), 0.5)))
    }
    val dump = Map(
      "workload" -> workload, "seed" -> seed,
      "layers" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "median_by_kind" -> kinds,
      "ops" -> perOp.map { case (op, m) =>
        Map("id" -> op.id, "kind" -> op.kind, "ok" -> op.ok, "wall_s" -> op.wallNs / 1e9,
          "layers" -> m,
          "spans" -> op.spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
            "start_s" -> (s.startNs - op.startNs) / 1e9, "end_s" -> (s.endNs - op.startNs) / 1e9,
            "counts" -> s.counts)),
          "jobs" -> op.jobs.map(j => Map("job" -> j.jobId, "span" -> j.span,
            "start_s" -> (j.startNs - op.startNs) / 1e9, "end_s" -> (j.endNs - op.startNs) / 1e9,
            "stages" -> j.stages)))
      })
    Main.writeJson(new File(out, "ledger.json"), dump)
    metrics.toMap
  }
}

/** Harness self-test at tiny size: one extra Spark action inside a
  * wrapped call must add exactly one job to that layer. */
object SelfTest {
  def apply(out: File): Int = {
    val spark = Main.session(2, out)
    val ledger = new Ledger(spark, trace = true)
    def jobs(extra: Boolean): (Double, Double) = {
      val rec = ledger.op(0, "selftest", traced0 = true) { _ =>
        ledger.span("sources.commit") {
          spark.range(100).selectExpr("sum(id)").collect()
          if (extra) spark.range(7).collect()
        }
        true
      }
      val m = Ledger.layerTotals(rec)
      (m("sources.commit.jobs"), m("exec.jobs"))
    }
    jobs(extra = false) // warm
    val base = jobs(extra = false)
    val more = jobs(extra = true)
    val ok = more._1 - base._1 == 1.0 && more._2 - base._2 == 1.0
    println(s"[perfbench] selftest sources.commit.jobs ${base._1} -> ${more._1}, " +
      s"exec.jobs ${base._2} -> ${more._2}: ${if (ok) "PASS" else "FAIL"}")
    ledger.close()
    spark.stop()
    if (ok) 0 else 1
  }
}
