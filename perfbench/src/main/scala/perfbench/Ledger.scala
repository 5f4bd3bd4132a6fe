package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{SparkContext, SparkListenerDrain}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Times are epoch nanoseconds so they line
  * up with the millisecond event times of the listener and the Catalyst
  * phase tracker. */
final class Span(val id: Int, val name: String, val parent: Int, val startNs: Long) {
  var endNs: Long = startNs
  val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def add(key: String, v: Double): Unit = counts(key) = counts.getOrElse(key, 0.0) + v
  def wallNs: Long = endNs - startNs
  /** The layer a span belongs to: its name up to the second dot for
    * `sources.*`, else up to the first dot (`exec`, `operators`, `op`). */
  def layer: String = {
    val parts = name.split('.')
    if (parts(0) == "sources" && parts.length > 1) s"sources.${parts(1)}" else parts(0)
  }
}

/** Per-task totals, summed into the span that issued the task's job. */
final class TaskTotals {
  var tasks = 0L; var taskNs = 0L; var rowsRead = 0L; var bytesRead = 0L
  var shuffleBytes = 0L; var spillBytes = 0L; var gcNs = 0L
}

final class JobRec(val jobId: Int, val span: Int, val startNs: Long, val stages: Int) {
  @volatile var endNs: Long = -1L
}

/** One operation of the timed loop: its spans, the jobs its spans ran,
  * the Catalyst phases of its query executions and its rule metering. */
final class OpRec(val id: Int, val kind: String, val traced: Boolean) {
  var startNs = 0L
  var endNs = 0L
  var ok = true
  var rowsOut = 0L
  val spans = ArrayBuffer.empty[Span]
  val jobs = ArrayBuffer.empty[JobRec]
  val tasks = mutable.HashMap.empty[Int, TaskTotals]
  /** (phase, startNs, endNs) of every query execution seen in the op. */
  val phases = ArrayBuffer.empty[(String, Long, Long)]
  var ruleRuns = 0L
  var ruleEffective = 0L
  def wallNs: Long = endNs - startNs
}

/** Span recorder plus the listeners that attribute Spark jobs, tasks and
  * Catalyst phases to the innermost open span. The listener keys jobs by
  * a local property that the client thread sets on entering a span, so
  * a job lands in the span that ran it. Everything stays in memory until
  * the ledger is written at the end of a run. */
final class Ledger(spark: SparkSession, trace: Boolean) {
  import Ledger._

  private val sc: SparkContext = spark.sparkContext
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis() * 1000000L
  def now(): Long = epochBase + (System.nanoTime() - nanoBase)

  val ops = ArrayBuffer.empty[OpRec]
  private var current: OpRec = _
  private var open: Span = _
  private var nextSpan = 0
  // listener state: written on the bus thread, read after a drain
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val spanOp = new java.util.concurrent.ConcurrentHashMap[Int, OpRec]()
  private val seenQe = java.util.Collections.synchronizedList(
    new java.util.ArrayList[QueryExecution]())

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      span.foreach { s =>
        val id = s.toInt
        e.stageIds.foreach(stageSpan.put(_, id))
        val rec = new JobRec(e.jobId, id, e.time * 1000000L, e.stageIds.size)
        jobs.put(e.jobId, rec)
        Option(spanOp.get(id)).foreach(op => op.jobs.synchronized(op.jobs += rec))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endNs = e.time * 1000000L)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val span = stageSpan.get(e.stageId)
      val op = spanOp.get(span)
      if (op != null && e.taskMetrics != null) op.tasks.synchronized {
        val t = op.tasks.getOrElseUpdate(span, new TaskTotals)
        val m = e.taskMetrics
        t.tasks += 1
        t.taskNs += m.executorRunTime * 1000000L
        t.rowsRead += m.inputMetrics.recordsRead
        t.bytesRead += m.inputMetrics.bytesRead
        t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        t.gcNs += m.jvmGCTime * 1000000L
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      seenQe.add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      seenQe.add(qe)
  }

  if (trace) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Runs one operation; `traced` false leaves spans, counters and
    * metering off so the same loop measures its own overhead. */
  def op(id: Int, kind: String, traced0: Boolean)(body: OpRec => Boolean): OpRec = {
    val traced = trace && traced0
    val rec = new OpRec(id, kind, traced)
    current = if (traced) rec else null
    val rules0 = if (traced) RuleExecutor.getCurrentMetrics() else null
    seenQe.clear()
    rec.startNs = now()
    val root = if (traced) enter("op." + kind) else null
    try rec.ok = body(rec)
    catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] op $id ($kind) failed: $e")
        rec.ok = false
    } finally {
      if (root != null) exit(root)
      rec.endNs = now()
      current = null
    }
    if (traced) {
      SparkListenerDrain(sc)
      val rules1 = RuleExecutor.getCurrentMetrics()
      rec.ruleRuns = rules1.numRuns - rules0.numRuns
      rec.ruleEffective = rules1.numEffectiveRuns - rules0.numEffectiveRuns
      val distinct = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[QueryExecution, java.lang.Boolean]())
      seenQe.synchronized(distinct.addAll(seenQe))
      distinct.forEach(notePhases(rec, _))
      ops += rec
    }
    rec
  }

  /** The query executions the client drives itself (`toRdd`) are no
    * Dataset action, so the execution listener never sees them. */
  def noteQe(qe: QueryExecution): Unit = if (current != null) seenQe.add(qe)

  def counter(key: String, v: Double): Unit = if (open != null) open.add(key, v)

  def tracing: Boolean = current != null

  /** Times `body` as a span named `name` under the innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (current == null) body
    else {
      val s = enter(name)
      try body finally exit(s)
    }

  private def enter(name: String): Span = {
    val s = new Span(nextSpan, name, if (open == null) -1 else open.id, now())
    nextSpan += 1
    current.spans += s
    spanOp.put(s.id, current)
    open = s
    sc.setLocalProperty(SpanKey, s.id.toString)
    s
  }

  private def exit(s: Span): Unit = {
    s.endNs = now()
    open = current.spans.find(_.id == s.parent).orNull
    sc.setLocalProperty(SpanKey, if (open == null) null else open.id.toString)
  }

  /** Phases of a query execution seen during the op; a late listener
    * event from an earlier op falls outside the op's window and is
    * dropped. */
  private def notePhases(rec: OpRec, qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, p) =>
      val (s, e) = (p.startTimeMs * 1000000L, p.endTimeMs * 1000000L)
      if (phase != "parsing" && s >= rec.startNs - 1000000L && s <= rec.endNs)
        rec.phases += ((phase, s, e))
    }

  def close(): Unit = if (trace) {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Ledger {
  val SpanKey = "perfbench.span"

  /** Total length of the union of [start, end) intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }

  /** Layer totals of one traced operation, in seconds or counts. Self
    * times split the op's wall time: a span's self time is its wall time
    * minus its child spans, the Catalyst phases that ran inside it and
    * the union of its own jobs; job time goes to `exec`, phase time to
    * `catalyst`, and the rest of the op body to `bench`. */
  def layerTotals(op: OpRec): mutable.LinkedHashMap[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v
    val children = op.spans.groupBy(_.parent)
    val jobsBySpan = op.jobs.groupBy(_.span)
    def jobIv(js: Iterable[JobRec]) = js.filter(_.endNs >= 0).map(j => (j.startNs, j.endNs)).toSeq
    def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree).toSeq
    // a phase belongs to the innermost span that contains its start
    val phaseSpan = op.phases.map { case (ph, s, e) =>
      val owner = op.spans.filter(sp => sp.startNs <= s + 1000000L && s <= sp.endNs)
        .sortBy(sp => -sp.startNs).headOption
      (ph, s, e, owner.map(_.id).getOrElse(-1))
    }
    op.spans.foreach { s =>
      val childNs = children.getOrElse(s.id, Nil).map(_.wallNs).sum
      val phaseNs = phaseSpan.filter(_._4 == s.id).map(p => p._3 - p._2).sum
      val jobNs = unionNs(jobIv(jobsBySpan.getOrElse(s.id, Nil)))
      val self = math.max(0L, s.wallNs - childNs - phaseNs - jobNs)
      val layer = if (s.layer == "op") "bench" else s.layer
      add(s"$layer.self_s", self / 1e9)
      add("exec.self_s", jobNs / 1e9)
      if (s.layer == "operators") add(s"${s.name}_s", s.wallNs / 1e9)
      if (s.layer.startsWith("sources.")) {
        val sub = subtree(s)
        val subJobs = sub.flatMap(x => jobsBySpan.getOrElse(x.id, Nil))
        add(s"${s.layer}.call_s", s.wallNs / 1e9)
        add(s"${s.layer}.jobs", subJobs.size)
        add(s"${s.layer}.tasks", sub.flatMap(x => op.tasks.get(x.id)).map(_.tasks).sum)
        add(s"${s.layer}.driver_gap_s", (s.wallNs - unionNs(jobIv(subJobs))) / 1e9)
      }
      s.counts.foreach { case (k, v) => add(s"${s.layer}.$k", v) }
    }
    phaseSpan.foreach { case (ph, s, e, _) => add(s"catalyst.${ph}_s", (e - s) / 1e9) }
    add("catalyst.self_s", phaseSpan.map(p => p._3 - p._2).sum / 1e9)
    add("catalyst.rule_runs", op.ruleRuns)
    add("catalyst.rule_effective", op.ruleEffective)
    val tt = op.tasks.values
    add("exec.jobs", op.jobs.size)
    add("exec.stages", op.jobs.map(_.stages).sum)
    add("exec.tasks", tt.map(_.tasks).sum)
    add("exec.task_s", tt.map(_.taskNs).sum / 1e9)
    add("exec.driver_gap_s", (op.wallNs - unionNs(jobIv(op.jobs))) / 1e9)
    add("exec.rows_read", tt.map(_.rowsRead).sum)
    add("exec.bytes_read", tt.map(_.bytesRead).sum)
    add("exec.rows_out", op.rowsOut)
    add("exec.shuffle_bytes", tt.map(_.shuffleBytes).sum)
    add("exec.spill_bytes", tt.map(_.spillBytes).sum)
    add("exec.gc_s", tt.map(_.gcNs).sum / 1e9)
    m
  }
}
