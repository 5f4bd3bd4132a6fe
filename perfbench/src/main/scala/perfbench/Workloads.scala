package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.GraftCatalog

/** One timed operation: a kind (for per-kind latency) and a body that
  * returns whether its result checked out. */
final case class Op(kind: String, body: OpRec => Boolean)

/** A seeded workload. `setup` builds its state under a fresh directory
  * and may run several times; the last build is the one the timed loop
  * uses. The loop runs whole rounds, so every run holds the same mix of
  * operation kinds whatever the seed. */
trait Workload {
  def setup(dir: File): Unit
  def warmup(): Unit
  def round(): Seq[Op]
  /** Bookkeeping between operations, outside the timed window. */
  def afterOp(): Unit = ()
  /** Checks run after the loop; returns the number of failed checks. */
  def finish(): Int
  /** Workload-specific end-to-end metrics as (name, value, unit), from
    * the (kind, seconds) of every timed op and the loop's total time. */
  def extra(ops: Seq[(String, Double)], loopSeconds: Double): Seq[(String, Double, String)] = Nil
  /** Extra fields for the result file. */
  def report: Map[String, Any] = Map.empty
}

object Workload {
  /** Linearly interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def lat(ops: Seq[(String, Double)], kinds: Set[String]): Seq[Double] =
    ops.collect { case (k, s) if kinds(k) => s }
}

/** Writes beside reads: seeded upsert batches (mostly updates skewed to
  * recent keys), a range delete every fourth step, library-default
  * maintenance after each commit, and a read-your-write point lookup
  * after each commit. */
final class Ingest(spark: SparkSession, ledger: Ledger, seed: Long) extends Workload {
  import PkTable._
  private val BaseRows = 20000
  private val BatchRows = 2000
  private val StepsPerRound = 4
  private val KeepSnapshots = 3

  private var cat: GraftCatalog = _
  private var tableDir: File = _
  private var rnd: Random = _
  private var model: Model = _
  private var nextKey = 0L
  private var census: Map[String, Long] = Map.empty
  private var bytesWritten = 0L
  private var userRows = 0L

  def setup(dir: File): Unit = {
    rnd = new Random(seed)
    model = new Model
    cat = new GraftCatalog(spark, dir.getPath)
    create(cat)
    val base = (0 until BaseRows).map(i => rec(i.toLong, rnd))
    cat.upsert("db", "t", frame(spark, base))
    model.upsert(base)
    nextKey = BaseRows
    tableDir = new File(dir, "db")
    census = Census(tableDir)
  }

  /** One round's commits without their lookups. The delete's own read
    * warms the read path, and the table then holds six dirs, so the timed
    * round's closing delete crosses `compactIfNeeded`'s default of ten
    * and compacts. */
  def warmup(): Unit = {
    round().filterNot(_.kind == "point").foreach { op =>
      op.body(new OpRec(-1, "warmup", false))
      afterOp()
    }
    bytesWritten = 0L
    userRows = 0L
  }

  /** A batch of distinct keys: ~90% updates, drawn with an exponential
    * skew toward the newest keys, and ~10% new keys. */
  private def batch(): Seq[Rec] = {
    val keys = mutable.LinkedHashSet.empty[Long]
    while (keys.size < BatchRows) {
      if (rnd.nextInt(10) == 0) { keys += nextKey; nextKey += 1 }
      else {
        val back = (-math.log(1.0 - rnd.nextDouble()) * nextKey / 4).toLong
        keys += math.max(0L, nextKey - 1 - back)
      }
    }
    keys.toSeq.map(rec(_, rnd))
  }

  override def afterOp(): Unit = {
    val now = Census(tableDir)
    bytesWritten += Census.written(census, now)._2
    census = now
  }

  private def maintain(expire: Boolean): Unit = ledger.span("sources.maint") {
    val before = if (ledger.tracing) Census(tableDir) else null
    val compacted = cat.compactIfNeeded("db", "t")
    val expired = if (expire) cat.expireSnapshots("db", "t", KeepSnapshots) else Nil
    if (ledger.tracing) {
      ledger.counter("runs", compacted.size + (if (expired.nonEmpty) 1 else 0))
      ledger.counter("bytes_rewritten",
        if (compacted.isEmpty) 0.0 else Census.written(before, Census(tableDir))._2)
      ledger.counter("live_dirs", cat.snapshotFileEntries("db", "t").size)
    }
  }

  /** A write in a `sources.commit` span (traced runs count the files it
    * adds), then the inline maintenance, then the model update. */
  private def commitOp(kind: String, expire: Boolean)(write: => Unit)(update: => Unit) =
    Op(kind, _ => {
      ledger.span("sources.commit") {
        val before = if (ledger.tracing) Census(tableDir) else null
        write
        if (ledger.tracing) {
          val (files, bytes, manifest) = Census.written(before, Census(tableDir))
          ledger.counter("files_written", files)
          ledger.counter("bytes_written", bytes)
          ledger.counter("manifest_bytes", manifest)
        }
      }
      maintain(expire)
      update
      true
    })

  private def pointOp(k: Long) = Op("point", lookup(ledger, cat, model, k))

  /** Four steps, each a commit and its read-your-write lookup; the
    * fourth commit also expires old snapshots. A range delete closes the
    * round (the final image check covers its effect). */
  def round(): Seq[Op] = {
    val steps = (1 to StepsPerRound).flatMap { i =>
      val rows = batch()
      Seq(
        commitOp("commit", expire = i == StepsPerRound) {
          cat.upsert("db", "t", frame(spark, rows))
        } {
          model.upsert(rows)
          userRows += rows.size
        },
        pointOp(rows(rnd.nextInt(rows.size)).k))
    }
    val lo = rnd.nextLong(math.max(1L, nextKey - 50))
    steps :+ commitOp("delete", expire = false) {
      cat.deleteWhere("db", "t", col("k").between(lo, lo + 20))
    } {
      model.deleteRange(lo, lo + 20)
    }
  }

  def finish(): Int = checkImage(spark, cat, model)

  override def extra(ops: Seq[(String, Double)], loopSeconds: Double): Seq[(String, Double, String)] = {
    import Workload._
    val commits = lat(ops, Set("commit", "delete"))
    val live = Census(tableDir).values.sum
    Seq(
      ("commit_p50_s", quantile(commits, 0.5), "s"),
      ("commit_p90_s", quantile(commits, 0.9), "s"),
      ("ingest_rows_per_s", userRows / loopSeconds, "rows/s"),
      ("write_amp", bytesWritten.toDouble / math.max(1L, userRows * RowBytes), "ratio"),
      ("space_amp", live.toDouble / math.max(1L, model.count * RowBytes), "ratio"),
      ("point_p50_s", quantile(lat(ops, Set("point")), 0.5), "s"))
  }
}

/** Read-only loop over an uncompacted merge-on-read table: point
  * lookups, SQL-connector range aggregates, full-table aggregates and
  * time-travel reads. */
final class MorRead(spark: SparkSession, ledger: Ledger, seed: Long) extends Workload {
  import PkTable._
  private val BaseRows = 20000
  private val DeltaRows = 2000

  private var cat: GraftCatalog = _
  private var sqlTable = ""
  private var rnd: Random = _
  private var model: Model = _
  private var maxKey = 0L
  /** (snapshot id, row count, sum v) after each setup commit. */
  private var history = Vector.empty[(Long, Long, Long)]
  private var setups = 0

  def setup(dir: File): Unit = {
    val r = new Random(seed)
    model = new Model
    cat = new GraftCatalog(spark, dir.getPath)
    create(cat)
    history = Vector.empty
    def snap(): Unit =
      history :+= ((cat.snapshots("db", "t").last.id, model.count, model.sumV))
    val base = (0 until BaseRows).map(i => rec(i.toLong, r))
    cat.upsert("db", "t", frame(spark, base))
    model.upsert(base)
    snap()
    // a delta over existing and new keys, then a range delete: three
    // uncompacted dirs that every read merges
    var next = BaseRows.toLong
    val keys = mutable.LinkedHashSet.empty[Long]
    while (keys.size < DeltaRows) {
      if (r.nextInt(5) == 0) { keys += next; next += 1 }
      else keys += r.nextLong(next)
    }
    val rows = keys.toSeq.map(rec(_, r))
    cat.upsert("db", "t", frame(spark, rows))
    model.upsert(rows)
    snap()
    val lo = r.nextLong(next - 200)
    cat.deleteWhere("db", "t", col("k").between(lo, lo + 100))
    model.deleteRange(lo, lo + 100)
    snap()
    maxKey = next
    model.freeze()
    // a catalog instance per build: Spark caches catalogs by name
    val name = s"gq$setups"
    setups += 1
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", dir.getPath)
    sqlTable = s"$name.db.t"
    rnd = new Random(seed * 31 + 7)
  }

  def warmup(): Unit = Seq(point(), range()).foreach(_.body(new OpRec(-1, "warmup", false)))

  private def resolveDirs(snapshot: Option[Long]): Unit =
    if (ledger.tracing)
      ledger.counter("dirs", cat.snapshotFileEntries("db", "t", snapshot).size)

  private def point(): Op = Op("point", lookup(ledger, cat, model, rnd.nextLong(maxKey)))

  private def range(): Op = {
    val lo = rnd.nextLong(maxKey)
    val hi = lo + rnd.nextInt(2000)
    Op("range", op => {
      val df = ledger.span("sources.resolve") {
        resolveDirs(None)
        spark.sql(s"SELECT count(*) AS n, coalesce(sum(v), 0) AS sv FROM $sqlTable " +
          s"WHERE k BETWEEN $lo AND $hi")
      }
      val r = ledger.span("exec") { df.head() }
      op.rowsOut = 1
      (r.getLong(0), r.getLong(1)) == model.range(lo, hi)
    })
  }

  private def aggregate(df: DataFrame): (Long, Long) = {
    val r = ledger.span("exec") { df.agg(count(lit(1)), coalesce(sum("v"), lit(0L))).head() }
    (r.getLong(0), r.getLong(1))
  }

  private def full(): Op = Op("full", op => {
    val df = ledger.span("sources.resolve") { resolveDirs(None); cat.read("db", "t") }
    op.rowsOut = 1
    aggregate(df) == ((model.count, model.sumV))
  })

  private def travel(): Op = {
    val (id, n, sv) = history(rnd.nextInt(history.size))
    Op("travel", op => {
      val df = ledger.span("sources.resolve") {
        resolveDirs(Some(id))
        cat.read("db", "t", snapshotId = Some(id))
      }
      op.rowsOut = 1
      aggregate(df) == ((n, sv))
    })
  }

  /** A seeded shuffle of 4 point lookups, 3 range aggregates, 2 full
    * aggregates and 1 time-travel read. */
  def round(): Seq[Op] = rnd.shuffle(
    Seq.fill(4)(point()) ++ Seq.fill(3)(range()) ++ Seq.fill(2)(full()) :+ travel())

  def finish(): Int = checkImage(spark, cat, model)

  override def extra(ops: Seq[(String, Double)], loopSeconds: Double): Seq[(String, Double, String)] = {
    import Workload._
    Seq(
      ("point_p50_s", quantile(lat(ops, Set("point")), 0.5), "s"),
      ("scan_p50_s", quantile(lat(ops, Set("range", "full")), 0.5), "s"))
  }
}

/** Closed loop over the non-catalog queries of the bench headline, on
  * seeded generated tables, each timed with the bench's action
  * (`queryExecution.toRdd.count()`). The warm-up pass writes every
  * query's result; those results and every timed row count go to the
  * DuckDB oracle comparison after the run. */
final class Analytics(spark: SparkSession, ledger: Ledger, seed: Long,
    dataDir: String, outDir: File) extends Workload {
  private val queries = Analytics.Queries
  private val counts = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Long]]
  private val rnd = new Random(seed)

  /** Opens the ten input tables through `graft.sources.Tables`, the
    * queries' own input path, and scans each once. */
  def setup(dir: File): Unit =
    Analytics.Tables.foreach { t =>
      require(graft.sources.Tables(spark, dataDir, t).count() > 0, s"table $t is empty")
    }

  def warmup(): Unit = {
    queries.foreach { q =>
      // part files keep the partition order, so a sorted result stays sorted
      graft.SparkEntry.queries(q)(spark, dataDir)
        .write.mode("overwrite").parquet(new File(outDir, q).getPath)
      spark.catalog.clearCache()
    }
    val oracle = graft.SparkEntry.oracleSql
    Main.writeJson(new File(outDir, "oracle_sql.json"),
      queries.flatMap(q => oracle.get(q).map(q -> _)).toMap)
  }

  /** Every query once, in a seeded order. */
  def round(): Seq[Op] = rnd.shuffle(queries).map { q =>
    Op(q, op => {
      spark.catalog.clearCache()
      val n = ledger.span(s"operators.$q") {
        val df = graft.SparkEntry.queries(q)(spark, dataDir)
        ledger.noteQe(df.queryExecution)
        ledger.span("exec") { df.queryExecution.toRdd.count() }
      }
      op.rowsOut = n
      counts.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += n
      true
    })
  }

  /** The oracle comparison runs after the JVM exits, on `report`. */
  def finish(): Int = 0

  override def report: Map[String, Any] = Map("row_counts" -> counts)
}

object Analytics {
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The frozen bench headline minus its `catalog_*` queries, and minus
    * its eight slowest (dedup_clusters, ann_indexed, join_runtime_filter,
    * q9_product_profit, dedup_substring_spans, join_asof,
    * pipeline_shuffle_shards, agg_rollup) so that one pass fits a run.
    * Every family keeps at least one query. */
  val Queries: Seq[String] = Seq(
    "q1_agg", "q3_shipping", "q6_forecast", "q18_large_orders",
    "scan_filter_compound", "scan_projection", "topn",
    "join_shuffle", "join_broadcast",
    "window_ranks", "window_running",
    "dedup_exact", "dedup_minhash",
    "text_quality", "text_tokens", "text_tfidf",
    "ann_scalable",
    "pipeline_pack_sequences",
    "media_dedup_dhash")
}
