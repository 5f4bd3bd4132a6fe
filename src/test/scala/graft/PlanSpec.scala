package graft

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, desc, row_number}

/**
 * Plan-shape guards: the scale contracts PLANS.md documents, asserted
 * mechanically so a regression (lost pushdown, a join degrading to a
 * cross product, a top-N materializing a full sort) fails CI instead of
 * surfacing at 100 TB.
 */
class PlanSpec extends SparkSpecBase {

  private def planOf(df: Dataset[_]): String = df.queryExecution.executedPlan.toString

  private def plan(name: String): String = planOf(SparkEntry.queries(name)(spark, sfDir))

  test("filters are pushed into the parquet scan") {
    val p = plan("scan_filter_eq")
    assert(p.contains("PushedFilters") && p.contains("EqualTo"), p.take(2000))
    val r = plan("scan_filter_range")
    assert(r.contains("GreaterThan") && r.contains("PushedFilters"), r.take(2000))
  }

  test("projection prunes the read schema") {
    val p = plan("scan_projection")
    // lineitem has 16 columns; the query projects 3
    val struct = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse(fail(s"no ReadSchema in $p"))
    assert(struct.split(",").length <= 3, struct)
  }

  test("dimension joins broadcast; no sort-merge join against tiny dims") {
    val p = plan("join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("top-N collapses to TakeOrderedAndProject, not a global sort") {
    assert(plan("topn").contains("TakeOrderedAndProject"))
    assert(plan("q18_large_orders").contains("TakeOrderedAndProject"))
  }

  test("decontamination broadcasts the eval side") {
    assert(plan("text_decontaminate").contains("BroadcastExchange"))
  }

  test("no registered query plans a cartesian product; BNLJ only where intended") {
    // Bounded-sample pair kernels and 1-to-3-row broadcast sides use
    // BroadcastNestedLoopJoin deliberately; everything else must not.
    val bnljAllowed = Set("dedup_ngram_pairs", "dedup_levenshtein",
      "join_range", "text_tfidf", "dedup_stats",
      "ann_bruteforce",  // the all-pairs baseline the bounded variants beat
      "subquery_scalar", // uncorrelated scalar = 1-row broadcast side
      "q22_dormant",     // Q22's average balance = 1-row broadcast side
      "q15_top_supplier", // Q15's max revenue = 1-row broadcast side
      // partsupp family: the derivation crossJoins the 1-row broadcast
      // supplier count (TpchExtQueries.partsupp); Q11 additionally
      // broadcasts its 1-row threshold.
      "q2_min_cost_supplier", "q9_product_profit", "q11_important_stock",
      "q16_parts_suppliers", "q20_promotion",
      // lloydAssign scores every vector against a broadcast of ≤nlist
      // (16) centroid rows — a bounded-side BNLJ by design; the dedup
      // pair join itself is a cell equi-join (asserted in AnnSpec)
      "dedup_semantic")
    // Iterative/stateful builders execute work at construction; their
    // per-round plans are asserted in their own specs instead.
    val skip = Set("dedup_clusters", "cluster_kmeans", "ann_ivf",
      "stream_window", "stream_sessions")
    val offenders = SparkEntry.queries.keys.toSeq.sorted.filterNot(skip).flatMap { name =>
      val p = plan(name)
      val cart = if (p.contains("CartesianProduct")) Seq(s"$name: CartesianProduct") else Nil
      val bnlj = if (!bnljAllowed(name) && p.contains("BroadcastNestedLoopJoin"))
        Seq(s"$name: BroadcastNestedLoopJoin") else Nil
      cart ++ bnlj
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  private val minPartitionSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  /** A small frame whose global sort AQE would coalesce into one partition. */
  private def smallSorted = spark.range(0, 5000, 1, 4)
    .selectExpr("id % 97 AS k", "id").orderBy("k", "id")

  test("a small global sort gathers to one partition instead of range-shuffling") {
    val p = planOf(smallSorted)
    assert(p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"), p)
    assert(!p.contains("rangepartitioning"), p)
    val q = plan("q1_agg")
    assert(q.contains("Exchange SinglePartition") && !q.contains("rangepartitioning"), q)
  }

  test("a small global sort runs one job fewer and returns the same rows in order") {
    // the range partitioner's sampling job is the job the gather saves
    var gathered: Seq[Row] = Nil
    var ranged: Seq[Row] = Nil
    val gatheredJobs = jobsDuring { gathered = smallSorted.collect().toSeq }
    val rangedJobs = withConfs(minPartitionSize -> "1b") {
      assert(planOf(smallSorted).contains("rangepartitioning"))
      jobsDuring { ranged = smallSorted.collect().toSeq }
    }
    assert(gatheredJobs === rangedJobs - 1, s"$gatheredJobs vs $rangedJobs jobs")
    assert(gathered.size === 5000)
    assert(gathered === ranged)
  }

  test("a sort input estimated above the coalescing bound keeps its range shuffle") {
    // 2^40 longs: an 8 TiB estimate (planned, never run)
    val p = planOf(spark.range(0, 1L << 40).orderBy(desc("id")))
    assert(p.contains("rangepartitioning"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("small sorts keep their range shuffle when AQE does not coalesce partitions") {
    withConfs("spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val p = planOf(smallSorted)
      assert(p.contains("rangepartitioning") && !p.contains("SinglePartition"), p)
    }
  }

  test("repartitionByRange and sortCompact keep their range partitions") {
    val wh = java.nio.file.Files.createTempDirectory("graft-smallsort").toString
    val byRange = spark.range(0, 5000, 1, 4).repartitionByRange(8, col("id"))
    assert(planOf(byRange).contains("rangepartitioning(id"), planOf(byRange))
    byRange.write.parquet(s"$wh/ranged")
    assert(new java.io.File(s"$wh/ranged").list().count(_.endsWith(".parquet")) === 8)
    val gc = new graft.sources.GraftCatalog(spark, s"$wh/wh")
    gc.createSchema("db")
    val rows = spark.range(0, 5000).selectExpr("id % 1000 AS k", "id")
    gc.createTable("db", "t", rows.schema)
    gc.append("db", "t", rows)
    gc.sortCompact("db", "t", Seq("k"), ranges = 16)
    val ranges = new java.io.File(s"$wh/wh/db/t").list().filter(_.matches("snap-\\d+-r\\d+"))
    assert(ranges.length === 16, ranges.toSeq)
  }

  test("window and sort-merge-join orderings keep their hash exchanges") {
    val base = spark.range(0, 5000, 1, 4).selectExpr("id % 97 AS k", "id")
    val w = planOf(base.withColumn("r",
      row_number().over(Window.partitionBy("k").orderBy(col("id")))))
    assert(w.contains("hashpartitioning(k") && !w.contains("SinglePartition"), w)
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = planOf(base.join(base.withColumnRenamed("id", "id2"), "k"))
      assert(j.contains("SortMergeJoin") && j.contains("hashpartitioning(k"), j)
      assert(!j.contains("SinglePartition"), j)
    }
  }
}
