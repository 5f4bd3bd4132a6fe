package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Deterministic 10× scale-up of the driver's sf0.1 testdata, for scaling
 * benches when the container ships no sf1 (round 13+). Referentially
 * consistent TPC-H-style scaling: every fact AND dim replicates with
 * disjoint key-space offsets applied consistently on both sides of each
 * FK (orders.o_custkey and customer.c_custkey shift together), except
 * `region`/`nation` which stay fixed as in TPC-H. Replica 0 is the
 * identity, so sf0.1 results are a subset. No randomness — bytes are a
 * pure function of the source.
 *
 * Corpus tables replicate verbatim apart from ids: a replica IS an exact
 * duplicate family (10 copies per document/vector), which the banded
 * dedup/ANN designs must — and do — handle with bounded buckets. Noted
 * in BASELINE.md where it affects per-query scaling interpretation.
 *
 * Usage: sbt "runMain graft.ScaleUp /root/testdata/sf0.1 target/sf1synth 10 [verbatim|distinct]"
 */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("target/sf1synth")
    val reps = args.lift(2).map(_.toInt).getOrElse(10)
    // Corpus mode: `verbatim` (default) replicates documents/embeddings
    // byte-identically apart from ids — every doc/vector then belongs to
    // a `reps`-member exact-duplicate family (a legitimate but DENSE
    // corpus for the near-dup/ANN family). `distinct` mutates each
    // replica deterministically (every word prefixed with a
    // replica-specific token; embeddings circularly rotated by the
    // replica index) so cross-replica near-dup/ANN pair density scales
    // LINEARLY, like organically grown data. Replica 0 is the identity
    // in both modes.
    val mode = args.lift(3).getOrElse("verbatim")
    require(mode == "verbatim" || mode == "distinct",
      s"mode must be verbatim or distinct, got $mode")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // key-space stride per replica, per id domain — far above any base id
    val C = 10000000L   // custkey
    val S = 10000000L   // suppkey
    val P = 10000000L   // partkey
    val O = 100000000L  // orderkey
    // the MERGE queries synthesize "NEW" keys at doc_id + 1e7; a 2e7
    // stride keeps corpus and corpus+1e7 id spaces provably disjoint
    // (base ids < 5001), so synthesized keys never collide with a replica
    val D = 20000000L   // doc_id
    // dedup_semantic plants duplicate ids at base+100000 and guards that
    // the corpus stays below that offset — so vec_id strides must keep
    // 10 replicas under 100000 (base max 2000; replicas reach 92000)
    val V = 10000L      // vec_id
    // base vec_ids are < 2001; replica vec_ids reach (reps-1)*V + 2000 and
    // MUST stay below the 100000 planted-duplicate offset or they collide
    // with dedup_semantic's planted ids and silently corrupt its results
    require((reps - 1) * V + 2000 < 100000,
      s"replication factor $reps pushes vec_ids into dedup_semantic's " +
        "planted-duplicate id space (>= 100000) — max supported is 10")
    val E = 1000000000L // event_id
    val U = 10000000L   // user_id

    def replicate(name: String, offsets: Map[String, Long],
        mutate: (DataFrame, Int) => DataFrame = (df, _) => df): Unit = {
      val df = graft.sources.Tables.parquet(spark, s"$src/$name.parquet")
      val reps10: DataFrame = (0 until reps).map { r =>
        val shifted = df.select(df.columns.map { c =>
          offsets.get(c) match {
            case Some(stride) => (col(c) + lit(stride * r)).as(c)
            case None => col(c)
          }
        }: _*)
        if (r == 0) shifted else mutate(shifted, r) // replica 0 = identity
      }.reduce(_ unionByName _)
      reps10.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scaleup] $name: ${df.count()} -> ${reps10.count()} rows")
    }
    def copy(name: String): Unit = {
      graft.sources.Tables.parquet(spark, s"$src/$name.parquet")
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scaleup] $name: copied 1x")
    }

    copy("region")
    copy("nation")
    replicate("customer", Map("c_custkey" -> C))
    replicate("supplier", Map("s_suppkey" -> S))
    replicate("part", Map("p_partkey" -> P))
    replicate("orders", Map("o_orderkey" -> O, "o_custkey" -> C))
    replicate("lineitem", Map("l_orderkey" -> O, "l_partkey" -> P,
      "l_suppkey" -> S))
    replicate("events", Map("event_id" -> E, "user_id" -> U))
    // distinct mode: prefixing EVERY word with a replica token changes
    // every shingle, so replicas are not near-dups of each other (MinHash
    // / SimHash / n-gram pair density stays linear); n_chars follows the
    // text. Embeddings rotate circularly by the replica index — norms
    // preserved, cosine neighborhoods disjoint across replicas.
    val mutDocs: (DataFrame, Int) => DataFrame =
      if (mode == "verbatim") (df, _) => df
      else (df, r) => df
        .withColumn("text", concat_ws(" ",
          transform(split(col("text"), " "), w => concat(lit(s"r$r"), w))))
        .withColumn("n_chars", length(col("text")))
    val mutVecs: (DataFrame, Int) => DataFrame =
      if (mode == "verbatim") (df, _) => df
      else (df, r) => df.withColumn("embedding", concat(
        slice(col("embedding"), lit(r + 1), size(col("embedding")) - lit(r)),
        slice(col("embedding"), lit(1), lit(r))))
    replicate("documents", Map("doc_id" -> D), mutDocs)
    replicate("embeddings", Map("vec_id" -> V), mutVecs)
    spark.stop()
  }
}
