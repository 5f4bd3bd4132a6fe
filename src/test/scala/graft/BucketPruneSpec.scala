package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.GraftCatalog

/**
 * Bucket-pruned key lookups: `readWhere` on a fixed-bucket PK table
 * merges only the buckets a primary-key `=` / `<=>` / `IN` can hit. Every
 * case checks the result against `read().filter(cond)`; a selecting case
 * checks the scan reads exactly the selected buckets' records, and a
 * declining case checks the executed plan is the unpruned read's.
 */
class BucketPruneSpec extends SparkSpecBase {

  private val N = 8

  private def freshCatalog(): GraftCatalog =
    new GraftCatalog(spark, Files.createTempDirectory("graft-bp-wh").toString)

  private val idvSchema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  private def idv(ids: Seq[Long], tag: String): DataFrame = {
    val rows = new java.util.ArrayList[Row]()
    ids.foreach(i => rows.add(Row(i, s"$tag$i")))
    spark.createDataFrame(rows, idvSchema)
  }

  /** A MoR-pending (id, v) table: base rows, an update slice, tombstones. */
  private def idvTable(cat: GraftCatalog, table: String,
      extra: Map[String, String] = Map.empty): Unit = {
    cat.createSchema("db")
    cat.createTable("db", table, idvSchema,
      options = Map("bucket" -> N.toString) ++ extra, primaryKey = Seq("id"))
    cat.upsert("db", table, idv(1L to 400L, "v"))
    cat.upsert("db", table, idv(1L to 50L, "u"))
    cat.deleteWhere("db", table, col("id") % 17 === 0)
  }

  private def rowsOf(df: DataFrame): Set[Row] = df.collect().toSet

  private def scanned(df: => DataFrame): Long = recordsScanned { df.collect() }

  /** An executed plan modulo expression ids and lambda identities. */
  private def norm(plan: String): String =
    plan.replaceAll("#\\d+L?", "#").replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("Lambda\\$\\d+/0x[0-9a-f]+@[0-9a-f]+", "Lambda")

  /** readWhere selects `buckets` (in key order): same rows as the
    * unpruned read, and the scan reads only those buckets' records —
    * about buckets/N of the table's (deletion-vector positions are not
    * bucketed: a DV table's lookups read all of them, `dv = true`). */
  private def assertSelects(cat: GraftCatalog, table: String, cond: Column,
      buckets: Seq[Int], dv: Boolean = false): Unit = {
    val want = rowsOf(cat.read("db", table).filter(cond))
    assert(rowsOf(cat.readWhere("db", table, cond)) === want)
    val full = scanned(cat.read("db", table).filter(cond))
    val got = scanned(cat.readWhere("db", table, cond))
    val slice = buckets.map(b => scanned(cat.readBucket("db", table, b))).sum
    assert(got === slice, s"scanned $got records, the selected buckets hold $slice")
    assert(got < full, s"scanned $got of $full records")
    if (!dv) assert(got * N <= full * buckets.size * 2,
      s"scanned $got of $full records for ${buckets.size}/$N buckets")
  }

  /** readWhere declines: the unpruned read's rows AND executed plan. */
  private def assertDeclines(cat: GraftCatalog, table: String, cond: Column,
      snapshotId: Option[Long] = None): Unit = {
    val full = cat.read("db", table, snapshotId).filter(cond)
    val got = cat.readWhere("db", table, cond, snapshotId)
    assert(rowsOf(got) === rowsOf(full))
    assert(norm(got.queryExecution.executedPlan.toString) ===
      norm(full.queryExecution.executedPlan.toString))
  }

  test("= selects the key's bucket; IN selects each member's bucket") {
    val cat = freshCatalog()
    idvTable(cat, "t")
    val k7 = cat.bucketFor("db", "t", Seq(7L))
    assertSelects(cat, "t", col("id") === 7L, Seq(k7))
    assert(cat.readWhere("db", "t", col("id") === 7L).rdd.getNumPartitions === 1)
    assert(cat.readWhere("db", "t", col("id") === 7L).head().getString(1) === "u7")
    // a tombstoned key stays deleted through the pruned read
    assert(cat.readWhere("db", "t", col("id") === 34L).count() === 0)
    // IN over two keys in different buckets
    val other = (8L to 400L).find(k => cat.bucketFor("db", "t", Seq(k)) != k7).get
    val two = Seq(k7, cat.bucketFor("db", "t", Seq(other))).sorted
    assertSelects(cat, "t", col("id").isin(7L, other), two)
    assert(cat.readWhere("db", "t", col("id").isin(7L, other)).rdd.getNumPartitions === 2)
    // extra conjuncts ride along; <=> pins like =
    assertSelects(cat, "t", col("id") === 7L && col("v").startsWith("u"), Seq(k7))
    assertSelects(cat, "t", col("id") <=> 7L, Seq(k7))
  }

  test("int literal on a bigint key selects; contradictions and nulls read nothing") {
    val cat = freshCatalog()
    idvTable(cat, "t")
    // the analyzer casts the int literal to bigint — folded, still a pin
    assertSelects(cat, "t", col("id") === 7, Seq(cat.bucketFor("db", "t", Seq(7L))))
    // k = 1 AND k = 2, and k = NULL, can match nothing: no scan at all
    for (cond <- Seq(col("id") === 1L && col("id") === 2L, col("id") === lit(null),
        col("id").isin(lit(null)))) {
      assert(cat.readWhere("db", "t", cond).collect().isEmpty)
      assert(scanned(cat.readWhere("db", "t", cond)) === 0L)
    }
  }

  test("declines keep the unpruned plan: N+ literals, non-PK, OR, time travel") {
    val cat = freshCatalog()
    idvTable(cat, "t")
    assertDeclines(cat, "t", col("id").isin((1L to N.toLong): _*))
    assertDeclines(cat, "t", col("v") === "v9")
    assertDeclines(cat, "t", col("id") === 1L || col("id") === 2L)
    assertDeclines(cat, "t", col("id") > 390L)
    // a cast COLUMN (double comparison) is not a key pin
    assertDeclines(cat, "t", col("id") === 7.0)
    // time travel: the bucket option describes the head snapshot only
    assertDeclines(cat, "t", col("id") === 7L, snapshotId = Some(1L))
  }

  test("composite key: one pinned column declines, both pinned select") {
    val cat = freshCatalog()
    val schema = StructType(Seq(StructField("part", StringType),
      StructField("id", LongType), StructField("v", StringType)))
    cat.createSchema("db")
    cat.createTable("db", "c", schema, options = Map("bucket" -> N.toString),
      primaryKey = Seq("part", "id"))
    val rows = new java.util.ArrayList[Row]()
    for (p <- Seq("a", "b"); i <- 1L to 150L) rows.add(Row(p, i, s"$p$i"))
    cat.upsert("db", "c", spark.createDataFrame(rows, schema))
    cat.upsert("db", "c", spark.createDataFrame(rows, schema)
      .filter(col("id") <= 20).withColumn("v", lit("u")))
    assertDeclines(cat, "c", col("id") === 7L)
    assertSelects(cat, "c", col("part") === "a" && col("id") === 7L,
      Seq(cat.bucketFor("db", "c", Seq("a", 7L))))
    // 2 × 2 tuples < N: the cross-product's buckets
    val cross = col("part").isin("a", "b") && col("id").isin(7L, 30L)
    val want = (for (p <- Seq("a", "b"); i <- Seq(7L, 30L))
      yield cat.bucketFor("db", "c", Seq(p, i))).distinct.sorted
    assertSelects(cat, "c", cross, want)
  }

  test("DV-covered and DV-plus-delta tables select through the hybrid read") {
    val cat = freshCatalog()
    idvTable(cat, "d", Map("deletion-vectors" -> "true"))
    cat.buildDeletionVectors("db", "d")
    val k7 = cat.bucketFor("db", "d", Seq(7L))
    assertSelects(cat, "d", col("id") === 7L, Seq(k7), dv = true)
    // a post-build delta: the bucket's delta legs merge with its base
    cat.upsert("db", "d", idv(Seq(7L, 8L), "w"))
    assertSelects(cat, "d", col("id") === 7L, Seq(k7), dv = true)
    assert(cat.readWhere("db", "d", col("id") === 7L).head().getString(1) === "w7")
  }

  test("sequence.field, partitioned-bucketed and ORC tables select") {
    val cat = freshCatalog()
    val seqSchema = StructType(Seq(StructField("id", LongType),
      StructField("seq", LongType), StructField("v", StringType)))
    cat.createSchema("db")
    cat.createTable("db", "s", seqSchema,
      options = Map("bucket" -> N.toString, "sequence.field" -> "seq"),
      primaryKey = Seq("id"))
    def seqRows(ids: Seq[Long], seq: Long, tag: String) = {
      val rows = new java.util.ArrayList[Row]()
      ids.foreach(i => rows.add(Row(i, seq, s"$tag$i")))
      spark.createDataFrame(rows, seqSchema)
    }
    cat.upsert("db", "s", seqRows(1L to 200L, 5L, "v"))
    // a late LOWER sequence loses to the committed version
    cat.upsert("db", "s", seqRows(1L to 20L, 3L, "old"))
    assertSelects(cat, "s", col("id") === 7L, Seq(cat.bucketFor("db", "s", Seq(7L))))
    assert(cat.readWhere("db", "s", col("id") === 7L).head().getString(2) === "v7")

    val pbSchema = StructType(Seq(StructField("part", StringType),
      StructField("id", LongType), StructField("v", StringType)))
    cat.createTable("db", "pb", pbSchema, partitionBy = Seq("part"),
      options = Map("bucket" -> N.toString), primaryKey = Seq("part", "id"))
    val pbRows = new java.util.ArrayList[Row]()
    for (p <- Seq("a", "b"); i <- 1L to 150L) pbRows.add(Row(p, i, s"$p$i"))
    cat.upsert("db", "pb", spark.createDataFrame(pbRows, pbSchema))
    cat.deleteWhere("db", "pb", col("id") === 9L)
    assertSelects(cat, "pb", col("part") === "b" && col("id") === 7L,
      Seq(cat.bucketFor("db", "pb", Seq("b", 7L))))
    assert(cat.readWhere("db", "pb", col("part") === "b" && col("id") === 9L).count() === 0)

    val orc = freshCatalog()
    idvTable(orc, "o", Map("file.format" -> "orc"))
    assertSelects(orc, "o", col("id") === 7L, Seq(orc.bucketFor("db", "o", Seq(7L))))
  }

  test("dynamic-bucket tables decline: plan identical to the unpruned read") {
    val cat = freshCatalog()
    cat.createSchema("db")
    cat.createTable("db", "dyn", idvSchema,
      options = Map("bucket" -> "-1", "dynamic-bucket.target-row-num" -> "50"),
      primaryKey = Seq("id"))
    cat.upsert("db", "dyn", idv(1L to 200L, "v"))
    cat.upsert("db", "dyn", idv(1L to 20L, "u"))
    assertDeclines(cat, "dyn", col("id") === 7L)
  }

  test("bucketFor runs no Spark job and agrees with write placement") {
    val cat = freshCatalog()
    idvTable(cat, "t")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.GraftTestBus.waitUntilEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    val placed = try {
      val ks = (1L to 5L).map(k => cat.bucketFor("db", "t", Seq(k)))
      // the readWhere selection hashes without a job too: only the
      // lookup's own collect below may run one
      cat.readWhere("db", "t", col("id") === 7L)
      org.apache.spark.GraftTestBus.waitUntilEmpty(spark.sparkContext)
      ks
    } finally spark.sparkContext.removeSparkListener(l)
    assert(jobs.get() === 0, s"bucketFor/readWhere planning ran ${jobs.get()} jobs")
    // every key read from bucket k hashes back to k
    (0 until N).foreach { b =>
      assert(cat.readBucket("db", "t", b).select("id").collect()
        .forall(r => cat.bucketFor("db", "t", Seq(r.getLong(0))) == b))
    }
    assert(placed.zipWithIndex.forall { case (b, i) =>
      cat.readBucket("db", "t", b).filter(col("id") === (i + 1).toLong).count() == 1 })
  }
}
