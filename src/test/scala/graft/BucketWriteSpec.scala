package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{GraftCatalog, GraftOptions}

/**
 * Bucketed writes run at most one exchange: an upsert clusters its batch
 * once, by the write layout, and folds duplicate keys over that
 * clustering; a write of the bucketed merge's output (a compaction, a
 * `deleteWhere` tombstone) lands each one-bucket leg in place and runs
 * none. Writes also derive their images from the head, whatever snapshot
 * the session's scan properties select.
 */
class BucketWriteSpec extends SparkSpecBase {

  private val N = 8

  private val kv = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType)))

  private def kvs(ks: Seq[Long], tag: String): DataFrame =
    spark.createDataFrame(ks.map(k => Row(k, s"$tag$k")).asJava, kv)

  private def freshCatalog(): (GraftCatalog, File) = {
    val wh = Files.createTempDirectory("graft-bucket-write").toFile
    val cat = new GraftCatalog(spark, wh.getPath)
    cat.createSchema("db")
    (cat, wh)
  }

  /** An 8-bucket PK table: keys 1..400, then an update of 1..50. */
  private def table(cat: GraftCatalog, name: String): Unit = {
    cat.createTable("db", name, kv, primaryKey = Seq("k"),
      options = Map("bucket" -> N.toString))
    cat.upsert("db", name, kvs(1L to 400L, "a"))
    cat.upsert("db", name, kvs(1L to 50L, "u"))
  }

  private def image(cat: GraftCatalog, name: String): Map[Long, String] =
    cat.read("db", name).collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  /** `__bucket=k` → its parquet files, under the head's only data dir. */
  private def bucketFiles(wh: File, cat: GraftCatalog, name: String): Map[Int, Seq[File]] = {
    val dirs = cat.snapshotFileEntries("db", name)
    assert(dirs.map(_.kind) === Seq("data"))
    new File(wh, s"db/$name/${dirs.head.dir}").listFiles()
      .filter(_.getName.startsWith("__bucket=")).map { d =>
        d.getName.stripPrefix("__bucket=").toInt ->
          d.listFiles().filter(_.getName.endsWith(".parquet")).toSeq
      }.toMap
  }

  test("an upsert into a fixed-bucket table runs one exchange and two jobs") {
    val (cat, _) = freshCatalog()
    table(cat, "t")
    // duplicate keys inside one batch: the largest row wins the fold
    val dup = kvs(1L to 100L, "b").unionByName(kvs(1L to 10L, "c"))
    assert(shuffleExchangesDuring(cat.upsert("db", "t", dup)) === 1)
    assert(jobsDuring(cat.upsert("db", "t", kvs(90L to 120L, "d"))) === 2)
    val img = image(cat, "t")
    assert(img.size === 400)
    assert((1L to 10L).forall(k => img(k) == s"c$k"))
    assert((11L to 89L).forall(k => img(k) == s"b$k"))
    assert((90L to 120L).forall(k => img(k) == s"d$k"))
    assert(img(121L) === "a121")
  }

  test("compact, compactBuckets and a deleteWhere tombstone write run no " +
      "exchange; compact lands one file per bucket") {
    val (cat, wh) = freshCatalog()
    table(cat, "t")
    assert(shuffleExchangesDuring(cat.deleteWhere("db", "t", col("k") % 7 === 0)) === 0)
    assert(shuffleExchangesDuring(cat.compactBuckets("db", "t", Seq(1, 5))) === 0)
    cat.upsert("db", "t", kvs(390L to 410L, "w"))
    assert(shuffleExchangesDuring(cat.compact("db", "t")) === 0)
    // the upsert after the delete brings back 392 and 399
    val want = (1L to 400L).filter(k => k % 7 != 0 || k >= 390).map(k =>
      k -> (if (k >= 390) s"w$k" else if (k <= 50) s"u$k" else s"a$k")).toMap ++
      (401L to 410L).map(k => k -> s"w$k")
    assert(image(cat, "t") === want)
    val files = bucketFiles(wh, cat, "t")
    assert(files.keySet === (0 until N).toSet)
    files.foreach { case (b, fs) =>
      assert(fs.size === 1, s"bucket $b holds ${fs.size} files")
      val ks = spark.read.parquet(fs.head.getPath).select("k").collect().map(_.getLong(0))
      assert(ks.nonEmpty && ks.forall(k => cat.bucketFor("db", "t", Seq(k)) == b),
        s"bucket $b holds a key of another bucket")
    }
  }

  test("deletes and updates change the head under session time travel") {
    val (cat, _) = freshCatalog()
    val s3 = StructType(Seq(StructField("id", LongType), StructField("v", StringType),
      StructField("w", StringType)))
    def rows(ids: Seq[Long], v: Long => String): DataFrame =
      spark.createDataFrame(ids.map(i => Row(i, v(i), "b")).asJava, s3)
    Seq("plain" -> Map.empty[String, String], "bucketed" -> Map("bucket" -> "4"),
        "sequenced" -> Map("bucket" -> "4", "sequence.field" -> "w"))
      .foreach { case (t, opts) =>
        cat.createTable("db", t, s3, primaryKey = Seq("id"), options = opts)
        cat.upsert("db", t, rows(1L to 10L, _ => "a"))
        cat.upsert("db", t, rows((11L to 20L) :+ 5L, i => if (i == 5) "new5" else "a"))
        GraftOptions.setSnapshot(spark, 1L)
        try {
          cat.deleteWhere("db", t, col("id") === 15)
          cat.update("db", t, col("id") === 5, Map("w" -> lit("z")))
          cat.deleteRowsByKey("db", t, rows(Seq(16L), _ => "a").select("id"))
          cat.mergeCommit("db", t, rows(Seq(21L), _ => "m"),
            rows(Seq(17L), _ => "a").select("id"))
        } finally GraftOptions.clearScanOptions(spark)
        val img = cat.read("db", t).collect()
          .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
        assert(img.keySet === ((1L to 21L).toSet -- Set(15L, 16L, 17L)), t)
        assert(img(5L) === (("new5", "z")), t)
        assert(img(21L) === (("m", "b")), t)
      }
    // append-only deletion-vector tables delete and update the head too
    cat.createTable("db", "dv", s3, options = Map("deletion-vectors" -> "true"))
    cat.append("db", "dv", rows(1L to 10L, _ => "a"))
    cat.append("db", "dv", rows(11L to 20L, _ => "a"))
    GraftOptions.setSnapshot(spark, 1L)
    try {
      cat.deleteWhere("db", "dv", col("id") === 15)
      cat.update("db", "dv", col("id") === 12, Map("w" -> lit("z")))
    } finally GraftOptions.clearScanOptions(spark)
    val dv = cat.read("db", "dv").collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(dv.keySet === (1L to 20L).toSet - 15L)
    assert(dv(12L) === "z")
  }
}
