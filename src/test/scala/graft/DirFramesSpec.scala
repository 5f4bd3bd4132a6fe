package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.GraftCatalog

/**
 * Snapshot dirs become frames one way: one relation per read group
 * (kind, write-time schema version, retract flag), not one per dir. So
 * the changelog, deletion-vector and maintenance paths plan as many file
 * scans over 12 dirs as over 2, and bucket selection reads only the
 * chosen `__bucket=k` leaves.
 */
class DirFramesSpec extends SparkSpecBase {

  private val kv = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType)))

  private def kvs(ks: Seq[Long], tag: String): DataFrame =
    spark.createDataFrame(ks.map(k => Row(k, s"$tag$k")).asJava, kv)

  private def freshCatalog(): GraftCatalog = {
    val cat = new GraftCatalog(spark,
      Files.createTempDirectory("graft-dirframes").toString)
    cat.createSchema("db")
    cat
  }

  test("readChangelog of a PK table plans one scan per read group") {
    val cat = freshCatalog()
    cat.createTable("db", "c", kv, primaryKey = Seq("k"))
    // batch i writes keys 10i..10i+14: each overlaps the next by 5
    (1 to 12).foreach(i => cat.upsert("db", "c", kvs(10L * i to 10L * i + 14, s"r$i-")))
    val at2 = cat.readChangelog("db", "c", 0L, 2L)
    val at12 = cat.readChangelog("db", "c", 0L, 12L)
    assert(fileScans(at2) === 1)
    assert(fileScans(at12) === fileScans(at2),
      "a changelog over 12 upsert dirs plans more scans than over 2")
    // newest in-range version per key, all upserts
    val got = at12.collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(got.size === 125) // keys 10..134
    assert(got.values.forall(_._2 == "+U"))
    assert(got(24L)._1 === "r2-24" && got(134L)._1 === "r12-134" && got(10L)._1 === "r1-10")
  }

  /** An append-only table of `dirs` commits, 20 rows each. */
  private def appendTable(cat: GraftCatalog, name: String, dirs: Int,
      options: Map[String, String] = Map.empty): Unit = {
    cat.createTable("db", name, kv, options = options)
    (1 to dirs).foreach(i =>
      cat.append("db", name, kvs(100L * i until 100L * i + 20, "a")))
  }

  test("deleteWhereDv and compactSmall plan one scan per read group") {
    val cat = freshCatalog()
    val dv = Map("deletion-vectors" -> "true")
    appendTable(cat, "d2", 2, dv)
    appendTable(cat, "d12", 12, dv)
    def del(t: String) = fileScansDuring(cat.deleteWhere("db", t, col("k") % 5 === 0))
    assert(del("d12") === del("d2"), "a DV delete over 12 dirs plans more scans than over 2")
    assert(cat.read("db", "d2").count() === 2 * 16)
    assert(cat.read("db", "d12").count() === 12 * 16)

    appendTable(cat, "s2", 2)
    appendTable(cat, "s12", 12)
    def small(t: String) = fileScansDuring(assert(cat.compactSmall("db", t).isDefined))
    assert(small("s12") === small("s2"), "compactSmall over 12 dirs plans more scans than over 2")
    assert(cat.snapshotFileEntries("db", "s12").size === 1)
    assert(cat.read("db", "s12").count() === 12 * 20)
  }

  test("a DV-applied read plans the same scans over 12 DV commits as over 2") {
    val cat = freshCatalog()
    def table(name: String, dvCommits: Int): DataFrame = {
      appendTable(cat, name, 2, Map("deletion-vectors" -> "true"))
      (1 to dvCommits).foreach(i => cat.deleteWhere("db", name, col("k") === 100 + i))
      assert(cat.snapshotFileEntries("db", name).count(_.kind == "dv") === dvCommits)
      cat.read("db", name)
    }
    val at2 = table("v2", 2)
    val at12 = table("v12", 12)
    assert(fileScans(at12) === fileScans(at2),
      "a read over 12 DV dirs plans more scans than over 2")
    assert(at2.count() === 38)
    assert(at12.select("k").collect().map(_.getLong(0)).toSet ===
      ((100L until 120L) ++ (200L until 220L)).toSet -- (101L to 112L))
  }

  test("incremental DV rebuild reads only the changed buckets' leaves") {
    val cat = freshCatalog()
    val n = 8
    /** A DV-built 8-bucket PK table over `dirs` upserts of keys 1..400,
      * then one upsert of 5 keys that all hash to bucket 3. */
    def table(name: String, dirs: Int): Seq[Long] = {
      cat.createTable("db", name, kv, primaryKey = Seq("k"),
        options = Map("bucket" -> n.toString, "deletion-vectors" -> "true"))
      (1 to dirs).foreach(i => cat.upsert("db", name, kvs(1L to 400L, s"r$i-")))
      cat.buildDeletionVectors("db", name)
      val ks = (1L to 400L).filter(k => cat.bucketFor("db", name, Seq(k)) == 3).take(5)
      cat.upsert("db", name, kvs(ks, "new-"))
      ks
    }
    val ks2 = table("b2", 2)
    table("b12", 12)
    val inBucket3 = (1L to 400L).count(k => cat.bucketFor("db", "b2", Seq(k)) == 3)
    val scans2 = fileScansDuring(cat.buildDeletionVectors("db", "b2"))
    var scanned = 0L
    val scans12 = fileScansDuring {
      scanned = recordsScanned(cat.buildDeletionVectors("db", "b12"))
    }
    assert(scans12 === scans2, "a DV rebuild over 12 base dirs plans more scans than over 2")
    // records read: the first build's DV positions (11 superseded
    // versions of each key), the delta's 5 rows and bucket 3's leaves of
    // the 12 base dirs, plus a few cached batches of the persisted
    // victims — never the other buckets' 12 * (400 - inBucket3) rows
    val wanted = 11L * 400 + 5 + 12L * inBucket3
    assert(scanned >= wanted && scanned <= wanted + 50,
      s"rebuild scanned $scanned records, want about $wanted")
    // the DV rows are exactly the superseded versions: the metadata count
    // (dir rows minus DV positions) equals the live key count
    Seq("b2", "b12").foreach { t =>
      assert(cat.countRows("db", t) === Some(400L), t)
      val img = cat.read("db", t).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(img.size === 400)
      assert(ks2.forall(k => img(k) == s"new-$k"))
    }
    assert(inBucket3 > 5 && inBucket3 < 400)
  }
}
