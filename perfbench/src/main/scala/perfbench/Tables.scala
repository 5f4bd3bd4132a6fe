package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.GraftCatalog

/** The primary-key table both catalog workloads drive, and the
  * in-memory reference model its results are checked against. */
object PkTable {
  val Schema: StructType = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("v", LongType, nullable = false),
    StructField("amount", DoubleType, nullable = false),
    StructField("tag", StringType, nullable = false)))
  /** Logical width of one user row: three 8-byte numbers and an 8-char tag. */
  val RowBytes = 32L
  val Buckets = 8

  final case class Rec(k: Long, v: Long, amount: Double, tag: String) {
    def toRow: Row = Row(k, v, amount, tag)
  }

  def rec(k: Long, rnd: scala.util.Random): Rec =
    Rec(k, rnd.nextInt(1000000).toLong, (rnd.nextInt(1000000) / 100.0),
      f"t${rnd.nextInt(10000000)}%07d")

  def frame(spark: SparkSession, rows: Iterable[Rec]): DataFrame = {
    val list = new java.util.ArrayList[Row](rows.size)
    rows.foreach(r => list.add(r.toRow))
    spark.createDataFrame(list, Schema)
  }

  /** Order-insensitive image of a frame: row count and a sum of row hashes. */
  def image(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(pmod(xxhash64(col("k"), col("v"), col("amount"), col("tag")),
        lit(2147483647L))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** A key lookup through `readWhere`, checked row for row against the
    * model: the key's latest row, or no row once it is deleted. */
  def lookup(ledger: Ledger, cat: GraftCatalog, model: Model, k: Long)(op: OpRec): Boolean = {
    val df = ledger.span("sources.resolve") {
      if (ledger.tracing) ledger.counter("dirs", cat.snapshotFileEntries("db", "t").size)
      cat.readWhere("db", "t", col("k") === k)
    }
    val got = ledger.span("exec") { df.collect() }
    op.rowsOut = got.length
    got.toSeq == model.rows.get(k).map(_.toRow).toSeq
  }

  /** The final image check: 0 when the table's image equals the model's. */
  def checkImage(spark: SparkSession, cat: GraftCatalog, model: Model): Int = {
    val got = image(cat.read("db", "t"))
    val want = image(frame(spark, model.rows.values))
    if (got == want) 0
    else { System.err.println(s"[perfbench] final image $got != model $want"); 1 }
  }

  def create(cat: GraftCatalog): Unit = {
    cat.createSchema("db")
    cat.createTable("db", "t", Schema, Map("bucket" -> Buckets.toString),
      primaryKey = Seq("k"))
  }
}

/** Key → latest row, with deletes applied; plus the sorted views the
  * range checks need. */
final class Model {
  val rows: mutable.LongMap[PkTable.Rec] = mutable.LongMap.empty
  def upsert(rs: Iterable[PkTable.Rec]): Unit = rs.foreach(r => rows(r.k) = r)
  def deleteRange(lo: Long, hi: Long): Int = {
    val ks = rows.keys.filter(k => k >= lo && k <= hi).toSeq
    ks.foreach(rows.remove)
    ks.size
  }
  def count: Long = rows.size.toLong
  def sumV: Long = rows.valuesIterator.map(_.v).sum
  private var sorted: (Array[Long], Array[Long]) = _
  /** Freezes the model for read-only range queries: keys sorted, with
    * prefix sums of v. */
  def freeze(): Unit = {
    val ks = rows.keys.toArray.sorted
    val pre = new Array[Long](ks.length + 1)
    var i = 0
    while (i < ks.length) { pre(i + 1) = pre(i) + rows(ks(i)).v; i += 1 }
    sorted = (ks, pre)
  }
  /** (count, sum v) of keys in [lo, hi]; needs [[freeze]]. */
  def range(lo: Long, hi: Long): (Long, Long) = {
    val (ks, pre) = sorted
    val a = java.util.Arrays.binarySearch(ks, lo) match { case i if i >= 0 => i; case i => -i - 1 }
    val b = java.util.Arrays.binarySearch(ks, hi) match { case i if i >= 0 => i + 1; case i => -i - 1 }
    if (b <= a) (0L, 0L) else ((b - a).toLong, pre(b) - pre(a))
  }
}

/** File census of a directory tree: path → size. */
object Census {
  def apply(root: File): Map[String, Long] = {
    val out = Map.newBuilder[String, Long]
    def walk(f: File): Unit = {
      val kids = f.listFiles()
      if (kids == null) { if (f.isFile) out += f.getPath -> f.length(); () }
      else kids.foreach(walk)
    }
    walk(root)
    out.result()
  }
  /** Files that are new or changed in `after`: (count, bytes, manifest bytes). */
  def written(before: Map[String, Long], after: Map[String, Long]): (Int, Long, Long) = {
    val fresh = after.filter { case (p, n) => !before.get(p).contains(n) }
    val manifest = fresh.filter(_._1.split('/').last.startsWith("manifest")).values.sum
    (fresh.size, fresh.values.sum, manifest)
  }
}
