package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** Scripted write sequence: one table per write API (every row of
  * CommitKindSpec, plus a lookup and a full-compaction changelog producer
  * and a streaming batch), every manifest version kept under `args(0)`.
  * Not part of the build: copy it into `src/main/scala/graft/sources/`
  * of a checkout and run
  * `sbt "runMain graft.sources.ManifestScript <warehouse>"`. */
object ManifestScript {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val gc = new GraftCatalog(spark, args(0))
    gc.createSchema("db")
    def rows(lo: Long, hi: Long): DataFrame = spark.range(lo, hi + 1)
      .selectExpr("id", "concat('v', id) AS v", "CAST(id % 3 AS STRING) AS day")
    def table(t: String, options: Map[String, String] = Map.empty,
        partitionBy: Seq[String] = Nil, primaryKey: Seq[String] = Nil,
        writes: Int = 1): String = {
      gc.createTable("db", t, rows(0, 0).schema, options, partitionBy, primaryKey)
      (0 until writes).foreach { i =>
        val batch = rows(1, 30).filter(col("id") % writes === i)
        if (primaryKey.isEmpty) gc.append("db", t, batch) else gc.upsert("db", t, batch)
      }
      t
    }
    def pk(t: String, options: (String, String)*): String = {
      table(t, options.toMap, primaryKey = Seq("id"), writes = 2)
      gc.upsert("db", t, rows(1, 5)); t
    }
    gc.append("db", table("append"), rows(31, 40))
    gc.overwrite("db", table("overwrite"), rows(31, 40))
    gc.overwriteDynamic("db", table("odmixed", partitionBy = Seq("day")), rows(31, 31))
    gc.overwriteDynamic("db", table("odnone", partitionBy = Seq("day")),
      rows(31, 31).withColumn("day", lit("9")))
    gc.overwriteDynamic("db", table("odempty", partitionBy = Seq("day"), writes = 0), rows(31, 31))
    gc.expirePartitions("db", table("expire", partitionBy = Seq("day")), col("day") === "1")
    gc.upsert("db", pk("upsert"), rows(25, 35))
    val rk = table("upsertdel", Map("rowkind.field" -> "day"), primaryKey = Seq("id"), writes = 0)
    gc.upsert("db", rk, rows(1, 30).withColumn("day", lit("+I")))
    gc.upsert("db", rk, rows(31, 35).withColumn("day", lit("+I"))
      .unionByName(rows(1, 2).withColumn("day", lit("-D"))))
    gc.mergeCommit("db", pk("merge"), rows(31, 35), rows(1, 2).select("id"))
    gc.deleteWhere("db", pk("deltomb"), col("id") < 3)
    gc.deleteWhere("db", table("deldv", Map("deletion-vectors" -> "true")), col("id") < 3)
    gc.compact("db", pk("compact"))
    gc.compactBuckets("db", pk("compactb", "bucket" -> "2"), Seq(0))
    gc.compactSmall("db", table("compacts", writes = 2))
    gc.rescaleBucket("db", pk("rescale", "bucket" -> "2"), 4)
    gc.sortCompact("db", table("sortc", writes = 2), Seq("id"), ranges = 2)
    gc.buildDeletionVectors("db", pk("dvbuild", "deletion-vectors" -> "true"))
    val dyn = pk("dynfold", "bucket" -> "-1", "dynamic-bucket.index-fold.deltas" -> "0")
    gc.foldDynamicBucketIndex("db", dyn)
    gc.upsert("db", dyn, rows(40, 45))
    gc.compact("db", dyn)
    // changelog producers and a streaming batch
    gc.upsert("db", pk("lookupcl", "changelog-producer" -> "lookup"), rows(3, 8))
    gc.compact("db", pk("fullcl", "changelog-producer" -> "full-compaction"))
    gc.appendStreamBatch("db", table("stream"), rows(31, 35), 7L)
    spark.stop()
  }
}
