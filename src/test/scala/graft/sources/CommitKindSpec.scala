package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

/** The `$snapshots` label (`commit_kind`) and the compaction flag of the
  * snapshot each write API lands — one row per API, and per branch where
  * an API lands through more than one. */
class CommitKindSpec extends graft.SparkSpecBase {

  private lazy val gc = new GraftCatalog(spark,
    Files.createTempDirectory("graft-commitkind").toString)

  override def beforeAll(): Unit = {
    super.beforeAll()
    gc.createSchema("db")
  }

  private def rows(lo: Long, hi: Long): DataFrame = spark.range(lo, hi + 1)
    .selectExpr("id", "concat('v', id) AS v", "CAST(id % 3 AS STRING) AS day")

  private var tables = 0
  /** A fresh table holding rows 1..30 in `writes` commits. */
  private def table(options: Map[String, String] = Map.empty,
      partitionBy: Seq[String] = Nil, primaryKey: Seq[String] = Nil,
      writes: Int = 1): String = {
    tables += 1
    val t = s"t$tables"
    gc.createTable("db", t, rows(0, 0).schema, options, partitionBy, primaryKey)
    (0 until writes).foreach { i =>
      val batch = rows(1, 30).filter(col("id") % writes === i)
      if (primaryKey.isEmpty) gc.append("db", t, batch) else gc.upsert("db", t, batch)
    }
    t
  }
  /** A fresh primary-key table: rows 1..30 in two upserts, then rows
    * 1..5 again, so some keys carry two versions. */
  private def pk(options: (String, String)*): String = {
    val t = table(options.toMap, primaryKey = Seq("id"), writes = 2)
    gc.upsert("db", t, rows(1, 5))
    t
  }

  // (write API, commit_kind, compaction, the table, the write)
  private val cases: Seq[(String, String, Boolean, () => String, String => Unit)] = Seq(
    ("append", "append", false, () => table(),
      t => gc.append("db", t, rows(31, 40))),
    ("overwrite", "overwrite", false, () => table(),
      t => gc.overwrite("db", t, rows(31, 40))),
    ("overwriteDynamic, mixed dir rewritten", "overwrite", false,
      () => table(partitionBy = Seq("day")),
      t => gc.overwriteDynamic("db", t, rows(31, 31))),
    ("overwriteDynamic, no partition replaced", "overwrite", false,
      () => table(partitionBy = Seq("day")),
      t => gc.overwriteDynamic("db", t, rows(31, 31).withColumn("day", lit("9")))),
    ("overwriteDynamic, empty table", "overwrite", false,
      () => table(partitionBy = Seq("day"), writes = 0),
      t => gc.overwriteDynamic("db", t, rows(31, 31))),
    ("expirePartitions", "overwrite", false, () => table(partitionBy = Seq("day")),
      t => gc.expirePartitions("db", t, col("day") === "1")),
    ("upsert", "append", false, () => pk(),
      t => gc.upsert("db", t, rows(25, 35))),
    ("upsert with deletes", "merge", false, () => {
        val t = table(Map("rowkind.field" -> "day"), primaryKey = Seq("id"), writes = 0)
        gc.upsert("db", t, rows(1, 30).withColumn("day", lit("+I")))
        t
      },
      t => gc.upsert("db", t, rows(31, 35).withColumn("day", lit("+I"))
        .unionByName(rows(1, 2).withColumn("day", lit("-D"))))),
    ("mergeCommit", "merge", false, () => pk(),
      t => gc.mergeCommit("db", t, rows(31, 35), rows(1, 2).select("id"))),
    ("deleteWhere, tombstone", "delete", false, () => pk(),
      t => gc.deleteWhere("db", t, col("id") < 3)),
    ("deleteWhere, deletion vector", "delete", false,
      () => table(Map("deletion-vectors" -> "true")),
      t => gc.deleteWhere("db", t, col("id") < 3)),
    ("compact", "compact", true, () => pk(),
      t => gc.compact("db", t)),
    ("compactBuckets", "compact", true, () => pk("bucket" -> "2"),
      t => gc.compactBuckets("db", t, Seq(0))),
    ("compactSmall", "compact", true, () => table(writes = 2),
      t => assert(gc.compactSmall("db", t).isDefined)),
    ("rescaleBucket", "compact", true, () => pk("bucket" -> "2"),
      t => gc.rescaleBucket("db", t, 4)),
    ("sortCompact", "compact", true, () => table(writes = 2),
      t => gc.sortCompact("db", t, Seq("id"), ranges = 2)),
    ("buildDeletionVectors", "compact", true, () => pk("deletion-vectors" -> "true"),
      t => gc.buildDeletionVectors("db", t)),
    ("foldDynamicBucketIndex", "compact", true,
      () => pk("bucket" -> "-1", "dynamic-bucket.index-fold.deltas" -> "0"),
      t => assert(gc.foldDynamicBucketIndex("db", t) > 0)))

  cases.foreach { case (api, kind, compaction, setup, write) =>
    test(s"$api lands commit_kind $kind, compaction $compaction") {
      val t = setup()
      val before = gc.readManifest("db", t).headId
      write(t)
      val head = gc.readManifest("db", t).head.get
      assert(head.id === before + 1, "the write lands exactly one snapshot")
      assert(head.compaction === compaction)
      val label = gc.snapshotsTable("db", t)
        .filter(col("snapshot_id") === head.id).select("commit_kind").head().getString(0)
      assert(label === kind)
    }
  }
}
