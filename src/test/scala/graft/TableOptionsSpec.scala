package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.sources.{BloomIndex, GraftCatalog, TableOptions}

/**
 * The table-option registry (`graft.sources.TableOptions`): column DDL
 * follows every column an option names, create and ALTER refuse the
 * same bad values (the maintenance options included), a failed bloom
 * build is logged, and no file outside the registry reads an option by
 * its string key.
 */
class TableOptionsSpec extends SparkSpecBase {

  private def freshCatalog(): GraftCatalog = {
    val cat = new GraftCatalog(spark, Files.createTempDirectory("graft-opts").toString)
    cat.createSchema("db")
    cat
  }

  private def schemaOf(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  private val aggSchema = schemaOf("id" -> LongType, "total" -> LongType,
    "note" -> StringType)

  test("renaming an aggregated column keeps its aggregate function") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("db", "agg", aggSchema, primaryKey = Seq("id"),
      options = Map("merge-engine" -> "aggregation",
        "fields.total.aggregate-function" -> "sum"))
    cat.upsert("db", "agg", Seq((1L, 5L, "a")).toDF("id", "total", "note"))
    cat.renameColumn("db", "agg", "total", "amount")
    cat.upsert("db", "agg", Seq((1L, 7L, "b")).toDF("id", "amount", "note"))
    // the fold still sums: a key left at the old name falls back to
    // last_non_null and reads 7
    assert(cat.read("db", "agg").select("id", "amount").collect().toSeq
      === Seq(Row(1L, 12L)))
    assert(cat.tableOptions("db", "agg").get("fields.amount.aggregate-function")
      === Some("sum"))
  }

  test("a renamed rowkind.field column keeps retracting") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("db", "rk", schemaOf("id" -> LongType, "v" -> StringType,
      "op" -> StringType), primaryKey = Seq("id"),
      options = Map("rowkind.field" -> "op"))
    cat.upsert("db", "rk", Seq((1L, "a", "+I"), (2L, "b", "+I")).toDF("id", "v", "op"))
    cat.renameColumn("db", "rk", "op", "kind")
    cat.upsert("db", "rk", Seq((1L, "a", "-D")).toDF("id", "v", "kind"))
    assert(cat.read("db", "rk").select("id").as[Long].collect().toSeq === Seq(2L),
      "a -D row must retract its key, not land as a live row")
    assert(cat.tableOptions("db", "rk").get("rowkind.field") === Some("kind"))
  }

  test("a renamed bloom column keeps its index; dropping it refuses") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("db", "bl", schemaOf("id" -> LongType, "name" -> StringType),
      options = Map("file-index.bloom-filter.columns" -> "id"))
    cat.append("db", "bl", (1L to 20L).map(i => (i, s"v$i")).toDF("id", "name"))
    cat.renameColumn("db", "bl", "id", "key")
    cat.append("db", "bl", (21L to 40L).map(i => (i, s"v$i")).toDF("key", "name"))
    assert(cat.bloomIndexInfo("db", "bl").keySet === Set("snap-1", "snap-2"),
      "the append after the rename must write a bloom index too")
    assert(cat.readWhere("db", "bl", col("key") === 30L).count() === 1)
    val e = intercept[IllegalArgumentException](cat.dropColumn("db", "bl", "key"))
    assert(e.getMessage.contains("file-index.bloom-filter.columns"), e.getMessage)
    assert(cat.currentSchema("db", "bl").fieldNames.toSeq === Seq("key", "name"))
  }

  test("dropping an aggregated column refuses while its option names it") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("db", "agd", aggSchema, primaryKey = Seq("id"),
      options = Map("merge-engine" -> "aggregation",
        "fields.total.aggregate-function" -> "sum"))
    cat.upsert("db", "agd", Seq((1L, 5L, "a")).toDF("id", "total", "note"))
    cat.upsert("db", "agd", Seq((1L, 7L, "b")).toDF("id", "total", "note"))
    val e = intercept[IllegalArgumentException](cat.dropColumn("db", "agd", "total"))
    assert(e.getMessage.contains("fields.total.aggregate-function"), e.getMessage)
    // unreferenced columns still drop
    cat.dropColumn("db", "agd", "note")
    assert(cat.read("db", "agd").collect().toSeq === Seq(Row(1L, 12L)))
  }

  test("collect distinct and nested-key options follow renames and pin drops") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("db", "col", schemaOf("id" -> LongType,
      "tags" -> ArrayType(StringType)), primaryKey = Seq("id"),
      options = Map("merge-engine" -> "aggregation",
        "fields.tags.aggregate-function" -> "collect", "fields.tags.distinct" -> "true"))
    cat.upsert("db", "col", Seq((1L, Seq("a", "b"))).toDF("id", "tags"))
    cat.renameColumn("db", "col", "tags", "labels")
    cat.upsert("db", "col", Seq((1L, Seq("b", "c"))).toDF("id", "labels"))
    assert(cat.read("db", "col").select("labels").as[Seq[String]].head().sorted
      === Seq("a", "b", "c"))
    assert(cat.tableOptions("db", "col").filter(_._1.startsWith("fields.")) === Map(
      "fields.labels.aggregate-function" -> "collect", "fields.labels.distinct" -> "true"))
    intercept[IllegalArgumentException](cat.dropColumn("db", "col", "labels"))

    val line = StructType(Seq(StructField("k", IntegerType), StructField("q", IntegerType)))
    def nest(col: String) = StructType(Seq(StructField("id", LongType),
      StructField(col, ArrayType(line)), StructField("x", IntegerType)))
    def batch(col: String, lines: (Int, Int)*) = spark.createDataFrame(
      java.util.List.of(Row(1L, lines.map(l => Row(l._1, l._2)), 0)), nest(col))
    cat.createTable("db", "nest", nest("lines"), primaryKey = Seq("id"),
      options = Map("merge-engine" -> "aggregation",
        "fields.lines.aggregate-function" -> "nested_update",
        "fields.lines.nested-key" -> "k"))
    cat.upsert("db", "nest", batch("lines", (1, 10), (3, 7)))
    cat.renameColumn("db", "nest", "lines", "items")
    cat.upsert("db", "nest", batch("items", (1, 20)))
    // nested_update upserts element k=1 and keeps k=3
    assert(cat.read("db", "nest").selectExpr("inline(items)").collect()
      .map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq === Seq((1, 20), (3, 7)))
    assert(cat.tableOptions("db", "nest").get("fields.items.nested-key") === Some("k"))
    intercept[IllegalArgumentException](cat.dropColumn("db", "nest", "items"))
  }

  test("partition.expiration.column follows a partition-column rename") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("db", "pe", schemaOf("id" -> LongType, "day" -> StringType),
      partitionBy = Seq("day"),
      options = Map("partition.expiration-time" -> "30d",
        "partition.expiration.column" -> "day"))
    cat.renameColumn("db", "pe", "day", "dt")
    cat.append("db", "pe", Seq((1L, "2020-01-01")).toDF("id", "dt"))
    val today = java.time.LocalDate.now(java.time.ZoneOffset.UTC).toString
    cat.append("db", "pe", Seq((2L, today)).toDF("id", "dt"))
    assert(cat.read("db", "pe").select("id").as[Long].collect().toSeq === Seq(2L),
      "the 2020 partition must auto-expire on commit")
    assert(cat.tableOptions("db", "pe").get("partition.expiration.column") === Some("dt"))
  }

  test("maintenance options refuse bad values at create and at set") {
    val cat = freshCatalog()
    val st = schemaOf("id" -> LongType, "day" -> StringType)
    cat.createTable("db", "ok", st, partitionBy = Seq("day"))
    Seq("num-sorted-run.compaction-trigger" -> "x",
      "num-sorted-run.compaction-trigger" -> "1",
      "full-compaction.delta-commits" -> "0",
      "deletion-vectors.build-delta-commits" -> "-2",
      "write-only" -> "yes",
      "tag.automatic-creation" -> "always",
      "tag.creation-period" -> "weekly",
      "tag.num-retained-max" -> "0",
      "partition.expiration-time" -> "soon",
      "partition.expiration.column" -> "id").foreach { case (k, v) =>
      val e1 = intercept[IllegalArgumentException](
        cat.createTable("db", "bad", st, options = Map(k -> v), partitionBy = Seq("day")))
      assert(e1.getMessage.contains(k), e1.getMessage)
      val e2 = intercept[IllegalArgumentException](cat.setTableOptions("db", "ok", Map(k -> v)))
      assert(e2.getMessage === e1.getMessage)
    }
    assert(cat.tableOptions("db", "ok").isEmpty)
    // good values pass both ways
    val good = Map("num-sorted-run.compaction-trigger" -> "3",
      "full-compaction.delta-commits" -> "2", "write-only" -> "false",
      "tag.automatic-creation" -> "process-time", "tag.creation-period" -> "hourly",
      "tag.num-retained-max" -> "2", "partition.expiration-time" -> "7d",
      "partition.expiration.column" -> "day")
    cat.createTable("db", "good", st, options = good, partitionBy = Seq("day"))
    cat.setTableOptions("db", "ok", good)
    assert(cat.tableOptions("db", "ok") === good)
  }

  test("column DDL refuses the column names the registry reserves") {
    val cat = freshCatalog()
    cat.createTable("db", "bk", schemaOf("id" -> LongType, "v" -> LongType),
      options = Map("bucket" -> "2"), primaryKey = Seq("id"))
    val e1 = intercept[IllegalArgumentException](
      cat.addColumn("db", "bk", StructField("__bucket", IntegerType)))
    assert(e1.getMessage.contains("column name __bucket is reserved on bucketed tables"))
    val e2 = intercept[IllegalArgumentException](cat.renameColumn("db", "bk", "v", "__bucket"))
    assert(e2.getMessage.contains("column name __bucket is reserved on bucketed tables"))
    cat.createTable("db", "dv", schemaOf("id" -> LongType),
      options = Map("deletion-vectors" -> "true"))
    val e3 = intercept[IllegalArgumentException](
      cat.addColumn("db", "dv", StructField("__file", StringType)))
    assert(e3.getMessage.contains("column name __file is reserved on deletion-vector tables"))
    // nothing landed: the schemas are unchanged and ALTER still works
    assert(cat.currentSchema("db", "bk").fieldNames.toSeq === Seq("id", "v"))
    assert(cat.currentSchema("db", "dv").fieldNames.toSeq === Seq("id"))
    cat.setTableOptions("db", "bk", Map("snapshot.num-retained" -> "5"))
    cat.setTableOptions("db", "dv", Map("snapshot.num-retained" -> "5"))
  }

  test("a failed bloom build returns no index and logs a warning") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("bloom-capture", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN) seen.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val logger = LogManager.getLogger(BloomIndex.getClass).asInstanceOf[Logger]
    val level = logger.getLevel
    logger.addAppender(app)
    logger.setLevel(Level.WARN)
    try {
      val dir = new Path(Files.createTempDirectory("graft-blfail").toString, "snap-1")
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // a provider Spark cannot load makes the build job fail
      val built = BloomIndex.build(spark, fs, dir, schemaOf("id" -> LongType),
        Set("id"), Map("part-0.parquet" -> 10L), provider = "no.such.Format")
      assert(built === None)
      assert(seen.stream().anyMatch(m => m.contains("bloom index build failed") &&
        m.contains(dir.toString)), seen)
    } finally {
      logger.removeAppender(app)
      logger.setLevel(level)
      app.stop()
    }
  }

  test("no file under sources/ or plans/ names a registry key as a string literal") {
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"run from the project root (${root.getAbsolutePath})")
    // a pattern key `fields.<f>.x` is caught by its `.x"` suffix
    val literals = TableOptions.All.map(o =>
      if (o.pattern) o.key.stripPrefix("fields.<f>") + "\"" else "\"" + o.key + "\"")
    assert(literals.contains("\"bucket\"") && literals.contains(".distinct\""))
    val hits = for {
      dir <- Seq("sources", "plans")
      f <- new java.io.File(root, dir).listFiles().toSeq.sortBy(_.getName)
      if f.getName.endsWith(".scala") && f.getName != "TableOptions.scala"
      (line, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq.zipWithIndex
      lit <- literals if line.contains(lit)
    } yield s"$dir/${f.getName}:${i + 1}: $lit"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
