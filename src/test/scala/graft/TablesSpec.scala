package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.util.Try

import graft.sources.Tables

/** Table opens read each parquet schema from a footer on the driver:
  * no Spark job, and the schema Spark's own inference would give. */
class TablesSpec extends SparkSpecBase {

  private val names = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def path(name: String) = s"$sfDir/$name.parquet"

  /** The opener's schema equals Spark's inference, or both fail alike. */
  private def assertInferred(p: String): Unit = {
    val want = Try(spark.read.parquet(p).schema)
    val got = Try(Tables.parquet(spark, p).schema)
    assert(got.toOption === want.toOption, s"schema of $p")
    assert(got.failed.toOption.map(_.getClass) === want.failed.toOption.map(_.getClass),
      s"failure of $p")
  }

  test("opening every table runs no Spark job") {
    val jobs = jobsDuring {
      names.foreach(n => assert(Tables(spark, sfDir, n).schema.nonEmpty))
    }
    assert(jobs === 0)
  }

  test("the footer schema equals Spark's inference, under each binary and nanos setting") {
    for {
      binaryAsString <- Seq("false", "true")
      nanosAsLong <- Seq("false", "true")
    } withConfs("spark.sql.parquet.binaryAsString" -> binaryAsString,
        "spark.sql.legacy.parquet.nanosAsLong" -> nanosAsLong) {
      names.foreach(n => assertInferred(path(n)))
    }
    names.filterNot(_ == "events").foreach { n =>
      assert(Tables(spark, sfDir, n).schema === spark.read.parquet(path(n)).schema)
    }
  }

  test("a Spark-written multi-part dir with _SUCCESS opens with the inferred schema") {
    val dir = Files.createTempDirectory("graft-tables").resolve("li").toString
    spark.read.parquet(path("lineitem")).repartition(3).write.parquet(dir)
    assert(Files.exists(Paths.get(dir, "_SUCCESS")))
    assertInferred(dir)
    assert(jobsDuring(Tables.parquet(spark, dir)) === 0)
  }

  test("summary files take precedence over data files, as in Spark's inference") {
    val root = Files.createTempDirectory("graft-tables-summary")
    def partFile(sql: String, name: String): java.nio.file.Path = {
      val d = root.resolve(name).toString
      spark.sql(sql).coalesce(1).write.parquet(d)
      Files.list(Paths.get(d)).filter(_.toString.endsWith(".parquet")).findFirst().get
    }
    val narrow = partFile("SELECT 1L AS a", "narrow")
    val wide = partFile("SELECT 1L AS a, 'x' AS b", "wide")
    val mixed = root.resolve("mixed")
    Files.createDirectory(mixed)
    Files.copy(narrow, mixed.resolve("part-00000.parquet"))
    Files.copy(wide, mixed.resolve("part-00001.parquet"))
    // first data file in path order: the narrow one
    assertInferred(mixed.toString)
    assert(Tables.parquet(spark, mixed.toString).columns.toSeq === Seq("a"))
    Files.copy(wide, mixed.resolve("_metadata"))
    assertInferred(mixed.toString)
    assert(Tables.parquet(spark, mixed.toString).columns.toSeq === Seq("a", "b"))
    Files.copy(narrow, mixed.resolve("_common_metadata"), StandardCopyOption.REPLACE_EXISTING)
    assertInferred(mixed.toString)
    assert(Tables.parquet(spark, mixed.toString).columns.toSeq === Seq("a"))
  }

  test("paths the footer read does not cover fall back to Spark's inference") {
    val root = Files.createTempDirectory("graft-tables-fallback").toString
    spark.sql("SELECT 1L AS a, 2L AS b").write.partitionBy("b").parquet(s"$root/parted")
    assertInferred(s"$root/parted")
    assertInferred(s"$root/missing")
    assertInferred(s"${path("nation")}*")
  }
}
