package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.sources.GraftCatalog

/**
 * `file.format=avro` (Paimon's `file.format` CoreOption — Spark 4 bundles
 * the avro source in spark-sql, so the format-aware seams serve it like
 * ORC): table data writes/reads through the native avro source;
 * merge-on-read, schema evolution (each dir reads at its write-time
 * schema, mapped forward by field id), compaction, changelog, streaming
 * all work. Parquet-footer machinery degrades conservatively: no
 * zone/bloom skipping, no metadata-only counts, deletion vectors refuse;
 * `$partitions` row counts come from avro block headers (no decode).
 */
class AvroFormatSpec extends SparkSpecBase {

  private lazy val warehouse = Files.createTempDirectory("graft-avrowh").toString
  private lazy val gc: GraftCatalog = new GraftCatalog(spark, warehouse)

  override def beforeAll(): Unit = {
    super.beforeAll()
    gc.createSchema("db")
  }

  test("append-only avro: round trip, .avro files on disk, write-time stats") {
    import spark.implicits._
    gc.createTable("db", "a1", Seq((1L, "x")).toDF("id", "v").schema,
      options = Map("file.format" -> "avro"))
    gc.append("db", "a1", (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v"))
    gc.append("db", "a1", (101L to 150L).map(i => (i, s"v$i")).toDF("id", "v"))
    assert(gc.read("db", "a1").count() === 150)
    assert(gc.read("db", "a1", snapshotId = Some(1L)).count() === 100)
    // data landed as avro, not parquet
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$warehouse/db/a1"))
      .iterator()
    var avro = 0; var parquet = 0
    files.forEachRemaining { p =>
      if (p.toString.endsWith(".avro")) avro += 1
      if (p.toString.endsWith(".parquet")) parquet += 1
    }
    assert(avro > 0 && parquet === 0)
    // r15: avro files carry no footer stats, so the commit job collects
    // them from the DATA — metadata-only count is exact, and readWhere
    // zone-prunes the second dir for a first-dir id range
    assert(gc.countRows("db", "a1") === Some(150L))
    val pruned = gc.readWhere("db", "a1", col("id") between (10, 20))
    assert(pruned.count() === 11)
    assert(!pruned.inputFiles.exists(_.contains("snap-2")),
      "id<=20 scan opened snap-2 (ids 101..150) despite write-time zones")
    // $files and $partitions views work; row counts via avro block headers
    assert(gc.filesTable("db", "a1").agg(sum("n_part_files")).head().getLong(0) > 0)
    assert(gc.partitionsTable("db", "a1")
      .agg(sum("row_count")).head().getLong(0) === 150)
  }

  test("PK avro table: merge-on-read, tombstones, compaction, changelog") {
    import spark.implicits._
    gc.createTable("db", "a2", Seq((1L, "x")).toDF("id", "v").schema,
      options = Map("file.format" -> "avro"), primaryKey = Seq("id"))
    gc.upsert("db", "a2", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    gc.upsert("db", "a2", Seq((2L, "b2")).toDF("id", "v"))
    gc.deleteWhere("db", "a2", col("id") === 3L)
    def img() = gc.read("db", "a2").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(img() === Seq((1L, "a"), (2L, "b2")))
    // schema evolution across avro files (write-time schemas per dir)
    gc.renameColumn("db", "a2", "v", "w")
    gc.upsert("db", "a2", Seq((4L, "d")).toDF("id", "w"))
    assert(gc.read("db", "a2").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "a"), (2L, "b2"), (4L, "d")))
    gc.compact("db", "a2")
    assert(gc.read("db", "a2").count() === 3)
    // changelog over avro deltas
    val cl = gc.readChangelog("db", "a2", 0L, 3L)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(cl === Seq((1L, "+U"), (2L, "+U"), (3L, "-D")))
  }

  test("SQL surface reads avro through the merge bridge; INSERT writes avro; " +
      "compression validated") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.ga", "graft.sources.GraftSparkCatalog")
    spark.conf.set("spark.sql.catalog.ga.warehouse", warehouse)
    spark.sql("CREATE TABLE ga.db.a3 (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('file.format' = 'avro', 'file.compression' = 'deflate')")
    spark.sql("INSERT INTO ga.db.a3 VALUES (1, 'a'), (2, 'b')")
    assert(spark.sql("SELECT v FROM ga.db.a3 WHERE id = 2").head().getString(0) === "b")
    assert(gc.fileFormatOf("db", "a3") === "avro")
    assert(spark.sql("SELECT count(*) FROM ga.db.a3 WHERE id >= 2").head().getLong(0) === 1)
    // invalid avro codec refused. DVs compose since r17 (the ORC
    // write-time position stamp transfers — DeletionVectorSpec has the
    // avro lifecycle); bloom indexes are format-independent since r16
    // (BloomIndexSpec exercises the avro build + probe end-to-end).
    val sch = Seq((1L, "x")).toDF("id", "v").schema
    intercept[IllegalArgumentException](gc.createTable("db", "abad1", sch,
      options = Map("file.format" -> "avro", "file.compression" -> "zlib")))
    gc.createTable("db", "advok", sch,
      options = Map("file.format" -> "avro", "deletion-vectors" -> "true"))
    gc.createTable("db", "abloom", sch,
      options = Map("file.format" -> "avro",
        "file-index.bloom-filter.columns" -> "id"))
  }

  test("file-level streaming read follows avro appends") {
    import spark.implicits._
    gc.createTable("db", "a5", Seq((1L, "x")).toDF("id", "v").schema,
      options = Map("file.format" -> "avro"))
    gc.append("db", "a5", Seq((1L, "a")).toDF("id", "v"))
    val q = gc.readStream("db", "a5")
      .writeStream.format("memory").queryName("avro_stream_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      gc.append("db", "a5", Seq((2L, "b")).toDF("id", "v"))
      q.processAllAvailable()
      assert(spark.table("avro_stream_out").select("id")
        .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
    } finally q.stop()
  }

  test("types round-trip through avro: decimal, timestamp, arrays, maps") {
    import spark.implicits._
    val df = Seq((1L, BigDecimal("12.3456"),
        java.sql.Timestamp.valueOf("2024-01-02 03:04:05.123456"),
        Seq(1L, 2L), Map("k" -> 9L)))
      .toDF("id", "dec", "ts", "arr", "m")
      .withColumn("dec", col("dec").cast("decimal(10,4)"))
    gc.createTable("db", "a6", df.schema, options = Map("file.format" -> "avro"))
    gc.append("db", "a6", df)
    val r = gc.read("db", "a6").head()
    assert(r.getDecimal(1).toPlainString === "12.3456")
    assert(r.getTimestamp(2).toString === "2024-01-02 03:04:05.123456")
    assert(r.getSeq[Long](3) === Seq(1L, 2L))
    assert(r.getMap[String, Long](4).toMap === Map("k" -> 9L))
  }

  test("small-commit avro stats: driver data-read path equals the " +
      "distributed aggregation bit-for-bit (r19)") {
    val d = spark.sql(
      "SELECT id, CASE WHEN id % 3 = 0 THEN NULL ELSE concat('v', id) END AS v, " +
        "CASE WHEN id % 5 = 0 THEN NULL ELSE id * 2 END AS n, " +
        "TIMESTAMP'2024-01-02 03:04:05.123456' + make_interval(0,0,0,0,0,0,id) AS ts, " +
        "concat('p', id % 2) AS part " +
        "FROM range(1, 200) t(id)")
    // A: default — small commit takes the driver data-read path
    val before = graft.sources.FileStats.driverFooterReads.get()
    gc.createTable("db", "zdrv", d.schema, partitionBy = Seq("part"),
      options = Map("file.format" -> "avro"))
    gc.append("db", "zdrv", d)
    assert(graft.sources.FileStats.driverFooterReads.get() > before,
      "a small avro commit should collect stats on the driver")
    // B: the distributed aggregation over the same dir
    val dir = new org.apache.hadoop.fs.Path(gc.dirLocation("db", "zdrv", "snap-1"))
    val a = gc.dirStats("db", "zdrv")("snap-1")
    val (b, _) = graft.sources.FileStats.collectFromData(spark,
      dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir, d.schema, "avro").get
    assert(a.rows === b.rows)
    assert(a.cols === b.cols,
      s"driver zones $a != distributed zones $b")
    assert(a.cols.contains("id") && a.cols.contains("v") &&
      a.cols.contains("n") && a.cols.contains("ts") && a.cols.contains("part"))
    assert(a.cols("v").nulls > 0 && a.cols("n").nulls > 0)
    // pruning on the driver path's zones keeps every matching row
    assert(gc.readWhere("db", "zdrv", col("id") < 50).count() ===
      d.filter(col("id") < 50).count())
  }

  test("partition replacement finds avro partitions: expirePartitions and overwriteDynamic") {
    import spark.implicits._
    val rows = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "c"))
    gc.createTable("db", "aparts", rows.toDF("id", "day").schema,
      partitionBy = Seq("day"), options = Map("file.format" -> "avro"))
    gc.append("db", "aparts", rows.toDF("id", "day"))
    assert(gc.expirePartitions("db", "aparts", col("day") === "c") === Seq("day=c"))
    gc.overwriteDynamic("db", "aparts", Seq((9L, "a")).toDF("id", "day"))
    assert(gc.read("db", "aparts").select("id").as[Long].collect().sorted.toSeq
      === Seq(3L, 9L))
  }
}

