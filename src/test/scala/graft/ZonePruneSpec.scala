package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.sources.GraftCatalog

/**
 * Manifest zone maps: commit-time footer stats, planning-time dir
 * pruning (library readWhere + SQL GraftZonePrune), and metadata-only
 * count(*) (GraftCountFromStats).
 */
class ZonePruneSpec extends SparkSpecBase {

  private lazy val warehouse = Files.createTempDirectory("graft-zpwh").toString
  private lazy val gc: GraftCatalog = new GraftCatalog(spark, warehouse)

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.gz", "graft.sources.GraftSparkCatalog")
    spark.conf.set("spark.sql.catalog.gz.warehouse", warehouse)
    import spark.implicits._
    gc.createSchema("db")
    gc.createTable("db", "zp", spark.range(0).selectExpr(
      "id", "'x' AS name", "CAST(id AS DOUBLE) AS score").schema)
    // three commits with disjoint id ranges -> three dirs with disjoint zones
    def batch(lo: Long, hi: Long) = spark.range(lo, hi + 1)
      .selectExpr("id", "concat('n', id) AS name", "CAST(id AS DOUBLE) / 10 AS score")
    gc.append("db", "zp", batch(1, 100).toDF())
    gc.append("db", "zp", batch(101, 200).toDF())
    gc.append("db", "zp", batch(201, 300).toDF())
  }

  private def scannedDirs(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.inputFiles.map(f => f.split("/").reverse.dropWhile(!_.startsWith("snap-")).head).toSet

  /** Root paths of the physical V2 parquet scan (Dataset.inputFiles can't
    * see through a non-FileTable DSv2 relation) — full path strings;
    * after per-file pruning a root can be a single part-file. */
  private def sqlScanRootPaths(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan match {
          case fs: org.apache.spark.sql.execution.datasources.v2.FileScan =>
            fs.fileIndex.rootPaths.map(_.toString)
          case rs: graft.plans.GraftRuntimeScan =>
            rs.currentDelegate.fileIndex.rootPaths.map(_.toString)
          case _ => Seq.empty
        }
    }.flatten.toSet

  /** The snap-* dir each scan root (dir or single file) lives in. */
  private def sqlScanRoots(df: org.apache.spark.sql.DataFrame): Set[String] =
    sqlScanRootPaths(df).map(p =>
      p.split("/").reverse.dropWhile(!_.startsWith("snap-")).head)

  test("manifest carries per-dir zone maps with exact row counts") {
    val stats = gc.dirStats("db", "zp")
    assert(stats.keySet === Set("snap-1", "snap-2", "snap-3"))
    val s1 = stats("snap-1")
    assert(s1.rows === 100)
    assert(s1.cols("id").min.contains(1L) && s1.cols("id").max.contains(100L))
    assert(s1.cols("score").min.contains(0.1) && s1.cols("score").max.contains(10.0))
    assert(s1.cols("name").min.contains("n1") && s1.cols("name").max.contains("n99"))
    assert(s1.cols("id").nulls === 0)
  }

  test("library readWhere prunes dirs the predicate cannot match") {
    val pruned = gc.readWhere("db", "zp", col("id") === 150L)
    assert(scannedDirs(pruned) === Set("snap-2"))
    assert(pruned.count() === 1)
    // range predicate spanning two dirs keeps exactly those two
    val range = gc.readWhere("db", "zp", col("id") > 90L && col("id") <= 110L)
    assert(scannedDirs(range) === Set("snap-1", "snap-2"))
    assert(range.count() === 20)
    // IN list across dirs
    val in = gc.readWhere("db", "zp", col("id").isin(5L, 205L))
    assert(scannedDirs(in) === Set("snap-1", "snap-3"))
    assert(in.count() === 2)
    // string predicate on the name zone: "n250" sorts inside snap-1's
    // ["n1","n99"] range too (lexicographic), so only snap-2 is skipped
    val s = gc.readWhere("db", "zp", col("name") === "n250")
    assert(scannedDirs(s) === Set("snap-1", "snap-3"))
    assert(s.count() === 1)
    // nothing matches -> zero dirs, empty result, correct schema
    val none = gc.readWhere("db", "zp", col("id") > 10000L)
    assert(none.inputFiles.isEmpty && none.count() === 0)
    assert(none.columns.toSeq === Seq("id", "name", "score"))
  }

  test("a zone-pruned readWhere never lists the dirs its zones exclude") {
    // own warehouse: this test deletes a data dir
    val wh = Files.createTempDirectory("graft-zplazy").toString
    val cat = new GraftCatalog(spark, wh)
    cat.createSchema("db")
    def batch(lo: Long) = spark.range(lo, lo + 10).selectExpr("id", "concat('n', id) AS name")
    cat.createTable("db", "a", batch(0L).schema)
    Seq(0L, 100L, 200L).foreach(lo => cat.append("db", "a", batch(lo)))
    val dirs = cat.snapshotFileEntries("db", "a").map(_.dir)
    assert(dirs.size === 3)
    // the first dir's zone [0, 9] refutes id >= 200: only an eager full
    // resolve would list it
    val first = new org.apache.hadoop.fs.Path(cat.dirLocation("db", "a", dirs.head))
    first.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(first, true)
    val got = cat.readWhere("db", "a", col("id") >= 200L)
    assert(got.orderBy("id").collect().map(_.getLong(0)).toSeq === (200L until 210L))
  }

  test("readWhere matches unpruned results exactly") {
    val cond = col("score") >= 9.5 && col("score") < 20.5
    val pruned = gc.readWhere("db", "zp", cond).orderBy("id").collect()
    val full = gc.read("db", "zp").filter(cond).orderBy("id").collect()
    assert(pruned.toSeq === full.toSeq)
  }

  test("SQL scans zone-prune through the optimizer rule") {
    val one = spark.sql("SELECT * FROM gz.db.zp WHERE id = 150")
    assert(sqlScanRoots(one) === Set("snap-2"))
    assert(one.count() === 1)
    val two = spark.sql("SELECT name FROM gz.db.zp WHERE id BETWEEN 95 AND 105")
    assert(sqlScanRoots(two) === Set("snap-1", "snap-2"))
    assert(two.count() === 11)
    // disabled -> all dirs planned, same answer
    spark.conf.set("spark.graft.zonePrune.enabled", "false")
    try {
      val full = spark.sql("SELECT * FROM gz.db.zp WHERE id = 150")
      assert(sqlScanRoots(full) === Set("snap-1", "snap-2", "snap-3"))
      assert(full.count() === 1)
    } finally spark.conf.unset("spark.graft.zonePrune.enabled")
  }

  test("bare count(*) answers from the manifest with no scan") {
    val df = spark.sql("SELECT count(*) FROM gz.db.zp")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
      s"count(*) was not answered from stats:\n$plan")
    assert(df.head().getLong(0) === 300L)
    // time travel counts the chosen snapshot's manifest
    assert(spark.sql("SELECT count(*) FROM gz.db.zp VERSION AS OF 1")
      .head().getLong(0) === 100L)
    // filtered counts still scan (and still zone-prune)
    val filtered = spark.sql("SELECT count(*) FROM gz.db.zp WHERE id = 150")
    assert(filtered.head().getLong(0) === 1L)
    assert(gc.countRows("db", "zp") === Some(300L))
    assert(gc.countRows("db", "zp", snapshotId = Some(2)) === Some(200L))
  }

  test("bare min/max/count(col) answer from zones with no scan") {
    val df = spark.sql(
      "SELECT min(id), max(id), min(score), max(score), min(name), count(id) FROM gz.db.zp")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
      s"aggregates were not answered from stats:\n$plan")
    val r = df.head()
    assert(r.getLong(0) === 1L && r.getLong(1) === 300L)
    assert(r.getDouble(2) === 0.1 && r.getDouble(3) === 30.0)
    assert(r.getString(4) === "n1")
    assert(r.getLong(5) === 300L)
    // avg is not answerable -> the whole aggregate keeps its scan
    val mixed = spark.sql("SELECT min(id), avg(id) FROM gz.db.zp")
    assert(mixed.queryExecution.executedPlan.toString.contains("BatchScan"))
    assert(mixed.head().getLong(0) === 1L)
  }

  test("count(*) never fires on merge-on-read state") {
    import spark.implicits._
    gc.createTable("db", "zpk",
      Seq((1L, "a")).toDF("id", "v").schema, primaryKey = Seq("id"))
    gc.upsert("db", "zpk", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    gc.upsert("db", "zpk", Seq((2L, "b2"), (3L, "c")).toDF("id", "v"))
    assert(gc.countRows("db", "zpk") === None)
    val df = spark.sql("SELECT count(*) FROM gz.db.zpk")
    assert(df.head().getLong(0) === 3L) // merged image, counted by scan
  }

  test("sortCompact rewrites into range dirs that zone-prune tightly") {
    import spark.implicits._
    // interleaved commits: every dir spans the full id range -> no
    // pruning (coalesce(1): one file per dir, so per-FILE zones span the
    // same full range and cannot prune either)
    gc.createTable("db", "sc", Seq((1L, "x")).toDF("id", "v").schema)
    def batch(r: Long) = spark.range(0, 300).filter(col("id") % 3 === r)
      .selectExpr("id", "concat('v', id) AS v").coalesce(1)
    gc.append("db", "sc", batch(0).toDF())
    gc.append("db", "sc", batch(1).toDF())
    gc.append("db", "sc", batch(2).toDF())
    val before = gc.readWhere("db", "sc", col("id") === 150L)
    assert(scannedDirs(before).size === 3, "interleaved zones should not prune")
    val full = gc.read("db", "sc").orderBy("id").collect().toSeq
    // sort-compact by id into 4 range dirs
    gc.sortCompact("db", "sc", Seq("id"), ranges = 4)
    // old dirs keep their zones (still time-travelable); the current
    // snapshot references exactly the 4 new range dirs
    val stats = gc.dirStats("db", "sc")
    val rangeStats = stats.filter(_._1.startsWith("snap-4-r"))
    assert(rangeStats.size === 4)
    assert(rangeStats.values.map(_.rows).sum === 300)
    // zones are now disjoint: a point query plans exactly one dir
    val after = gc.readWhere("db", "sc", col("id") === 150L)
    assert(scannedDirs(after).size === 1)
    assert(after.count() === 1)
    // content identical to the pre-compact image
    assert(gc.read("db", "sc").orderBy("id").collect().toSeq === full)
    // SQL scans prune the compacted layout the same way
    val sql = spark.sql("SELECT * FROM gz.db.sc WHERE id >= 290")
    assert(sqlScanRoots(sql).size === 1)
    assert(sql.count() === 10)
    // bucketed PK tables refuse sort-compaction (layout is the contract)
    gc.createTable("db", "scb", Seq((1L, "x")).toDF("id", "v").schema,
      options = Map("bucket" -> "4"), primaryKey = Seq("id"))
    intercept[IllegalArgumentException](
      gc.sortCompact("db", "scb", Seq("id")))
  }

  test("partition-column zones prune dirs from path segments") {
    import spark.implicits._
    gc.createTable("db", "zpart", Seq((1L, "en")).toDF("id", "lang").schema,
      partitionBy = Seq("lang"))
    gc.append("db", "zpart",
      Seq((1L, "aa"), (2L, "bb"), (3L, "cc")).toDF("id", "lang"))
    gc.append("db", "zpart",
      Seq((4L, "xx"), (5L, "yy"), (6L, "zz")).toDF("id", "lang"))
    val stats = gc.dirStats("db", "zpart")
    assert(stats("snap-1").cols("lang").min.contains("aa") &&
      stats("snap-1").cols("lang").max.contains("cc"))
    // partition columns never appear in footers — zone must come from paths
    val pruned = gc.readWhere("db", "zpart", col("lang") === "yy")
    assert(scannedDirs(pruned) === Set("snap-2"))
    assert(pruned.count() === 1)
    // Multi-dir partitioned tables read through the V1 merge bridge
    // (Spark partition discovery can't span several snapshot roots);
    // the bridge routes pushed filters into readWhere, so the same
    // dir-level zone pruning applies inside its plan.
    val sql = spark.sql("SELECT * FROM gz.db.zpart WHERE lang = 'yy'")
    assert(sql.count() === 1)
    assert(spark.sql("SELECT id FROM gz.db.zpart ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === (1L to 6L))
  }

  test("string zones compare as UTF-8 bytes, not UTF-16 chars") {
    import spark.implicits._
    // U+1F600 sorts ABOVE U+E000 in UTF-8 byte order (Spark semantics)
    // but BELOW it in java.lang.String UTF-16 order — a char-order zone
    // check would wrongly prune this dir.
    gc.createTable("db", "zutf", Seq((1L, "x")).toDF("id", "name").schema)
    gc.append("db", "zutf", Seq((1L, "😀")).toDF("id", "name"))
    val r = gc.readWhere("db", "zutf", col("name") >= "\uE000")
    assert(r.count() === 1)
  }

  test("non-micros timestamp footers are excluded from zones") {
    import spark.implicits._
    gc.createTable("db", "zts", spark.sql(
      "SELECT CAST(1 AS BIGINT) AS id, TIMESTAMP'2020-01-01 00:00:00' AS ts").schema)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
    try gc.append("db", "zts", spark.sql(
      "SELECT CAST(1 AS BIGINT) AS id, TIMESTAMP'2020-01-01 00:00:00' AS ts"))
    finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
    // millis-encoded stats would make zones 1000x too small -> dropped
    val z = gc.dirStats("db", "zts")("snap-1")
    assert(!z.cols.contains("ts") && z.cols.contains("id"))
    // and the dir is therefore never pruned on ts
    val r = gc.readWhere("db", "zts",
      col("ts") >= java.sql.Timestamp.valueOf("2019-01-01 00:00:00"))
    assert(r.count() === 1)
  }

  test("sortCompact preserves identity-partition layout") {
    import spark.implicits._
    gc.createTable("db", "scp", Seq((1L, "en")).toDF("id", "lang").schema,
      partitionBy = Seq("lang"))
    gc.append("db", "scp", Seq((1L, "aa"), (2L, "bb")).toDF("id", "lang"))
    gc.append("db", "scp", Seq((3L, "aa"), (4L, "cc")).toDF("id", "lang"))
    gc.sortCompact("db", "scp", Seq("id"), ranges = 2)
    // col=value subdirs survive inside each range dir -> $partitions
    // still reports per-partition rows, and reads round-trip
    val parts = gc.partitionsTable("db", "scp").collect()
      .map(r => (r.getString(0), r.getLong(4))).toMap
    assert(parts.keySet.forall(_.startsWith("lang=")))
    assert(parts.values.sum === 4)
    assert(gc.read("db", "scp").orderBy("id").collect().map(_.getLong(0)).toSeq
      === Seq(1L, 2L, 3L, 4L))
  }

  test("zorder sortCompact gives every dimension a prunable zone") {
    // 32x32 grid: x = id / 32, y = id % 32, appended in x-major order
    def grid = spark.range(0, 1024).selectExpr("id DIV 32 AS x", "id % 32 AS y")
    gc.createTable("db", "zlin", grid.schema)
    gc.append("db", "zlin", grid.toDF())
    gc.createTable("db", "zzo", grid.schema)
    gc.append("db", "zzo", grid.toDF())
    // 1-D sort by x: every dir spans the full y range -> y queries keep all dirs
    gc.sortCompact("db", "zlin", Seq("x"), ranges = 16)
    assert(scannedDirs(gc.readWhere("db", "zlin", col("y") === 5L)).size === 16)
    // z-order by (x, y): a y-only query prunes most dirs, x-only still prunes
    gc.sortCompact("db", "zzo", Seq("x", "y"), ranges = 16, zorder = true)
    val yDirs = scannedDirs(gc.readWhere("db", "zzo", col("y") === 5L))
    assert(yDirs.size <= 8, s"y=5 kept ${yDirs.size} of 16 dirs")
    val xDirs = scannedDirs(gc.readWhere("db", "zzo", col("x") === 5L))
    assert(xDirs.size <= 8, s"x=5 kept ${xDirs.size} of 16 dirs")
    // content identical to the linear table
    assert(gc.read("db", "zzo").orderBy("x", "y").collect().toSeq ===
      gc.read("db", "zlin").orderBy("x", "y").collect().toSeq)
    // strings refuse z-ordering
    assert(intercept[Exception](
      gc.sortCompact("db", "zp", Seq("name"), zorder = true))
      .getMessage.contains("zorder"))
    // 4+ dimensions: per-dim bit budget caps so the z-value fits a long
    def g4 = spark.range(0, 256).selectExpr("id % 4 AS a",
      "(id DIV 4) % 4 AS b", "(id DIV 16) % 4 AS c", "(id DIV 64) % 4 AS d")
    gc.createTable("db", "z4", g4.schema)
    gc.append("db", "z4", g4.toDF())
    gc.sortCompact("db", "z4", Seq("a", "b", "c", "d"), ranges = 4, zorder = true)
    assert(gc.read("db", "z4").count() === 256)
    assert(gc.read("db", "z4").distinct().count() === 256)
  }

  test("commit-time stat collection is distributed: no driver footer reads") {
    import graft.sources.FileStats
    gc.createTable("db", "zbulk",
      spark.range(0).selectExpr("id", "CAST(id AS DOUBLE) AS v").schema)
    val before = FileStats.driverFooterReads.get()
    // a bulk load landing ONE snapshot with 1000 part-files — the shape
    // that would stall a sequential driver footer pass for minutes on an
    // object store
    gc.append("db", "zbulk", spark.range(0, 10000)
      .selectExpr("id", "CAST(id AS DOUBLE) AS v").repartition(1000).toDF())
    assert(FileStats.driverFooterReads.get() === before,
      "commit read parquet footers on the driver")
    val ds = gc.dirStats("db", "zbulk")("snap-1")
    assert(ds.rows === 10000)
    assert(ds.cols("id").min.contains(0L) && ds.cols("id").max.contains(9999L))
    assert(ds.cols("id").nulls === 0)
    // per-file zones rode along: one per part-file, row counts add up
    val pf = gc.fileStats("db", "zbulk")("snap-1")
    assert(pf.size === 1000)
    assert(pf.values.map(_.rows).sum === 10000L)
  }

  test("small commits collect stats on the driver, with identical zones (r18)") {
    import graft.sources.FileStats
    // ≤ driver-max-files (default 64): the footer pass must run on the
    // driver — one job launch saved per commit, the steady delta shape —
    // and produce the same dir aggregate + per-file zones the
    // distributed path yields for the same bytes.
    gc.createTable("db", "zsmall",
      spark.range(0).selectExpr("id", "CAST(id AS DOUBLE) AS v").schema)
    val f0 = FileStats.driverFooterReads.get()
    gc.append("db", "zsmall", spark.range(0, 1000)
      .selectExpr("id", "CAST(id AS DOUBLE) AS v").repartition(8).toDF())
    val grew = FileStats.driverFooterReads.get() - f0
    assert(grew >= 8L, s"small commit did not take the driver stats path ($grew)")
    val ds = gc.dirStats("db", "zsmall")("snap-1")
    assert(ds.rows === 1000)
    assert(ds.cols("id").min.contains(0L) && ds.cols("id").max.contains(999L))
    assert(ds.cols("id").nulls === 0)
    val pf = gc.fileStats("db", "zsmall")("snap-1")
    assert(pf.size === 8)
    assert(pf.values.map(_.rows).sum === 1000L)
    // zone-based point pruning still engages exactly like before
    gc.createTable("db", "zsmall2",
      spark.range(0).selectExpr("id", "concat('n', id) AS name").schema)
    gc.append("db", "zsmall2", spark.range(0, 800)
      .selectExpr("id", "concat('n', id) AS name")
      .repartitionByRange(8, col("id")).toDF())
    assert(gc.readWhere("db", "zsmall2", col("id") === 5L).inputFiles.length === 1)
  }

  test("per-file zones prune a multi-file append dir to matching files") {
    gc.createTable("db", "zpf",
      spark.range(0).selectExpr("id", "concat('n', id) AS name").schema)
    // ONE commit whose 8 files are range-clustered on id (disjoint zones)
    gc.append("db", "zpf", spark.range(0, 800)
      .selectExpr("id", "concat('n', id) AS name")
      .repartitionByRange(8, col("id")).toDF())
    val point = gc.readWhere("db", "zpf", col("id") === 5L)
    assert(point.inputFiles.length === 1,
      s"point query planned ${point.inputFiles.length} of 8 files")
    assert(point.collect().map(_.getLong(0)).toSeq === Seq(5L))
    val band = gc.readWhere("db", "zpf", col("id") >= 95L && col("id") <= 105L)
    assert(band.inputFiles.length <= 2,
      s"11-row band planned ${band.inputFiles.length} of 8 files")
    // parity with the unpruned read
    assert(band.orderBy("id").collect().toSeq ===
      gc.read("db", "zpf").filter(col("id") >= 95L && col("id") <= 105L)
        .orderBy("id").collect().toSeq)
    // a predicate no file can match plans zero files
    assert(gc.readWhere("db", "zpf", col("id") === -1L).count() === 0)
  }

  test("SQL scans prune to single files via the optimizer rule") {
    gc.createTable("db", "zpfsql",
      spark.range(0).selectExpr("id", "concat('n', id) AS name").schema)
    gc.append("db", "zpfsql", spark.range(0, 800)
      .selectExpr("id", "concat('n', id) AS name")
      .repartitionByRange(8, col("id")).toDF())
    val sql = spark.sql("SELECT * FROM gz.db.zpfsql WHERE id = 5")
    val roots = sqlScanRootPaths(sql)
    assert(roots.size === 1 && roots.head.endsWith(".parquet"),
      s"expected one file root, got $roots")
    assert(sql.collect().map(_.getLong(0)).toSeq === Seq(5L))
    // parity on a band crossing a file boundary
    val band = spark.sql(
      "SELECT * FROM gz.db.zpfsql WHERE id BETWEEN 95 AND 105 ORDER BY id")
    assert(band.count() === 11)
  }

  test("per-file pruning keeps partition columns intact") {
    gc.createTable("db", "zpfp",
      spark.range(0).selectExpr("id", "id % 2 AS p").schema,
      partitionBy = Seq("p"))
    gc.append("db", "zpfp", spark.range(0, 400)
      .selectExpr("id", "id % 2 AS p")
      .repartitionByRange(8, col("id")).toDF().sortWithinPartitions("id"))
    // data-column predicate prunes files under BOTH p=0 and p=1 subdirs;
    // the basePath read keeps the partition column resolvable
    val got = gc.readWhere("db", "zpfp", col("id") < 10L)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === (0L until 10L).map(i => (i, i % 2)))
    val planned = gc.readWhere("db", "zpfp", col("id") < 10L).inputFiles.length
    val total = gc.read("db", "zpfp").inputFiles.length
    assert(planned < total, s"planned $planned of $total files")
  }

  test("partition-filtered aggregates answer from the manifest, no scan") {
    gc.createTable("db", "zmc",
      spark.range(0).selectExpr("id", "id % 4 AS p").schema,
      partitionBy = Seq("p"))
    gc.append("db", "zmc", spark.range(0, 400).selectExpr("id", "id % 4 AS p").toDF())
    gc.append("db", "zmc", spark.range(400, 500).selectExpr("id", "id % 4 AS p").toDF())
    def planOf(q: String) = spark.sql(q).queryExecution.executedPlan.toString
    // count(*) with a partition-only predicate: LocalTableScan, no files
    val q1 = "SELECT count(*) AS n FROM gz.db.zmc WHERE p = 1"
    assert(planOf(q1).contains("LocalTableScan") && !planOf(q1).contains("BatchScan"),
      s"partition-filtered count was not answered from stats:\n${planOf(q1)}")
    assert(spark.sql(q1).head().getLong(0) === 125L)
    // compound partition predicates (IN, range, AND) answer too
    val q2 = "SELECT count(*) AS n, min(id) AS mn, max(id) AS mx " +
      "FROM gz.db.zmc WHERE p IN (0, 3)"
    assert(planOf(q2).contains("LocalTableScan"), planOf(q2))
    val r2 = spark.sql(q2).head()
    assert(r2.getLong(0) === 250L)
    assert(r2.getLong(1) === 0L && r2.getLong(2) === 499L)
    val q3 = "SELECT count(*) AS n FROM gz.db.zmc WHERE p >= 2 AND p <= 3"
    assert(planOf(q3).contains("LocalTableScan"), planOf(q3))
    assert(spark.sql(q3).head().getLong(0) === 250L)
    // a DATA-column predicate is not total per file: the scan stands
    // (this table reads through the V1 merge bridge — "Scan graft...")
    val q4 = "SELECT count(*) FROM gz.db.zmc WHERE id < 100"
    assert(!planOf(q4).contains("LocalTableScan"), planOf(q4))
    assert(spark.sql(q4).head().getLong(0) === 100L)
    // oracle parity: the full-scan answer matches the metadata answer
    spark.conf.set("spark.graft.countFromStats.enabled", "false")
    try assert(spark.sql(q1).head().getLong(0) === 125L)
    finally spark.conf.unset("spark.graft.countFromStats.enabled")
  }

  test("GROUP BY partition columns answers from the manifest, no scan") {
    gc.createTable("db", "zgb",
      spark.range(0).selectExpr("id", "id % 4 AS p").schema,
      partitionBy = Seq("p"))
    gc.append("db", "zgb", spark.range(0, 400).selectExpr("id", "id % 4 AS p").toDF())
    gc.append("db", "zgb", spark.range(400, 500).selectExpr("id", "id % 4 AS p").toDF())
    def planOf(q: String) = spark.sql(q).queryExecution.executedPlan.toString
    // the partition census: one row per partition, zero files opened
    val q1 = "SELECT p, count(*) AS n, min(id) AS mn, max(id) AS mx " +
      "FROM gz.db.zgb GROUP BY p"
    assert(planOf(q1).contains("LocalTableScan") && !planOf(q1).contains("BatchScan"),
      s"partition census was not answered from stats:\n${planOf(q1)}")
    val got = spark.sql(q1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(got === (0L to 3L).map(p =>
      (p, 125L, p, if (p == 3L) 499L else 496L + p)))
    // composes with a partition-only filter
    val q2 = "SELECT p, count(*) AS n FROM gz.db.zgb WHERE p >= 2 GROUP BY p"
    assert(planOf(q2).contains("LocalTableScan"), planOf(q2))
    assert(spark.sql(q2).collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      .toSeq === Seq((2L, 125L), (3L, 125L)))
    // grouping by a DATA column keeps the scan (file-constant or not)
    val q3 = "SELECT id, count(*) AS n FROM gz.db.zgb GROUP BY id"
    assert(!planOf(q3).contains("LocalTableScan"), planOf(q3))
    // a data-column FILTER keeps the scan even with partition grouping
    val q4 = "SELECT p, count(*) AS n FROM gz.db.zgb WHERE id < 100 GROUP BY p"
    assert(!planOf(q4).contains("LocalTableScan"), planOf(q4))
    assert(spark.sql(q4).collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      .toSeq === Seq((0L, 25L), (1L, 25L), (2L, 25L), (3L, 25L)))
    // oracle parity: disabled-rule scan answers match the metadata rows
    spark.conf.set("spark.graft.countFromStats.enabled", "false")
    try {
      val scan = spark.sql(q1).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
      assert(scan === got)
    } finally spark.conf.unset("spark.graft.countFromStats.enabled")
  }

  test("GROUP BY a subset of a multi-column partition layout folds " +
      "across the other dimension, still metadata-only") {
    gc.createTable("db", "zgb2",
      spark.range(0).selectExpr("id", "id % 2 AS p", "id % 3 AS q").schema,
      partitionBy = Seq("p", "q"))
    gc.append("db", "zgb2",
      spark.range(0, 600).selectExpr("id", "id % 2 AS p", "id % 3 AS q").toDF())
    def planOf(qq: String) = spark.sql(qq).queryExecution.executedPlan.toString
    // group by q alone: the three q-groups each fold both p subdirs
    val q1 = "SELECT q, count(*) AS n FROM gz.db.zgb2 GROUP BY q"
    assert(planOf(q1).contains("LocalTableScan") && !planOf(q1).contains("BatchScan"),
      s"subset census was not metadata-only:\n${planOf(q1)}")
    assert(spark.sql(q1).collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq === Seq((0L, 200L), (1L, 200L), (2L, 200L)))
    // both columns: full cross census
    val q2 = "SELECT p, q, count(*) AS n FROM gz.db.zgb2 GROUP BY p, q"
    assert(planOf(q2).contains("LocalTableScan"), planOf(q2))
    assert(spark.sql(q2).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq ===
      (for (p <- 0L to 1L; q <- 0L to 2L) yield (p, q, 100L)).toSeq)
  }

  test("mixed literal/zone domains are inconclusive, never a prune proof") {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions._
    import graft.sources.FileStats
    // a LONG-domain zone probed with a STRING literal (format drift /
    // future caller at a different schema version): every op must KEEP
    val z = FileStats.DirStats(10L,
      Map("x" -> FileStats.ColZone(Some(1L), Some(5L), 0L)))
    val a = UnresolvedAttribute("x")
    val s = Literal.create("abc", org.apache.spark.sql.types.StringType)
    for (p <- Seq[Expression](EqualTo(a, s), LessThan(a, s),
        LessThanOrEqual(a, s), GreaterThan(a, s), GreaterThanOrEqual(a, s),
        Not(EqualTo(a, s)), In(a, Seq(s))))
      assert(FileStats.mightMatch(z, p), s"mixed-domain $p must keep the dir")
    // sanity: the same shapes with a long literal still prune
    val big = Literal.create(100L, org.apache.spark.sql.types.LongType)
    assert(!FileStats.mightMatch(z, EqualTo(a, big)))
    assert(!FileStats.mightMatch(z, GreaterThan(a, big)))
  }

  test("zone compares use SQL double semantics: -0.0 = 0.0; zero-row files decide vacuously") {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions._
    import graft.sources.FileStats
    // a p=-0.0 partition dir probed with p = 0.0 must DECIDE true, not
    // exclude the files from a metadata-only aggregate (SQL equality
    // normalizes signed zeros; IEEE total order does not)
    val negZero = FileStats.DirStats(4L,
      Map("p" -> FileStats.ColZone(Some(-0.0d), Some(-0.0d), 0L)))
    val a = UnresolvedAttribute("p")
    val zero = Literal.create(0.0d, org.apache.spark.sql.types.DoubleType)
    assert(FileStats.decides(negZero, EqualTo(a, zero)) === Some(true))
    assert(FileStats.decides(negZero, GreaterThan(a, zero)) === Some(false))
    assert(FileStats.mightMatch(negZero, EqualTo(a, zero)))
    // a zero-row file (external writers emit them) contributes nothing:
    // any predicate decides Some(false), never None — one such file must
    // not knock a whole table off the metadata-only aggregate path
    val empty = FileStats.DirStats(0L, Map.empty)
    assert(FileStats.decides(empty, EqualTo(a, zero)) === Some(false))
  }

  test("sortCompact reserves its scratch column names") {
    import spark.implicits._
    gc.createTable("db", "zres",
      Seq((1L, 2L)).toDF("id", "__range").schema)
    gc.append("db", "zres", Seq((1L, 2L)).toDF("id", "__range"))
    assert(intercept[IllegalArgumentException](
      gc.sortCompact("db", "zres", Seq("id")))
      .getMessage.contains("__range"))
    gc.createTable("db", "zresz", Seq((1L, 2L)).toDF("id", "__z").schema)
    gc.append("db", "zresz", Seq((1L, 2L)).toDF("id", "__z"))
    // __z is only scratch in zorder mode; linear sort still works
    assert(intercept[IllegalArgumentException](
      gc.sortCompact("db", "zresz", Seq("id"), zorder = true))
      .getMessage.contains("__z"))
    gc.sortCompact("db", "zresz", Seq("id"))
    assert(gc.read("db", "zresz").collect().toSeq ===
      Seq(org.apache.spark.sql.Row(1L, 2L)))
  }

  test("empty commits carry zero-row zones and never break pruning") {
    import spark.implicits._
    gc.createTable("db", "zempty", Seq((1L, "x")).toDF("id", "v").schema)
    gc.append("db", "zempty", Seq((1L, "a")).toDF("id", "v"))
    gc.append("db", "zempty",
      Seq.empty[(Long, String)].toDF("id", "v")) // zero-row commit
    val stats = gc.dirStats("db", "zempty")
    assert(stats("snap-2").rows === 0)
    // reads and pruned reads stay correct through the empty dir
    assert(gc.read("db", "zempty").count() === 1)
    assert(gc.readWhere("db", "zempty", col("id") === 1L).count() === 1)
    assert(gc.countRows("db", "zempty") === Some(1L))
  }

  test("dynamic-filter join prunes fact dirs from dim keys") {
    import spark.implicits._
    // dim keys all inside snap-2's id range (101..200)
    val dim = Seq((120L, "a"), (150L, "b"), (180L, "c")).toDF("k", "tag")
    val joined = gc.dynamicFilterJoin("db", "zp", Seq("id"), dim, Seq("k"))
    val dirs = scannedDirs(joined)
    assert(dirs === Set("snap-2"), s"scanned $dirs")
    val expected = gc.read("db", "zp").join(dim, col("id") === col("k")).count()
    assert(joined.count() === expected && expected === 3L)
    // left_semi variant prunes the same and keeps only fact columns
    val semi = gc.dynamicFilterJoin("db", "zp", Seq("id"), dim, Seq("k"),
      joinType = "left_semi")
    assert(scannedDirs(semi) === Set("snap-2"))
    assert(semi.columns.toSeq === Seq("id", "name", "score") && semi.count() === 3L)
  }

  test("dynamic-filter join degrades soundly: ranges, cap, empty dim, outer refusal") {
    import spark.implicits._
    // > inListMax keys -> per-column min/max range, still prunes snap-3
    val bigDim = spark.range(101, 200).select(col("id").as("k"))
    val ranged = gc.dynamicFilterJoin("db", "zp", Seq("id"), bigDim, Seq("k"),
      inListMax = 10)
    assert(scannedDirs(ranged) === Set("snap-2"))
    assert(ranged.count() === 99L)
    // above maxKeys: filter abandoned, full scan, identical result
    val capped = gc.dynamicFilterJoin("db", "zp", Seq("id"), bigDim, Seq("k"),
      maxKeys = 5)
    assert(scannedDirs(capped) === Set("snap-1", "snap-2", "snap-3"))
    assert(capped.count() === 99L)
    // empty dim: provably empty, no fact files scanned
    val empty = gc.dynamicFilterJoin("db", "zp", Seq("id"),
      bigDim.filter(col("k") < 0), Seq("k"))
    assert(empty.count() === 0L && empty.inputFiles.isEmpty)
    // outer joins would resurrect pruned rows as nulls -> refused
    val e = intercept[IllegalArgumentException](
      gc.dynamicFilterJoin("db", "zp", Seq("id"), bigDim, Seq("k"),
        joinType = "left_outer"))
    assert(e.getMessage.contains("fact-preserving"))
  }

  test("SQL joins runtime-prune the fact scan from build-side keys") {
    import spark.implicits._
    // Plain spark.sql join — no library API: the fact side must pick up a
    // dynamic filter (SupportsRuntimeV2Filtering) and re-prune its file
    // list through zones at execution. The zp fixture has 3 dirs with
    // disjoint id zones; the selective dim keeps keys only in snap-2.
    // The dim is a CATALOG table: a local-relation dim would constant-fold
    // its filter away and DPP requires a surviving selective predicate.
    gc.createTable("db", "rtdim",
      Seq((0L, "x")).toDF("k", "tag").schema)
    gc.append("db", "rtdim",
      Seq((120L, "hot"), (150L, "hot"), (999999L, "cold")).toDF("k", "tag"))
    val before = graft.plans.GraftRuntimeScan.runtimePrunes.get()
    // AQE nests scans inside opaque query stages; turn it off so the
    // executed plan stays introspectable (runtime filtering works under
    // both — the counter assert covers the AQE path elsewhere).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = spark.sql(
        """SELECT f.id, f.name FROM gz.db.zp f
          |JOIN gz.db.rtdim d ON f.id = d.k WHERE d.tag = 'hot'
          |ORDER BY f.id""".stripMargin)
      assert(q.collect().map(_.getLong(0)).toSeq === Seq(120L, 150L))
      assert(graft.plans.GraftRuntimeScan.runtimePrunes.get() > before,
        "expected the runtime filter to shrink the fact file list")
      // post-execution, the fact scan's live file index holds only snap-2
      // paths (per-file zones may cut below dir granularity)
      val factRoots = sqlScanRootPaths(q).filter(_.contains("/zp/"))
        .map(p => p.split("/").reverse.dropWhile(!_.startsWith("snap-")).head)
      assert(factRoots === Set("snap-2"), s"runtime-pruned roots: $factRoots")
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("static SQL WHERE prunes partitioned tables to files within partitions") {
    import spark.implicits._
    // Same layout as the runtime test: 4 cat partitions × 4 id-range
    // files. A plain WHERE on the non-partition column must expand the
    // single snap dir to only the id-admitting files — with partition
    // values intact through the basePath pin.
    gc.createTable("db", "sprt", spark.range(0).selectExpr(
      "id", "concat('n', id) AS name", "CAST(id % 4 AS STRING) AS cat").schema,
      partitionBy = Seq("cat"))
    gc.append("db", "sprt", spark.range(0, 4000)
      .selectExpr("id", "concat('n', id) AS name",
        "CAST(id % 4 AS STRING) AS cat")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id").toDF())
    // no ORDER BY: a shuffle would wrap the plan in AQE and hide the scan
    // from the root-path helper; the prune is static, order irrelevant
    val q = spark.sql(
      "SELECT id, cat FROM gz.db.sprt WHERE id BETWEEN 10 AND 20")
    assert(q.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      === (10L to 20L).map(i => (i, (i % 4).toString)))
    val roots = sqlScanRootPaths(q).filter(_.contains("/sprt/"))
    assert(roots.nonEmpty && roots.size <= 6,
      s"expected <=6 of 16 files after static in-partition pruning: $roots")
    assert(roots.forall(_.contains("cat=")), s"file-level roots: $roots")
    // predicate on BOTH partition and data column: a single file survives
    val q2 = spark.sql(
      "SELECT id, name FROM gz.db.sprt WHERE cat = '1' AND id = 13")
    assert(q2.collect().map(_.getLong(0)).toSeq === Seq(13L))
    val roots2 = sqlScanRootPaths(q2).filter(_.contains("/sprt/"))
    assert(roots2.size <= 2, s"cat+id lookup kept $roots2")
    // library path: readWhere applies the same per-file cut on a
    // partitioned table — id zones admit one file per partition, and the
    // cat constraint (a per-file partition point zone) picks one of them
    // (frameFor's basePath keeps cat resolvable over the file subset)
    val lwId = gc.readWhere("db", "sprt", col("id") === 13L)
    assert(lwId.inputFiles.length === 4, // one id-range file per cat dir
      s"readWhere kept ${lwId.inputFiles.length} files for an id lookup")
    val lw = gc.readWhere("db", "sprt", col("cat") === "1" && col("id") === 13L)
    assert(lw.inputFiles.length <= 2,
      s"readWhere kept ${lw.inputFiles.length} files for a cat+id lookup")
    assert(lw.select("id", "cat").collect().map(r =>
      (r.getLong(0), r.getString(1))).toSeq === Seq((13L, "1")))
  }

  test("partitioned SQL joins runtime-prune files WITHIN partitions") {
    import spark.implicits._
    // Single-snap-dir partitioned table: 4 cat partitions × 4 id-range
    // files each. The join key (id) is NOT the partition column, so
    // partition pruning alone admits every file of every cat dir; the
    // runtime zone prune must cut to the one id-range file per dir that
    // holds the dim keys — and partition values must survive the
    // file-level index swap (cat is selected through the pruned scan).
    gc.createTable("db", "prt", spark.range(0).selectExpr(
      "id", "concat('n', id) AS name", "CAST(id % 4 AS STRING) AS cat").schema,
      partitionBy = Seq("cat"))
    gc.append("db", "prt", spark.range(0, 4000)
      .selectExpr("id", "concat('n', id) AS name",
        "CAST(id % 4 AS STRING) AS cat")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id").toDF())
    gc.createTable("db", "prtdim", Seq((0L, "x")).toDF("k", "tag").schema)
    gc.append("db", "prtdim",
      Seq((10L, "hot"), (20L, "hot"), (999999L, "cold")).toDF("k", "tag"))
    val before = graft.plans.GraftRuntimeScan.runtimePrunes.get()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = spark.sql(
        """SELECT f.id, f.name, f.cat FROM gz.db.prt f
          |JOIN gz.db.prtdim d ON f.id = d.k WHERE d.tag = 'hot'
          |ORDER BY f.id""".stripMargin)
      assert(q.collect().map(r => (r.getLong(0), r.getString(2))).toSeq
        === Seq((10L, "2"), (20L, "0")))
      assert(graft.plans.GraftRuntimeScan.runtimePrunes.get() > before,
        "expected the runtime filter to fire on the partitioned fact scan")
      // both keys sit in the lowest id-range file of their cat dir: the
      // kept roots must be single files inside cat= dirs, far fewer than
      // the 16 files partitions alone admit
      val roots = sqlScanRootPaths(q).filter(_.contains("/prt/"))
      assert(roots.nonEmpty && roots.size <= 6,
        s"expected <=6 of 16 files after in-partition pruning, kept $roots")
      assert(roots.forall(_.contains("cat=")),
        s"kept roots should be files under cat= dirs: $roots")
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("runtime-filter scans keep value equality (exchange reuse)") {
    // Two scans of the same table must compare equal, or Spark's
    // ReuseExchange / scan reuse can't deduplicate self-join legs.
    def scanOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan
      }.head
    val a = scanOf(spark.sql("SELECT id FROM gz.db.zp WHERE id > 0"))
    val b = scanOf(spark.sql("SELECT id FROM gz.db.zp WHERE id > 0"))
    assert(a.isInstanceOf[graft.plans.GraftRuntimeScan])
    assert(a === b && a.hashCode === b.hashCode)
  }

  test("zone pruning survives schema evolution conservatively") {
    import spark.implicits._
    gc.createTable("db", "zev", Seq((1L, "a")).toDF("id", "v").schema)
    gc.append("db", "zev", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    gc.renameColumn("db", "zev", "v", "w")
    gc.append("db", "zev", Seq((10L, "x"), (20L, "y")).toDF("id", "w"))
    // pre-rename dir has stats under the OLD name -> never pruned on `w`;
    // readWhere falls back to read().filter when versions are mixed.
    val r = gc.readWhere("db", "zev", col("w") === "a")
    assert(r.count() === 1)
    val all = gc.readWhere("db", "zev", col("id") >= 0L)
    assert(all.count() === 4)
  }

  test("property: zone evaluator never refutes a file holding a match") {
    // Soundness fuzz over the whole predicate-shape matrix (coercion
    // casts, IN, NOT =, STARTS WITH, null checks, AND/OR): for randomly
    // generated data split into "files" and randomly generated resolved
    // predicates, any file Spark finds a matching row in must survive
    // FileStats.mightMatch on that file's zone. (Completeness is not
    // required — keeping too much is the designed fallback.)
    import graft.sources.FileStats
    import org.apache.spark.sql.Column
    val rnd = new scala.util.Random(20260814L)
    val nGroups = 5
    def randRow(): (Long, java.lang.Long, java.lang.Double, String) = {
      val grp = rnd.nextInt(nGroups).toLong
      val i: java.lang.Long = if (rnd.nextInt(10) == 0) null
        else java.lang.Long.valueOf(rnd.nextInt(200).toLong - 100)
      val d: java.lang.Double = if (rnd.nextInt(10) == 0) null
        else java.lang.Double.valueOf(math.round(rnd.nextGaussian() * 50).toDouble / 2)
      val s = if (rnd.nextInt(10) == 0) null
        else ("" + ('a' + rnd.nextInt(4)).toChar) * (1 + rnd.nextInt(2)) +
          rnd.nextInt(30)
      (grp, i, d, s)
    }
    val rows = Seq.fill(400)(randRow())
    import spark.implicits._
    val df = rows.toDF("grp", "i", "d", "s")
    // per-group zones computed from the raw data with the SAME canonical
    // domains the footer collection uses (Long / Double / UTF-8 String)
    def zoneOf[T](vs: Seq[Any])(implicit ord: Ordering[T]): FileStats.ColZone = {
      val nn = vs.filter(_ != null).asInstanceOf[Seq[T]]
      if (nn.isEmpty) FileStats.ColZone(None, None, vs.size.toLong)
      else FileStats.ColZone(Some(nn.min), Some(nn.max),
        (vs.size - nn.size).toLong)
    }
    implicit val utf8Ord: Ordering[String] = (a: String, b: String) =>
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .binaryCompare(org.apache.spark.unsafe.types.UTF8String.fromString(b))
    val zones: Map[Long, FileStats.DirStats] =
      rows.groupBy(_._1).map { case (g, rs) =>
        g -> FileStats.DirStats(rs.size.toLong, Map(
          "i" -> zoneOf[Long](rs.map(_._2)),
          "d" -> zoneOf[Double](rs.map(_._3)),
          "s" -> zoneOf[String](rs.map(_._4))))
      }
    def randLitValue(colName: String): Any = colName match {
      case "i" => rnd.nextInt(260) - 130 // sometimes outside the domain
      case "d" => math.round(rnd.nextGaussian() * 60).toDouble / 2
      case _ => ("" + ('a' + rnd.nextInt(5)).toChar) *
        (1 + rnd.nextInt(2)) + rnd.nextInt(40)
    }
    def randLit(colName: String): Column = lit(randLitValue(colName))
    def randLeaf(): Column = {
      val c = Seq("i", "d", "s")(rnd.nextInt(3))
      rnd.nextInt(8) match {
        case 0 => col(c) === randLit(c)
        case 1 => col(c) < randLit(c)
        case 2 => col(c) >= randLit(c)
        case 3 => col(c).isin(Seq.fill(1 + rnd.nextInt(3))(randLitValue(c)): _*)
        case 4 => col(c).isNull
        case 5 => col(c).isNotNull
        case 6 => !(col(c) === randLit(c))
        case _ if c == "s" => col(c).startsWith(("" + ('a' + rnd.nextInt(5)).toChar))
        case _ => col(c) > randLit(c)
      }
    }
    def randPred(depth: Int): Column =
      if (depth == 0 || rnd.nextInt(3) == 0) randLeaf()
      else if (rnd.nextBoolean()) randPred(depth - 1) && randPred(depth - 1)
      else randPred(depth - 1) || randPred(depth - 1)
    var refuted = 0L
    (1 to 80).foreach { it =>
      val cond = randPred(2)
      val filtered = df.filter(cond)
      val resolved = filtered.queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }.get
      val matched = filtered.groupBy("grp").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      zones.foreach { case (g, z) =>
        val keep = FileStats.mightMatch(z, resolved)
        if (matched.getOrElse(g, 0L) > 0L)
          assert(keep,
            s"iteration $it: zone refuted group $g which holds " +
              s"${matched(g)} matching rows; predicate: ${resolved.sql}; " +
              s"zone: $z")
        else if (!keep) refuted += 1
      }
    }
    // power check: the run must have exercised the refute path, or the
    // soundness property above was vacuous
    assert(refuted > 10L, s"evaluator refuted only $refuted times over 400 " +
      "group checks — the fuzz stopped exercising pruning")
  }

  test("avro tables collect WRITE-TIME zone stats from the data: dir " +
      "pruning, exact metadata count, typed min/max (r15)") {
    def batch(lo: Long, hi: Long) = spark.range(lo, hi + 1)
      .selectExpr("id", "concat('n', id) AS name",
        "CAST(id AS DOUBLE) / 10 AS score",
        "DATE_ADD(DATE'2020-01-01', CAST(id % 365 AS INT)) AS d",
        "TIMESTAMP'2024-05-06 07:08:09' + make_interval(0,0,0,0,0,0,id) AS ts")
    gc.createTable("db", "zav", batch(0, 0).schema,
      options = Map("file.format" -> "avro"))
    gc.append("db", "zav", batch(1, 100).toDF())
    gc.append("db", "zav", batch(101, 200).toDF())
    gc.append("db", "zav", batch(201, 300).toDF())
    // per-dir zones present with exact rows and typed domains
    val stats = gc.dirStats("db", "zav")
    assert(stats.keySet === Set("snap-1", "snap-2", "snap-3"))
    val s2 = stats("snap-2")
    assert(s2.rows === 100L)
    assert(s2.cols("id").min.contains(101L) && s2.cols("id").max.contains(200L))
    assert(s2.cols("score").min.contains(10.1) && s2.cols("score").max.contains(20.0))
    assert(s2.cols("name").min.contains("n101"))
    assert(s2.cols.contains("d") && s2.cols.contains("ts"))
    // metadata-only exact count — no scan
    assert(gc.countRows("db", "zav") === Some(300L))
    // dir pruning: an id range inside snap-2/3 never opens snap-1
    val pruned = gc.readWhere("db", "zav", col("id").between(150, 250))
    assert(!scannedDirs(pruned).contains("snap-1"), scannedDirs(pruned).toString)
    assert(pruned.count() === 101)
    // date/timestamp predicates prune with the epoch-domain zones
    val dp = gc.readWhere("db", "zav", col("d") < lit("2020-04-11").cast("date"))
    assert(pruned.columns.nonEmpty && dp.count() ===
      gc.read("db", "zav").filter(col("d") < lit("2020-04-11").cast("date")).count())
    // parity: pruned read equals unpruned read under the same predicate
    val full = gc.read("db", "zav").filter(col("id").between(150, 250))
    assert(pruned.exceptAll(full).count() === 0 && full.exceptAll(pruned).count() === 0)
  }

  test("avro write-time zones key files correctly under URL-encoding " +
      "partition values (space, colon) — no bogus rels, reads stay exact") {
    // `_metadata.file_path` is Spark's URL-ENCODED rendering: a partition
    // value with a space renders as %20 and a Hive-escaped ':' (%3A on
    // disk) as %253A — prefix-stripping the DECODED dir off it would key
    // the per-file zones by bogus rels (and fillers would double the map)
    def batch(lo: Long, hi: Long) = spark.range(lo, hi + 1)
      .selectExpr("id",
        "IF(id % 2 = 0, '2020-01-01 00:00:00', '2020-01-02 11:30:00') AS p")
    gc.createTable("db", "zavenc", batch(0, 0).schema,
      options = Map("file.format" -> "avro"), partitionBy = Seq("p"))
    gc.append("db", "zavenc", batch(1, 100).toDF())
    // every per-file zone rel resolves to a real file under its dir
    // (java.nio comparison: no URI decode/encode in the way)
    val pf = gc.fileStats("db", "zavenc")
    assert(pf.nonEmpty && pf.values.forall(_.nonEmpty), pf.toString)
    pf.foreach { case (dir, files) =>
      val root = java.nio.file.Paths.get(warehouse, "db", "zavenc", dir)
      val onDisk = {
        import scala.jdk.CollectionConverters._
        val s = java.nio.file.Files.walk(root)
        try s.iterator().asScala.filter(_.toString.endsWith(".avro"))
          .map(p => root.relativize(p).toString).toSet
        finally s.close()
      }
      assert(files.keySet.subsetOf(onDisk),
        s"per-file zones keyed by bogus rels: ${files.keySet -- onDisk}")
      assert(files.values.map(_.rows).sum > 0, s"$dir zones carry no rows")
    }
    // dir rows are exact (no spurious filler double-count) and reads work
    assert(gc.dirStats("db", "zavenc")("snap-1").rows === 100L)
    assert(gc.countRows("db", "zavenc") === Some(100L))
    val pruned = gc.readWhere("db", "zavenc", col("id") <= 40)
    assert(pruned.count() === 40L)
    assert(gc.read("db", "zavenc")
      .filter(col("p") === "2020-01-02 11:30:00").count() === 50L)
  }
}
