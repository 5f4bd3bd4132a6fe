package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.sources.GraftCatalog

/**
 * Bloom-filter file index (`file-index.bloom-filter.columns`): commit-time
 * per-file bitsets, planning-time membership pruning for equality / IN
 * predicates that zone maps can't answer (unclustered columns).
 *
 * The fixture makes zones USELESS on purpose: each commit's ids are
 * interleaved mod 3, so every dir's id zone spans nearly the full range
 * and only the bloom can drop files.
 */
class BloomIndexSpec extends SparkSpecBase {

  private lazy val warehouse = Files.createTempDirectory("graft-blwh").toString
  private lazy val gc: GraftCatalog = new GraftCatalog(spark, warehouse)
  private val N = 3000L

  private def batch(mod: Long) = spark.range(0, N)
    .filter(col("id") % 3 === mod)
    .selectExpr("id", "concat('n', id) AS name", "id * 2 AS val")
    .repartition(4) // 4 files per dir -> 12 files total

  override def beforeAll(): Unit = {
    super.beforeAll()
    gc.createSchema("db")
    gc.createTable("db", "bl", batch(0).schema,
      options = Map("file-index.bloom-filter.columns" -> "id,name",
        "deletion-vectors" -> "true"))
    (0L to 2L).foreach(m => gc.append("db", "bl", batch(m).toDF()))
  }

  private def fullRead = gc.read("db", "bl")

  test("createTable validates the bloom option") {
    val sch = batch(0).schema
    intercept[IllegalArgumentException] {
      gc.createTable("db", "bad1", sch,
        options = Map("file-index.bloom-filter.columns" -> "nope"))
    }
    intercept[IllegalArgumentException] { // partition col: path zones already prune
      gc.createTable("db", "bad2", sch,
        options = Map("file-index.bloom-filter.columns" -> "val"),
        partitionBy = Seq("val"))
    }
    intercept[IllegalArgumentException] { // PK tables bucket-prune instead
      gc.createTable("db", "bad3", sch,
        options = Map("file-index.bloom-filter.columns" -> "id"),
        primaryKey = Seq("id"))
    }
  }

  test("every data commit writes per-file sidecars and a manifest pointer") {
    val info = gc.bloomIndexInfo("db", "bl")
    assert(info.keySet === Set("snap-1", "snap-2", "snap-3"))
    info.foreach { case (dir, (token, cols)) =>
      assert(token.nonEmpty)
      assert(cols === Set("id", "name"))
      val idxDir = new java.io.File(s"$warehouse/db/bl/$dir/.bloomidx")
      assert(idxDir.isDirectory, s"$dir missing sidecar dir")
      val parts = new java.io.File(s"$warehouse/db/bl/$dir").listFiles()
        .count(f => f.isFile && f.getName.endsWith(".parquet"))
      val sidecars = idxDir.listFiles().count(_.getName.endsWith(".json"))
      assert(sidecars === parts, s"$dir: want one sidecar per data file")
    }
    // Executor-write design: the build job never materializes a bitset on
    // the driver (the analog of FileStats.driverFooterReads).
    assert(graft.sources.BloomIndex.driverBitsetBytes.get() === 0L,
      "bloom build collected bitset bytes to the driver")
  }

  test("planning opens only zone-admitted files' sidecars (lazy load)") {
    // Range-clustered commits so per-file zones admit ONE file for a
    // point lookup — the other 11 files' sidecars must never be opened.
    val wh4 = Files.createTempDirectory("graft-blwh4").toString
    val g4 = new GraftCatalog(spark, wh4)
    g4.createSchema("db")
    val sch = batch(0).schema
    g4.createTable("db", "z", sch,
      options = Map("file-index.bloom-filter.columns" -> "id"))
    (0L to 2L).foreach { m =>
      g4.append("db", "z", spark.range(m * 1000, (m + 1) * 1000)
        .selectExpr("id", "concat('n', id) AS name", "id * 2 AS val")
        .repartitionByRange(4, col("id")).sortWithinPartitions("id").toDF())
    }
    val before = graft.sources.BloomIndex.sidecarLoads.get()
    val q = g4.readWhere("db", "z", col("id") === 1500L)
    assert(q.select("id").collect().map(_.getLong(0)).toSeq === Seq(1500L))
    val loads = graft.sources.BloomIndex.sidecarLoads.get() - before
    assert(loads <= 2,
      s"expected <=2 sidecar opens for a zone-admitted point lookup over " +
        s"12 files, got $loads")
  }

  test("equality lookup plans O(1) files, not the table") {
    val total = fullRead.inputFiles.length
    assert(total === 12)
    val q = gc.readWhere("db", "bl", col("id") === 1234L)
    // the id lives in exactly one file; bloom FPP could admit a couple
    // more, never most of the table
    assert(q.inputFiles.length <= 3,
      s"expected bloom to prune to <=3 of $total files, planned ${q.inputFiles.length}")
    assert(q.collect().map(_.getLong(0)).toSeq === Seq(1234L))
  }

  test("string-column lookup prunes and matches") {
    val q = gc.readWhere("db", "bl", col("name") === "n777")
    assert(q.inputFiles.length <= 3)
    assert(q.select("id").collect().map(_.getLong(0)).toSeq === Seq(777L))
  }

  test("IN list keeps exactly the files of its members") {
    val q = gc.readWhere("db", "bl", col("id").isin(3L, 1000L, 2999L))
    assert(q.inputFiles.length <= 6) // 3 files + FPP slack
    assert(q.select("id").collect().map(_.getLong(0)).sorted
      === Array(3L, 1000L, 2999L))
  }

  test("no false negatives: sampled lookups match the unpruned read") {
    (0L until N by 131L).foreach { id =>
      val got = gc.readWhere("db", "bl", col("id") === id)
        .select("id", "name", "val").collect()
      val want = fullRead.filter(col("id") === id)
        .select("id", "name", "val").collect()
      assert(got.toSeq === want.toSeq, s"id=$id")
    }
  }

  test("absent value proves empty: zero files planned") {
    val q = gc.readWhere("db", "bl", col("id") === 999999L)
    assert(q.inputFiles.isEmpty)
    assert(q.count() === 0L)
  }

  test("non-membership predicates pass through to zones untouched") {
    val q = gc.readWhere("db", "bl", col("id") > 100L && col("id") < 200L)
    val want = fullRead.filter(col("id") > 100L && col("id") < 200L)
    assert(q.select("id").collect().map(_.getLong(0)).sorted
      === want.select("id").collect().map(_.getLong(0)).sorted)
  }

  test("conjunction of bloom and zone constraints composes") {
    // equality on an indexed col AND a range on an unindexed one
    val q = gc.readWhere("db", "bl", col("id") === 1234L && col("val") >= 0L)
    assert(q.inputFiles.length <= 3)
    assert(q.select("val").collect().map(_.getLong(0)).toSeq === Seq(2468L))
  }

  test("deletion vectors compose: deleted id stays deleted under bloom pruning") {
    gc.deleteWhere("db", "bl", col("id") === 1234L)
    val q = gc.readWhere("db", "bl", col("id") === 1234L)
    assert(q.count() === 0L)
    val q2 = gc.readWhere("db", "bl", col("id") === 1235L)
    assert(q2.select("id").collect().map(_.getLong(0)).toSeq === Seq(1235L))
  }

  test("compaction rebuilds the index for the rewritten dir") {
    val wh2 = Files.createTempDirectory("graft-blwh2").toString
    val g2 = new GraftCatalog(spark, wh2)
    g2.createSchema("db")
    g2.createTable("db", "c", batch(0).schema,
      options = Map("file-index.bloom-filter.columns" -> "id"))
    (0L to 2L).foreach(m => g2.append("db", "c", batch(m).toDF()))
    g2.compact("db", "c")
    val live = g2.read("db", "c")
    assert(live.count() === N)
    // the rewritten dir (snap-4) is indexed; lookups stay correct and
    // never plan MORE than the live file set
    assert(g2.bloomIndexInfo("db", "c").contains("snap-4"))
    val q = g2.readWhere("db", "c", col("id") === 42L)
    assert(q.inputFiles.length <= live.inputFiles.length)
    assert(q.select("id").collect().map(_.getLong(0)).toSeq === Seq(42L))
  }

  test("SQL scans bloom-prune equality lookups (GraftZonePrune)") {
    spark.conf.set("spark.sql.catalog.gbl", "graft.sources.GraftSparkCatalog")
    spark.conf.set("spark.sql.catalog.gbl.warehouse", warehouse)
    gc.createTable("db", "sq", batch(0).schema,
      options = Map("file-index.bloom-filter.columns" -> "id"))
    (0L to 2L).foreach(m => gc.append("db", "sq", batch(m).toDF()))
    val df = spark.sql("SELECT id, name FROM gbl.db.sq WHERE id = 777")
    val roots = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan match {
          case fsc: org.apache.spark.sql.execution.datasources.v2.FileScan =>
            fsc.fileIndex.rootPaths.map(_.toString)
          case rs: graft.plans.GraftRuntimeScan =>
            rs.currentDelegate.fileIndex.rootPaths.map(_.toString)
          case _ => Seq.empty
        }
    }.flatten
    assert(roots.nonEmpty && roots.size <= 3,
      s"expected <=3 bloom-kept file roots out of 12 files, planned $roots")
    assert(df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      === Seq((777L, "n777")))
  }

  test("rollback drops orphaned pointers; a reused ordinal gets a fresh token") {
    val wh3 = Files.createTempDirectory("graft-blwh3").toString
    val g3 = new GraftCatalog(spark, wh3)
    g3.createSchema("db")
    g3.createTable("db", "r", batch(0).schema,
      options = Map("file-index.bloom-filter.columns" -> "id"))
    g3.append("db", "r", batch(0).toDF())
    g3.append("db", "r", batch(1).toDF())
    val tokenBefore = g3.bloomIndexInfo("db", "r")("snap-2")._1
    g3.rollbackTo("db", "r", 1L)
    assert(!g3.bloomIndexInfo("db", "r").contains("snap-2"))
    g3.append("db", "r", batch(2).toDF()) // reuses ordinal 2
    val tokenAfter = g3.bloomIndexInfo("db", "r")("snap-2")._1
    assert(tokenAfter !== tokenBefore)
    val q = g3.readWhere("db", "r", col("id") === 2L) // mod-2 batch has id 2
    assert(q.select("id").collect().map(_.getLong(0)).toSeq === Seq(2L))
  }

  test("many-file probe overlaps sidecar opens; results match sequential") {
    // One commit, 48 hash-interleaved files: every file's id zone spans
    // ~the full range, so the bloom pass must probe ALL sidecars — the
    // batch path loads them through the bounded pool instead of serially.
    val wh5 = Files.createTempDirectory("graft-blwh5").toString
    val g5 = new GraftCatalog(spark, wh5)
    g5.createSchema("db")
    g5.createTable("db", "p", batch(0).schema,
      options = Map("file-index.bloom-filter.columns" -> "id"))
    g5.append("db", "p", spark.range(0, N)
      .selectExpr("id", "concat('n', id) AS name", "id * 2 AS val")
      .repartition(48).toDF())
    graft.sources.BloomIndex.peakConcurrentLoads.set(0)
    val q = g5.readWhere("db", "p", col("id") === 1500L)
    assert(q.select("id").collect().map(_.getLong(0)).toSeq === Seq(1500L))
    assert(q.inputFiles.length <= 4,
      s"bloom should prune 48 files to <=4, planned ${q.inputFiles.length}")
    assert(graft.sources.BloomIndex.peakConcurrentLoads.get() > 1,
      "expected the 48-file bloom probe to overlap sidecar opens " +
        s"(peak=${graft.sources.BloomIndex.peakConcurrentLoads.get()})")
  }

  test("bloom indexes are format-independent (r16): ORC and AVRO tables " +
      "build per-file sidecars and point lookups prune files") {
    for ((fmt, t) <- Seq("orc" -> "blorc", "avro" -> "blavro")) {
      gc.createTable("db", t, batch(0).schema,
        options = Map("file-index.bloom-filter.columns" -> "id,name",
          "file.format" -> fmt))
      (0L to 2L).foreach(m => gc.append("db", t, batch(m).toDF()))
      val total = gc.read("db", t).inputFiles.length
      assert(total === 12, s"$fmt: expected 12 files, got $total")
      val q = gc.readWhere("db", t, col("id") === 1234L)
      assert(q.inputFiles.length <= 3,
        s"$fmt: expected bloom to prune to <=3 of $total files, " +
          s"planned ${q.inputFiles.length}")
      assert(q.collect().map(_.getLong(0)).toSeq === Seq(1234L))
      // string column + absent value proves empty
      val qs = gc.readWhere("db", t, col("name") === "n777")
      assert(qs.inputFiles.length <= 3)
      assert(qs.select("id").collect().map(_.getLong(0)).toSeq === Seq(777L))
      assert(gc.readWhere("db", t, col("id") === N + 5).inputFiles.isEmpty,
        s"$fmt: absent value should prove empty")
    }
  }

  test("planning-work tripwire at high file count (r17): a point lookup's " +
      "metadata I/O is counter-bounded, a cached re-plan opens NOTHING") {
    import graft.sources.{BloomIndex, FileStats}
    // interleaved ids: every dir's id/name zones span the whole range, so
    // only the bloom can drop files — the 10^5-file design scenario the
    // counters must bound, scaled to 16 dirs × 8 files
    val dirs = 16; val filesPerDir = 8
    gc.createTable("db", "big", batch(0).schema,
      options = Map("file-index.bloom-filter.columns" -> "name"))
    (0 until dirs).foreach { d =>
      gc.append("db", "big", spark.range(0, 2000)
        .filter(col("id") % dirs === d)
        .selectExpr("id", "concat('n', id) AS name", "id * 2 AS val")
        .repartition(filesPerDir).toDF())
    }
    val total = gc.read("db", "big").inputFiles.length
    assert(total === dirs * filesPerDir)
    val z0 = GraftCatalog.zoneSidecarLoads.get()
    val b0 = BloomIndex.sidecarLoads.get()
    val f0 = FileStats.driverFooterReads.get()
    val q1 = gc.readWhere("db", "big", col("name") === "n777")
    assert(q1.count() === 1)
    // planning WORK bounds — the latency story at 10^5 files:
    //  - one zone sidecar open per DIR (never per file)
    //  - at most one bloom sidecar open per ZONE-ADMITTED file
    //  - zero driver-side footer opens, zero recursive listings (the
    //    zone sidecar doubles as each dir's file listing; the planned
    //    scan below gets explicit file subsets, nothing left to walk)
    assert(GraftCatalog.zoneSidecarLoads.get() - z0 <= dirs)
    assert(BloomIndex.sidecarLoads.get() - b0 <= total)
    assert(FileStats.driverFooterReads.get() === f0)
    // the executed scan reads only bloom-admitted files: the single true
    // positive plus bounded false positives — never the table
    assert(q1.inputFiles.length <= 1 + total / 16,
      s"planned ${q1.inputFiles.length} of $total files")
    // a second lookup with a different literal re-probes cached bitsets
    // (bloom loads are lazy, so it may touch files the first literal
    // never reached — but NEVER re-opens one): cumulative opens stay
    // ≤ one per file, and zone sidecars are not re-read at all
    val z1 = GraftCatalog.zoneSidecarLoads.get()
    val q2 = gc.readWhere("db", "big", col("name") === "n1234")
    assert(q2.count() === 1)
    assert(GraftCatalog.zoneSidecarLoads.get() === z1,
      "re-plan re-opened zone sidecars")
    assert(BloomIndex.sidecarLoads.get() - b0 <= total,
      "a bloom sidecar was opened twice — the per-(token,file) cache leaks")
    assert(FileStats.driverFooterReads.get() === f0)
    assert(q2.inputFiles.length <= 1 + total / 16)
    // and a REPEAT of the same literal opens nothing anywhere
    val b2 = BloomIndex.sidecarLoads.get()
    assert(gc.readWhere("db", "big", col("name") === "n1234").count() === 1)
    assert(BloomIndex.sidecarLoads.get() === b2, "repeat lookup re-opened bitsets")
    assert(GraftCatalog.zoneSidecarLoads.get() === z1)
  }

  test("a bloom build reads the indexed fields as its schema: one job on " +
      "every format, no schema-inference job") {
    import graft.sources.BloomIndex
    import org.apache.hadoop.fs.Path
    val rows = spark.range(0, N).selectExpr("id", "concat('n', id) AS name",
      "CAST(id % 100 AS SHORT) AS s", "date_add(DATE'2024-01-01', CAST(id % 50 AS INT)) AS d",
      "id * 2 AS val").repartition(4)
    val cols = Set("id", "name", "s", "d")
    for ((fmt, provider) <- Seq("parquet" -> "parquet", "orc" -> "orc",
        "avro" -> "org.apache.spark.sql.avro.AvroFileFormat")) {
      val dir = new Path(Files.createTempDirectory(s"graft-blbuild-$fmt").toString, "d")
      rows.write.format(provider).save(dir.toString)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val files = fs.listStatus(dir).map(_.getPath.getName).filter(_.endsWith(s".$fmt"))
      assert(files.length === 4)
      var built: Option[Seq[String]] = None
      val jobs = jobsDuring {
        built = BloomIndex.build(spark, fs, dir, rows.schema, cols,
          files.map(_ -> N / 4).toMap, provider = provider)
      }
      assert(built === Some(Seq("id", "name", "s", "d")), fmt)
      assert(jobs === 1, fmt)
      // every row's values are members of its file's bitsets (in the
      // canonical domain: integral and date values as longs)
      val f = files.head
      val fb = BloomIndex.loadFile(fs, dir, s"spec-$fmt", f).get
      val sample = spark.read.format(provider).load(new Path(dir, f).toString)
        .selectExpr("id", "name", "CAST(s AS BIGINT)", "CAST(unix_date(d) AS BIGINT)")
        .limit(20).collect()
      assert(sample.nonEmpty)
      sample.foreach { r =>
        Seq("id", "name", "s", "d").zipWithIndex.foreach { case (c, i) =>
          val (bits, words) = fb.cols(c)
          assert(BloomIndex.mightContain(words, bits, r.get(i)),
            s"$fmt: $c=${r.get(i)} missing from $f")
        }
      }
    }
  }

  test("a corrupt zone or bloom sidecar leaves the answer unchanged and " +
      "logs one warning naming the file") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val wh = Files.createTempDirectory("graft-blbad").toString
    val g = new GraftCatalog(spark, wh)
    g.createSchema("db")
    g.createTable("db", "c", batch(0).schema,
      options = Map("file-index.bloom-filter.columns" -> "id"))
    g.append("db", "c", batch(0).toDF()) // snap-1
    g.append("db", "c", batch(1).toDF()) // snap-2
    // one dir's zone sidecar, and the bloom sidecar of the snap-2 file
    // holding id 4, turn to garbage before any lookup reads them
    val holder = new org.apache.hadoop.fs.Path(g.read("db", "c").filter(col("id") === 4L)
      .select(input_file_name()).head().getString(0)).getName
    val zones = new java.io.File(s"$wh/db/c/snap-1/${GraftCatalog.ZoneSidecar}")
    val bloom = new java.io.File(
      s"$wh/db/c/snap-2/${graft.sources.BloomIndex.DirName}/$holder.json")
    assert(zones.isFile && bloom.isFile)
    Seq(zones, bloom).foreach(f => Files.write(f.toPath, "{not json".getBytes))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("sidecar-capture", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN) seen.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val logger = LogManager.getLogger("graft.sources.SidecarCache").asInstanceOf[Logger]
    val level = logger.getLevel
    logger.addAppender(app)
    logger.setLevel(Level.WARN)
    try {
      // the lookup's bloom pass opens the sidecar of every snap-2 file its
      // zones admit, the holder's among them; snap-1's zones cannot be read
      (1 to 2).foreach { _ =>
        assert(g.readWhere("db", "c", col("id") === 4L)
          .select("id").collect().map(_.getLong(0)).toSeq === Seq(4L))
        assert(g.readWhere("db", "c", col("id") < 10L).count() ===
          g.read("db", "c").filter(col("id") < 10L).count())
      }
      def warned(f: java.io.File) = seen.toArray.count(m =>
        m.toString.contains(f.getName) && m.toString.contains(f.getParentFile.getName))
      assert(warned(zones) === 1, seen)
      assert(warned(bloom) === 1, seen)
      assert(seen.size === 2, seen)
    } finally {
      logger.removeAppender(app)
      logger.setLevel(level)
      app.stop()
    }
  }
}
