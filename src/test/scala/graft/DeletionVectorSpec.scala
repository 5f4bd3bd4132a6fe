package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.sources.GraftCatalog

/**
 * Deletion vectors on append-only tables (Paimon's
 * `deletion-vectors.enabled`, scoped here to append-only tables):
 * row-level DELETE as per-file position indexes — data files are never
 * rewritten, reads split clean files (pure vectorized scan) from dirty
 * files (position anti-join) via the manifest dvIndex, compaction
 * materializes and retires the DVs, and metadata-only counting stays
 * exact by subtraction.
 */
class DeletionVectorSpec extends SparkSpecBase {

  private lazy val warehouse = Files.createTempDirectory("graft-dvwh").toString
  private lazy val gc: GraftCatalog = new GraftCatalog(spark, warehouse)

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.gdv", "graft.sources.GraftSparkCatalog")
    spark.conf.set("spark.sql.catalog.gdv.warehouse", warehouse)
    gc.createSchema("db")
  }

  private def batch(lo: Long, hi: Long) = spark.range(lo, hi + 1)
    .selectExpr("id", "concat('n', id) AS name", "CAST(id % 7 AS INT) AS grp")

  private def newTable(name: String,
      options: Map[String, String] = Map("deletion-vectors" -> "true"),
      partitionBy: Seq[String] = Seq.empty): Unit =
    gc.createTable("db", name, batch(0, 0).schema,
      options = options, partitionBy = partitionBy)

  test("deleteWhere on a DV table removes rows without rewriting data files") {
    newTable("t1")
    gc.append("db", "t1", batch(1, 100).toDF())
    gc.append("db", "t1", batch(101, 200).toDF())
    val filesBefore = gc.read("db", "t1").inputFiles.toSet
    val snap = gc.deleteWhere("db", "t1", col("id") % 10 === 0)
    assert(snap === 3)
    val after = gc.read("db", "t1")
    assert(after.count() === 180)
    assert(after.filter(col("id") % 10 === 0).count() === 0)
    // every pre-delete data file is still on disk, byte-identical member
    // of the new snapshot's scan (clean or dirty leg) — nothing rewritten
    val filesAfter = after.inputFiles.toSet
    assert(filesBefore.subsetOf(filesAfter),
      s"missing: ${filesBefore -- filesAfter}")
    // the only additions are the DV dir's own files
    assert((filesAfter -- filesBefore).forall(_.contains("snap-3")))
    // manifest: dv entry + index recorded
    val entries = gc.snapshotFileEntries("db", "t1")
    assert(entries.map(_.kind).sorted === Seq("data", "data", "dv"))
  }

  test("second delete composes and time travel sees each image") {
    gc.deleteWhere("db", "t1", col("id") <= 20) // deletes 18 live rows (2 already gone)
    val now = gc.read("db", "t1")
    assert(now.count() === 162)
    assert(now.agg(min("id")).head.getLong(0) === 21L)
    // pre-delete images intact
    assert(gc.read("db", "t1", snapshotId = Some(2)).count() === 200)
    assert(gc.read("db", "t1", snapshotId = Some(3)).count() === 180)
  }

  test("countRows stays metadata-only and exact under DVs") {
    assert(gc.countRows("db", "t1") === Some(162L))
  }

  test("readWhere zone-prunes dirs and still applies DVs") {
    val pruned = gc.readWhere("db", "t1", col("id") >= 101)
    // snap-1 (ids 1..100) provably out
    val dirs = pruned.inputFiles.map(f =>
      f.split("/").reverse.dropWhile(!_.startsWith("snap-")).head).toSet
    assert(!dirs.contains("snap-1"), s"scanned $dirs")
    assert(pruned.count() === 90) // 101..200 minus 110,120,...,200
    assert(pruned.filter(col("id") % 10 === 0).count() === 0)
  }

  test("compaction materializes deletions and retires the DVs") {
    val id = gc.compact("db", "t1")
    val entries = gc.snapshotFileEntries("db", "t1")
    assert(entries.map(_.kind) === Seq("data"))
    assert(gc.read("db", "t1").count() === 162)
    assert(gc.countRows("db", "t1") === Some(162L))
    // pre-compaction DV snapshot still time-travelable
    assert(gc.read("db", "t1", snapshotId = Some(id - 1)).count() === 162)
    assert(gc.read("db", "t1", snapshotId = Some(2)).count() === 200)
  }

  test("delete matching nothing commits no snapshot") {
    val before = gc.snapshots("db", "t1").map(_.id).max
    val ret = gc.deleteWhere("db", "t1", col("id") > 1000000)
    assert(ret === before)
    assert(gc.snapshots("db", "t1").map(_.id).max === before)
  }

  test("DVs work on partitioned tables") {
    newTable("tp", partitionBy = Seq("grp"))
    gc.append("db", "tp", batch(1, 70).toDF())
    gc.deleteWhere("db", "tp", col("grp") === 3 && col("id") < 35)
    val after = gc.read("db", "tp")
    // grp 3 holds ids 3,10,17,24,31,38,...; five of them are < 35
    assert(after.count() === 65)
    assert(after.filter(col("grp") === 3 && col("id") < 35).count() === 0)
    assert(after.filter(col("grp") === 3).count() === 5)
    assert(gc.countRows("db", "tp") === Some(65L))
  }

  test("SQL DELETE FROM routes through deletion vectors") {
    spark.sql("CREATE TABLE gdv.db.ts (id BIGINT, name STRING) " +
      "TBLPROPERTIES ('deletion-vectors'='true')")
    spark.sql("INSERT INTO gdv.db.ts SELECT id, concat('n', id) FROM range(1, 101)")
    spark.sql("DELETE FROM gdv.db.ts WHERE id <= 30")
    assert(spark.sql("SELECT count(*) c FROM gdv.db.ts").head.getLong(0) === 70L)
    assert(spark.sql("SELECT min(id) m FROM gdv.db.ts").head.getLong(0) === 31L)
    // files not rewritten: the data dir of snapshot 1 is still live
    assert(gc.snapshotFileEntries("db", "ts").map(_.kind).sorted ===
      Seq("data", "dv"))
  }

  test("refusals: incremental, file streaming; changelog serves DV commits") {
    // incremental across a DV commit stays refused (additive-only contract)
    val e1 = intercept[IllegalArgumentException](
      gc.readIncremental("db", "t1", 2, 3).collect())
    assert(e1.getMessage.contains("deletion-vector"))
    // changelog across the DV commit: full-image -D retractions (snap-3
    // deleted every id % 10 == 0 among 1..200)
    val cl = gc.readChangelog("db", "t1", 2, 3).collect()
    assert(cl.forall(_.getString(3) == "-D"))
    assert(cl.map(_.getLong(0)).sorted.toSeq === (10L to 200L by 10L))
    assert(cl.find(_.getLong(0) == 50L).get.getString(1) === "n50")
    // file-level streaming refused while the option is on
    val e3 = intercept[IllegalArgumentException](gc.readStream("db", "t1"))
    assert(e3.getMessage.contains("deletion-vectors"))
    // snapshot-level changelog streaming now serves DV tables
    assert(gc.readChangelogStream("db", "t1").isStreaming)
    // option validation: sequence.field COMPOSES with PK DVs since r15
    // (see the dedicated sequence test); reserved names still refuse
    gc.createTable("db", "dvseq_ok", batch(0, 0).schema,
      options = Map("deletion-vectors" -> "true",
        "sequence.field" -> "grp"), primaryKey = Seq("id"))
    val e6 = intercept[IllegalArgumentException](
      gc.createTable("db", "bad2",
        spark.range(1).selectExpr("id", "'x' AS __file").schema,
        options = Map("deletion-vectors" -> "true")))
    assert(e6.getMessage.contains("reserved"))
    // incremental BEFORE the DV commit still works
    assert(gc.readIncremental("db", "t1", 1, 2).count() === 100)
  }

  test("expiration drops DV dirs and their index entries") {
    newTable("te")
    gc.append("db", "te", batch(1, 50).toDF())
    gc.deleteWhere("db", "te", col("id") <= 10)
    gc.compact("db", "te")
    gc.expireSnapshots("db", "te", keepLast = 1)
    assert(gc.read("db", "te").count() === 40)
    // the DV dir is orphaned and deleted from disk
    val tableDir = new java.io.File(s"$warehouse/db/te")
    val dirs = tableDir.listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dirs === Set("snap-3"))
    assert(gc.countRows("db", "te") === Some(40L))
  }

  test("update on an append-only DV table: atomic retract + replace") {
    newTable("tu")
    gc.append("db", "tu", batch(1, 100).toDF())
    gc.append("db", "tu", batch(101, 200).toDF())
    val filesBefore = gc.read("db", "tu").inputFiles.toSet
    val snap = gc.update("db", "tu", col("id") % 10 === 0,
      Map("name" -> concat(lit("upd-"), col("id")),
        "grp" -> (col("grp") + 100)))
    assert(snap === 3)
    val after = gc.read("db", "tu")
    assert(after.count() === 200) // replaced, not removed
    val updated = after.filter(col("id") % 10 === 0)
    assert(updated.count() === 20)
    assert(updated.filter(col("name").startsWith("upd-")).count() === 20)
    assert(updated.filter(col("grp") >= 100).count() === 20)
    assert(after.filter(col("id") % 10 =!= 0)
      .filter(col("name").startsWith("upd-")).count() === 0)
    // no data file rewritten; the pair landed under ONE ordinal
    assert(filesBefore.subsetOf(after.inputFiles.toSet))
    val entries = gc.snapshotFileEntries("db", "tu")
    assert(entries.map(_.kind).sorted === Seq("data", "data", "data", "dv"))
    assert(entries.exists(_.dir == "snap-3") &&
      entries.exists(_.dir == "snap-3-dv"))
    // metadata-only count still exact; time travel sees the old image
    assert(gc.countRows("db", "tu") === Some(200L))
    assert(gc.read("db", "tu", snapshotId = Some(2))
      .filter(col("name").startsWith("upd-")).count() === 0)
    // second update composes over the DV-applied image (no double delete)
    gc.update("db", "tu", col("id") === 10L, Map("grp" -> lit(7)))
    val again = gc.read("db", "tu").filter(col("id") === 10L).collect()
    assert(again.length === 1 && again.head.getInt(2) === 7)
    assert(gc.countRows("db", "tu") === Some(200L))
  }

  test("DV update changelog emits -D old image / +I new image") {
    newTable("tuc")
    gc.append("db", "tuc", batch(1, 20).toDF())
    val before = gc.snapshots("db", "tuc").last.id
    gc.update("db", "tuc", col("id") === 5L, Map("name" -> lit("five")))
    val log = gc.readChangelog("db", "tuc", before,
        gc.snapshots("db", "tuc").last.id)
      .orderBy("_row_kind", "id").collect()
    assert(log.map(r => (r.getString(r.length - 1), r.getLong(0),
      r.getString(1))).toSeq
      === Seq(("+I", 5L, "five"), ("-D", 5L, "n5")))
  }

  test("SQL UPDATE routes through deletion vectors on append-only tables") {
    spark.sql("CREATE TABLE gdv.db.tsu (id BIGINT, name STRING, v INT) " +
      "TBLPROPERTIES ('deletion-vectors'='true')")
    spark.sql("INSERT INTO gdv.db.tsu " +
      "SELECT id, concat('n', id), CAST(id % 3 AS INT) FROM range(1, 51)")
    spark.sql("UPDATE gdv.db.tsu SET name = concat('u', id), v = v + 10 " +
      "WHERE id % 5 = 0")
    val r = spark.sql(
      "SELECT count(*) FROM gdv.db.tsu WHERE name LIKE 'u%' AND v >= 10")
    assert(r.head.getLong(0) === 10L)
    assert(spark.sql("SELECT count(*) FROM gdv.db.tsu").head.getLong(0) === 50L)
    // no file rewritten: pair landed as data + dv entries
    assert(gc.snapshotFileEntries("db", "tsu").map(_.kind).sorted ===
      Seq("data", "data", "dv"))
    // uncorrelated subquery conditions work (matches nothing here: no-op)
    spark.sql("UPDATE gdv.db.tsu SET v = -5 WHERE id IN " +
      "(SELECT id FROM gdv.db.tsu WHERE v > 100)")
    assert(spark.sql("SELECT count(*) FROM gdv.db.tsu WHERE v = -5")
      .head.getLong(0) === 0L)
    // ...and a matching one actually updates
    spark.sql("UPDATE gdv.db.tsu SET v = -1 WHERE id IN " +
      "(SELECT id FROM gdv.db.tsu WHERE id <= 3)")
    assert(spark.sql("SELECT count(*) FROM gdv.db.tsu WHERE v = -1")
      .head.getLong(0) === 3L)
    // correlated subqueries refuse with a clear message
    val e = intercept[Exception] {
      spark.sql("UPDATE gdv.db.tsu u SET v = 0 WHERE EXISTS " +
        "(SELECT 1 FROM gdv.db.tsu x WHERE x.id = u.id AND x.v > 100)")
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("CORRELATED")))
  }

  test("DV update works on partitioned tables") {
    newTable("tup", partitionBy = Seq("grp"))
    gc.append("db", "tup", batch(1, 70).toDF())
    gc.update("db", "tup", col("grp") === 3 && col("id") < 35,
      Map("name" -> lit("part-upd")))
    val after = gc.read("db", "tup")
    assert(after.count() === 70)
    // grp 3 holds ids 3,10,17,24,31,38,...; five are < 35
    assert(after.filter(col("name") === "part-upd").count() === 5)
    assert(after.filter(col("name") === "part-upd")
      .filter(col("grp") =!= 3).count() === 0)
    assert(gc.countRows("db", "tup") === Some(70L))
    // updated images landed under their grp= partition dirs
    val updFiles = after.filter(col("name") === "part-upd").inputFiles
    assert(updFiles.exists(_.contains("grp=3")))
  }

  test("SQL DELETE with uncorrelated subquery works on DV tables") {
    spark.sql("CREATE TABLE gdv.db.tdsq (id BIGINT, v INT) " +
      "TBLPROPERTIES ('deletion-vectors'='true')")
    spark.sql("INSERT INTO gdv.db.tdsq " +
      "SELECT id, CAST(id % 5 AS INT) FROM range(0, 50)")
    spark.sql("CREATE TABLE gdv.db.tdref (k BIGINT)")
    spark.sql("INSERT INTO gdv.db.tdref VALUES (3), (13), (23)")
    spark.sql("DELETE FROM gdv.db.tdsq WHERE id IN " +
      "(SELECT k FROM gdv.db.tdref)")
    assert(spark.sql("SELECT count(*) FROM gdv.db.tdsq").head.getLong(0) === 47L)
    assert(spark.sql(
      "SELECT count(*) FROM gdv.db.tdsq WHERE id IN (3, 13, 23)")
      .head.getLong(0) === 0L)
    // positions recorded, no file rewritten
    assert(gc.snapshotFileEntries("db", "tdsq").map(_.kind).sorted ===
      Seq("data", "dv"))
    // correlated subqueries refuse with the clear message
    val e = intercept[Exception] {
      spark.sql("DELETE FROM gdv.db.tdsq WHERE EXISTS " +
        "(SELECT 1 FROM gdv.db.tdref r WHERE r.k = tdsq.id)")
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("CORRELATED")))
  }

  test("DV update aborts when a concurrent writer moves the head") {
    newTable("tux")
    gc.append("db", "tux", batch(1, 30).toDF())
    val other = new GraftCatalog(spark, warehouse)
    var fired = false
    gc.basisTestHook = () => if (!fired) {
      fired = true
      other.append("db", "tux", batch(31, 40).toDF())
    }
    try {
      intercept[java.util.ConcurrentModificationException] {
        gc.update("db", "tux", col("id") === 3L, Map("grp" -> lit(0)))
      }
    } finally gc.basisTestHook = () => ()
    // nothing landed: table still consistent, re-run succeeds
    assert(gc.read("db", "tux").count() === 40)
    gc.update("db", "tux", col("id") === 3L, Map("grp" -> lit(0)))
    assert(gc.read("db", "tux").filter(col("id") === 3L)
      .head.getInt(2) === 0)
  }

  // ---- PK scope: deletion vectors built at compaction --------------------

  test("PK DV: build at compaction yields a merge-free read") {
    gc.createTable("db", "pk1", batch(0, 0).schema,
      options = Map("deletion-vectors" -> "true"), primaryKey = Seq("id"))
    gc.upsert("db", "pk1", batch(1, 100).toDF())                   // snap 1
    gc.upsert("db", "pk1", batch(1, 30).toDF()                     // snap 2
      .withColumn("name", concat(lit("u"), col("id"))))
    gc.deleteWhere("db", "pk1", col("id") > 90)                    // snap 3
    val dataFilesBefore = gc.snapshotFileEntries("db", "pk1")
      .filter(_.kind == "data").map(_.dir).toSet
    val built = gc.buildDeletionVectors("db", "pk1")               // snap 4
    assert(built === 4)
    // tombstone dir replaced by the DV dir; data dirs untouched
    val entries = gc.snapshotFileEntries("db", "pk1")
    assert(entries.map(_.kind).sorted === Seq("data", "data", "dv"))
    assert(entries.filter(_.kind == "data").map(_.dir).toSet === dataFilesBefore)
    val df = gc.read("db", "pk1")
    assert(df.count() === 90)
    assert(df.filter(col("id") <= 30 && col("name").startsWith("u")).count() === 30)
    assert(df.filter(col("id") > 90).count() === 0)
    assert(df.select("id").distinct().count() === 90) // one live version per key
    // merge-free: no keep-latest window anywhere in the plan
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    // the build is changelog-invisible (compaction-kind): range (2, 4]
    // carries only snap 3's deletes
    val cl = gc.readChangelog("db", "pk1", 2, 4).collect()
    assert(cl.forall(_.getString(3) == "-D"))
    assert(cl.map(_.getLong(0)).sorted.toSeq === (91L to 100L))
    // time travel: pre-build image identical to post-build image
    val pre = gc.read("db", "pk1", snapshotId = Some(3))
    assert(pre.count() === 90)
    assert(df.exceptAll(pre).count() === 0 && pre.exceptAll(df).count() === 0)
  }

  test("PK DV: post-build deltas resolve exactly; a second build re-covers") {
    gc.upsert("db", "pk1", batch(26, 40).toDF()                    // snap 5
      .withColumn("name", concat(lit("v"), col("id"))))
    gc.deleteWhere("db", "pk1", col("id") <= 10)                   // snap 6
    val df = gc.read("db", "pk1")
    assert(df.count() === 80)
    assert(df.filter(col("name").startsWith("v")).count() === 15)
    assert(df.filter(col("name").startsWith("u")).count() === 15) // 11..25
    assert(df.filter(col("id") <= 10).count() === 0)
    val built2 = gc.buildDeletionVectors("db", "pk1")              // snap 7
    assert(built2 === 7)
    val df2 = gc.read("db", "pk1")
    assert(df2.count() === 80)
    assert(!df2.queryExecution.executedPlan.toString.contains("Window"))
    assert(df2.exceptAll(df).count() === 0 && df.exceptAll(df2).count() === 0)
    // a build with nothing superseded and no tombstones is a no-op
    assert(gc.buildDeletionVectors("db", "pk1") === 7)
    // DV-covered PK snapshot: count(*) is metadata-exact by subtraction
    assert(gc.countRows("db", "pk1") === Some(80L))
    // a post-build delta breaks coverage — falls back (never wrong)
    gc.upsert("db", "pk1", batch(200, 205).toDF())                 // snap 8
    assert(gc.countRows("db", "pk1") === None)
    assert(gc.read("db", "pk1").count() === 86)
    // the covered snapshot stays metadata-countable under time travel
    assert(gc.countRows("db", "pk1", snapshotId = Some(7)) === Some(80L))
  }

  test("PK DV: bucketed tables read merge-free; bucket ops refuse while live") {
    gc.createTable("db", "pkb", batch(0, 0).schema,
      options = Map("deletion-vectors" -> "true", "bucket" -> "4"),
      primaryKey = Seq("id"))
    gc.upsert("db", "pkb", batch(1, 200).toDF())
    gc.upsert("db", "pkb", batch(50, 60).toDF()
      .withColumn("name", concat(lit("u"), col("id"))))
    gc.deleteWhere("db", "pkb", col("id") % 13 === 0)
    gc.buildDeletionVectors("db", "pkb")
    val df = gc.read("db", "pkb")
    assert(df.count() === 185)
    // ids 50..60 were renamed, then id 52 (a multiple of 13) deleted
    assert(df.filter(col("name").startsWith("u")).count() === 10)
    assert(df.filter(col("id") % 13 === 0).count() === 0)
    assert(!df.queryExecution.executedPlan.toString.contains("Window"))
    // bucket-granular reads COMPOSE with live DVs (r15): one bucket's
    // legs resolve through the restricted hybrid read — exact slice,
    // merge-free plan, and only that bucket's files scanned
    val b0 = gc.readBucket("db", "pkb", 0)
    assert(!b0.queryExecution.executedPlan.toString.contains("Window"))
    // partition pruning cuts the data scan to this bucket's legs
    // (inputFiles ignores partition filters — probe selectedPartitions)
    val dataScanned = b0.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.toPartitionArray.toSeq.map(_.toPath.toString)
    }.flatten.filter(_.contains("__bucket="))
    assert(dataScanned.nonEmpty && dataScanned.forall(_.contains("__bucket=0")),
      dataScanned.mkString("\n"))
    assert((0 until 4).map(gc.readBucket("db", "pkb", _).count()).sum === 185L)
    // post-build delta on a bucketed table resolves through the hybrid
    gc.upsert("db", "pkb", batch(1, 5).toDF()
      .withColumn("name", lit("w")))
    assert(gc.read("db", "pkb").filter(col("name") === "w").count() === 5)
    assert(gc.read("db", "pkb").count() === 185)
    // point-lookup slice stays exact ACROSS the post-build delta too
    assert((0 until 4).map(b => gc.readBucket("db", "pkb", b)
      .filter(col("name") === "w").count()).sum === 5L)
    // per-bucket compaction COMPOSES with live DVs (r15): it builds DVs
    // for the pending delta, folds the bucket's live rows into one leg,
    // and pairs the copied rows' old positions as a DV dir — the read
    // stays merge-free and exact, count stays metadata-only
    gc.compactBuckets("db", "pkb", Seq(0))
    val dfc = gc.read("db", "pkb")
    assert(dfc.count() === 185)
    assert(dfc.filter(col("name") === "w").count() === 5)
    assert(!dfc.queryExecution.executedPlan.toString.contains("Window"))
    assert(gc.countRows("db", "pkb") === Some(185L))
    // full compact retires the DVs and re-enables bucket ops
    gc.compact("db", "pkb")
    assert(gc.snapshotFileEntries("db", "pkb").map(_.kind) === Seq("data"))
    assert(gc.read("db", "pkb").count() === 185)
    assert(gc.readBucket("db", "pkb", 0).count() > 0)
  }

  test("PK DV: builds COMPOSE with per-bucket-compacted history — " +
      "retirement marks become positional, reads and counts stay exact") {
    // twin without bucket maintenance = the logical-history oracle
    def mk(t: String): Unit = gc.createTable("db", t, batch(0, 0).schema,
      options = Map("deletion-vectors" -> "true", "bucket" -> "4"),
      primaryKey = Seq("id"))
    mk("pkxb"); mk("pkxb_o")
    def hist(t: String): Unit = {
      gc.upsert("db", t, batch(1, 200).toDF())
      gc.upsert("db", t, batch(30, 90).toDF()
        .withColumn("name", concat(lit("u"), col("id"))))
      gc.deleteWhere("db", t, col("id") % 11 === 0)
    }
    hist("pkxb"); hist("pkxb_o")
    // hot-bucket fold BEFORE any DV build (no dv entries yet — allowed);
    // prior dirs now carry retired-bucket marks
    gc.compactBuckets("db", "pkxb", Seq(1, 2))
    assert(gc.snapshotFileEntries("db", "pkxb")
      .exists(_.excludeBuckets.nonEmpty))
    gc.upsert("db", "pkxb", batch(5, 15).toDF().withColumn("name", lit("w")))
    gc.upsert("db", "pkxb_o", batch(5, 15).toDF().withColumn("name", lit("w")))
    // the build now composes: retired rows are DV'd positionally
    gc.buildDeletionVectors("db", "pkxb")
    val rows = (df: org.apache.spark.sql.DataFrame) =>
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(gc.read("db", "pkxb")) === rows(gc.read("db", "pkxb_o")))
    // merge-free: the covered read plans no window
    val df = gc.read("db", "pkxb")
    assert(!df.queryExecution.executedPlan.toString.contains("Window"))
    // metadata-exact count despite the retirement marks
    assert(gc.countRows("db", "pkxb") ===
      Some(gc.read("db", "pkxb_o").count()))
    // time travel BELOW the build still resolves under the marks
    val pre = gc.read("db", "pkxb", snapshotId = Some(4)) // post-fold, pre-'w'
    assert(pre.filter(col("name") === "w").count() === 0)
    assert(pre.count() === gc.read("db", "pkxb_o", snapshotId = Some(3)).count())
    // post-build delta + incremental rebuild stays exact over the marks
    gc.upsert("db", "pkxb", batch(100, 120).toDF().withColumn("name", lit("z")))
    gc.upsert("db", "pkxb_o", batch(100, 120).toDF().withColumn("name", lit("z")))
    gc.buildDeletionVectors("db", "pkxb")
    assert(rows(gc.read("db", "pkxb")) === rows(gc.read("db", "pkxb_o")))
    assert(gc.countRows("db", "pkxb") ===
      Some(gc.read("db", "pkxb_o").count()))
    // fold ON live DV state (pending delta included): builds + folds +
    // pairs positions; read stays merge-free and exact, count exact
    gc.upsert("db", "pkxb", batch(150, 170).toDF().withColumn("name", lit("q")))
    gc.upsert("db", "pkxb_o", batch(150, 170).toDF().withColumn("name", lit("q")))
    gc.compactBuckets("db", "pkxb", Seq(2, 3))
    val post = gc.read("db", "pkxb")
    assert(rows(post) === rows(gc.read("db", "pkxb_o")))
    assert(!post.queryExecution.executedPlan.toString.contains("Window"))
    assert(gc.countRows("db", "pkxb") ===
      Some(gc.read("db", "pkxb_o").count()))
    // hot-bucket accounting sees the fold: retired dirs stop counting
    val runs = gc.bucketSortedRuns("db", "pkxb")
    assert(runs(2) === 1 && runs(3) === 1, runs.toString)
  }

  test("PK DV: readWhere zone-prunes DV-COVERED snapshots like append-only; " +
      "post-build deltas fall back to the exact resolve") {
    def dirsOf(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.inputFiles.map(_.split("/").reverse.dropWhile(!_.startsWith("snap-")).head).toSet
    // unbucketed: per-file machinery (clean/dirty split) under the prune
    gc.createTable("db", "pkzw", batch(0, 0).schema,
      options = Map("deletion-vectors" -> "true"), primaryKey = Seq("id"))
    gc.upsert("db", "pkzw", batch(1, 100).toDF())
    gc.upsert("db", "pkzw", batch(101, 200).toDF())
    gc.upsert("db", "pkzw", batch(201, 300).toDF())
    gc.deleteWhere("db", "pkzw", col("id") % 10 === 0)
    gc.buildDeletionVectors("db", "pkzw")
    val pruned = gc.readWhere("db", "pkzw", col("id").between(150, 250))
    assert(!dirsOf(pruned).contains("snap-1"), dirsOf(pruned).toString)
    val oracle = gc.read("db", "pkzw").filter(col("id").between(150, 250))
    assert(pruned.count() === 90) // 101 ids minus the 11 deleted multiples of 10
    assert(pruned.exceptAll(oracle).count() === 0 && oracle.exceptAll(pruned).count() === 0)
    // bucketed: dir-level pruning with the uniform anti-join
    gc.createTable("db", "pkzwb", batch(0, 0).schema,
      options = Map("deletion-vectors" -> "true", "bucket" -> "4"),
      primaryKey = Seq("id"))
    gc.upsert("db", "pkzwb", batch(1, 100).toDF())
    gc.upsert("db", "pkzwb", batch(101, 200).toDF())
    gc.deleteWhere("db", "pkzwb", col("id") % 10 === 0)
    gc.buildDeletionVectors("db", "pkzwb")
    val pb = gc.readWhere("db", "pkzwb", col("id") > 150)
    assert(!dirsOf(pb).contains("snap-1"), dirsOf(pb).toString)
    assert(pb.count() === 45) // 151..200 minus 160..200 by 10 (5 ids)
    // post-build delta: pruning would be unsound — exactness is kept by
    // the read().filter fallback (a delta-raced key must still resolve)
    gc.upsert("db", "pkzw", batch(50, 60).toDF().withColumn("name", lit("w")))
    val after = gc.readWhere("db", "pkzw", col("id").between(40, 70))
    assert(after.filter(col("name") === "w").count() === 11)
    assert(after.count() ===
      gc.read("db", "pkzw").filter(col("id").between(40, 70)).count())
  }

  test("PK DV: partitioned (partition inside PK) builds and reads exactly") {
    gc.createTable("db", "pkp", batch(0, 0).schema,
      options = Map("deletion-vectors" -> "true"),
      partitionBy = Seq("grp"), primaryKey = Seq("grp", "id"))
    gc.upsert("db", "pkp", batch(1, 70).toDF())
    gc.deleteWhere("db", "pkp", col("grp") === 3 && col("id") < 35)
    gc.upsert("db", "pkp", batch(40, 45).toDF()
      .withColumn("name", concat(lit("u"), col("id"))))
    gc.buildDeletionVectors("db", "pkp")
    val df = gc.read("db", "pkp")
    assert(df.count() === 65)
    assert(df.filter(col("grp") === 3 && col("id") < 35).count() === 0)
    assert(df.filter(col("name").startsWith("u")).count() === 6)
    assert(!df.queryExecution.executedPlan.toString.contains("Window"))
  }

  test("PK DV: auto-build via deletion-vectors.build-delta-commits") {
    gc.createTable("db", "pka", batch(0, 0).schema,
      options = Map("deletion-vectors" -> "true",
        "deletion-vectors.build-delta-commits" -> "2"),
      primaryKey = Seq("id"))
    gc.upsert("db", "pka", batch(1, 20).toDF())
    assert(!gc.snapshotFileEntries("db", "pka").exists(_.kind == "dv"))
    gc.upsert("db", "pka", batch(10, 30).toDF()
      .withColumn("name", concat(lit("u"), col("id"))))
    // second data commit hit the cadence: the head is an auto DV build
    assert(gc.snapshotFileEntries("db", "pka").exists(_.kind == "dv"))
    val df = gc.read("db", "pka")
    assert(df.count() === 30)
    assert(df.filter(col("name").startsWith("u")).count() === 21)
    assert(!df.queryExecution.executedPlan.toString.contains("Window"))
  }

  test("PK DV: creation guards pin the merge-free contract") {
    // field-wise merge engines refuse
    val e1 = intercept[IllegalArgumentException](
      gc.createTable("db", "pkx1", batch(0, 0).schema,
        options = Map("deletion-vectors" -> "true",
          "merge-engine" -> "partial-update"), primaryKey = Seq("id")))
    assert(e1.getMessage.contains("deduplicate"))
    // dynamic bucket refuses
    val e2 = intercept[IllegalArgumentException](
      gc.createTable("db", "pkx2", batch(0, 0).schema,
        options = Map("deletion-vectors" -> "true", "bucket" -> "-1"),
        primaryKey = Seq("id")))
    assert(e2.getMessage.contains("fixed"))
    // cross-partition (partition outside PK) refuses
    val e3 = intercept[IllegalArgumentException](
      gc.createTable("db", "pkx3", batch(0, 0).schema,
        options = Map("deletion-vectors" -> "true"),
        partitionBy = Seq("grp"), primaryKey = Seq("id")))
    assert(e3.getMessage.contains("partition"))
    // buildDeletionVectors needs the option and a PK
    gc.createTable("db", "pkx4", batch(0, 0).schema, primaryKey = Seq("id"))
    val e4 = intercept[IllegalArgumentException](
      gc.buildDeletionVectors("db", "pkx4"))
    assert(e4.getMessage.contains("deletion-vectors"))
    val e5 = intercept[IllegalArgumentException](
      gc.buildDeletionVectors("db", "t1"))
    assert(e5.getMessage.contains("append-only"))
  }

  test("PK DV: a REBUILD after a small delta reads O(delta), not O(table) " +
      "— zone-pruned base files on unbucketed tables") {
    val fat = spark.range(1, 100001).selectExpr(
      "id", "repeat(md5(cast(id AS string)), 8) AS payload")
    gc.createTable("db", "pkinc", fat.schema,
      options = Map("deletion-vectors" -> "true"), primaryKey = Seq("id"))
    gc.upsert("db", "pkinc", fat)
    // cluster by id so per-file pk zones are disjoint ranges (the layout
    // a time-keyed or monotonic-id table has naturally)
    gc.sortCompact("db", "pkinc", Seq("id"))
    gc.deleteWhere("db", "pkinc", col("id") % 1000 === 0)
    val b1 = recordsScanned { gc.buildDeletionVectors("db", "pkinc") } // full
    assert(gc.read("db", "pkinc").count() === 99900)
    // small delta: 50 updated keys in one narrow id range + 3 deletes
    gc.upsert("db", "pkinc", spark.range(200, 250).selectExpr(
      "id", "'upd' AS payload"))
    gc.deleteWhere("db", "pkinc", col("id").isin(301L, 302L, 303L))
    val b2 = recordsScanned { val built = gc.buildDeletionVectors("db", "pkinc")
      assert(built > 0) }
    // the tripwire: the rebuild scans the delta plus the zone-admitted
    // base files — a small fraction of the full build's rows, never a
    // second table scan
    assert(b2 * 5 < b1, s"rebuild scanned $b2 records vs full build's $b1")
    // and it is still exactly right
    val df = gc.read("db", "pkinc")
    assert(df.count() === 99897)
    assert(df.filter(col("payload") === "upd").count() === 50)
    assert(df.filter(col("id").isin(301L, 302L, 303L)).count() === 0)
    assert(!df.queryExecution.executedPlan.toString.contains("Window"))
    assert(gc.countRows("db", "pkinc") === Some(99897L))
  }

  test("PK DV: a REBUILD after a small delta touches only the delta's " +
      "buckets on bucketed tables") {
    val fat = spark.range(1, 100001).selectExpr(
      "id", "repeat(md5(cast(id AS string)), 8) AS payload")
    gc.createTable("db", "pkincb", fat.schema,
      options = Map("deletion-vectors" -> "true", "bucket" -> "16"),
      primaryKey = Seq("id"))
    gc.upsert("db", "pkincb", fat)
    gc.deleteWhere("db", "pkincb", col("id") % 1000 === 0)
    val b1 = recordsScanned { gc.buildDeletionVectors("db", "pkincb") } // full
    // delta: 4 keys → at most 4 of 16 buckets touched
    gc.upsert("db", "pkincb", spark.range(10, 14).selectExpr(
      "id", "'upd' AS payload"))
    val b2 = recordsScanned { gc.buildDeletionVectors("db", "pkincb") }
    assert(b2 * 3 < b1, s"bucketed rebuild scanned $b2 records vs full build's $b1")
    val df = gc.read("db", "pkincb")
    assert(df.count() === 99900)
    assert(df.filter(col("payload") === "upd").count() === 4)
    assert(!df.queryExecution.executedPlan.toString.contains("Window"))
  }

  test("PK DV: auto-cadence rebuilds run the incremental path and stay exact") {
    gc.createTable("db", "pkac", batch(0, 0).schema,
      options = Map("deletion-vectors" -> "true",
        "deletion-vectors.build-delta-commits" -> "2"),
      primaryKey = Seq("id"))
    gc.upsert("db", "pkac", batch(1, 50).toDF())
    gc.upsert("db", "pkac", batch(20, 60).toDF()
      .withColumn("name", concat(lit("u"), col("id"))))   // cadence → build 1
    assert(gc.snapshotFileEntries("db", "pkac").count(_.kind == "dv") === 1)
    gc.upsert("db", "pkac", batch(30, 35).toDF()
      .withColumn("name", lit("w")))
    gc.deleteWhere("db", "pkac", col("id") === 40)        // cadence → build 2
    val entries = gc.snapshotFileEntries("db", "pkac")
    assert(entries.count(_.kind == "dv") === 2, entries.map(_.kind).toString)
    assert(!entries.exists(_.kind == "delete")) // tombstone dir replaced
    val df = gc.read("db", "pkac")
    assert(df.count() === 59)
    assert(df.filter(col("name") === "w").count() === 6)
    assert(df.filter(col("id") === 40).count() === 0)
    assert(df.filter(col("name").startsWith("u")).count() === 34) // 20..60 minus 30..35 minus 40
    assert(!df.queryExecution.executedPlan.toString.contains("Window"))
  }

  // ---- r16: deletion vectors on ORC (write-time stamped positions) ----

  test("ORC DV: append-only deleteWhere removes rows without rewriting " +
      "data files; the position column stays invisible") {
    newTable("orc1", options = Map(
      "deletion-vectors" -> "true", "file.format" -> "orc"))
    gc.append("db", "orc1", batch(1, 100).toDF())
    gc.append("db", "orc1", batch(101, 200).toDF())
    val filesBefore = gc.read("db", "orc1").inputFiles.toSet
    assert(filesBefore.forall(_.endsWith(".orc")), filesBefore.take(3))
    gc.deleteWhere("db", "orc1", col("id") % 10 === 0)
    val after = gc.read("db", "orc1")
    // the stamped identity column never surfaces in user reads
    assert(after.columns.toSeq === Seq("id", "name", "grp"))
    assert(after.count() === 180)
    assert(after.filter(col("id") % 10 === 0).count() === 0)
    // nothing rewritten: every pre-delete ORC file still serves the scan
    assert(filesBefore.subsetOf(after.inputFiles.toSet))
    // second delete composes over the DV-applied image (no double count)
    gc.deleteWhere("db", "orc1", col("id") <= 20)
    assert(gc.read("db", "orc1").count() === 162)
    assert(gc.countRows("db", "orc1") === Some(162L)) // metadata-only, by subtraction
    // time travel to each image
    assert(gc.read("db", "orc1", snapshotId = Some(2)).count() === 200)
    assert(gc.read("db", "orc1", snapshotId = Some(3)).count() === 180)
  }

  test("ORC DV: update is an atomic retract + replace; compaction " +
      "materializes and retires the DVs") {
    gc.update("db", "orc1", col("id") === 55,
      Map("name" -> lit("upd55")))
    val df = gc.read("db", "orc1")
    assert(df.count() === 162)
    assert(df.filter(col("id") === 55).select("name").head.getString(0) === "upd55")
    val id = gc.compact("db", "orc1")
    val entries = gc.snapshotFileEntries("db", "orc1")
    assert(entries.map(_.kind) === Seq("data"))
    val post = gc.read("db", "orc1")
    assert(post.count() === 162)
    assert(post.inputFiles.forall(_.endsWith(".orc")))
    assert(post.filter(col("id") === 55).select("name").head.getString(0) === "upd55")
    // compacted files are re-stamped: a fresh delete works on them
    gc.deleteWhere("db", "orc1", col("id") === 55)
    assert(gc.read("db", "orc1").count() === 161)
    assert(gc.read("db", "orc1", snapshotId = Some(id)).count() === 162)
  }

  test("ORC DV: PK build yields a merge-free hybrid read; post-build " +
      "deltas arbitrate exactly") {
    gc.createTable("db", "orcpk", batch(0, 0).schema,
      options = Map("deletion-vectors" -> "true", "file.format" -> "orc"),
      primaryKey = Seq("id"))
    gc.upsert("db", "orcpk", batch(1, 100).toDF())
    gc.upsert("db", "orcpk", batch(1, 30).toDF()
      .withColumn("name", concat(lit("u"), col("id"))))
    gc.deleteWhere("db", "orcpk", col("id") > 90)
    gc.buildDeletionVectors("db", "orcpk")
    val entries = gc.snapshotFileEntries("db", "orcpk")
    assert(entries.map(_.kind).sorted === Seq("data", "data", "dv"))
    val df = gc.read("db", "orcpk")
    assert(df.count() === 90)
    assert(df.filter(col("id") <= 30 && col("name").startsWith("u")).count() === 30)
    assert(df.select("id").distinct().count() === 90)
    // merge-free: the covered base plans no keep-latest window
    assert(!df.queryExecution.executedPlan.toString.contains("Window"))
    // post-build delta: ordinary O(delta) resolution on top of the base
    gc.upsert("db", "orcpk", batch(26, 40).toDF()
      .withColumn("name", concat(lit("v"), col("id"))))
    gc.deleteWhere("db", "orcpk", col("id") <= 10)
    val df2 = gc.read("db", "orcpk")
    assert(df2.count() === 80)
    assert(df2.filter(col("name").startsWith("v")).count() === 15)
    // incremental rebuild re-covers
    gc.buildDeletionVectors("db", "orcpk")
    val df3 = gc.read("db", "orcpk")
    assert(df3.count() === 80)
    assert(!df3.queryExecution.executedPlan.toString.contains("Window"))
    assert(df3.exceptAll(df2).count() === 0 && df2.exceptAll(df3).count() === 0)
  }

  test("ORC DV: bucketed PK tables read merge-free and point lookups " +
      "prune to one bucket") {
    gc.createTable("db", "orcpkb", batch(0, 0).schema,
      options = Map("deletion-vectors" -> "true", "file.format" -> "orc",
        "bucket" -> "4"),
      primaryKey = Seq("id"))
    gc.upsert("db", "orcpkb", batch(1, 100).toDF())
    gc.upsert("db", "orcpkb", batch(1, 30).toDF()
      .withColumn("name", concat(lit("u"), col("id"))))
    gc.deleteWhere("db", "orcpkb", col("id") > 90)
    gc.buildDeletionVectors("db", "orcpkb")
    val df = gc.read("db", "orcpkb")
    assert(df.count() === 90)
    assert(df.filter(col("id") <= 30 && col("name").startsWith("u")).count() === 30)
    assert(!df.queryExecution.executedPlan.toString.contains("Window"))
    // bucket-restricted point lookup over live ORC DV state
    val one = gc.readBucket("db", "orcpkb",
      gc.bucketFor("db", "orcpkb", Seq(7L)))
    assert(one.filter(col("id") === 7L).select("name").head.getString(0) === "u7")
    // the lookup restricts every leg to the key's bucket (partition
    // pruning on the discovered __bucket column — the filter shows in
    // the plan; the file listing is cut at execution, not planning)
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("__bucket"),
      s"no bucket restriction in the lookup plan:\n${plan.take(2000)}")
  }

  // ---- r17: deletion vectors on AVRO (same write-time stamp as ORC;
  // DV is create-time structural, so every data file carries the
  // position column from birth and spark-avro's missing-field refusal
  // never triggers) ----

  test("AVRO DV: append-only deleteWhere/update remove rows without " +
      "rewriting data files; compaction materializes and re-stamps") {
    newTable("av1", options = Map(
      "deletion-vectors" -> "true", "file.format" -> "avro"))
    gc.append("db", "av1", batch(1, 100).toDF())
    gc.append("db", "av1", batch(101, 200).toDF())
    val filesBefore = gc.read("db", "av1").inputFiles.toSet
    assert(filesBefore.forall(_.endsWith(".avro")), filesBefore.take(3))
    gc.deleteWhere("db", "av1", col("id") % 10 === 0)
    val after = gc.read("db", "av1")
    // the stamped identity column never surfaces in user reads
    assert(after.columns.toSeq === Seq("id", "name", "grp"))
    assert(after.count() === 180)
    assert(after.filter(col("id") % 10 === 0).count() === 0)
    // nothing rewritten: every pre-delete avro file still serves the scan
    assert(filesBefore.subsetOf(after.inputFiles.toSet))
    // second delete composes over the DV-applied image (no double count)
    gc.deleteWhere("db", "av1", col("id") <= 20)
    assert(gc.read("db", "av1").count() === 162)
    assert(gc.countRows("db", "av1") === Some(162L)) // by subtraction
    // update = atomic retract + replace
    gc.update("db", "av1", col("id") === 55, Map("name" -> lit("upd55")))
    assert(gc.read("db", "av1").count() === 162)
    assert(gc.read("db", "av1").filter(col("id") === 55)
      .select("name").head.getString(0) === "upd55")
    // time travel to each image
    assert(gc.read("db", "av1", snapshotId = Some(2)).count() === 200)
    assert(gc.read("db", "av1", snapshotId = Some(3)).count() === 180)
    // compaction materializes deletions, retires DVs, re-stamps files
    gc.compact("db", "av1")
    assert(gc.snapshotFileEntries("db", "av1").map(_.kind) === Seq("data"))
    val post = gc.read("db", "av1")
    assert(post.count() === 162)
    assert(post.inputFiles.forall(_.endsWith(".avro")))
    gc.deleteWhere("db", "av1", col("id") === 55)
    assert(gc.read("db", "av1").count() === 161)
  }

  test("AVRO DV: PK build yields a merge-free hybrid read; post-build " +
      "deltas arbitrate exactly; bucketed point lookups prune") {
    gc.createTable("db", "avpk", batch(0, 0).schema,
      options = Map("deletion-vectors" -> "true", "file.format" -> "avro"),
      primaryKey = Seq("id"))
    gc.upsert("db", "avpk", batch(1, 100).toDF())
    gc.upsert("db", "avpk", batch(1, 30).toDF()
      .withColumn("name", concat(lit("u"), col("id"))))
    gc.deleteWhere("db", "avpk", col("id") > 90)
    gc.buildDeletionVectors("db", "avpk")
    assert(gc.snapshotFileEntries("db", "avpk").map(_.kind).sorted ===
      Seq("data", "data", "dv"))
    val df = gc.read("db", "avpk")
    assert(df.count() === 90)
    assert(df.filter(col("id") <= 30 && col("name").startsWith("u")).count() === 30)
    assert(!df.queryExecution.executedPlan.toString.contains("Window"))
    // post-build delta + incremental rebuild re-covers
    gc.upsert("db", "avpk", batch(26, 40).toDF()
      .withColumn("name", concat(lit("v"), col("id"))))
    gc.deleteWhere("db", "avpk", col("id") <= 10)
    val df2 = gc.read("db", "avpk")
    assert(df2.count() === 80)
    assert(df2.filter(col("name").startsWith("v")).count() === 15)
    gc.buildDeletionVectors("db", "avpk")
    val df3 = gc.read("db", "avpk")
    assert(df3.count() === 80)
    assert(!df3.queryExecution.executedPlan.toString.contains("Window"))
    assert(df3.exceptAll(df2).count() === 0 && df2.exceptAll(df3).count() === 0)
    // bucketed: merge-free read + bucket-pruned point lookup
    gc.createTable("db", "avpkb", batch(0, 0).schema,
      options = Map("deletion-vectors" -> "true", "file.format" -> "avro",
        "bucket" -> "4"),
      primaryKey = Seq("id"))
    gc.upsert("db", "avpkb", batch(1, 100).toDF())
    gc.upsert("db", "avpkb", batch(1, 30).toDF()
      .withColumn("name", concat(lit("u"), col("id"))))
    gc.deleteWhere("db", "avpkb", col("id") > 90)
    gc.buildDeletionVectors("db", "avpkb")
    val b = gc.read("db", "avpkb")
    assert(b.count() === 90)
    assert(!b.queryExecution.executedPlan.toString.contains("Window"))
    val one = gc.readBucket("db", "avpkb",
      gc.bucketFor("db", "avpkb", Seq(7L)))
    assert(one.filter(col("id") === 7L).select("name").head.getString(0) === "u7")
  }

  test("AVRO DV: changelog resolves DV commits to full -D images") {
    newTable("avcl", options = Map(
      "deletion-vectors" -> "true", "file.format" -> "avro"))
    gc.append("db", "avcl", batch(1, 50).toDF())
    gc.deleteWhere("db", "avcl", col("id") <= 5)
    val cl = gc.readChangelog("db", "avcl", 1, 2)
    assert(cl.filter(col(GraftCatalog.RowKindCol) === "-D").count() === 5)
    assert(cl.filter(col(GraftCatalog.RowKindCol) === "-D")
      .select("name").collect().map(_.getString(0)).forall(_ != null),
      "DV -D rows must carry the full before image")
  }
}
