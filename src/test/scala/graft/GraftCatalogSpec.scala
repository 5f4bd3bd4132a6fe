package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{GraftCatalog, GraftOptions}

/** DDL, snapshots, time travel, schema evolution, options — the connector
  * metadata surface (TrinoMetadataBase / TrinoSessionProperties analogs). */
class GraftCatalogSpec extends SparkSpecBase {

  private def freshCatalog(): GraftCatalog =
    new GraftCatalog(spark, Files.createTempDirectory("graft-wh").toString)

  private val abSchema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType)))

  test("schema ops: create, list, drop") {
    val cat = freshCatalog()
    cat.createSchema("s1"); cat.createSchema("s2")
    assert(cat.listSchemas() === Seq("s1", "s2"))
    cat.dropSchema("s2")
    assert(cat.listSchemas() === Seq("s1"))
  }

  test("table ops: create, list, rename, drop; options round-trip") {
    val cat = freshCatalog()
    cat.createSchema("db")
    // bucket is a SEMANTIC option (requires a PK) since round 4
    cat.createTable("db", "t1", abSchema, Map("bucket" -> "4", "file.format" -> "parquet"),
      primaryKey = Seq("id"))
    cat.createTable("db", "t2", abSchema)
    assert(cat.listTables("db") === Seq("t1", "t2"))
    assert(cat.tableOptions("db", "t1") === Map("bucket" -> "4", "file.format" -> "parquet"))
    cat.renameTable("db", "t2", "t3")
    assert(cat.listTables("db") === Seq("t1", "t3"))
    cat.dropTable("db", "t3")
    assert(cat.listTables("db") === Seq("t1"))
    intercept[IllegalArgumentException](cat.createTable("db", "t1", abSchema))
    intercept[IllegalArgumentException](cat.dropSchema("db")) // non-empty
  }

  test("append snapshots and time travel by id and timestamp") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createSchema("db")
    cat.createTable("db", "t", abSchema)
    cat.append("db", "t", Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    cat.append("db", "t", Seq((3L, "c")).toDF("id", "name"))
    cat.overwrite("db", "t", Seq((9L, "z")).toDF("id", "name"))
    val snaps = cat.snapshots("db", "t")
    assert(snaps.map(_.id) === Seq(1L, 2L, 3L))
    assert(snaps.map(_.timestampMillis) === snaps.map(_.timestampMillis).sorted)
    assert(cat.read("db", "t").count() === 1) // latest = overwrite
    assert(cat.read("db", "t", snapshotId = Some(1L)).count() === 2)
    assert(cat.read("db", "t", snapshotId = Some(2L)).count() === 3)
    // as-of between snapshot 2 and 3 → sees snapshot 2
    val ts2 = snaps(1).timestampMillis
    assert(cat.read("db", "t", asOfMillis = Some(ts2)).count() === 3)
    assert(cat.read("db", "t", asOfMillis = Some(snaps(2).timestampMillis)).count() === 1)
    intercept[IllegalArgumentException](cat.read("db", "t", snapshotId = Some(99L)))
  }

  test("session properties steer the scan (TrinoSessionProperties analog)") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createSchema("db")
    cat.createTable("db", "t", abSchema)
    cat.append("db", "t", Seq((1L, "a")).toDF("id", "name"))
    cat.append("db", "t", Seq((2L, "b")).toDF("id", "name"))
    GraftOptions.setSnapshot(spark, 1L)
    try assert(cat.read("db", "t").count() === 1)
    finally GraftOptions.clearScanOptions(spark)
    assert(cat.read("db", "t").count() === 2)
  }

  test("add column: old files read as null, new data carries values") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createSchema("db")
    cat.createTable("db", "t", abSchema)
    cat.append("db", "t", Seq((1L, "a")).toDF("id", "name"))
    cat.addColumn("db", "t", StructField("score", DoubleType))
    assert(cat.currentSchema("db", "t").fieldNames === Array("id", "name", "score"))
    cat.append("db", "t", Seq((2L, "b", 0.5)).toDF("id", "name", "score"))
    val rows = cat.read("db", "t").orderBy("id").collect()
    assert(rows.length === 2)
    assert(rows(0).isNullAt(2))
    assert(rows(1).getDouble(2) === 0.5)
  }

  test("rename column: maps old files by field id") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createSchema("db")
    cat.createTable("db", "t", abSchema)
    cat.append("db", "t", Seq((1L, "a")).toDF("id", "name"))
    cat.renameColumn("db", "t", "name", "label")
    assert(cat.currentSchema("db", "t").fieldNames === Array("id", "label"))
    cat.append("db", "t", Seq((2L, "b")).toDF("id", "label"))
    val rows = cat.read("db", "t").orderBy("id").collect()
    assert(rows.map(_.getString(1)).toSeq === Seq("a", "b"))
  }

  test("drop column: disappears from reads of old files") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createSchema("db")
    cat.createTable("db", "t", StructType(abSchema.fields :+ StructField("extra", IntegerType)))
    cat.append("db", "t", Seq((1L, "a", 7)).toDF("id", "name", "extra"))
    cat.dropColumn("db", "t", "extra")
    assert(cat.currentSchema("db", "t").fieldNames === Array("id", "name"))
    val rows = cat.read("db", "t").collect()
    assert(rows.head.length === 2)
    intercept[IllegalArgumentException](cat.dropColumn("db", "t", "missing"))
  }

  test("type matrix survives catalog round-trip") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createSchema("db")
    val st = StructType(Seq(
      StructField("id", LongType),
      StructField("d", DecimalType(12, 3)),
      StructField("arr", ArrayType(IntegerType)),
      StructField("m", MapType(StringType, DoubleType)),
      StructField("row", StructType(Seq(StructField("x", IntegerType))))))
    cat.createTable("db", "t", st)
    assert(cat.currentSchema("db", "t") === st)
  }

  test("partitioned table: layout written, pruning on filtered read") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createSchema("db")
    cat.createTable("db", "t",
      StructType(Seq(StructField("id", LongType), StructField("region", StringType),
        StructField("v", DoubleType))),
      partitionBy = Seq("region"))
    assert(cat.partitionColumnsOf("db", "t") === Seq("region"))
    val df = Seq((1L, "eu", 1.0), (2L, "us", 2.0), (3L, "eu", 3.0), (4L, "ap", 4.0))
      .toDF("id", "region", "v")
    cat.append("db", "t", df)
    val filtered = cat.read("db", "t").filter(col("region") === "eu")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("region"),
      s"expected partition pruning:\n$plan")
    assert(filtered.count() === 2)
    // schema/order preserved despite partition columns moving to directories
    assert(cat.read("db", "t").columns === Array("id", "region", "v"))
    assert(cat.read("db", "t").orderBy("id").collect().map(_.getString(1)).toSeq ===
      Seq("eu", "us", "eu", "ap"))
  }

  test("partition column DDL: rename follows, drop refused, numeric-looking strings survive") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createSchema("db")
    cat.createTable("db", "t",
      StructType(Seq(StructField("id", LongType), StructField("region", StringType))),
      partitionBy = Seq("region"))
    // numeric-looking string partition value must round-trip unchanged
    cat.append("db", "t", Seq((1L, "0123"), (2L, "eu")).toDF("id", "region"))
    assert(cat.read("db", "t").orderBy("id").collect().map(_.getString(1)).toSeq ===
      Seq("0123", "eu"))
    intercept[IllegalArgumentException](cat.dropColumn("db", "t", "region"))
    cat.renameColumn("db", "t", "region", "zone")
    assert(cat.partitionColumnsOf("db", "t") === Seq("zone"))
    cat.append("db", "t", Seq((3L, "ap")).toDF("id", "zone")) // append still works
    assert(cat.read("db", "t").count() === 3)
  }

  test("primary-key table: merge-on-read upserts, time travel, compaction") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createSchema("db")
    cat.createTable("db", "t", abSchema, primaryKey = Seq("id"))
    assert(cat.primaryKeyOf("db", "t") === Seq("id"))
    cat.upsert("db", "t", Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    cat.upsert("db", "t", Seq((2L, "b2"), (3L, "c")).toDF("id", "name"))
    val now = cat.read("db", "t").orderBy("id").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(now.toSeq === Seq(1L -> "a", 2L -> "b2", 3L -> "c"))
    // time travel sees the pre-upsert value
    val v1 = cat.read("db", "t", snapshotId = Some(1L)).orderBy("id").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(v1.toSeq === Seq(1L -> "a", 2L -> "b"))
    // compaction materializes the resolution; results unchanged
    cat.compact("db", "t")
    val compacted = cat.read("db", "t").orderBy("id").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(compacted.toSeq === now.toSeq)
    // append-only tables refuse upsert
    cat.createTable("db", "plain", abSchema)
    intercept[IllegalArgumentException](
      cat.upsert("db", "plain", Seq((1L, "x")).toDF("id", "name")))
  }

  test("row-level delete: tombstone snapshot, time travel, compaction retires it") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createSchema("db")
    cat.createTable("db", "t", abSchema, primaryKey = Seq("id"))
    cat.upsert("db", "t", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name"))
    val delSnap = cat.deleteWhere("db", "t", col("name") === "b")
    assert(cat.read("db", "t").orderBy("id").as[(Long, String)].collect().toSeq
      === Seq(1L -> "a", 3L -> "c"))
    // the pre-delete snapshot still shows the row (no data was rewritten)
    assert(cat.read("db", "t", snapshotId = Some(delSnap - 1)).count() === 3)
    // re-inserting the key after the tombstone resurrects it (newest wins)
    cat.upsert("db", "t", Seq((2L, "b-again")).toDF("id", "name"))
    assert(cat.read("db", "t").count() === 3)
    cat.deleteWhere("db", "t", col("id") === 2L)
    // compaction rewrites the live image and retires tombstone files
    cat.compact("db", "t")
    assert(cat.read("db", "t").orderBy("id").as[(Long, String)].collect().toSeq
      === Seq(1L -> "a", 3L -> "c"))
    val kinds = cat.filesTable("db", "t").select("kind")
      .collect().map(_.getString(0)).toSet
    assert(kinds === Set("data"), s"tombstones survive compaction: $kinds")
    // delete on an append-only table is refused
    cat.createTable("db", "plain", abSchema)
    intercept[IllegalArgumentException](
      cat.deleteWhere("db", "plain", col("id") === 1L))
  }

  test("row-level update: assignments applied, old versions time-travelable") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createSchema("db")
    cat.createTable("db", "t", abSchema, primaryKey = Seq("id"))
    cat.upsert("db", "t", Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    val snap = cat.update("db", "t", col("id") === 2L,
      Map("name" -> concat(col("name"), lit("!"))))
    assert(cat.read("db", "t").orderBy("id").as[(Long, String)].collect().toSeq
      === Seq(1L -> "a", 2L -> "b!"))
    assert(cat.read("db", "t", snapshotId = Some(snap - 1))
      .filter(col("id") === 2L).as[(Long, String)].collect().head._2 === "b")
    intercept[IllegalArgumentException](
      cat.update("db", "t", col("id") === 1L, Map("nope" -> lit("x"))))
    // assigning the PK would upsert under the new key and leave the old
    // row alive — refused
    intercept[IllegalArgumentException](
      cat.update("db", "t", col("id") === 1L, Map("id" -> lit(5L))))
  }

  test("incremental read returns only the delta between snapshots") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createSchema("db")
    // append-only: delta = the appended rows, nothing else rescanned
    cat.createTable("db", "t", abSchema)
    val s1 = cat.append("db", "t", Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    val s2 = cat.append("db", "t", Seq((3L, "c")).toDF("id", "name"))
    val s3 = cat.append("db", "t", Seq((4L, "d")).toDF("id", "name"))
    assert(cat.readIncremental("db", "t", s1, s3).orderBy("id")
      .as[(Long, String)].collect().toSeq === Seq(3L -> "c", 4L -> "d"))
    assert(cat.readIncremental("db", "t", 0L, s1).count() === 2)
    assert(cat.readIncremental("db", "t", s2, s2).count() === 0)
    // PK table: delta is merge-on-read-resolved within the range;
    // a delete as the key's last change in range drops the key
    cat.createTable("db", "p", abSchema, primaryKey = Seq("id"))
    val p1 = cat.upsert("db", "p", Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    cat.upsert("db", "p", Seq((2L, "b2"), (3L, "c")).toDF("id", "name"))
    cat.deleteWhere("db", "p", col("id") === 3L)
    val p3 = cat.upsert("db", "p", Seq((2L, "b3")).toDF("id", "name"))
    assert(cat.readIncremental("db", "p", p1, p3).orderBy("id")
      .as[(Long, String)].collect().toSeq === Seq(2L -> "b3"))
  }

  test("partition expiration: pure-expired dirs drop with no rewrite, " +
      "mixed dirs keep survivors, time travel intact") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val cat = freshCatalog()
    cat.createSchema("db")
    cat.createTable("db", "pe", StructType(Seq(
      StructField("id", LongType), StructField("day", StringType))),
      partitionBy = Seq("day"))
    // dir 1: entirely the old day; dir 2: old + new days mixed
    cat.append("db", "pe",
      Seq((1L, "2026-01-01"), (2L, "2026-01-01")).toDF("id", "day"))
    cat.append("db", "pe",
      Seq((3L, "2026-01-02"), (4L, "2026-08-01")).toDF("id", "day"))
    val expired = cat.expirePartitions("db", "pe",
      col("day").cast(DateType) < lit("2026-06-01").cast(DateType))
    assert(expired === Seq("day=2026-01-01", "day=2026-01-02"))
    assert(cat.read("db", "pe").select("id").as[Long].collect().toSeq
      === Seq(4L))
    // the expiration landed as ONE new snapshot; time travel to the
    // pre-expiration image still sees every row (bytes not reclaimed
    // until snapshot expiration)
    assert(cat.snapshots("db", "pe").size === 3)
    assert(cat.read("db", "pe", snapshotId = Some(2L)).count() === 4L)
    // idempotent: nothing left to expire, no new snapshot
    assert(cat.expirePartitions("db", "pe",
      col("day").cast(DateType) < lit("2026-06-01").cast(DateType)).isEmpty)
    assert(cat.snapshots("db", "pe").size === 3)
    // a NULL partition survives a predicate that cannot decide it
    cat.append("db", "pe", Seq((5L, null.asInstanceOf[String]))
      .toDF("id", "day"))
    assert(cat.expirePartitions("db", "pe",
      col("day").cast(DateType) < lit("2027-01-01").cast(DateType))
      === Seq("day=2026-08-01"))
    assert(cat.read("db", "pe").select("id").as[Long].collect().toSeq
      === Seq(5L))
    // PK tables refuse
    cat.createTable("db", "pepk", StructType(Seq(
      StructField("id", LongType), StructField("day", StringType))),
      primaryKey = Seq("id"), partitionBy = Seq("day"))
    intercept[IllegalArgumentException](
      cat.expirePartitions("db", "pepk", col("day") < "x"))
    // auto mode: partition.expiration-time drops the stale day on commit
    cat.createTable("db", "peauto", StructType(Seq(
      StructField("id", LongType), StructField("day", StringType))),
      partitionBy = Seq("day"),
      options = Map("partition.expiration-time" -> "30d"))
    cat.append("db", "peauto",
      Seq((1L, "2020-01-01")).toDF("id", "day"))
    val today = java.time.LocalDate.now(java.time.ZoneOffset.UTC).toString
    cat.append("db", "peauto", Seq((2L, today)).toDF("id", "day"))
    assert(cat.read("db", "peauto").select("id").as[Long].collect().toSeq
      === Seq(2L), "the 2020 partition must auto-expire on commit")
  }

  test("rowkind.field: a CDC batch's -D/-U rows retract, others upsert, " +
      "one atomic snapshot") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createSchema("db")
    cat.createTable("db", "rk", StructType(Seq(
      StructField("id", LongType), StructField("v", StringType),
      StructField("op", StringType))),
      primaryKey = Seq("id"), options = Map("rowkind.field" -> "op"))
    cat.upsert("db", "rk", Seq(
      (1L, "a", "+I"), (2L, "b", "+I"), (3L, "c", "+I")).toDF("id", "v", "op"))
    // batch 2: update 1, retract 2 (-D), retract 3 (-U) — one snapshot
    cat.upsert("db", "rk", Seq(
      (1L, "a2", "+U"), (2L, null, "-D"), (3L, null, "-U")).toDF("id", "v", "op"))
    assert(cat.snapshots("db", "rk").size === 2, "one atomic snapshot per batch")
    assert(cat.read("db", "rk").select("id", "v").as[(Long, String)]
      .collect().toSet === Set((1L, "a2")))
    // a kind-free batch (plain dimension load) upserts as usual
    cat.upsert("db", "rk", Seq((4L, "d", "+I")).toDF("id", "v", "op"))
    assert(cat.read("db", "rk").count() === 2)
    // the canonical Debezium/Flink update shape: `-U` old image + `+U`
    // new image for ONE key in one batch — the retraction is subsumed by
    // the batch's own newer image (deduplicate semantics), not a
    // key-disjointness violation; unrelated retractions still tombstone
    cat.upsert("db", "rk", Seq(
      (1L, "a2", "-U"), (1L, "a3", "+U"), (4L, null, "-D")).toDF("id", "v", "op"))
    assert(cat.read("db", "rk").select("id", "v").as[(Long, String)]
      .collect().toSet === Set((1L, "a3")))
    // `-D` + re-insert `+I` for one key in one batch: the insert wins
    cat.upsert("db", "rk", Seq(
      (1L, null, "-D"), (1L, "a4", "+I")).toDF("id", "v", "op"))
    assert(cat.read("db", "rk").select("id", "v").as[(Long, String)]
      .collect().toSet === Set((1L, "a4")))
    // NULL or unrecognized kinds fail loudly instead of vanishing
    val eNull = intercept[IllegalArgumentException](cat.upsert("db", "rk",
      Seq((9L, "x", null: String)).toDF("id", "v", "op")))
    assert(eNull.getMessage.contains("unrecognized"))
    val eBad = intercept[IllegalArgumentException](cat.upsert("db", "rk",
      Seq((9L, "x", "?!")).toDF("id", "v", "op")))
    assert(eBad.getMessage.contains("unrecognized"))
    assert(cat.read("db", "rk").filter($"id" === 9L).isEmpty)
    // validation: string column of the table, PK required, not a PK col
    intercept[IllegalArgumentException](cat.createTable("db", "rkbad", abSchema,
      primaryKey = Seq("id"), options = Map("rowkind.field" -> "missing")))
    intercept[IllegalArgumentException](cat.createTable("db", "rkbad2", abSchema,
      options = Map("rowkind.field" -> "name")))
    intercept[IllegalArgumentException](cat.createTable("db", "rkbad3", abSchema,
      primaryKey = Seq("id"), options = Map("rowkind.field" -> "id")))
  }

  test("partition replacement fuzz: random layouts/predicates match " +
      "brute-force semantics for expiration and dynamic overwrite") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 6) {
      val cat = freshCatalog()
      cat.createSchema("db")
      cat.createTable("db", "fz", StructType(Seq(
        StructField("id", LongType), StructField("p", LongType))),
        partitionBy = Seq("p"))
      // 2-4 commits, each a random slice over partitions 0..4
      var rows = Seq.empty[(Long, Long)]
      var nextId = 0L
      (0 until 2 + rnd.nextInt(3)).foreach { _ =>
        val batch = (0 until 3 + rnd.nextInt(8)).map { _ =>
          nextId += 1; (nextId, rnd.nextInt(5).toLong)
        }
        rows ++= batch
        cat.append("db", "fz", batch.toDF("id", "p"))
      }
      if (rnd.nextBoolean()) {
        // expiration with a random predicate shape
        val k = rnd.nextInt(5).toLong
        val (whereCol, pred) = rnd.nextInt(3) match {
          case 0 => (col("p") < k, (p: Long) => p < k)
          case 1 => (col("p") === k, (p: Long) => p == k)
          case _ => (col("p").isin(k, (k + 2) % 5),
            (p: Long) => p == k || p == (k + 2) % 5)
        }
        cat.expirePartitions("db", "fz", whereCol)
        val expected = rows.filterNot { case (_, p) => pred(p) }.toSet
        assert(cat.read("db", "fz").as[(Long, Long)].collect().toSet
          === expected, s"trial $trial expiration mismatch")
      } else {
        // dynamic overwrite of 1-2 random partitions
        val parts = Seq.fill(1 + rnd.nextInt(2))(rnd.nextInt(5).toLong).distinct
        val fresh = parts.flatMap(p =>
          (0 until 1 + rnd.nextInt(3)).map { _ => nextId += 1; (nextId, p) })
        cat.overwriteDynamic("db", "fz", fresh.toDF("id", "p"))
        val expected =
          rows.filterNot { case (_, p) => parts.contains(p) }.toSet ++ fresh
        assert(cat.read("db", "fz").as[(Long, Long)].collect().toSet
          === expected, s"trial $trial dynamic-overwrite mismatch")
      }
    }
  }

  test("dynamic partition overwrite replaces only the incoming partitions") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createSchema("db")
    cat.createTable("db", "dpo", StructType(Seq(
      StructField("id", LongType), StructField("day", StringType))),
      partitionBy = Seq("day"))
    cat.append("db", "dpo", Seq(
      (1L, "d1"), (2L, "d1"), (3L, "d2")).toDF("id", "day"))
    cat.append("db", "dpo", Seq((4L, "d3")).toDF("id", "day"))
    // backfill d1: only d1's rows are replaced; d2 and d3 untouched
    cat.overwriteDynamic("db", "dpo",
      Seq((10L, "d1"), (11L, "d1")).toDF("id", "day"))
    assert(cat.read("db", "dpo").select("id").as[Long].collect().toSet
      === Set(10L, 11L, 3L, 4L))
    // a brand-new partition lands as a plain append (nothing replaced)
    cat.overwriteDynamic("db", "dpo", Seq((20L, "d9")).toDF("id", "day"))
    assert(cat.read("db", "dpo").count() === 5)
    // empty frame: no partitions named, NOTHING replaced (no table wipe)
    val head = cat.snapshots("db", "dpo").last.id
    cat.overwriteDynamic("db", "dpo",
      Seq.empty[(Long, String)].toDF("id", "day"))
    assert(cat.snapshots("db", "dpo").last.id === head)
    assert(cat.read("db", "dpo").count() === 5)
    // time travel still sees the pre-backfill image
    assert(cat.read("db", "dpo", snapshotId = Some(2L)).count() === 4)
    // unpartitioned / PK tables refuse
    cat.createTable("db", "dponp", abSchema)
    intercept[IllegalArgumentException](
      cat.overwriteDynamic("db", "dponp", Seq((1L, "x")).toDF("id", "name")))
  }

  test("file.compression picks the data codec; invalid codecs refuse") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-fc-wh").toString
    val cat = new GraftCatalog(spark, wh)
    cat.createSchema("db")
    cat.createTable("db", "z", abSchema,
      options = Map("file.compression" -> "zstd"))
    cat.append("db", "z", Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    val files = new java.io.File(wh, "db/z/snap-1").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet"))
    assert(files.nonEmpty && files.forall(_.contains(".zstd.")),
      s"expected zstd files, got ${files.mkString(",")}")
    assert(cat.read("db", "z").count() === 2)
    intercept[IllegalArgumentException](cat.createTable("db", "zbad", abSchema,
      options = Map("file.compression" -> "brotli9000")))
    // ORC codec set differs: zlib valid there, gzip is not
    cat.createTable("db", "zo", abSchema,
      options = Map("file.format" -> "orc", "file.compression" -> "zlib"))
    cat.append("db", "zo", Seq((1L, "a")).toDF("id", "name"))
    assert(cat.read("db", "zo").count() === 1)
    intercept[IllegalArgumentException](cat.createTable("db", "zobad", abSchema,
      options = Map("file.format" -> "orc", "file.compression" -> "gzip")))
  }

  test("rescaleBucket: layout and option flip atomically, old snapshots " +
      "resolve under their own layout") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-rs-wh").toString
    val cat = new GraftCatalog(spark, wh)
    cat.createSchema("db")
    cat.createTable("db", "rs", abSchema, Map("bucket" -> "4"),
      primaryKey = Seq("id"))
    cat.upsert("db", "rs", (1L to 40L).map(i => (i, s"v$i")).toDF("id", "name"))
    cat.upsert("db", "rs", Seq((7L, "v7b"), (41L, "v41")).toDF("id", "name"))
    val pre = cat.read("db", "rs").as[(Long, String)].collect().toSet
    val preHead = cat.snapshots("db", "rs").last.id
    val sid = cat.rescaleBucket("db", "rs", 2)
    assert(cat.bucketCountOf("db", "rs").contains(2))
    assert(cat.read("db", "rs").as[(Long, String)].collect().toSet === pre)
    // the rewritten snapshot's dirs carry only the new bucket range
    val tdir = new java.io.File(wh, s"db/rs/snap-$sid")
    val ks = tdir.listFiles().map(_.getName).filter(_.startsWith("__bucket=")).sorted
    assert(ks.toSeq === Seq("__bucket=0", "__bucket=1"), ks.mkString(","))
    // time travel BEFORE the rescale resolves under the OLD 4-bucket
    // layout (count derived from the snapshot's own dirs, not the option)
    assert(cat.read("db", "rs", snapshotId = Some(preHead))
      .as[(Long, String)].collect().toSet === pre)
    // post-rescale upserts merge under the new layout
    cat.upsert("db", "rs", Seq((7L, "v7c")).toDF("id", "name"))
    assert(cat.read("db", "rs").filter(col("id") === 7L)
      .as[(Long, String)].head()._2 === "v7c")
    // no-op rescale returns the head without a new snapshot
    val before = cat.snapshots("db", "rs").size
    cat.rescaleBucket("db", "rs", 2)
    assert(cat.snapshots("db", "rs").size === before)
    intercept[IllegalArgumentException](cat.rescaleBucket("db", "rs", 0))
    intercept[IllegalArgumentException](cat.rescaleBucket("db", "t_nope", 2))
  }

  test("ignore-delete drops retractions: rowkind batches and changelog " +
      "apply land upserts only, enabling field-wise replica feeds") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createSchema("db")
    // rowkind + ignore-delete on a PARTIAL-UPDATE table: -D rows vanish,
    // patches fold field-wise
    cat.createTable("db", "ig", StructType(Seq(
      StructField("id", LongType), StructField("a", StringType),
      StructField("b", StringType), StructField("op", StringType))),
      primaryKey = Seq("id"),
      options = Map("merge-engine" -> "partial-update",
        "rowkind.field" -> "op", "ignore-delete" -> "true"))
    cat.upsert("db", "ig", Seq(
      (1L, Option("a1"), Option.empty[String], "+I"),
      (2L, Option("a2"), Option("b2"), "+I")).toDF("id", "a", "b", "op"))
    cat.upsert("db", "ig", Seq(
      (1L, Option.empty[String], Option("b1"), "+U"),
      (2L, Option.empty[String], Option.empty[String], "-D")).toDF("id", "a", "b", "op"))
    // id 1 patched field-wise; id 2's delete was IGNORED
    assert(cat.read("db", "ig").select("id", "a", "b").as[(Long, String, String)]
      .collect().toSet === Set((1L, "a1", "b1"), (2L, "a2", "b2")))
    // applyChangelog with -D on an ignore-delete table: retraction dropped
    cat.createTable("db", "ig2", StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))),
      primaryKey = Seq("id"), options = Map("ignore-delete" -> "true"))
    cat.upsert("db", "ig2", Seq((1L, "x")).toDF("id", "v"))
    cat.applyChangelog("db", "ig2", Seq(
      (2L, "y", "+I"), (1L, "x", "-D")).toDF("id", "v", "_row_kind"))
    assert(cat.read("db", "ig2").select("id").as[Long].collect().toSet
      === Set(1L, 2L), "the -D must be ignored, not tombstoned")
    // without ignore-delete, rowkind.field on field-wise engines refuses
    intercept[IllegalArgumentException](cat.createTable("db", "igbad",
      StructType(Seq(StructField("id", LongType), StructField("op", StringType))),
      primaryKey = Seq("id"),
      options = Map("merge-engine" -> "partial-update", "rowkind.field" -> "op")))
  }

  test("full-compaction.delta-commits compacts after every N data commits") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createSchema("db")
    cat.createTable("db", "fc", abSchema, primaryKey = Seq("id"),
      options = Map("full-compaction.delta-commits" -> "3"))
    (1 to 3).foreach(i =>
      cat.upsert("db", "fc", Seq((i.toLong, s"v$i")).toDF("id", "name")))
    // the 3rd data commit triggered a full compact: 4 snapshots, last
    // one marked compaction; image intact
    val snaps = cat.snapshots("db", "fc")
    assert(snaps.size === 4, s"expected compact after 3 commits, got $snaps")
    assert(cat.read("db", "fc").count() === 3)
    // the counter reset: two more commits stay under the threshold
    (4 to 5).foreach(i =>
      cat.upsert("db", "fc", Seq((i.toLong, s"v$i")).toDF("id", "name")))
    assert(cat.snapshots("db", "fc").size === 6)
    cat.upsert("db", "fc", Seq((6L, "v6")).toDF("id", "name"))
    assert(cat.snapshots("db", "fc").size === 8, "3rd post-compact commit retriggers")
    assert(cat.read("db", "fc").count() === 6)
  }

  test("automatic tag creation pins the period's first commit; " +
      "retention caps only period-named tags") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createSchema("db")
    cat.createTable("db", "at", abSchema,
      options = Map("tag.automatic-creation" -> "process-time",
        "tag.creation-period" -> "daily",
        "tag.num-retained-max" -> "1"))
    val today = java.time.LocalDate.now(java.time.ZoneOffset.UTC).toString
    val s1 = cat.append("db", "at", Seq((1L, "a")).toDF("id", "name"))
    assert(cat.tags("db", "at").get(today).contains(s1),
      "first commit of the period must be tagged")
    // the second commit of the same period does NOT move the tag
    cat.append("db", "at", Seq((2L, "b")).toDF("id", "name"))
    assert(cat.tags("db", "at")(today) === s1)
    // older period-named tags beyond the cap are deleted; manual tags
    // are never touched
    cat.createTag("db", "at", "2020-01-01", Some(s1))
    cat.createTag("db", "at", "release-1", Some(s1))
    cat.append("db", "at", Seq((3L, "c")).toDF("id", "name"))
    val t = cat.tags("db", "at")
    assert(!t.contains("2020-01-01"), "oldest period tag beyond cap drops")
    assert(t.contains(today) && t.contains("release-1"))
    // the auto tag pins expiration like any tag: the period's snapshot
    // survives aggressive retention
    cat.expireSnapshots("db", "at", keepLast = 1)
    assert(cat.readTag("db", "at", today).count() === 1L)
  }

  test("incremental read between timestamps resolves commit times") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createSchema("db")
    cat.createTable("db", "ts", abSchema)
    cat.append("db", "ts", Seq((1L, "a")).toDF("id", "name"))
    Thread.sleep(15)
    cat.append("db", "ts", Seq((2L, "b")).toDF("id", "name"))
    Thread.sleep(15)
    cat.append("db", "ts", Seq((3L, "c")).toDF("id", "name"))
    val snaps = cat.snapshots("db", "ts")
    assert(snaps.size === 3)
    val t1 = snaps(0).timestampMillis
    // (t1, t3]: snapshot 1 is the basis, 2 and 3 are the delta
    assert(cat.readIncrementalBetweenTimestamps("db", "ts",
        t1, snaps(2).timestampMillis).orderBy("id")
      .as[(Long, String)].collect().toSeq === Seq(2L -> "b", 3L -> "c"))
    // a from-mark predating every commit reads from the beginning; a
    // to-mark between commits 2 and 3 stops at 2
    assert(cat.readIncrementalBetweenTimestamps("db", "ts",
        t1 - 60000L, snaps(1).timestampMillis).orderBy("id")
      .as[(Long, String)].collect().toSeq === Seq(1L -> "a", 2L -> "b"))
    // a to-mark past the head reads up to it; equal marks = empty delta
    assert(cat.readIncrementalBetweenTimestamps("db", "ts",
        snaps(2).timestampMillis, snaps(2).timestampMillis + 60000L)
      .count() === 0L)
    intercept[IllegalArgumentException](
      cat.readIncrementalBetweenTimestamps("db", "ts", 10L, 5L))
  }

  test("metadata tables: snapshots, files, schemas, options") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createSchema("db")
    cat.createTable("db", "t", abSchema, options = Map("write-buffer" -> "256mb"),
      primaryKey = Seq("id"))
    cat.upsert("db", "t", Seq((1L, "a")).toDF("id", "name"))
    cat.upsert("db", "t", Seq((2L, "b")).toDF("id", "name"))
    cat.addColumn("db", "t", StructField("extra", IntegerType))
    val snaps = cat.snapshotsTable("db", "t").orderBy("snapshot_id").collect()
    assert(snaps.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(snaps.map(_.getString(2)).toSeq === Seq("append", "append"))
    assert(snaps.map(_.getInt(3)).toSeq === Seq(1, 2))    // cumulative dirs
    assert(snaps.map(_.getInt(4)).toSeq === Seq(1, 1))    // added per commit
    assert(snaps.map(_.getLong(1)).toSeq.sliding(2).forall(w => w.head < w.last))
    val files = cat.filesTable("db", "t").orderBy("file_dir").collect()
    assert(files.map(_.getString(0)).toSeq === Seq("snap-1", "snap-2"))
    assert(files.forall(_.getString(1) == "data"))
    assert(files.forall(_.getLong(4) > 0L))               // size_bytes
    val schemas = cat.schemasTable("db", "t")
    assert(schemas.filter(col("schema_version") === 0).count() === 2)
    assert(schemas.filter(col("schema_version") === 1).count() === 3)
    assert(schemas.filter(col("field_name") === "extra")
      .select("field_id").head().getInt(0) === 3)
    val opts = cat.optionsTable("db", "t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(opts("primary-key") === "id")
    assert(opts("write-buffer") === "256mb")
    // a compact snapshot references FEWER dirs but still adds one (set
    // difference, not count difference)
    cat.compact("db", "t")
    val afterCompact = cat.snapshotsTable("db", "t")
      .orderBy("snapshot_id").collect().last
    assert(afterCompact.getString(2) === "compact")
    assert(afterCompact.getInt(3) === 1 && afterCompact.getInt(4) === 1)
    // commit kinds across the DML family
    cat.deleteWhere("db", "t", col("id") === 2L)
    cat.overwrite("db", "t", cat.read("db", "t"))
    assert(cat.snapshotsTable("db", "t").orderBy("snapshot_id")
      .collect().map(_.getString(2)).toSeq ===
      Seq("append", "append", "compact", "delete", "overwrite"))
  }

  test("bucketed PK tables: hash layout, shuffle-free merge, SQL scan") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-bwh").toString
    val cat = new GraftCatalog(spark, wh)
    cat.createSchema("db")
    cat.createTable("db", "b", abSchema,
      options = Map("bucket" -> "4"), primaryKey = Seq("id"))
    assert(cat.bucketCountOf("db", "b").contains(4))
    cat.upsert("db", "b", (1L to 100L).map(i => (i, s"v$i")).toDF("id", "name"))
    cat.upsert("db", "b", Seq((7L, "v7b"), (101L, "x")).toDF("id", "name"))
    cat.deleteWhere("db", "b", col("id") === 13L)
    // layout: every commit lands rows under __bucket=k subdirs
    val snap1 = new java.io.File(s"$wh/db/b/snap-1")
    assert(snap1.listFiles().map(_.getName).count(_.startsWith("__bucket=")) === 4)
    // merged image: newest wins, tombstone dropped, __bucket never leaks
    val df = cat.read("db", "b")
    assert(df.columns.toSeq === Seq("id", "name"))
    val got = df.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val want = ((1L to 100L).filterNot(_ == 13L)
      .map(i => (i, if (i == 7L) "v7b" else s"v$i")) :+ ((101L, "x"))).sortBy(_._1)
    assert(got === want)
    // the whole merge is per-bucket in-task: ZERO exchanges in the plan
    val plan = cat.read("db", "b").queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bucketed merge must not shuffle:\n$plan")
    // time travel resolves at the pinned snapshot through the same path
    assert(cat.read("db", "b", snapshotId = Some(1L)).count() === 100)
    // compaction rewrites through the bucketed layout and keeps the image
    cat.compact("db", "b")
    assert(new java.io.File(s"$wh/db/b/snap-4")
      .listFiles().map(_.getName).count(_.startsWith("__bucket=")) === 4)
    assert(cat.read("db", "b").count() === 100)
    // bucket pruning: a full-PK point lookup touches exactly one bucket
    val k7 = cat.bucketFor("db", "b", Seq(7L))
    val b7 = cat.readBucket("db", "b", k7)
    assert(b7.rdd.getNumPartitions === 1) // one leg, one task
    assert(b7.filter(col("id") === 7L).head().getString(1) === "v7b")
    assert(b7.count() < 100) // a strict subset of the table
    // every key in the bucket hashes back to it (write/read parity)
    assert(b7.select("id").collect()
      .forall(r => cat.bucketFor("db", "b", Seq(r.getLong(0))) == k7))
    // SQL path serves bucketed tables via the merge scan (no __bucket column)
    spark.conf.set("spark.sql.catalog.gb", "graft.sources.GraftSparkCatalog")
    spark.conf.set("spark.sql.catalog.gb.warehouse", wh)
    assert(spark.sql("SELECT * FROM gb.db.b").columns.toSeq === Seq("id", "name"))
    assert(spark.sql("SELECT name FROM gb.db.b WHERE id = 7").head().getString(0) === "v7b")
    // a tombstoned key stays deleted through the pruned point-lookup path
    assert(spark.sql("SELECT count(*) FROM gb.db.b WHERE id = 13").head().getLong(0) === 0L)
    // bucketed + partitioned is refused (bucket IS the physical partition)
    intercept[IllegalArgumentException](cat.createTable("db", "bp", abSchema,
      options = Map("bucket" -> "2"), partitionBy = Seq("name"), primaryKey = Seq("id")))
  }

  test("bucketedJoin: co-located PK join with zero exchanges, MoR-resolved inputs") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createSchema("db")
    val aSchema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))
    val bSchema = StructType(Seq(
      StructField("id", LongType), StructField("score", IntegerType)))
    cat.createTable("db", "ja", aSchema, options = Map("bucket" -> "4"),
      primaryKey = Seq("id"))
    cat.createTable("db", "jb", bSchema, options = Map("bucket" -> "4"),
      primaryKey = Seq("id"))
    cat.upsert("db", "ja", (1L to 20L).map(i => (i, s"n$i")).toDF("id", "name"))
    cat.upsert("db", "jb", (1L to 15L).map(i => (i, i.toInt * 10)).toDF("id", "score"))
    // exercise merge-on-read on both inputs: an update delta and a tombstone
    cat.upsert("db", "ja", Seq((3L, "UPD")).toDF("id", "name"))
    cat.deleteWhere("db", "jb", col("id") === 5L)
    val joined = cat.bucketedJoin("db", "ja", "jb")
    // no exchange anywhere: N independent in-task hash joins
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"co-located join must not shuffle:\n$plan")
    // equivalence with the ordinary shuffle join of the resolved reads
    val expected = cat.read("db", "ja").join(cat.read("db", "jb"), "id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    val got = joined.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(got === expected && got.size === 14) // 15 right keys minus tombstoned 5
    assert(got.contains((3L, "UPD", 30)))
    // left outer keeps unmatched left keys with nulls
    val lo = cat.bucketedJoin("db", "ja", "jb", joinType = "left")
      .collect().map(r => (r.getLong(0), r.isNullAt(2))).toMap
    assert(lo.size === 20 && lo(5L) && lo(16L) && !lo(1L))
    // incompatible bucketing is refused
    cat.createTable("db", "jc", bSchema, options = Map("bucket" -> "8"),
      primaryKey = Seq("id"))
    intercept[Exception](cat.bucketedJoin("db", "ja", "jc"))
  }

  test("column comments persist in DDL and survive evolution") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createSchema("db")
    cat.createTable("db", "c", StructType(Seq(
      StructField("id", LongType).withComment("row id"),
      StructField("name", StringType))))
    assert(cat.currentSchema("db", "c")("id").getComment().contains("row id"))
    assert(cat.currentSchema("db", "c")("name").getComment().isEmpty)
    // comments ride adds, renames, and targeted updates
    cat.addColumn("db", "c", StructField("score", IntegerType).withComment("quality"))
    cat.renameColumn("db", "c", "id", "doc_id")
    cat.setColumnComment("db", "c", "name", Some("display name"))
    val cur = cat.currentSchema("db", "c")
    assert(cur("doc_id").getComment().contains("row id")) // rename keeps it
    assert(cur("score").getComment().contains("quality"))
    assert(cur("name").getComment().contains("display name"))
    cat.setColumnComment("db", "c", "name", None)
    assert(cat.currentSchema("db", "c")("name").getComment().isEmpty)
    // $schemas surfaces the comment history per version
    val schemas = cat.schemasTable("db", "c")
    assert(schemas.columns.contains("field_comment"))
    assert(schemas.filter(col("field_name") === "score" && col("schema_version") === 1)
      .select("field_comment").head().getString(0) === "quality")
    // data still reads through the evolved, commented schema
    cat.append("db", "c", Seq((1L, "a", 5)).toDF("doc_id", "name", "score"))
    assert(cat.read("db", "c").count() === 1)
  }

  test("stream-batch appends are idempotent under replay") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createSchema("db")
    cat.createTable("db", "t", abSchema)
    assert(cat.lastStreamBatchId("db", "t") === -1L)
    assert(cat.appendStreamBatch("db", "t", Seq((1L, "a")).toDF("id", "name"), 0L))
    assert(cat.appendStreamBatch("db", "t", Seq((2L, "b")).toDF("id", "name"), 1L))
    // replay of batch 1 after a simulated restart: must be skipped
    assert(!cat.appendStreamBatch("db", "t", Seq((2L, "b")).toDF("id", "name"), 1L))
    assert(!cat.appendStreamBatch("db", "t", Seq((1L, "a")).toDF("id", "name"), 0L))
    assert(cat.read("db", "t").count() === 2)
    assert(cat.lastStreamBatchId("db", "t") === 1L)
    assert(cat.snapshots("db", "t").map(_.id) === Seq(1L, 2L))
    // normal batch appends are unaffected by the bookkeeping
    cat.append("db", "t", Seq((3L, "c")).toDF("id", "name"))
    assert(cat.read("db", "t").count() === 3)
    assert(cat.lastStreamBatchId("db", "t") === 1L)
  }

  test("streaming upserts into a bucketed PK table: exactly-once, merged reads") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createSchema("db")
    cat.createTable("db", "sb", abSchema,
      options = Map("bucket" -> "2"), primaryKey = Seq("id"))
    // micro-batches carrying key rewrites land as bucketed upsert snapshots
    assert(cat.appendStreamBatch("db", "sb", Seq((1L, "a"), (2L, "b")).toDF("id", "name"), 0L))
    assert(cat.appendStreamBatch("db", "sb", Seq((2L, "b2"), (3L, "c")).toDF("id", "name"), 1L))
    // replay after restart: skipped, image unchanged
    assert(!cat.appendStreamBatch("db", "sb", Seq((2L, "b2"), (3L, "c")).toDF("id", "name"), 1L))
    val got = cat.read("db", "sb").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((1L, "a"), (2L, "b2"), (3L, "c")))
    // still the shuffle-free per-bucket merge underneath
    assert(!cat.read("db", "sb").queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("snapshot expiration keeps the tail, deletes orphan dirs, preserves current image") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-exp-wh").toString
    val cat = new GraftCatalog(spark, wh)
    cat.createSchema("db")
    cat.createTable("db", "t", abSchema)
    (1 to 4).foreach(i => cat.append("db", "t", Seq((i.toLong, s"v$i")).toDF("id", "name")))
    cat.compact("db", "t") // snapshot 5 references ONLY its own dir
    val expired = cat.expireSnapshots("db", "t", keepLast = 2)
    assert(expired === Seq(1L, 2L, 3L))
    assert(cat.snapshots("db", "t").map(_.id) === Seq(4L, 5L))
    // current image intact; expired snapshot unreadable; orphans gone
    assert(cat.read("db", "t").count() === 4)
    intercept[IllegalArgumentException](cat.read("db", "t", snapshotId = Some(2L)))
    val dirs = new java.io.File(s"$wh/db/t").listFiles().map(_.getName)
      .filter(_.startsWith("snap-")).sorted
    // snap-1..3 still referenced by kept snapshot 4 (cumulative file list);
    // nothing kept references a dropped-only dir here, so all dirs survive
    assert(dirs.toSeq === Seq("snap-1", "snap-2", "snap-3", "snap-4", "snap-5"))
    // expire down to ONLY the compacted snapshot: snap-1..4 become orphans
    assert(cat.expireSnapshots("db", "t", keepLast = 1) === Seq(4L))
    val dirs2 = new java.io.File(s"$wh/db/t").listFiles().map(_.getName)
      .filter(_.startsWith("snap-")).sorted
    assert(dirs2.toSeq === Seq("snap-5"))
    assert(cat.read("db", "t").count() === 4)
    // no-op when nothing to expire
    assert(cat.expireSnapshots("db", "t", keepLast = 5) === Seq.empty)
  }

  test("tags pin snapshots by name and survive expiration") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createSchema("db")
    cat.createTable("db", "t", abSchema)
    (1 to 3).foreach(i => cat.append("db", "t", Seq((i.toLong, s"v$i")).toDF("id", "name")))
    assert(cat.createTag("db", "t", "v1", Some(1L)) === 1L)
    cat.createTag("db", "t", "v3", Some(3L))
    // incremental-between-tags surfaces exactly the delta rows
    assert(cat.readIncrementalBetweenTags("db", "t", "v1", "v3")
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 3L))
    cat.deleteTag("db", "t", "v3")
    assert(cat.createTag("db", "t", "latest") === 3L) // defaults to current
    assert(cat.tags("db", "t") === Map("v1" -> 1L, "latest" -> 3L))
    assert(cat.readTag("db", "t", "v1").count() === 1)
    intercept[IllegalArgumentException](cat.createTag("db", "t", "v1")) // duplicate
    intercept[IllegalArgumentException](cat.createTag("db", "t", "x", Some(99L)))
    // expiration must keep the tagged snapshot 1 even though it's old
    cat.expireSnapshots("db", "t", keepLast = 1)
    assert(cat.snapshots("db", "t").map(_.id) === Seq(1L, 3L))
    assert(cat.readTag("db", "t", "v1").count() === 1)
    // untag then expire again: now it goes
    cat.deleteTag("db", "t", "v1")
    cat.expireSnapshots("db", "t", keepLast = 1)
    assert(cat.snapshots("db", "t").map(_.id) === Seq(3L))
    assert(cat.read("db", "t").count() === 3)
  }

  test("compactIfNeeded triggers only past the small-file threshold") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createSchema("db")
    cat.createTable("db", "t", abSchema)
    (1 to 3).foreach(i => cat.append("db", "t", Seq((i.toLong, "x")).toDF("id", "name")))
    assert(cat.compactIfNeeded("db", "t", maxFileDirs = 3).isEmpty)
    cat.append("db", "t", Seq((4L, "x")).toDF("id", "name"))
    val snap = cat.compactIfNeeded("db", "t", maxFileDirs = 3)
    assert(snap.contains(5L))
    assert(cat.snapshotFileEntries("db", "t").size === 1)
    assert(cat.read("db", "t").count() === 4)
  }

  test("streaming read follows appended snapshots exactly-once") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createSchema("db")
    cat.createTable("db", "t", abSchema)
    cat.append("db", "t", Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    val seen = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val q = cat.readStream("db", "t").writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("graft-stream-ck").toString)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        seen.synchronized { seen ++= batch.collect().map(r => r.getLong(0) -> r.getString(1)) }
        ()
      }.start()
    try {
      q.processAllAvailable()
      assert(seen.sorted === Seq(1L -> "a", 2L -> "b"))
      cat.append("db", "t", Seq((3L, "c")).toDF("id", "name"))
      q.processAllAvailable()
      assert(seen.sorted === Seq(1L -> "a", 2L -> "b", 3L -> "c")) // no re-emit
    } finally q.stop()
    // PK and evolved tables are refused
    cat.createTable("db", "pk2", abSchema, primaryKey = Seq("id"))
    intercept[IllegalArgumentException](cat.readStream("db", "pk2"))
    cat.createTable("db", "ev2", abSchema)
    cat.addColumn("db", "ev2", StructField("x", IntegerType))
    intercept[IllegalArgumentException](cat.readStream("db", "ev2"))
    cat.createTable("db", "pt2", StructType(abSchema.fields :+
      StructField("region", StringType)), partitionBy = Seq("region"))
    intercept[IllegalArgumentException](cat.readStream("db", "pt2"))
  }

  test("table-to-table streaming pipeline: exactly-once across restart") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createSchema("db")
    cat.createTable("db", "src", abSchema)
    cat.createTable("db", "dst", abSchema)
    cat.append("db", "src", Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    val ckpt = Files.createTempDirectory("graft-t2t-ck").toString
    def dstRows() = cat.read("db", "dst").orderBy("id")
      .as[(Long, String)].collect().toSeq
    val q = cat.streamAppend("db", "dst", cat.readStream("db", "src"), ckpt)
    try {
      q.processAllAvailable()
      assert(dstRows() === Seq(1L -> "a", 2L -> "b"))
      cat.append("db", "src", Seq((3L, "c")).toDF("id", "name"))
      q.processAllAvailable()
      assert(dstRows() === Seq(1L -> "a", 2L -> "b", 3L -> "c"))
    } finally q.stop()
    // restart from the same checkpoint: the source's file log + the
    // sink's batchId bookkeeping must both hold — nothing re-emitted,
    // nothing re-committed, and new source data still flows
    val q2 = cat.streamAppend("db", "dst", cat.readStream("db", "src"), ckpt)
    try {
      q2.processAllAvailable()
      assert(dstRows() === Seq(1L -> "a", 2L -> "b", 3L -> "c"))
      cat.append("db", "src", Seq((4L, "d")).toDF("id", "name"))
      q2.processAllAvailable()
      assert(dstRows() === Seq(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"))
    } finally q2.stop()
    // every micro-batch became one time-travelable dst snapshot
    assert(cat.snapshots("db", "dst").size >= 2)
  }

  test("manifest commits are atomic: temp+rename, monotonic commitVersion") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-wh").toString
    val cat = new GraftCatalog(spark, wh)
    cat.createSchema("db")
    cat.createTable("db", "t", abSchema)
    (1 to 5).foreach(i => cat.append("db", "t", Seq((i.toLong, s"v$i")).toDF("id", "name")))
    val tableDir = new java.io.File(s"$wh/db/t")
    val leftovers = tableDir.listFiles().map(_.getName).filter(_.contains(".manifest.tmp"))
    assert(leftovers.isEmpty, s"orphan temp manifests: ${leftovers.mkString(",")}")
    // manifests are immutable versioned files (exclusive-rename CAS);
    // createTable + 5 appends = 6 commits -> manifest-v6.json is current
    val versions = tableDir.listFiles().map(_.getName)
      .filter(n => n.startsWith("manifest-v") && n.endsWith(".json"))
    assert(versions.map(_.stripPrefix("manifest-v").stripSuffix(".json").toLong).max === 6L)
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(tableDir, "manifest-v6.json"))
    assert(m.get("commitVersion").asLong() === 6L)
    assert(cat.read("db", "t").count() === 5)
  }

  test("column type widening is metadata-only; old files cast on read") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createSchema("db")
    cat.createTable("db", "tw", StructType(Seq(
      StructField("id", LongType), StructField("v", IntegerType),
      StructField("r", FloatType))))
    cat.append("db", "tw", Seq((1L, 10, 1.5f), (2L, 20, 2.5f)).toDF("id", "v", "r"))
    cat.alterColumnType("db", "tw", "v", "bigint")
    cat.alterColumnType("db", "tw", "r", "double")
    // new schema serves immediately; the pre-evolution file casts by field id
    val sch = cat.currentSchema("db", "tw")
    assert(sch("v").dataType === LongType && sch("r").dataType === DoubleType)
    cat.append("db", "tw", Seq((3L, 3000000000L, 3.5d)).toDF("id", "v", "r"))
    val got = cat.read("db", "tw").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got === Seq((1L, 10L, 1.5d), (2L, 20L, 2.5d), (3L, 3000000000L, 3.5d)))
    // narrowings and cross-kind changes refuse
    intercept[IllegalArgumentException](cat.alterColumnType("db", "tw", "v", "integer"))
    intercept[IllegalArgumentException](cat.alterColumnType("db", "tw", "id", "varchar"))
  }

  test("primary-key columns refuse type changes (bucket/key identity)") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createSchema("db")
    // bucketed: widening the bucket-key column would re-route existing
    // keys to a different __bucket=k dir (xxhash64(INT) != xxhash64(BIGINT))
    cat.createTable("db", "pkb", StructType(Seq(
      StructField("id", IntegerType), StructField("v", IntegerType))),
      options = Map("bucket" -> "4"), primaryKey = Seq("id"))
    cat.upsert("db", "pkb", Seq((1, 10), (2, 20)).toDF("id", "v"))
    val e = intercept[IllegalArgumentException](
      cat.alterColumnType("db", "pkb", "id", "bigint"))
    assert(e.getMessage.contains("primary-key"))
    // unbucketed PK tables refuse too (Paimon forbids PK type changes)
    cat.createTable("db", "pku", StructType(Seq(
      StructField("id", IntegerType), StructField("v", IntegerType))),
      primaryKey = Seq("id"))
    intercept[IllegalArgumentException](
      cat.alterColumnType("db", "pku", "id", "bigint"))
    // non-key columns of the same tables still widen
    cat.alterColumnType("db", "pkb", "v", "bigint")
    assert(cat.read("db", "pkb").orderBy("id").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq === Seq((1, 10L), (2, 20L)))
  }

  test("read-optimized reads serve the latest fully-compacted snapshot") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createSchema("db")
    cat.createTable("db", "ro", abSchema, primaryKey = Seq("id"))
    cat.upsert("db", "ro", Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    // snapshot 1 is a single-ordinal file set: resolved
    assert(cat.resolvedSnapshotId("db", "ro") === Some(1L))
    cat.upsert("db", "ro", Seq((2L, "b2"), (3L, "c")).toDF("id", "name"))
    // live read merges; read-optimized serves the pre-delta state, fast
    assert(cat.read("db", "ro").count() === 3)
    assert(cat.readOptimized("db", "ro").orderBy("id").collect()
      .map(_.getString(1)).toSeq === Seq("a", "b"))
    cat.compact("db", "ro")
    // compaction re-resolves: read-optimized catches up to the full image
    assert(cat.readOptimized("db", "ro").orderBy("id").collect()
      .map(_.getString(1)).toSeq === Seq("a", "b2", "c"))
  }

  test("table options mutate post-create: bloom columns on, structural refuse") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-opwh").toString
    val cat = new GraftCatalog(spark, wh)
    cat.createSchema("db")
    cat.createTable("db", "op", abSchema)
    cat.append("db", "op", (1L to 50L).map(i => (i, s"v$i")).toDF("id", "name"))
    // enable a bloom index AFTER data exists: future commits build
    // sidecars; the pre-option dir keeps serving without one (mixed
    // state sound — per-dir {token, cols} pointers)
    cat.setTableOptions("db", "op",
      Map("file-index.bloom-filter.columns" -> "id", "custom.note" -> "x"))
    cat.append("db", "op", (100L to 150L).map(i => (i, s"v$i")).toDF("id", "name"))
    assert(cat.tableOptions("db", "op").get("file-index.bloom-filter.columns")
      === Some("id"))
    assert(cat.readWhere("db", "op", col("id") === 120L).count() === 1)
    assert(cat.readWhere("db", "op", col("id") === 7L).count() === 1)
    assert(cat.read("db", "op").count() === 101)
    // structural options refuse; fields.* too; bad bloom column refuses
    Seq("bucket" -> "4", "merge-engine" -> "aggregation",
      "sequence.field" -> "id", "deletion-vectors" -> "true",
      "fields.name.aggregate-function" -> "sum").foreach { case (k, v) =>
      intercept[IllegalArgumentException](cat.setTableOptions("db", "op", Map(k -> v)))
      intercept[IllegalArgumentException](cat.removeTableOptions("db", "op", Seq(k)))
    }
    intercept[IllegalArgumentException](cat.setTableOptions("db", "op",
      Map("file-index.bloom-filter.columns" -> "nope")))
    // createTable's column rules hold on mutation: a partition column and
    // a type without a bloom domain refuse too
    cat.createTable("db", "oppart", StructType(abSchema.fields :+
      StructField("score", DoubleType)), partitionBy = Seq("name"))
    Seq("name" -> "partition column", "score" -> "no canonical bloom domain")
      .foreach { case (c, why) =>
        val e = intercept[IllegalArgumentException](cat.setTableOptions("db",
          "oppart", Map("file-index.bloom-filter.columns" -> c)))
        assert(e.getMessage.contains(why), e.getMessage)
      }
    // removal: unknown keys no-op, known keys disappear
    cat.removeTableOptions("db", "op", Seq("custom.note", "never.was"))
    assert(!cat.tableOptions("db", "op").contains("custom.note"))
    // SQL surface: SET/UNSET TBLPROPERTIES route through the same guards
    spark.conf.set("spark.sql.catalog.gop", "graft.sources.GraftSparkCatalog")
    spark.conf.set("spark.sql.catalog.gop.warehouse", wh)
    spark.sql("ALTER TABLE gop.db.op SET TBLPROPERTIES ('sql.set' = 'yes')")
    assert(cat.tableOptions("db", "op").get("sql.set") === Some("yes"))
    spark.sql("ALTER TABLE gop.db.op UNSET TBLPROPERTIES ('sql.set')")
    assert(!cat.tableOptions("db", "op").contains("sql.set"))
    intercept[Exception](
      spark.sql("ALTER TABLE gop.db.op SET TBLPROPERTIES ('bucket' = '8')"))
    // bloom stays append-only scoped even through mutation
    cat.createTable("db", "oppk", abSchema, primaryKey = Seq("id"))
    intercept[IllegalArgumentException](cat.setTableOptions("db", "oppk",
      Map("file-index.bloom-filter.columns" -> "id")))
    // ALTER checks the map the table would have exactly as CREATE does
    cat.createTable("db", "opb", abSchema, primaryKey = Seq("id"),
      options = Map("bucket" -> "2"))
    Seq("rowkind.field" -> "nope", "file.compression" -> "bogus",
      "dynamic-bucket.target-row-num" -> "0",
      "num-sorted-run.compaction-trigger" -> "x",
      "tag.creation-period" -> "weekly").foreach { case (k, v) =>
      val e = intercept[IllegalArgumentException](
        cat.setTableOptions("db", "opb", Map(k -> v)))
      assert(e.getMessage.contains(k), e.getMessage)
    }
    assert(cat.tableOptions("db", "opb") === Map("bucket" -> "2"))
    // unsetting ignore-delete would leave -U/-D rows a max fold cannot retract
    cat.createTable("db", "oprk", StructType(abSchema.fields ++ Seq(
      StructField("v", LongType), StructField("op", StringType))),
      primaryKey = Seq("id"), options = Map("merge-engine" -> "aggregation",
        "fields.v.aggregate-function" -> "max", "rowkind.field" -> "op",
        "ignore-delete" -> "true"))
    val e = intercept[IllegalArgumentException](
      cat.removeTableOptions("db", "oprk", Seq("ignore-delete")))
    assert(e.getMessage.contains("rowkind.field on a field-wise merge engine"),
      e.getMessage)
    assert(cat.tableOptions("db", "oprk").get("ignore-delete") === Some("true"))
  }

  test("retention table options auto-expire on commit; pins hold") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createSchema("db")
    cat.createTable("db", "ar", abSchema,
      options = Map("snapshot.num-retained" -> "3"))
    (1 to 6).foreach(i =>
      cat.append("db", "ar", Seq((i.toLong, s"v$i")).toDF("id", "name")))
    // every commit applied the policy — only the last 3 snapshots remain
    assert(cat.snapshots("db", "ar").map(_.id) === Seq(4L, 5L, 6L))
    assert(cat.read("db", "ar").count() === 6) // cumulative image intact
    // a tag pins its snapshot through subsequent auto-expiration
    cat.createTag("db", "ar", "keep", Some(5L))
    (7 to 9).foreach(i =>
      cat.append("db", "ar", Seq((i.toLong, s"v$i")).toDF("id", "name")))
    assert(cat.snapshots("db", "ar").map(_.id) === Seq(5L, 7L, 8L, 9L))
    // the policy is mutable: widen it, commits stop dropping
    cat.setTableOptions("db", "ar", Map("snapshot.num-retained" -> "10"))
    cat.append("db", "ar", Seq((10L, "v10")).toDF("id", "name"))
    assert(cat.snapshots("db", "ar").map(_.id) === Seq(5L, 7L, 8L, 9L, 10L))
    // time-retained: a 0ms policy keeps only what other rules pin
    cat.createTable("db", "ar2", abSchema,
      options = Map("snapshot.time-retained" -> "0ms"))
    (1 to 3).foreach(i =>
      cat.append("db", "ar2", Seq((i.toLong, s"v$i")).toDF("id", "name")))
    assert(cat.snapshots("db", "ar2").map(_.id) === Seq(3L))
    // validation: bad values refuse at create AND mutation
    intercept[IllegalArgumentException](cat.createTable("db", "arbad", abSchema,
      options = Map("snapshot.num-retained" -> "0")))
    intercept[IllegalArgumentException](cat.createTable("db", "arbad2", abSchema,
      options = Map("snapshot.time-retained" -> "soon")))
    intercept[IllegalArgumentException](
      cat.setTableOptions("db", "ar", Map("snapshot.time-retained" -> "5 fortnights")))
    // write-only (Paimon's ingestion-latency knob): commit-time
    // maintenance is suspended entirely; flipping it off resumes
    cat.createTable("db", "ar3", abSchema,
      options = Map("snapshot.num-retained" -> "1", "write-only" -> "true"))
    (1 to 3).foreach(i =>
      cat.append("db", "ar3", Seq((i.toLong, s"v$i")).toDF("id", "name")))
    assert(cat.snapshots("db", "ar3").map(_.id) === Seq(1L, 2L, 3L),
      "write-only must suspend auto-expiration")
    cat.setTableOptions("db", "ar3", Map("write-only" -> "false"))
    cat.append("db", "ar3", Seq((4L, "v4")).toDF("id", "name"))
    assert(cat.snapshots("db", "ar3").map(_.id) === Seq(4L),
      "clearing write-only must resume the retention contract")
  }

  test("consumer offsets pin unread snapshots through expiration") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createSchema("db")
    cat.createTable("db", "co", abSchema)
    val ids = (1 to 5).map(i =>
      cat.append("db", "co", Seq((i.toLong, s"v$i")).toDF("id", "name")))
    // a lagging consumer has processed snapshots < 2 only. Unread
    // snapshots (>= 2) AND the replay basis (1 = next-1, the exclusive
    // start of the consumer's next changelog range) are pinned
    cat.commitConsumerOffset("db", "co", "etl-job", nextSnapshotId = 2L)
    assert(cat.consumerOffsets("db", "co") === Map("etl-job" -> 2L))
    val dropped = cat.expireSnapshots("db", "co", keepLast = 1)
    assert(dropped === Seq.empty)
    assert(cat.snapshots("db", "co").map(_.id) === ids)
    // consumer advances to 3: snapshot 1 is no longer basis nor unread
    cat.commitConsumerOffset("db", "co", "etl-job", nextSnapshotId = 3L)
    assert(cat.expireSnapshots("db", "co", keepLast = 1) === Seq(ids.head))
    assert(cat.snapshots("db", "co").map(_.id) === ids.tail)
    // consumer advances past everything -> expiration keeps basis (5)
    cat.commitConsumerOffset("db", "co", "etl-job", nextSnapshotId = 6L)
    assert(cat.expireSnapshots("db", "co", keepLast = 1).size === 3)
    // retire the consumer; $consumers empties
    cat.dropConsumer("db", "co", "etl-job")
    assert(cat.consumersTable("db", "co").count() === 0)
  }

  test("time-based expiration drops old snapshots, keeps current and tags") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createSchema("db")
    cat.createTable("db", "te", abSchema)
    val s1 = cat.append("db", "te", Seq((1L, "a")).toDF("id", "name"))
    val s2 = cat.append("db", "te", Seq((2L, "b")).toDF("id", "name"))
    val s3 = cat.append("db", "te", Seq((3L, "c")).toDF("id", "name"))
    cat.createTag("db", "te", "pin", Some(s2))
    val ts3 = cat.snapshots("db", "te").find(_.id == s3).get.timestampMillis
    // cutoff after every commit: s1 drops, s2 survives (tag), s3 survives (current)
    val dropped = cat.expireSnapshotsOlderThan("db", "te", ts3 + 1)
    assert(dropped === Seq(s1))
    assert(cat.snapshots("db", "te").map(_.id) === Seq(s2, s3))
    assert(cat.read("db", "te").count() === 3) // current image intact
    // nothing older than epoch zero: no-op
    assert(cat.expireSnapshotsOlderThan("db", "te", 0L) === Seq.empty)
  }

  test("rollback drops newer snapshots, deletes orphans, respects tags") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createSchema("db")
    cat.createTable("db", "rb", abSchema)
    val s1 = cat.append("db", "rb", Seq((1L, "a")).toDF("id", "name"))
    val s2 = cat.append("db", "rb", Seq((2L, "b")).toDF("id", "name"))
    cat.append("db", "rb", Seq((3L, "c")).toDF("id", "name"))
    cat.overwrite("db", "rb", Seq((9L, "oops")).toDF("id", "name"))
    assert(cat.read("db", "rb").count() === 1) // the bad overwrite
    cat.rollbackTo("db", "rb", s2)
    assert(cat.read("db", "rb").orderBy("id").collect().map(_.getLong(0)).toSeq
      === Seq(1L, 2L))
    assert(cat.snapshots("db", "rb").map(_.id) === Seq(s1, s2))
    // time travel within surviving history still works
    assert(cat.read("db", "rb", snapshotId = Some(s1)).count() === 1)
    // orphan dirs of dropped snapshots are gone; stats pruned with them
    assert(cat.dirStats("db", "rb").keySet === Set("snap-1", "snap-2"))
    // a tag on a newer snapshot blocks rollback until deleted
    cat.append("db", "rb", Seq((4L, "d")).toDF("id", "name"))
    cat.createTag("db", "rb", "keep")
    intercept[IllegalArgumentException](cat.rollbackTo("db", "rb", s2))
    cat.deleteTag("db", "rb", "keep")
    cat.rollbackTo("db", "rb", s2)
    assert(cat.read("db", "rb").count() === 2)
    // rollback-to-tag resolves through the tag registry
    cat.createTag("db", "rb", "base", Some(s1))
    cat.append("db", "rb", Seq((5L, "e")).toDF("id", "name"))
    cat.rollbackToTag("db", "rb", "base")
    assert(cat.read("db", "rb").count() === 1)
  }

  test("split target bytes controls scan parallelism (split-planning analog)") {
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      GraftOptions.withSplitTargetBytes(spark, 16L * 1024)
      val fine = spark.read.parquet(s"$sfDir/lineitem.parquet").rdd.getNumPartitions
      GraftOptions.withSplitTargetBytes(spark, 1L << 30)
      val coarse = spark.read.parquet(s"$sfDir/lineitem.parquet").rdd.getNumPartitions
      assert(fine > coarse, s"fine=$fine coarse=$coarse")
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
      spark.conf.set("spark.sql.files.openCostInBytes", "4194304")
    }
  }

  test("$files answers from zone sidecars: zero recursive listings on a " +
      "sidecar-complete table, counts and bytes match the filesystem") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createSchema("db")
    // partitioned: part-files nest under col=value — the recursive case
    cat.createTable("db", "zf", StructType(Seq(
        StructField("id", LongType), StructField("p", StringType))),
      partitionBy = Seq("p"))
    cat.append("db", "zf",
      (1L to 40L).map(i => (i, s"p${i % 3}")).toDF("id", "p"))
    cat.append("db", "zf",
      (41L to 60L).map(i => (i, s"p${i % 3}")).toDF("id", "p"))
    val before = graft.sources.GraftCatalog.filesTableListings.get()
    val files = cat.filesTable("db", "zf").orderBy("file_dir").collect()
    assert(graft.sources.GraftCatalog.filesTableListings.get() === before,
      "$files recursed into the filesystem despite complete sidecars")
    // ground truth straight from the filesystem
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    files.foreach { r =>
      val d = new org.apache.hadoop.fs.Path(
        cat.dirLocation("db", "zf", r.getString(0)))
      var n = 0
      var b = 0L
      val it = fs.listFiles(d, true)
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.endsWith(".parquet")) { n += 1; b += st.getLen }
      }
      assert(r.getInt(3) === n, s"${r.getString(0)}: n_part_files")
      assert(r.getLong(4) === b, s"${r.getString(0)}: size_bytes")
    }
    // a tombstone dir (no zone stats recorded) takes the counted fallback
    cat.createTable("db", "zd", abSchema, primaryKey = Seq("id"))
    cat.upsert("db", "zd", Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    cat.deleteRowsByKey("db", "zd", Seq(1L).toDF("id"))
    val b2 = graft.sources.GraftCatalog.filesTableListings.get()
    val zd = cat.filesTable("db", "zd").collect()
    assert(zd.forall(_.getLong(4) > 0L))
    assert(graft.sources.GraftCatalog.filesTableListings.get() > b2,
      "tombstone dirs have no sidecar bytes and must take the fallback")
  }

  test("bucketed merge reads keep ONE TASK PER BUCKET — the union of " +
      "single-partition legs must never collapse into one task (r19)") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createSchema("db")
    val d = (1L to 4000L).map(i => (i, s"v$i")).toDF("id", "v")
    cat.createTable("db", "par", d.schema, options = Map("bucket" -> "8"),
      primaryKey = Seq("id"))
    cat.upsert("db", "par", d)
    cat.upsert("db", "par", d.filter($"id" % 10 === 0)
      .withColumn("v", lit("upd")))
    // Spark 4.1's partitioning-aware UnionExec would zip the 8
    // SinglePartition merge legs into ONE partition (one task merging
    // every bucket serially — the 100 TB anti-shape); the catalog turns
    // spark.sql.unionOutputPartitioning off to keep the contract.
    val rdd = cat.read("db", "par").queryExecution.toRdd
    assert(rdd.getNumPartitions === 8,
      s"expected 8 single-bucket merge tasks, got ${rdd.getNumPartitions}")
    assert(cat.read("db", "par").count() === 4000L)
  }
}
