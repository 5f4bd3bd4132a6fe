package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.GraftCatalog

/**
 * Table branches (Paimon's branch feature): a branch is a separate
 * manifest lineage sharing the base's immutable dirs by reference —
 * creation and fast-forward are O(metadata) with ZERO data I/O, the two
 * lineages commit/expire independently, and cross-lineage pinning keeps
 * either side from reclaiming dirs the other still reads.
 */
class BranchSpec extends SparkSpecBase {

  private def fresh(): (GraftCatalog, String) = {
    val wh = Files.createTempDirectory("graft-branch-wh").toString
    val cat = new GraftCatalog(spark, wh)
    cat.createSchema("db")
    (cat, wh)
  }

  private def fs: FileSystem =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)

  private val kvSchema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  private def rows(cat: GraftCatalog, t: String): Seq[(Long, String)] = {
    import spark.implicits._
    cat.read("db", t).as[(Long, String)].collect().sorted.toSeq
  }

  private def kv(r: Range, tag: String) = {
    import spark.implicits._
    r.map(i => (i.toLong, s"$tag$i")).toDF("id", "v")
  }

  test("branch creation is metadata-only; lineages are isolated both ways") {
    val (cat, wh) = fresh()
    cat.createTable("db", "t", kvSchema)
    cat.append("db", "t", kv(0 until 4, "a"))
    cat.append("db", "t", kv(4 until 8, "b"))
    val bytesBefore = fs.getContentSummary(
      new Path(new Path(wh, "db"), "t")).getLength
    cat.createBranch("db", "t", "dev")
    val branchDir = new Path(new Path(new Path(wh, "db"), "t"), ".branch/dev")
    // zero data copied: the branch dir holds ONE small manifest file
    val branchBytes = fs.getContentSummary(branchDir).getLength
    assert(branchBytes < 100 * 1024, s"branch dir is $branchBytes bytes — data was copied?")
    assert(fs.getContentSummary(new Path(new Path(wh, "db"), "t")).getLength
      < bytesBefore + 110 * 1024)
    // branch sees the base image at the branch point
    assert(rows(cat, "t$branch_dev") === rows(cat, "t"))
    // commits diverge: branch write invisible to base, base write invisible to branch
    cat.append("db", "t$branch_dev", kv(100 until 103, "dev"))
    cat.append("db", "t", kv(200 until 202, "main"))
    val devRows = rows(cat, "t$branch_dev")
    val mainRows = rows(cat, "t")
    assert(devRows.map(_._1).toSet === (0L until 8L).toSet ++ (100L until 103L).toSet)
    assert(mainRows.map(_._1).toSet === (0L until 8L).toSet ++ (200L until 202L).toSet)
    // time travel on the branch reaches inherited history
    import spark.implicits._
    assert(cat.read("db", "t$branch_dev", snapshotId = Some(1L))
      .as[(Long, String)].collect().map(_._1).toSet === (0L until 4L).toSet)
    // branch from an earlier snapshot and from a tag
    cat.createTag("db", "t", "v1", Some(1L))
    cat.createBranch("db", "t", "old", fromSnapshotId = Some(1L))
    assert(rows(cat, "t$branch_old").map(_._1).toSet === (0L until 4L).toSet)
    cat.createBranch("db", "t", "tagged", fromTag = Some("v1"))
    assert(rows(cat, "t$branch_tagged") === rows(cat, "t$branch_old"))
    assert(cat.branchNames("db", "t") === Seq("dev", "old", "tagged"))
  }

  test("PK merge-on-read resolves across inherited and branch-local dirs") {
    import spark.implicits._
    val (cat, _) = fresh()
    cat.createTable("db", "p", kvSchema, primaryKey = Seq("id"))
    cat.upsert("db", "p", kv(0 until 5, "v1"))
    cat.upsert("db", "p", Seq((2L, "v2x")).toDF("id", "v"))
    cat.createBranch("db", "p", "fix")
    // branch upsert overrides an inherited key and adds a new one
    cat.upsert("db", "p", Seq((0L, "keep")).toDF("id", "v")) // base moves on
    cat.upsert("db", "p$branch_fix", Seq((2L, "fixed"), (9L, "new")).toDF("id", "v"))
    val branch = rows(cat, "p$branch_fix").toMap
    assert(branch === Map(0L -> "v10", 1L -> "v11", 2L -> "fixed",
      3L -> "v13", 4L -> "v14", 9L -> "new"))
    assert(rows(cat, "p").toMap ===
      Map(0L -> "keep", 1L -> "v11", 2L -> "v2x", 3L -> "v13", 4L -> "v14"))
    // inherited `~/snap-<n>` dirs and branch-local ones read under their
    // own ordinals, through one relation per read group
    assert(cat.headOrdinals("db", "p$branch_fix").map(_._1).count(_.startsWith("~/")) === 2)
    assertDirOrdinals(cat, "db", "p$branch_fix")
    // schema evolution diverges freely on the branch
    cat.addColumn("db", "p$branch_fix", StructField("extra", IntegerType))
    assert(cat.currentSchema("db", "p$branch_fix").fieldNames.toSeq ===
      Seq("id", "v", "extra"))
    assert(cat.currentSchema("db", "p").fieldNames.toSeq === Seq("id", "v"))
    // changelog read spans inherited + local snapshots: latest in-range
    // version per key (upsert kinds), one row per live key
    val cl = cat.readChangelog("db", "p$branch_fix", 0L, 3L)
    assert(cl.select("_row_kind").as[String].collect().toSet === Set("+U"))
    assert(cl.count() === 6L) // keys 0..4 + 9, branch-local 2→"fixed" wins
    assert(cl.filter(col("id") === 2L).select("v").as[String].head() === "fixed")
  }

  test("expiration pins shared dirs in both directions; deleteBranch releases") {
    val (cat, wh) = fresh()
    cat.createTable("db", "e", kvSchema)
    (0 until 4).foreach(i => cat.append("db", "e", kv(i * 2 until i * 2 + 2, s"c$i")))
    cat.createBranch("db", "e", "hold")
    // base compacts (head stops referencing the original dirs) and
    // expires its history — WITHOUT the branch those dirs would be
    // deleted; the live branch pins them on disk
    cat.compact("db", "e")
    val dropped = cat.expireSnapshots("db", "e", keepLast = 1)
    assert(dropped.nonEmpty)
    cat.sweepOrphanDirs("db", "e", graceMillis = 0L)
    assert(rows(cat, "e$branch_hold").map(_._1).toSet === (0L until 8L).toSet)
    assert(rows(cat, "e").map(_._1).toSet === (0L until 8L).toSet)
    // branch expiring ITS history never deletes dirs the base still
    // references (fresh table: base-owned dirs + a branch-local commit)
    val (cat2, _) = fresh()
    cat2.createTable("db", "e2", kvSchema)
    cat2.append("db", "e2", kv(0 until 4, "a"))
    cat2.createBranch("db", "e2", "b2")
    cat2.append("db", "e2$branch_b2", kv(10 until 12, "bb"))
    cat2.compact("db", "e2$branch_b2")
    cat2.expireSnapshots("db", "e2$branch_b2", keepLast = 1)
    cat2.sweepOrphanDirs("db", "e2$branch_b2", graceMillis = 0L)
    assert(rows(cat2, "e2").map(_._1).toSet === (0L until 4L).toSet)
    // deleting the branch releases the pin; the base sweep reclaims
    val baseDir = new Path(new Path(wh, "db"), "e")
    val before = fs.listStatus(baseDir).count(_.getPath.getName.startsWith("snap-"))
    assert(before > 1, "expected pinned dirs besides the compacted head")
    cat.deleteBranch("db", "e", "hold")
    val swept = cat.sweepOrphanDirs("db", "e", graceMillis = 0L)
    assert(swept.nonEmpty, "expected newly-unpinned dirs to be reclaimed")
    val after = fs.listStatus(baseDir).count(_.getPath.getName.startsWith("snap-"))
    assert(after < before)
    assert(rows(cat, "e").map(_._1).toSet === (0L until 8L).toSet)
  }

  test("fastForward adopts branch history atomically; diverged base refuses") {
    val (cat, _) = fresh()
    cat.createTable("db", "f", kvSchema, primaryKey = Seq("id"))
    cat.upsert("db", "f", kv(0 until 4, "a"))
    cat.createBranch("db", "f", "work")
    import spark.implicits._
    cat.upsert("db", "f$branch_work", Seq((1L, "w1")).toDF("id", "v"))
    cat.upsert("db", "f$branch_work", Seq((7L, "w7")).toDF("id", "v"))
    val head = cat.fastForward("db", "f", "work")
    assert(head === 3L)
    assert(rows(cat, "f") === rows(cat, "f$branch_work"))
    assert(rows(cat, "f").toMap ===
      Map(0L -> "a0", 1L -> "w1", 2L -> "a2", 3L -> "a3", 7L -> "w7"))
    // base time travel into adopted history
    assert(cat.read("db", "f", snapshotId = Some(2L))
      .as[(Long, String)].collect().toMap ===
      Map(0L -> "a0", 1L -> "w1", 2L -> "a2", 3L -> "a3"))
    // repeated fast-forward after more branch work
    cat.upsert("db", "f$branch_work", Seq((8L, "w8")).toDF("id", "v"))
    assert(cat.fastForward("db", "f", "work") === 4L)
    assert(rows(cat, "f").toMap.get(8L) === Some("w8"))
    // ff'd dirs are branch-owned: deleting the branch while the base
    // references them refuses
    val ex = intercept[IllegalArgumentException](
      cat.deleteBranch("db", "f", "work"))
    assert(ex.getMessage.contains("fast-forwarded"))
    // once the base compacts and expires the adopted history, delete works
    cat.compact("db", "f")
    cat.expireSnapshots("db", "f", keepLast = 1)
    cat.deleteBranch("db", "f", "work")
    assert(rows(cat, "f").toMap.get(8L) === Some("w8"))
    // a diverged base refuses
    cat.createTable("db", "g", kvSchema)
    cat.append("db", "g", kv(0 until 2, "x"))
    cat.createBranch("db", "g", "b")
    cat.append("db", "g$branch_b", kv(2 until 4, "y"))
    cat.append("db", "g", kv(9 until 10, "z")) // base moves on
    val ex2 = intercept[IllegalStateException](cat.fastForward("db", "g", "b"))
    assert(ex2.getMessage.contains("fast-forward"))
  }

  test("deletion vectors laid over inherited dirs resolve through dirKey") {
    import spark.implicits._
    val (cat, _) = fresh()
    cat.createTable("db", "dv", kvSchema,
      options = Map("deletion-vectors" -> "true"))
    cat.append("db", "dv", kv(0 until 6, "a"))
    cat.createBranch("db", "dv", "del")
    // branch deletes rows that live in an INHERITED file; base unaffected
    cat.deleteWhere("db", "dv$branch_del", col("id") < 2)
    assert(rows(cat, "dv$branch_del").map(_._1).toSet === (2L until 6L).toSet)
    assert(rows(cat, "dv").map(_._1).toSet === (0L until 6L).toSet)
    // second delete evaluates over the DV-applied branch image
    cat.deleteWhere("db", "dv$branch_del", col("id") === 3L)
    assert(rows(cat, "dv$branch_del").map(_._1).toSet === Set(2L, 4L, 5L))
    // metadata-only count subtracts DV rows on the branch
    assert(cat.countRows("db", "dv$branch_del") === Some(3L))
    assert(cat.countRows("db", "dv") === Some(6L))
  }

  test("SQL surface: procedures, branch reads/writes, $branches view") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-branch-sqlwh").toString
    val cat = new GraftCatalog(spark, wh)
    spark.conf.set("spark.sql.catalog.gbh", "graft.sources.GraftSparkCatalog")
    spark.conf.set("spark.sql.catalog.gbh.warehouse", wh)
    spark.sql("CREATE NAMESPACE gbh.db")
    spark.sql("CREATE TABLE gbh.db.s (id BIGINT, v STRING)")
    cat.append("db", "s", kv(0 until 4, "a"))
    cat.append("db", "s", kv(4 until 6, "b"))
    // procedure-managed lifecycle
    spark.sql("CALL gbh.sys.create_branch(table => 'db.s', branch => 'exp', snapshot_id => 1)")
    assert(spark.sql("SELECT count(*) FROM gbh.db.`s$branch_exp`").head().getLong(0) === 4L)
    // SQL INSERT into the branch; base unchanged
    spark.sql("INSERT INTO gbh.db.`s$branch_exp` VALUES (100, 'sql')")
    assert(spark.sql("SELECT count(*) FROM gbh.db.`s$branch_exp`").head().getLong(0) === 5L)
    assert(spark.sql("SELECT count(*) FROM gbh.db.s").head().getLong(0) === 6L)
    // filter pushdown works through a branch scan
    val plan = spark.sql("SELECT v FROM gbh.db.`s$branch_exp` WHERE id >= 2")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"), s"filter not pushed on branch scan:\n$plan")
    // metadata views: `$branches` on the base, `$snapshots` on the branch
    val br = spark.sql("SELECT branch, base_snapshot_id, commits_since_branch " +
      "FROM gbh.db.`s$branches`").collect()
    assert(br.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq(("exp", 1L, 1L)))
    assert(spark.sql("SELECT count(*) FROM gbh.db.`s$branch_exp$snapshots`")
      .head().getLong(0) === 2L)
    // time travel on a branch via SQL
    assert(spark.sql("SELECT count(*) FROM gbh.db.`s$branch_exp` VERSION AS OF 1")
      .head().getLong(0) === 4L)
    // fast-forward refuses (base diverged past the branch point)
    val ex = intercept[Exception](
      spark.sql("CALL gbh.sys.fast_forward(table => 'db.s', branch => 'exp')").collect())
    assert(ex.getMessage.contains("fast-forward"))
    spark.sql("CALL gbh.sys.delete_branch(table => 'db.s', branch => 'exp')")
    assert(cat.branchNames("db", "s").isEmpty)
    // DROP TABLE refuses branch names
    cat.createBranch("db", "s", "keep")
    assert(intercept[Exception](cat.dropTable("db", "s$branch_keep"))
      .getMessage.contains("deleteBranch"))
  }

  test("changelog streaming follows a branch lineage end-to-end") {
    import spark.implicits._
    val (cat, _) = fresh()
    cat.createTable("db", "cs", kvSchema, primaryKey = Seq("id"))
    cat.upsert("db", "cs", kv(0 until 4, "a"))
    cat.createBranch("db", "cs", "live")
    cat.upsert("db", "cs$branch_live", Seq((1L, "upd"), (9L, "new")).toDF("id", "v"))
    cat.upsert("db", "cs", Seq((50L, "base-only")).toDF("id", "v"))
    val seen = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val q = cat.readChangelogStream("db", "cs$branch_live")
      .writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("graft-branch-ckpt").toString)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val rows = b.select("id", GraftCatalog.RowKindCol).collect()
          .map(r => (r.getLong(0), r.getString(1)))
        seen.synchronized { seen ++= rows }; ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val ids = seen.synchronized(seen.toSeq).map(_._1).toSet
    // the stream serves the branch lineage: inherited history + branch
    // commits, never the base's post-fork commit
    assert(ids === Set(0L, 1L, 2L, 3L, 9L))
  }

  test("bucketed and dynamic-bucket tables branch: layout served across lineages") {
    import spark.implicits._
    val (cat, _) = fresh()
    // fixed-bucket PK table: the branch's merge legs span inherited
    // (`~/`-referenced) and branch-local `__bucket=k` dirs
    cat.createTable("db", "bk", kvSchema, primaryKey = Seq("id"),
      options = Map("bucket" -> "4"))
    cat.upsert("db", "bk", kv(0 until 40, "a"))
    cat.createBranch("db", "bk", "dev")
    cat.upsert("db", "bk$branch_dev", Seq((7L, "DEV")).toDF("id", "v"))
    cat.upsert("db", "bk", Seq((7L, "BASE"), (100L, "b100")).toDF("id", "v"))
    assert(rows(cat, "bk$branch_dev").toMap ===
      (0L until 40L).map(i => i -> s"a$i").toMap + (7L -> "DEV"))
    val base = rows(cat, "bk").toMap
    assert(base(7L) === "BASE" && base(100L) === "b100")
    // dynamic-bucket table: the persisted hash index inherits by
    // reference; each lineage then routes and grows it independently
    val (cat2, _) = fresh()
    cat2.createTable("db", "dyn", kvSchema, primaryKey = Seq("id"),
      options = Map("bucket" -> "-1", "dynamic-bucket.target-row-num" -> "8"))
    cat2.upsert("db", "dyn", kv(0 until 12, "a"))
    cat2.createBranch("db", "dyn", "d2")
    // inherited keys resolve to the same recorded bucket on both lineages
    (0L until 12L).foreach { k =>
      assert(cat2.dynamicBucketFor("db", "dyn$branch_d2", Seq(k)) ===
        cat2.dynamicBucketFor("db", "dyn", Seq(k)))
    }
    cat2.upsert("db", "dyn$branch_d2", kv(100 until 106, "br"))
    cat2.upsert("db", "dyn", kv(200 until 203, "ba"))
    assert(rows(cat2, "dyn$branch_d2").map(_._1).toSet ===
      ((0L until 12L) ++ (100L until 106L)).toSet)
    assert(rows(cat2, "dyn").map(_._1).toSet ===
      ((0L until 12L) ++ (200L until 203L)).toSet)
    // post-divergence: inherited keys still bucket identically
    assert(cat2.dynamicBucketFor("db", "dyn$branch_d2", Seq(3L)) ===
      cat2.dynamicBucketFor("db", "dyn", Seq(3L)))
  }

  test("base rollback below the branch point leaves branch-pinned dirs on disk") {
    val (cat, _) = fresh()
    cat.createTable("db", "rb", kvSchema)
    cat.append("db", "rb", kv(0 until 3, "a"))
    cat.append("db", "rb", kv(3 until 6, "b"))
    val firstId = cat.snapshots("db", "rb").map(_.id).min
    cat.createBranch("db", "rb", "keep") // branch at the two-commit head
    cat.append("db", "rb", kv(6 until 9, "c")) // base-only commit
    cat.rollbackTo("db", "rb", firstId) // drops commits 2 and 3 on the base
    // commit 2's dir is pinned by the branch — rollback and the orphan
    // sweep must both leave it on disk
    assert(rows(cat, "rb").map(_._1).toSet === (0L until 3L).toSet)
    assert(rows(cat, "rb$branch_keep").map(_._1).toSet === (0L until 6L).toSet)
    cat.sweepOrphanDirs("db", "rb", graceMillis = 0L)
    assert(rows(cat, "rb$branch_keep").map(_._1).toSet === (0L until 6L).toSet)
  }

  test("refusal matrix") {
    val (cat, _) = fresh()
    cat.createTable("db", "r", kvSchema)
    cat.append("db", "r", kv(0 until 2, "a"))
    cat.createBranch("db", "r", "one")
    // branch of a branch
    assert(intercept[IllegalArgumentException](
      cat.createBranch("db", "r$branch_one", "two"))
      .getMessage.contains("one level"))
    // duplicate name
    assert(intercept[IllegalArgumentException](
      cat.createBranch("db", "r", "one")).getMessage.contains("exists"))
    // bad branch name
    assert(intercept[IllegalArgumentException](
      cat.createBranch("db", "r", "a/b")).getMessage.contains("branch name"))
    // nonexistent branch-point snapshot
    assert(intercept[IllegalArgumentException](
      cat.createBranch("db", "r", "x", fromSnapshotId = Some(99L)))
      .getMessage.contains("no snapshot"))
    // '$' reserved in createTable
    assert(intercept[IllegalArgumentException](
      cat.createTable("db", "bad$branch_x", kvSchema))
      .getMessage.contains("reserved"))
    // fastForward/deleteBranch target the base
    assert(intercept[IllegalArgumentException](
      cat.fastForward("db", "r$branch_one", "one"))
      .getMessage.contains("base table"))
    assert(intercept[IllegalArgumentException](
      cat.deleteBranch("db", "r", "missing"))
      .getMessage.contains("no branch"))
  }
}
