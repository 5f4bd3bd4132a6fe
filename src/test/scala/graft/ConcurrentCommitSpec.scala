package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.sources.GraftCatalog

/**
 * Optimistic concurrent commits (Paimon's commit protocol): additive
 * commits — appends, upserts, CDC merge batches — detect a concurrent
 * writer via the manifest CAS, rebase onto the new head, and retry;
 * commits whose content was derived from the old head — compaction,
 * overwrite, row-level deletes — abort with the conflict instead of
 * silently dropping the other writer's snapshot. The deterministic
 * interleavings use the catalog's commitTestHook seam (runs between the
 * data write and the manifest CAS) and basisTestHook seam (runs at
 * commit entry, after a derived-content commit planned its content).
 */
class ConcurrentCommitSpec extends SparkSpecBase {

  private lazy val warehouse = Files.createTempDirectory("graft-ccwh").toString
  private lazy val gc: GraftCatalog = new GraftCatalog(spark, warehouse)
  // second writer on the SAME warehouse — its own manifest reads, as two
  // drivers would have
  private lazy val other: GraftCatalog = new GraftCatalog(spark, warehouse)

  override def beforeAll(): Unit = {
    super.beforeAll()
    gc.createSchema("db")
  }

  private def rows(lo: Long, hi: Long) =
    spark.range(lo, hi + 1).selectExpr("id", "concat('n', id) AS v")

  /** Run `op` with a one-shot concurrent commit injected between its data
    * write and its manifest CAS. */
  private def withConflict[A](inject: => Unit)(op: => A): A = {
    var fired = false
    gc.commitTestHook = () => if (!fired) { fired = true; inject }
    try op finally gc.commitTestHook = () => ()
  }

  test("concurrent appends both land: loser rebases and retries") {
    gc.createTable("db", "ta", rows(0, 0).schema)
    gc.append("db", "ta", rows(1, 10).toDF())
    val id = withConflict { other.append("db", "ta", rows(11, 20).toDF()) } {
      gc.append("db", "ta", rows(21, 30).toDF())
    }
    // the injected commit took snapshot 2; ours rebased to 3
    assert(id === 3)
    val snaps = gc.snapshots("db", "ta")
    assert(snaps.map(_.id) === Seq(1L, 2L, 3L))
    assert(gc.read("db", "ta").count() === 30)
    assert(gc.read("db", "ta").agg(sum("id")).head.getLong(0) === (1L to 30L).sum)
    // zone maps followed the rebased dir name
    assert(gc.dirStats("db", "ta").keySet === Set("snap-1", "snap-2", "snap-3"))
    assert(gc.countRows("db", "ta") === Some(30L))
  }

  test("concurrent upserts rebase with latest-wins intact") {
    gc.createTable("db", "tu", rows(0, 0).schema, primaryKey = Seq("id"))
    gc.upsert("db", "tu", rows(1, 10).toDF())
    // our upsert of id=5 starts first but lands SECOND (rebased) — its
    // later ordinal must win over the injected writer's version
    withConflict {
      other.upsert("db", "tu",
        rows(5, 5).withColumn("v", lit("theirs")).toDF())
    } {
      gc.upsert("db", "tu", rows(5, 5).withColumn("v", lit("ours")).toDF())
    }
    val img = gc.read("db", "tu").filter(col("id") === 5).collect()
    assert(img.length === 1 && img.head.getString(1) === "ours")
    assert(gc.read("db", "tu").count() === 10)
  }

  test("update aborts when a concurrent upsert of its key lands between " +
      "its read and its commit; the upsert survives") {
    gc.createTable("db", "tup", rows(0, 0).schema, primaryKey = Seq("id"))
    gc.upsert("db", "tup", rows(1, 10).toDF())
    def v5 = gc.read("db", "tup").filter(col("id") === 5).collect()
      .map(_.getString(1)).toSeq
    val bump = Map("v" -> concat(col("v"), lit("+u")))
    // the upsert lands after update read id=5's image and before its
    // commit: landing the updated stale image would silently revert it
    var fired = false
    gc.basisTestHook = () => if (!fired) {
      fired = true
      other.upsert("db", "tup", rows(5, 5).withColumn("v", lit("theirs")).toDF())
    }
    try {
      val e = intercept[java.util.ConcurrentModificationException](
        gc.update("db", "tup", col("id") === 5, bump))
      assert(e.getMessage.contains("concurrent"), e.getMessage)
    } finally gc.basisTestHook = () => ()
    assert(v5 === Seq("theirs"))
    // re-run against the new head: the update applies on top of it
    gc.update("db", "tup", col("id") === 5, bump)
    assert(v5 === Seq("theirs+u"))
    assert(gc.read("db", "tup").count() === 10)
  }

  test("sequence.field mergeCommit aborts when a concurrent upsert of its " +
      "deleted key lands between its tombstone fetch and its commit") {
    import spark.implicits._
    def seqRows(ids: Seq[Long], v: String, seq: Long) =
      ids.map(i => (i, v, seq)).toDF("id", "v", "seq")
    gc.createTable("db", "tms", seqRows(Seq(0L), "", 0L).schema,
      options = Map("sequence.field" -> "seq"), primaryKey = Seq("id"))
    gc.upsert("db", "tms", seqRows(1L to 10L, "old", 1L))
    def v5 = gc.read("db", "tms").filter(col("id") === 5).collect()
      .map(_.getString(1)).toSeq
    // the upsert (sequence 2) lands after the merge fetched key 5's
    // tombstone sequence (1) from the image: landing the tombstone would
    // lose the version race, so the acknowledged delete would not apply
    var fired = false
    gc.basisTestHook = () => if (!fired) {
      fired = true
      other.upsert("db", "tms", seqRows(Seq(5L), "theirs", 2L))
    }
    try {
      val e = intercept[java.util.ConcurrentModificationException](
        gc.mergeCommit("db", "tms", seqRows(Seq(20L), "new", 1L),
          Seq(5L).toDF("id")))
      assert(e.getMessage.contains("concurrent"), e.getMessage)
    } finally gc.basisTestHook = () => ()
    assert(v5 === Seq("theirs"))
    assert(gc.read("db", "tms").count() === 10)
    // re-run against the new head: the tombstone carries sequence 2
    gc.mergeCommit("db", "tms", seqRows(Seq(20L), "new", 1L), Seq(5L).toDF("id"))
    assert(v5.isEmpty)
    assert(gc.read("db", "tms").select("id").as[Long].collect().sorted.toSeq ===
      ((1L to 10L).filter(_ != 5L) :+ 20L))
  }

  test("concurrent append during compaction aborts the compaction") {
    gc.createTable("db", "tc", rows(0, 0).schema)
    gc.append("db", "tc", rows(1, 10).toDF())
    gc.append("db", "tc", rows(11, 20).toDF())
    val e = intercept[java.util.ConcurrentModificationException] {
      withConflict { other.append("db", "tc", rows(21, 30).toDF()) } {
        gc.compact("db", "tc")
      }
    }
    assert(e.getMessage.contains("concurrent"))
    // the concurrent append survived; the aborted compaction lost nothing
    assert(gc.read("db", "tc").count() === 30)
    assert(gc.snapshots("db", "tc").map(_.id) === Seq(1L, 2L, 3L))
    // re-running the compaction against the new head succeeds
    gc.compact("db", "tc")
    assert(gc.read("db", "tc").count() === 30)
  }

  test("concurrent append during overwrite and delete aborts them") {
    gc.createTable("db", "to", rows(0, 0).schema, primaryKey = Seq("id"))
    gc.upsert("db", "to", rows(1, 10).toDF())
    intercept[java.util.ConcurrentModificationException] {
      withConflict { other.upsert("db", "to", rows(11, 12).toDF()) } {
        gc.overwrite("db", "to", rows(1, 3).toDF())
      }
    }
    assert(gc.read("db", "to").count() === 12)
    intercept[java.util.ConcurrentModificationException] {
      withConflict { other.upsert("db", "to", rows(13, 14).toDF()) } {
        gc.deleteWhere("db", "to", col("id") <= 5)
      }
    }
    assert(gc.read("db", "to").count() === 14)
  }

  test("DV delete aborts when a concurrent compact retires its victim files") {
    gc.createTable("db", "tdv", rows(0, 0).schema,
      options = Map("deletion-vectors" -> "true"))
    gc.append("db", "tdv", rows(1, 10).toDF())
    gc.append("db", "tdv", rows(11, 20).toDF())
    // the compact lands AFTER the delete derived its (file, pos) victims
    // but BEFORE its commit — the victims name files the compact retires,
    // so landing them would silently lose the delete (rows resurrect)
    gc.basisTestHook = () => { other.compact("db", "tdv"); () }
    try {
      val e = intercept[java.util.ConcurrentModificationException] {
        gc.deleteWhere("db", "tdv", col("id") <= 5)
      }
      assert(e.getMessage.contains("derived"))
    } finally gc.basisTestHook = () => ()
    // nothing was lost or half-applied: full image intact, count exact
    assert(gc.read("db", "tdv").count() === 20)
    assert(gc.countRows("db", "tdv") === Some(20L))
    // re-running against the new head succeeds and deletes exactly 5 rows
    gc.deleteWhere("db", "tdv", col("id") <= 5)
    assert(gc.read("db", "tdv").count() === 15)
    assert(gc.countRows("db", "tdv") === Some(15L))
  }

  test("sortCompact aborts, not deletes, when its target dir is claimed") {
    gc.createTable("db", "tsc", rows(0, 0).schema)
    gc.append("db", "tsc", rows(1, 100).toDF())
    // simulate a concurrent sortCompact that already claimed snap-2-r0
    val claimed = new java.io.File(s"$warehouse/db/tsc/snap-2-r0")
    assert(claimed.mkdirs())
    val marker = new java.io.File(claimed, "winner-marker")
    assert(marker.createNewFile())
    val e = intercept[java.util.ConcurrentModificationException] {
      gc.sortCompact("db", "tsc", Seq("id"), ranges = 4)
    }
    assert(e.getMessage.contains("claimed"))
    // the loser must NOT have deleted the winner's dir or its contents
    assert(marker.exists(), "concurrent claimant's dir was clobbered")
    // table is untouched by the aborted attempt
    assert(gc.read("db", "tsc").count() === 100)
    // clear the fake claim; the re-run lands normally
    assert(marker.delete() && claimed.delete())
    gc.sortCompact("db", "tsc", Seq("id"), ranges = 4)
    assert(gc.read("db", "tsc").count() === 100)
  }

  test("compact aborts when an append lands while it plans; the append " +
      "survives") {
    gc.createTable("db", "tcr", rows(0, 0).schema)
    gc.append("db", "tcr", rows(1, 10).toDF())
    gc.append("db", "tcr", rows(11, 20).toDF())
    // the append lands after compact resolved its image and before its
    // commit reads the manifest: the image misses it, so landing the
    // compaction would silently drop an acknowledged append
    var fired = false
    gc.basisTestHook = () => if (!fired) {
      fired = true
      other.append("db", "tcr", rows(21, 30).toDF())
    }
    try {
      val e = intercept[java.util.ConcurrentModificationException](
        gc.compact("db", "tcr"))
      assert(e.getMessage.contains("concurrent"), e.getMessage)
    } finally gc.basisTestHook = () => ()
    assert(gc.read("db", "tcr").count() === 30)
    assert(gc.snapshots("db", "tcr").map(_.id) === Seq(1L, 2L, 3L))
    gc.compact("db", "tcr")
    assert(gc.read("db", "tcr").count() === 30)
  }

  test("a basis commit losing a dir claim at an unchanged head aborts " +
      "naming the dir, and never deletes it") {
    gc.createTable("db", "tlo", rows(0, 0).schema)
    gc.append("db", "tlo", rows(1, 10).toDF())
    // a dead writer's leftover sits at the next ordinal
    val leftover = new java.io.File(s"$warehouse/db/tlo/snap-2")
    assert(leftover.mkdirs())
    val marker = new java.io.File(leftover, "leftover-marker")
    assert(marker.createNewFile())
    val e = intercept[java.util.ConcurrentModificationException](
      gc.overwrite("db", "tlo", rows(1, 3).toDF()))
    assert(e.getMessage.contains("snap-2 is claimed"), e.getMessage)
    assert(marker.exists(), "the claimant's dir was clobbered")
    assert(gc.snapshots("db", "tlo").map(_.id) === Seq(1L))
    assert(gc.read("db", "tlo").count() === 10)
    assert(marker.delete() && leftover.delete())
    gc.overwrite("db", "tlo", rows(1, 3).toDF())
    assert(gc.read("db", "tlo").count() === 3)
  }

  test("non-exclusive rename fails loudly via the claim marker") {
    // Simulate an object-store-class filesystem whose rename does not
    // fail-if-exists: a foreign dir appears at the claim target inside
    // the exists-check→rename window, so the local rename NESTS the
    // staging dir into it. The claim-marker verification must turn that
    // silent interleave into a loud IllegalStateException naming the FS
    // contract.
    gc.createTable("db", "tmk", rows(0, 0).schema)
    gc.append("db", "tmk", rows(1, 10).toDF()) // snap-1
    var fired = false
    gc.claimTestHook = () => if (!fired) {
      fired = true
      // On a copy+delete store the rename call can "succeed" while the
      // landed target does not carry the content this commit staged (a
      // concurrent writer's copy interleaved). Simulate by stripping the
      // staged claim marker inside the claim window — ownership
      // verification at the target must then fail.
      new java.io.File(s"$warehouse/db/tmk").listFiles()
        .filter(_.getName.startsWith(".staging-"))
        .foreach(d => new java.io.File(d, ".claim").delete())
    }
    try {
      val e = intercept[IllegalStateException](
        gc.append("db", "tmk", rows(11, 20).toDF()))
      assert(e.getMessage.contains("not atomic"), e.getMessage)
      // nothing was silently committed: no snapshot landed past snap-1
      assert(gc.snapshots("db", "tmk").map(_.id).max === 1L)
      assert(gc.read("db", "tmk").count() === 10L)
    } finally gc.claimTestHook = () => ()
  }

  test("sweepOrphanDirs reclaims unreferenced snap dirs, keeps live ones") {
    gc.createTable("db", "tsw", rows(0, 0).schema)
    gc.append("db", "tsw", rows(1, 10).toDF())
    // a claimed-but-never-landed attempt: full data dir, no manifest entry
    val orphan = new java.io.File(s"$warehouse/db/tsw/snap-99")
    assert(orphan.mkdirs())
    assert(new java.io.File(orphan, "part-dead.parquet").createNewFile())
    // a dead staging dir from a crashed writer
    val staging = new java.io.File(s"$warehouse/db/tsw/.staging-dead")
    assert(staging.mkdirs())
    // within the grace window nothing is touched (could be in-flight)
    assert(gc.sweepOrphanDirs("db", "tsw", graceMillis = 3600000L) === Seq.empty)
    assert(orphan.exists() && staging.exists())
    Thread.sleep(20) // entries must be strictly older than the cutoff
    val swept = gc.sweepOrphanDirs("db", "tsw", graceMillis = 0L)
    assert(swept.toSet === Set("snap-99", ".staging-dead"))
    assert(!orphan.exists() && !staging.exists())
    // the referenced dir survived and the table still reads
    assert(gc.read("db", "tsw").count() === 10)
  }

  /** Run one writer body per thread, join all, and RETHROW the first
    * background failure: a commit protocol test must distinguish a loud
    * commit failure (writer threw) from silent loss (writer "succeeded"
    * but its snapshot is missing) — a bare Thread swallows the former. */
  private def raceWriters(bodies: Seq[() => Unit]): Unit = {
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = bodies.map { b =>
      new Thread(() => try b() catch { case t: Throwable => errs.add(t) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    if (!errs.isEmpty) throw new AssertionError(
      s"${errs.size} writer(s) failed loudly; first:", errs.peek())
  }

  test("many writers: every append lands exactly once") {
    gc.createTable("db", "tm", rows(0, 0).schema)
    // real (non-injected) concurrency: 8 threads, one append each
    raceWriters((1 to 8).map { i => () =>
      val cat = new GraftCatalog(spark, warehouse)
      cat.append("db", "tm", rows(i * 100L, i * 100L + 9).toDF())
      ()
    })
    // every writer landed exactly once; ids are unique and strictly
    // increasing in commit order — contested claims may BURN ordinals
    // (claim order and CAS order can invert), so ids need not be
    // contiguous, and nothing requires them to be
    val ids = gc.snapshots("db", "tm").map(_.id)
    assert(ids.length === 8 && ids === ids.sorted && ids.distinct.length === 8,
      s"snapshot ids $ids")
    assert(gc.read("db", "tm").count() === 80)
    assert(gc.read("db", "tm").agg(sum("id")).head.getLong(0) ===
      (1 to 8).map(i => (i * 100L until i * 100L + 10).sum).sum)
    assert(gc.countRows("db", "tm") === Some(80L))
  }

  /** The one-winner-per-key primitive an object store's If-None-Match
    * put gives, with DELETE modeled (abandoned claims release their key
    * — the protocol's ordinal-reclaim path depends on it). */
  private def newMockStore() = new graft.sources.ConditionalPutStore {
    private val keys = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    override def putIfAbsent(key: String, value: Array[Byte]): Boolean =
      keys.add(key)
    override def delete(key: String): Unit = { keys.remove(key); () }
  }

  /** One 8-writer conditional-put commit storm against a fresh table;
    * asserts exactly-once landing and exact content. */
  private def condPutStorm(table: String): Unit = {
    val store = newMockStore()
    gc.createTable("db", table, rows(0, 0).schema)
    raceWriters((1 to 8).map { i => () =>
      val cat = new GraftCatalog(spark, warehouse)
      cat.commitLockImpl = new graft.sources.ConditionalPutCommitLock(store)
      cat.append("db", table, rows(i * 100L, i * 100L + 9).toDF())
      ()
    })
    val ids = gc.snapshots("db", table).map(_.id)
    assert(ids.length === 8 && ids === ids.sorted && ids.distinct.length === 8,
      s"snapshot ids $ids")
    assert(gc.read("db", table).count() === 80)
    assert(gc.read("db", table).agg(sum("id")).head.getLong(0) ===
      (1 to 8).map(i => (i * 100L until i * 100L + 10).sum).sum)
  }

  test("conditional-put commit lock: object-store races land exactly once") {
    // S3-class path: exclusivity comes from the store's put-if-absent,
    // NOT from rename (ConditionalPutCommitLock takes no JVM lock and
    // does a plain, non-exclusive move after winning the CAS).
    condPutStorm("tcas")
  }

  test("soak: repeated commit storms land exactly once, every round") {
    // The race tests are the suite's only timing-dependent paths (the
    // crash-injection tests below fire deterministic hook seams), so the
    // soak repeats exactly them: 20 conditional-put storms + 5
    // rename-based storms, 8 writers each, fresh table per round. Each
    // rename round also races one compact() loop against the appends —
    // a compaction that planned before an append landed must abort, not
    // drop it. One lost snapshot or append in any round fails loudly
    // with the round number.
    (1 to 20).foreach { r =>
      withClue(s"conditional-put soak round $r: ") { condPutStorm(s"tsoakc$r") }
    }
    (1 to 5).foreach { r =>
      withClue(s"rename soak round $r: ") {
        val t = s"tsoakr$r"
        gc.createTable("db", t, rows(0, 0).schema)
        val appending = new java.util.concurrent.CountDownLatch(8)
        raceWriters((1 to 8).map { i => () =>
          try new GraftCatalog(spark, warehouse)
            .append("db", t, rows(i * 100L, i * 100L + 9).toDF())
          finally appending.countDown()
          ()
        } :+ { () =>
          val cat = new GraftCatalog(spark, warehouse)
          while (appending.getCount > 0)
            try cat.compact("db", t)
            catch { case _: java.util.ConcurrentModificationException => () }
        })
        val ids = gc.snapshots("db", t).map(_.id)
        val appends = gc.snapshotsTable("db", t)
          .filter(col("commit_kind") === "append").count()
        assert(appends === 8 && ids.distinct.length === ids.length, s"ids $ids")
        assert(gc.read("db", t).count() === 80)
        assert(gc.read("db", t).agg(sum("id")).head.getLong(0) ===
          (1 to 8).map(i => (i * 100L until i * 100L + 10).sum).sum)
      }
    }
  }

  test("conditional-put dead winner (move fails after CAS win) fails loudly") {
    val lock = new graft.sources.ConditionalPutCommitLock(
      (_: String, _: Array[Byte]) => true) // CAS always won
    val conf = new org.apache.hadoop.conf.Configuration()
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(conf)
    val fc = org.apache.hadoop.fs.FileContext.getLocalFSFileContext(conf)
    // src does not exist -> local rename returns false (no throw); the
    // claim is held but no content landed: must raise, not report success
    val e = intercept[IllegalStateException] {
      lock.publishIfAbsent(fs,
        fc,
        new org.apache.hadoop.fs.Path(warehouse, "no-such-staging"),
        new org.apache.hadoop.fs.Path(warehouse, "no-such-target"))
    }
    assert(e.getMessage.contains("dead-winner"))
  }

  test("conditional-put: a failed move with a PARTIAL dst is not success") {
    // On copy+delete stores a rename can die midway leaving partial
    // content at dst. A dst existing after a FAILED move must never be
    // blessed as published — the bytes there are torn.
    val lock = new graft.sources.ConditionalPutCommitLock(
      (_: String, _: Array[Byte]) => true)
    val conf = new org.apache.hadoop.conf.Configuration()
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(conf)
    val fc = org.apache.hadoop.fs.FileContext.getLocalFSFileContext(conf)
    val dst = new java.io.File(s"$warehouse/partial-dst")
    assert(dst.mkdirs()) // a partial copy from a dead prior attempt
    assert(new java.io.File(dst, "half-copied.parquet").createNewFile())
    val e = intercept[IllegalStateException] {
      lock.publishIfAbsent(fs, fc,
        new org.apache.hadoop.fs.Path(warehouse, "no-such-staging-2"),
        new org.apache.hadoop.fs.Path(dst.getPath))
    }
    assert(e.getMessage.contains("partial"), e.getMessage)
  }

  test("conditional-put winner killed between CAS and move: clean recovery") {
    // The watch item from round 9: the winner dies BETWEEN the
    // conditional put and the move. The claim key is held, no content
    // sits at the target. A subsequent reader must see the pre-crash
    // state untorn; a subsequent writer must land (skipping the dead
    // ordinal); the dead staging dir is sweepable.
    val store = new graft.sources.ConditionalPutStore {
      private val keys = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      override def putIfAbsent(key: String, value: Array[Byte]): Boolean =
        keys.add(key)
    }
    gc.createTable("db", "tkw", rows(0, 0).schema)
    val cat = new GraftCatalog(spark, warehouse)
    cat.commitLockImpl = new graft.sources.ConditionalPutCommitLock(store)
    cat.append("db", "tkw", rows(1, 10).toDF()) // snap-1, healthy
    // kill the next writer inside the CAS-won window, before the move
    var fired = false
    cat.claimTestHook = () => if (!fired) {
      fired = true
      throw new RuntimeException("simulated crash between put and move")
    }
    val e = intercept[RuntimeException] {
      cat.append("db", "tkw", rows(11, 20).toDF())
    }
    assert(e.getMessage.contains("simulated crash"))
    cat.claimTestHook = () => ()
    // READER: pre-crash state, no torn content — snap-2 never landed
    assert(gc.snapshots("db", "tkw").map(_.id) === Seq(1L))
    assert(gc.read("db", "tkw").count() === 10)
    assert(!new java.io.File(s"$warehouse/db/tkw/snap-2").exists(),
      "dead winner must leave NO content at the claimed target")
    // WRITER: the dead claim key (snap-2) is skipped; the commit lands
    // at the next free ordinal through the same store
    val cat2 = new GraftCatalog(spark, warehouse)
    cat2.commitLockImpl = new graft.sources.ConditionalPutCommitLock(store)
    val landed = cat2.append("db", "tkw", rows(21, 30).toDF())
    assert(landed === 3L, s"expected recovery at snap-3, got snap-$landed")
    assert(gc.read("db", "tkw").count() === 20)
    assert(gc.read("db", "tkw").agg(sum("id")).head.getLong(0) ===
      (1L to 10L).sum + (21L to 30L).sum)
    // the crashed attempt's staging dir is an orphan; sweep reclaims it
    Thread.sleep(20)
    val swept = gc.sweepOrphanDirs("db", "tkw", graceMillis = 0L)
    assert(swept.exists(_.startsWith(".staging-")),
      s"dead staging dir not reclaimed, swept=$swept")
    assert(gc.read("db", "tkw").count() === 20)
  }

  // ---- r17: crash injection across the COMPOSED r14–r16 feature
  // matrix. Each feature's single-crash recovery is covered above; these
  // kill a writer between the PAIRED steps two features share and assert
  // every recovery path (readable table, converging re-run, orphan
  // sweep). ----

  /** Kill the n-th commit of `op` (commitTestHook fires after the data
    * write, before any dir claim / manifest CAS). */
  private def killNthCommit[A](n: Int)(op: => A): Throwable = {
    var fired = 0
    gc.commitTestHook = () => {
      fired += 1
      if (fired == n) throw new RuntimeException(s"simulated crash at commit $n")
    }
    try intercept[RuntimeException](op)
    finally gc.commitTestHook = () => ()
  }

  test("crash between compactBucketsDv's paired commits (DV build landed, " +
      "fold did not): readable, re-run converges, orphans sweep") {
    gc.createTable("db", "cbx", rows(0, 0).schema,
      options = Map("bucket" -> "2", "deletion-vectors" -> "true"),
      primaryKey = Seq("id"))
    gc.upsert("db", "cbx", rows(1, 100).toDF())
    gc.deleteWhere("db", "cbx", col("id") % 5 === 0)
    gc.buildDeletionVectors("db", "cbx")
    gc.upsert("db", "cbx", rows(50, 60).toDF()
      .withColumn("v", concat(lit("u"), col("id")))) // post-build delta
    def img() = gc.read("db", "cbx").orderBy("id").collect().toSeq
    val want = img()
    // inside compactBuckets: commit 1 = the incremental DV build
    // (covers the delta), commit 2 = the bucket fold — kill the fold
    val e = killNthCommit(2)(gc.compactBuckets("db", "cbx", Seq(0, 1)))
    assert(e.getMessage.contains("commit 2"))
    // build landed, fold didn't: state readable and EXACT either way
    assert(img() === want)
    assert(!gc.snapshotFileEntries("db", "cbx").exists(_.kind == "delete"),
      "the landed build must have retired the tombstone dirs")
    // re-run converges: build no-ops, the fold lands
    gc.compactBuckets("db", "cbx", Seq(0, 1))
    assert(img() === want)
    val post = gc.read("db", "cbx")
    assert(!post.queryExecution.executedPlan.toString.contains("Window"),
      "re-covered fold must read merge-free")
    val swept = gc.sweepOrphanDirs("db", "cbx", graceMillis = 0L)
    assert(swept.exists(_.startsWith(".staging-")),
      s"dead fold staging dir not reclaimed, swept=$swept")
    assert(img() === want)
  }

  test("crash between a changelog-producer carrier write and its commit: " +
      "coverage has no hole, the replay re-materializes the carrier") {
    gc.createTable("db", "clx", rows(0, 0).schema,
      options = Map("changelog-producer" -> "lookup"),
      primaryKey = Seq("id"))
    gc.upsert("db", "clx", rows(1, 20).toDF()) // snap-1 + carrier
    // the doomed upsert stages BOTH its data dir and its -cl carrier,
    // then dies before any claim — neither must become visible
    killNthCommit(1)(gc.upsert("db", "clx", rows(10, 30).toDF()
      .withColumn("v", concat(lit("u"), col("id")))))
    assert(gc.snapshots("db", "clx").map(_.id) === Seq(1L))
    assert(gc.read("db", "clx").count() === 20)
    // the producer index has no dangling coverage: the served range is
    // exactly snap-1's carrier, still join-free
    val served = gc.readChangelogFull("db", "clx", 0, 1)
    assert(!served.queryExecution.executedPlan.toString.contains("Join"))
    assert(served.count() === 20)
    // replay lands WITH its carrier; the whole range stays file-served
    gc.upsert("db", "clx", rows(10, 30).toDF()
      .withColumn("v", concat(lit("u"), col("id"))))
    val all = gc.readChangelogFull("db", "clx", 0, 2)
    assert(!all.queryExecution.executedPlan.toString.contains("Join"),
      "a coverage hole from the crashed carrier would force the resolve join")
    assert(gc.read("db", "clx").count() === 30)
    val swept = gc.sweepOrphanDirs("db", "clx", graceMillis = 0L)
    assert(swept.count(_.startsWith(".staging-")) >= 2,
      s"data + carrier staging dirs must both sweep, got $swept")
    assert(gc.read("db", "clx").count() === 30)
  }

  test("crash before a dynamic-bucket commit lands its .dbidx delta: " +
      "routing stays sticky, replay assigns without duplicates") {
    gc.createTable("db", "dbx", rows(0, 0).schema,
      options = Map("bucket" -> "-1", "dynamic-bucket.target-row-num" -> "20"),
      primaryKey = Seq("id"))
    gc.upsert("db", "dbx", rows(1, 50).toDF())
    killNthCommit(1)(gc.upsert("db", "dbx", rows(25, 75).toDF()
      .withColumn("v", concat(lit("u"), col("id")))))
    // the dead delta's index rows were never referenced
    assert(gc.read("db", "dbx").count() === 50)
    assert(gc.read("db", "dbx").filter(col("v").startsWith("u")).count() === 0)
    // replay: existing keys keep their ORIGINAL buckets (sticky), new
    // keys get assigned — no key may split across buckets
    gc.upsert("db", "dbx", rows(25, 75).toDF()
      .withColumn("v", concat(lit("u"), col("id"))))
    val df = gc.read("db", "dbx")
    assert(df.count() === 75)
    assert(df.select("id").distinct().count() === 75, "a key split across buckets")
    assert(df.filter(col("id") === 30).select("v").head.getString(0) === "u30")
    // one more sticky round-trip on a key from the crashed batch
    gc.upsert("db", "dbx", rows(30, 30).toDF().withColumn("v", lit("z")))
    assert(gc.read("db", "dbx").filter(col("id") === 30).count() === 1)
    assert(gc.read("db", "dbx").filter(col("id") === 30)
      .select("v").head.getString(0) === "z")
  }

  test("crash during a branch fast-forward's manifest publish: base " +
      "untouched, branch intact, re-run adopts") {
    val cat = new GraftCatalog(spark, warehouse)
    cat.createTable("db", "ffx", rows(0, 0).schema, primaryKey = Seq("id"))
    cat.upsert("db", "ffx", rows(1, 20).toDF())
    cat.createBranch("db", "ffx", "work")
    cat.upsert("db", "ffx$branch_work", rows(21, 40).toDF())
    cat.upsert("db", "ffx$branch_work", rows(41, 50).toDF())
    // fail the next manifest publish exactly once — the fast-forward's
    // only mutation of the base lineage
    val real = cat.commitLockImpl
    cat.commitLockImpl = new graft.sources.CommitLock {
      private var fired = false
      override def publishIfAbsent(fs: org.apache.hadoop.fs.FileSystem,
          fc: org.apache.hadoop.fs.FileContext, src: org.apache.hadoop.fs.Path,
          dst: org.apache.hadoop.fs.Path, prePublish: () => Unit): Boolean = {
        if (!fired && dst.getName.startsWith("manifest-v")) {
          fired = true
          throw new RuntimeException("simulated crash in manifest publish")
        }
        real.publishIfAbsent(fs, fc, src, dst, prePublish)
      }
    }
    val e = intercept[RuntimeException](cat.fastForward("db", "ffx", "work"))
    assert(e.getMessage.contains("manifest publish"))
    cat.commitLockImpl = real
    // base untouched (fresh catalog = fresh manifest reads)
    val reader = new GraftCatalog(spark, warehouse)
    assert(reader.snapshots("db", "ffx").map(_.id) === Seq(1L))
    assert(reader.read("db", "ffx").count() === 20)
    assert(reader.read("db", "ffx$branch_work").count() === 50)
    // re-run adopts the branch history atomically
    cat.fastForward("db", "ffx", "work")
    assert(reader.snapshots("db", "ffx").map(_.id) === Seq(1L, 2L, 3L))
    assert(reader.read("db", "ffx").count() === 50)
  }
}
