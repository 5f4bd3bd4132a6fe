package graft.sources

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import GraftCatalog._

/**
 * Tags and branches — split from GraftCatalog.scala (continuing the
 * r13/r14 seam; behavior unchanged): named snapshots with expiration
 * pinning, zero-copy branch lineages over shared history, fast-forward
 * with divergence diff, and the `$branches` view. Same-package trait
 * mixed into [[GraftCatalog]].
 */
trait GraftTagsBranches { self: GraftCatalog =>

  // ---- tags (named snapshots, Paimon-style) ------------------------------

  /** Pin a snapshot under a name ("release-2026-08"): readable via
    * [[readTag]] and protected from [[expireSnapshots]] until untagged. */
  def createTag(schema: String, table: String, tag: String,
      snapshotId: Option[Long] = None): Long = {
    val m = readManifest(schema, table)
    require(m.head.isDefined, s"$schema.$table has no snapshots to tag")
    val id = snapshotId.getOrElse(m.headId)
    require(m.snapshot(id).isDefined, s"no snapshot $id for $schema.$table")
    require(!m.tags.contains(tag), s"tag $tag already exists")
    m.putTag(tag, id)
    writeManifest(schema, table, m)
    id
  }

  def deleteTag(schema: String, table: String, tag: String): Unit = {
    val m = readManifest(schema, table)
    require(m.tags.contains(tag), s"no tag $tag")
    m.removeTag(tag)
    writeManifest(schema, table, m)
  }

  /** All tags → snapshot ids. */
  def tags(schema: String, table: String): Map[String, Long] =
    readManifest(schema, table).tags

  /** Read the snapshot a tag pins. */
  def readTag(schema: String, table: String, tag: String): DataFrame = {
    val id = tags(schema, table).getOrElse(tag,
      throw new IllegalArgumentException(s"no tag $tag on $schema.$table"))
    read(schema, table, snapshotId = Some(id))
  }

  // ---- branches ----------------------------------------------------------

  /** Branch lineages of a table (Paimon's table branches), by name. */
  def branchNames(schema: String, table: String): Seq[String] = {
    val base = splitBranch(table)._1
    val p = new Path(tablePath(schema, base), BranchDirName)
    val listed =
      try fs.listStatus(p)
      catch { case _: java.io.FileNotFoundException => return Seq.empty }
    listed.filter(_.isDirectory).map(_.getPath.getName)
      .filter(b => tableManifestExists(schema, s"$base$BranchSep$b"))
      .toSeq.sorted
  }

  /** Dir references (base-relative form, see [[baseRelativeDir]]) held
    * by every OTHER lineage of this table's base — the base itself plus
    * each branch, minus the lineage `table` names. A dir is reclaimable
    * only when no sibling still references it: the base expiring history
    * must not pull dirs a branch inherited, and a branch expiring its
    * history must not pull dirs the base adopted via fast-forward.
    * O(lineages) cached manifest reads, zero file I/O. */
  private[sources] def siblingLineageRefs(schema: String, table: String): Set[String] = {
    val (base, br) = splitBranch(table)
    val branches = branchNames(schema, base)
    if (branches.isEmpty && br.isEmpty) return Set.empty
    val siblings: Seq[String] =
      (if (br.isDefined) Seq(base) else Seq.empty) ++
        branches.filterNot(br.contains).map(b => s"$base$BranchSep$b")
    siblings.flatMap { t =>
      if (!tableManifestExists(schema, t)) Seq.empty
      else readManifest(schema, t).snapshots.flatMap(_.files)
        .map(fe => baseRelativeDir(t, fe.dir))
    }.toSet
  }

  /**
   * Create branch `branch` of `schema.table` at snapshot `fromSnapshotId`
   * (or the snapshot `fromTag` pins; default the current head) — Paimon's
   * table branch, O(manifest metadata) and ZERO data I/O at ANY table
   * size: the new lineage's manifest inherits the base's snapshot history
   * up to the branch point with every dir reference rewritten to the
   * base-relative sharing form (`~/snap-N`), so both lineages read the
   * SAME immutable dirs in place. From then on the lineages are fully
   * isolated — separate manifest CAS chains, separate staging/snap dirs
   * under `<table>/.branch/<name>/` — and the branch is addressable as
   * `t$branch_<name>` through EVERY catalog API (reads, time travel,
   * upserts, DDL, compaction, streaming) and the SQL catalog. Expiration
   * on either lineage never reclaims a dir the other still references
   * (cross-lineage pinning in dropSnapshots/sweepOrphanDirs).
   *
   * Branching a 100 TB table costs one manifest read + one manifest
   * write — the whole point: experiment/backfill/schema-migrate against
   * production data without copying a byte, then [[fastForward]].
   */
  def createBranch(schema: String, table: String, branch: String,
      fromSnapshotId: Option[Long] = None, fromTag: Option[String] = None): Unit = {
    require(splitBranch(table)._2.isEmpty,
      s"$table is itself a branch — branches are one level deep; branch from the base table")
    require(branch.nonEmpty && branch.forall(c =>
      c.isLetterOrDigit || c == '_' || c == '-'),
      s"branch name must be [A-Za-z0-9_-]+, got '$branch'")
    require(fromSnapshotId.isEmpty || fromTag.isEmpty,
      "pass fromSnapshotId OR fromTag, not both")
    val bt = s"$table$BranchSep$branch"
    require(!tableManifestExists(schema, bt),
      s"branch $branch of $schema.$table exists")
    val m = readManifest(schema, table)
    val fromId = fromTag.map(t => m.tags.getOrElse(t,
        throw new IllegalArgumentException(s"no tag $t on $schema.$table")))
      .orElse(fromSnapshotId).getOrElse(m.headId)
    require(fromId == 0L || m.snapshot(fromId).isDefined,
      s"no snapshot $fromId for $schema.$table")
    // every dir reference (log entries and per-dir side state: zones, DV
    // index, blooms, dynamic-bucket flags) takes the base-relative
    // sharing form; values are shared by reference
    m.forkBranch(bt, table, fromId, System.currentTimeMillis(),
      d => if (d.startsWith(BaseRelMarker)) d else BaseRelMarker + d)
    fs.mkdirs(tablePath(schema, bt))
    writeManifest(schema, bt, m)
  }

  /**
   * Fast-forward `schema.table` to branch `branch` — git semantics: the
   * base log must be a PREFIX of the branch log (same ids, same dir sets
   * under the cross-lineage identity; schema history a prefix too), i.e.
   * the base has not diverged since the branch point. The base then
   * ADOPTS the branch's full history in ONE manifest CAS with zero data
   * movement: branch-local dirs are referenced in place under
   * `~/.branch/<name>/snap-N`. The branch stays alive and readable; it
   * cannot be deleted while the base references its dirs (deleteBranch
   * refuses until expiration/compaction retires them). A diverged base
   * refuses with a pointer — replay the branch onto a fresh branch of
   * the current head instead. Returns the new head snapshot id.
   */
  /**
   * Diverged-history report backing `CALL sys.fast_forward_diff`: WHY a
   * branch can (or cannot) be adopted, one `(position, status, detail)`
   * row per disagreement — so an operator refused by [[fastForward]]
   * sees the concrete divergence (extra base snapshots, mismatched ids,
   * per-snapshot dir diffs, schema drift) instead of just the refusal.
   * Metadata-only: manifest reads, no data touched. An empty diff
   * reports one summary row (`fast_forwardable` / `in_sync`).
   */
  def fastForwardDiff(schema: String, table: String,
      branch: String): Seq[(Long, String, String)] = {
    require(splitBranch(table)._2.isEmpty,
      s"$table is itself a branch — fast-forward targets the base table")
    val bt = s"$table$BranchSep$branch"
    require(tableManifestExists(schema, bt),
      s"no branch $branch of $schema.$table")
    val m = readManifest(schema, table)
    val bm = readManifest(schema, bt)
    val snaps = m.snapshots
    val bsnaps = bm.snapshots
    val out = mutable.ArrayBuffer[(Long, String, String)]()
    if (bsnaps.size < snaps.size)
      out += ((-1L, "base_longer",
        s"base has ${snaps.size} snapshots, branch has ${bsnaps.size} — " +
          "the base advanced past the branch point"))
    snaps.zip(bsnaps).zipWithIndex.foreach { case ((a, b), i) =>
      if (a.id != b.id)
        out += ((i.toLong, "id_mismatch", s"base snapshot ${a.id} vs branch ${b.id}"))
      else {
        val aDirs = a.files.map(fe => baseRelativeDir(table, fe.dir)).toSet
        val bDirs = b.files.map(fe => baseRelativeDir(bt, fe.dir)).toSet
        if (aDirs != bDirs)
          out += ((i.toLong, "dirs_differ",
            s"snapshot ${a.id}: base-only [${(aDirs -- bDirs).toSeq.sorted.mkString(",")}], " +
              s"branch-only [${(bDirs -- aDirs).toSeq.sorted.mkString(",")}]"))
      }
    }
    val aSchemas = m.schemaVersions
    val bSchemas = bm.schemaVersions
    if (aSchemas.size > bSchemas.size)
      out += ((-1L, "schema_diverged",
        s"base has ${aSchemas.size} schema versions, branch has ${bSchemas.size}"))
    else aSchemas.keys.toSeq.sorted.foreach { v =>
      if (!bSchemas.get(v).contains(aSchemas(v)))
        out += ((v.toLong, "schema_diverged", s"schema version $v differs"))
    }
    if (out.isEmpty) {
      val ahead = bsnaps.size - snaps.size
      out += ((-1L, if (ahead > 0) "fast_forwardable" else "in_sync",
        s"branch is $ahead snapshot(s) ahead of the base"))
    }
    out.toSeq
  }

  def fastForward(schema: String, table: String, branch: String): Long = {
    require(splitBranch(table)._2.isEmpty,
      s"$table is itself a branch — fast-forward targets the base table")
    val bt = s"$table$BranchSep$branch"
    require(tableManifestExists(schema, bt),
      s"no branch $branch of $schema.$table")
    val m = readManifest(schema, table)
    val bm = readManifest(schema, bt)
    val snaps = m.snapshots
    val bsnaps = bm.snapshots
    def diverged(why: String) = throw new IllegalStateException(
      s"cannot fast-forward $schema.$table to branch $branch: $why — " +
        "the base advanced since the branch point; create a fresh branch " +
        "from the current head and replay the work instead")
    if (bsnaps.size < snaps.size) diverged("the base log is longer than the branch log")
    snaps.zip(bsnaps).zipWithIndex.foreach { case ((a, b), i) =>
      if (a.id != b.id) diverged(s"snapshot ids differ at position $i")
      val aDirs = a.files.map(fe => baseRelativeDir(table, fe.dir)).toSet
      val bDirs = b.files.map(fe => baseRelativeDir(bt, fe.dir)).toSet
      if (aDirs != bDirs) diverged(s"snapshot ${a.id} references different dirs")
    }
    val aSchemas = m.schemaVersions
    val bSchemas = bm.schemaVersions
    if (aSchemas.size > bSchemas.size ||
        aSchemas.exists { case (v, fs) => !bSchemas.get(v).contains(fs) })
      diverged("schema history diverged")
    val headId = bm.headId
    if (bsnaps.size == snaps.size) return headId // nothing to adopt
    // dir reference conversion INTO the base lineage: base-relative form,
    // then plain for base-local names, `~/`-marked for everything shared.
    // The changelog node rides along: its keys are dirs too, and the
    // adopted snapshots keep their ids, so branch-built producer coverage
    // survives the fast-forward (pre-fork coverage was dropped at branch
    // creation and falls back to read-time resolution).
    bm.adoptAsBase(table, m, { dir =>
      val r = baseRelativeDir(bt, dir)
      if (r.contains("/")) BaseRelMarker + r else r
    })
    writeManifest(schema, table, bm)
    headId
  }

  /** Delete a branch lineage. Refused while another lineage still
    * references dirs INSIDE the branch (the base adopted branch commits
    * via fast-forward): deleting would tear shared history — expire or
    * compact the referencing lineage first, then delete. Dirs of the
    * BASE the branch alone was pinning become reclaimable by the base's
    * next expiration/orphan sweep. */
  def deleteBranch(schema: String, table: String, branch: String): Unit = {
    require(splitBranch(table)._2.isEmpty,
      s"$table is itself a branch — deleteBranch targets the base table")
    val bt = s"$table$BranchSep$branch"
    require(tableManifestExists(schema, bt),
      s"no branch $branch of $schema.$table")
    val prefix = s"$BranchDirName/$branch/"
    val pinnedInside = siblingLineageRefs(schema, bt).filter(_.startsWith(prefix))
    require(pinnedInside.isEmpty,
      s"cannot delete branch $branch of $schema.$table: " +
        s"${pinnedInside.size} of its dirs (e.g. ${pinnedInside.head}) are " +
        "still referenced by another lineage (fast-forwarded history) — " +
        "expire or compact that lineage first")
    fs.delete(tablePath(schema, bt), true)
    GraftCatalog.purgeHeadCache(fs.makeQualified(tablePath(schema, bt)).toString)
    ()
  }

  /** One row per branch: (branch, base_snapshot_id, head_snapshot_id,
    * commits_since_branch, created_millis) — the `$branches` view. */
  def branchesTable(schema: String, table: String): DataFrame = {
    import spark.implicits._
    branchNames(schema, table).map { b =>
      val bm = readManifest(schema, s"$table$BranchSep$b")
      val baseId = bm.branchBaseId
      (b, baseId, bm.headId, bm.snapshots.count(_.id > baseId).toLong,
        bm.branchCreatedMillis)
    }.toDF("branch", "base_snapshot_id", "head_snapshot_id",
      "commits_since_branch", "created_millis")
  }
}
