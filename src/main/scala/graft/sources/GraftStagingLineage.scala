package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import GraftCatalog._

/**
 * Staging lineages (atomic CTAS / RTAS) — split from GraftCatalog.scala
 * (continuing the r13/r14 seam; behavior unchanged, r19). Same-package
 * trait mixed into [[GraftCatalog]].
 */
trait GraftStagingLineage { self: GraftCatalog =>

  // ---- staging lineages (atomic CTAS / RTAS) ----------------------------
  // A staged write lands in a table whose name carries a reserved,
  // per-attempt-unique prefix; it is hidden from listTables and promoted
  // over the target in one recoverable sequence. The reference exposes
  // the same surface through Trino's beginCreateTable/finishCreateTable
  // staging contract (TrinoMetadataBase analog); here the commit point is
  // a durable marker file so a driver crash mid-swap is completable.

  /** True for names the staging machinery owns (stages and moved-aside
    * old images). Hidden from listTables; user DDL may not create them. */
  def isStage(table: String): Boolean =
    table.startsWith(GraftCatalog.StagePrefix)

  private def swapMarker(schema: String, table: String): Path =
    new Path(tablePath(schema, table), GraftCatalog.SwapMarkerFile)

  /** Read a small control file fully — a single read() may legally
    * return short, and a truncated marker/stamp must never be acted on. */
  private[sources] def readSmallFile(p: Path, cap: Int): String = {
    val in = fs.open(p)
    try {
      val buf = new Array[Byte](cap)
      var off = 0
      var n = 0
      while (off < buf.length && { n = in.read(buf, off, buf.length - off); n >= 0 })
        off += n
      new String(buf, 0, off, "UTF-8").trim
    } finally in.close()
  }

  /** Target named by a stage's commit marker, if the swap had reached its
    * commit point before the driver died. */
  private def swapTarget(schema: String, stage: String): Option[String] = {
    val mk = swapMarker(schema, stage)
    if (!fs.exists(mk)) None
    else Some(readSmallFile(mk, 4096))
  }

  /** Promote a staged lineage over `target`. The commit point is the
    * durable marker write: before it, a crash leaves only a sweepable
    * stage; after it, recovery COMPLETES the swap. The old image is
    * renamed aside (never deleted) until the stage is in place, so no
    * crash window leaves the target without a recoverable table. */
  def promoteStage(schema: String, stage: String, target: String,
      replaceExisting: Boolean): Unit = {
    require(isStage(stage) && tableManifestExists(schema, stage),
      s"no staged lineage $schema.$stage")
    require(!isStage(target) && !target.contains("$"), s"bad target $target")
    val targetExists = tableManifestExists(schema, target)
    if (targetExists && !replaceExisting) {
      fs.delete(tablePath(schema, stage), true)
      throw new IllegalStateException(s"table $schema.$target already exists")
    }
    // durable commit point
    val out = fs.create(swapMarker(schema, stage), true)
    try out.write(target.getBytes("UTF-8")) finally out.close()
    // move the current image aside — deleted only after the swap lands
    val trash = GraftCatalog.StagePrefix + "old-" +
      java.util.UUID.randomUUID().toString.substring(0, 8)
    if (targetExists) {
      fs.rename(tablePath(schema, target), tablePath(schema, trash))
      // fresh stamp: the moved-aside image keeps the original table's
      // ancient dir mtime — without this a concurrent sweep could delete
      // it DURING the promote window, breaking the never-deleted-until-
      // the-stage-is-in-place guarantee
      stampStage(schema, trash)
      GraftCatalog.purgeHeadCache(
        fs.makeQualified(tablePath(schema, target)).toString)
    }
    finishSwap(schema, stage, target)
    if (targetExists) { fs.delete(tablePath(schema, trash), true); () }
  }

  private def finishSwap(schema: String, stage: String, target: String): Unit = {
    // Idempotent completion: a concurrent promoteStage/recoverStage may
    // have finished this very swap between our marker check and here
    // (stage gone, target in place, marker already cleared) — that is
    // SUCCESS for an actually-committed CTAS/RTAS, not a failure.
    def completedByOther(): Boolean =
      !tableManifestExists(schema, stage) && tableManifestExists(schema, target)
    if (completedByOther()) { fs.delete(swapMarker(schema, target), false); return }
    try renameTable(schema, stage, target)
    catch {
      case _: IllegalArgumentException if completedByOther() => () // lost the race
    }
    fs.delete(swapMarker(schema, target), false)
    fs.delete(stageStampPath(schema, target), false) // stamp rode the rename
    ()
  }

  /** Crash recovery: if `table` is missing but a stage's commit marker
    * names it, the interrupted swap is completed. Returns true when
    * `table` exists afterwards. Cheap (one schema-dir listing) and only
    * invoked on the miss path. */
  def recoverStage(schema: String, table: String): Boolean = {
    if (tableManifestExists(schema, table)) return true
    val p = schemaPath(schema)
    if (!fs.exists(p)) return false
    val stale = fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
      .filter(isStage).filter(st => tableManifestExists(schema, st))
    stale.find(st => swapTarget(schema, st).contains(table)) match {
      case Some(st) => finishSwap(schema, st, table); true
      case None => false
    }
  }

  /** GC for crashed staging attempts: a marker-carrying stage whose
    * target is missing is completed (its commit point was declared);
    * every other stage or moved-aside dir older than `ttlMs` belonged to
    * a driver that died mid-write and is deleted. Invoked
    * opportunistically before new staging — one schema-dir listing. */
  def sweepStaleStages(schema: String, ttlMs: Long): Unit = {
    val p = schemaPath(schema)
    if (!fs.exists(p)) return
    val now = System.currentTimeMillis()
    fs.listStatus(p).filter(_.isDirectory).foreach { st =>
      val name = st.getPath.getName
      if (isStage(name)) {
        swapTarget(schema, name) match {
          case Some(t) if !tableManifestExists(schema, t) =>
            finishSwap(schema, name, t)
          case _ =>
            // no marker (mid-write crash) or target present (the swap
            // never started replacing): stale once past the TTL, aged
            // from the explicit creation/rename-aside stamp — dir mtime
            // only as a fallback for stamps from older writers
            val born = stageStamp(schema, name).getOrElse(st.getModificationTime)
            if (now - born > ttlMs) {
              fs.delete(st.getPath, true); ()
            }
        }
      }
    }
  }

  def tableOptions(schema: String, table: String): Map[String, String] =
    optionsOf(schema, table).raw

  /**
   * Mutate table options post-create — the reference's
   * `setTableProperties` surface (TrinoMetadata.java:115 → Paimon
   * `SchemaChange.setOption`). Options the [[TableOptions]] registry
   * declares immutable (baked into the data layout or version-resolution
   * semantics) refuse — changing them would reinterpret bytes already on
   * disk. The map the table would have is checked as createTable checks
   * it, against the current schema. Mutable options (e.g.
   * `file-index.bloom-filter.columns`) take effect for FUTURE commits;
   * mixed state is sound because every dir's manifest pointer carries
   * its own `{token, cols}`, so a dir indexed under the old column set
   * keeps serving exactly its own sidecars.
   */
  def setTableOptions(schema: String, table: String,
      options: Map[String, String]): Unit = {
    require(options.nonEmpty, "no options to set")
    options.keys.foreach(TableOptions.requireMutable)
    updateOptions(schema, table)(_.putOptions(options))
  }

  /** Remove mutable table options (`ALTER TABLE ... UNSET`); structural
    * options refuse exactly as in [[setTableOptions]], and the remaining
    * map is checked the same way. Unknown keys are a no-op, matching
    * Paimon's removeOption. */
  def removeTableOptions(schema: String, table: String,
      keys: Seq[String]): Unit = {
    keys.foreach(TableOptions.requireMutable)
    updateOptions(schema, table)(_.removeOptions(keys))
  }

  /** Apply `change` to the manifest's options and land it, provided the
    * result validates against the table's current shape. */
  private def updateOptions(schema: String, table: String)(
      change: Manifest => Unit): Unit = retryManifestUpdate {
    val m = readManifest(schema, table)
    change(m)
    TableOptions.validate(TableOptions.Shape(currentSchema(m),
      m.partitionColumns, m.primaryKey, m.options.raw))
    writeManifest(schema, table, m)
  }

}
