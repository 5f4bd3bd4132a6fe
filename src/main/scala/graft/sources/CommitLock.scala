package graft.sources

import org.apache.hadoop.fs.{FileContext, FileSystem, Path}

/**
 * The single atomicity primitive the graft commit protocol rests on:
 * publish a staged file/dir at its final name iff that name is absent,
 * exactly-once across concurrent writers. Every CAS in the protocol —
 * the snapshot-dir claims in `commit()` (one per dir the snapshot lands)
 * and the `manifest-v{N}.json` version rename — goes through this seam.
 *
 * The default [[ExclusiveRenameCommitLock]] implements it with an atomic
 * fail-if-exists rename (HDFS semantics; a per-table JVM lock closes the
 * local filesystem's check-then-rename window). S3-class object stores
 * don't offer exclusive rename — for those, [[ConditionalPutCommitLock]]
 * derives exclusivity from a conditional-put (`If-None-Match`) primitive
 * instead, the same way Paimon ships object-store commit via lock /
 * conditional-write callbacks (reference: paimon-trino inherits Paimon's
 * SnapshotManager commit machinery).
 */
trait CommitLock {

  /**
   * Atomically publish `src` at `dst` iff `dst` does not exist. Returns
   * true iff THIS caller's `src` now sits at `dst`; false if another
   * writer holds `dst`. Must never interleave two writers' content under
   * `dst`. `prePublish` runs inside the critical section after the
   * absence check and before the publish (test seam for injecting a
   * racing writer deterministically).
   */
  def publishIfAbsent(fs: FileSystem, fc: FileContext, src: Path, dst: Path,
      prePublish: () => Unit = () => ()): Boolean

  /**
   * Release a claim this caller previously WON at `dst` but has since
   * abandoned — the rebase path: a writer that won the `snap-N` dir claim
   * but lost the manifest CAS renames its content onward to a higher
   * ordinal, and `snap-N` must become claimable again. For the
   * rename-based lock this is free (the dir itself is the claim, and the
   * rename-away already vacated it); for store-backed locks the claim
   * object must be deleted, otherwise every contested round burns an
   * ordinal forever and writers diverge exactly when contention is
   * highest. Only ever called for claims the caller itself won whose
   * content has been moved away — never for a live published ordinal.
   */
  def release(fs: FileSystem, dst: Path): Unit = ()
}

/**
 * Default: exclusive (atomic fail-if-exists) rename. Correct on HDFS
 * and, with the JVM lock, on a single-writer-host local filesystem.
 * Callers that need cross-JVM honesty on unknown filesystems layer the
 * claim-marker audit on top (see commit()'s FS-contract note).
 */
object ExclusiveRenameCommitLock extends CommitLock {
  override def publishIfAbsent(fs: FileSystem, fc: FileContext, src: Path,
      dst: Path, prePublish: () => Unit): Boolean =
    GraftCatalog.commitLock(dst.getParent.toString).synchronized {
      if (fs.exists(dst)) false
      else {
        try {
          prePublish()
          fc.rename(src, dst)
          true
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException |
               _: java.io.IOException => false
        }
      }
    }
}

/**
 * Minimal conditional-write surface an object store offers: create
 * `key` iff absent (S3 `If-None-Match: *`, GCS `ifGenerationMatch: 0`,
 * ABS `If-None-Match`). One call, one winner.
 */
trait ConditionalPutStore {
  def putIfAbsent(key: String, value: Array[Byte]): Boolean

  /** Delete `key` (S3 DELETE — unconditional, idempotent). Default no-op
    * for stores that never reclaim claims; real deployments implement it
    * so abandoned ordinals become claimable again. */
  def delete(key: String): Unit = ()
}

/**
 * Object-store commit: exclusivity comes from a conditional put of a
 * tiny claim object keyed by the destination path — NOT from the
 * filesystem's rename. The CAS winner is the unique owner of `dst`, so
 * the subsequent move need not be atomic or exclusive (copy+delete
 * semantics are fine); losers never touch `dst`. Dead winners (CAS won,
 * move crashed) leave a claim without content — visible, and reclaimed
 * the same way dead staging dirs are (sweepOrphanDirs), never silently
 * interleaved.
 *
 * Key lifecycle caveat: a real deployment must delete the claim object
 * when its destination is deleted (rollback, expiration, orphan sweep) —
 * otherwise a later writer reusing the same ordinal name finds the key
 * taken and retries forever. The rename-based default has no such state
 * (the dir IS the claim); store-backed impls tie key deletion to the same
 * cleanup paths.
 */
class ConditionalPutCommitLock(store: ConditionalPutStore) extends CommitLock {
  override def publishIfAbsent(fs: FileSystem, fc: FileContext, src: Path,
      dst: Path, prePublish: () => Unit): Boolean = {
    if (!store.putIfAbsent(dst.toString,
        Array[Byte]())) false
    else {
      prePublish()
      // sole owner of dst from here: a plain, possibly non-atomic move
      // is safe — no concurrent writer can hold the CAS for this key.
      // But a failed move — whether rename returns false or throws —
      // must not report a successful publish: that is the dead-winner
      // state (claim held, no content) and the commit must fail LOUDLY
      // so the caller never records a snapshot whose dir is missing.
      // Success is judged by the MOVE alone, never by `dst` existing:
      // on the copy+delete stores this lock targets, a rename that died
      // midway can leave a PARTIAL dst, and "it exists" would bless torn
      // content as published (a partial dir or manifest recorded as
      // committed). A dst left by a dead prior attempt is the same state.
      val moved =
        try fs.rename(src, dst)
        catch { case scala.util.control.NonFatal(_) => false }
      if (!moved)
        throw new IllegalStateException(
          s"conditional-put claim won for $dst but the move from $src " +
            "failed — dead-winner state (any content at $dst may be a " +
            "partial copy and must not be trusted); remove the claim " +
            "object and any partial target, then re-run " +
            "(sweepOrphanDirs reclaims the staged content)")
      true
    }
  }

  /** An abandoned claim releases its store key so the ordinal can be
    * reclaimed by a later writer — without this, every contested rebase
    * round burns ordinals and contention compounds itself. */
  override def release(fs: FileSystem, dst: Path): Unit =
    store.delete(dst.toString)
}
