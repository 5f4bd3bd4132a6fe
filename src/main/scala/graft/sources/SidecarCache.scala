package graft.sources

import java.util.concurrent.{Callable, ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path

/**
 * Process-wide cache of the immutable metadata sidecars planning reads —
 * a dir's per-file zone maps, a file's bloom bitsets. Keys carry the
 * manifest's cache token, which is fresh for every build, so an entry
 * never goes stale (a reused ordinal after rollback gets a new token).
 * A key loads once; a sidecar that cannot be read caches None, and
 * planning goes on without it — conservative, never wrong — after one
 * warning naming the file and the cause.
 *
 * The size cap is enforced between warm batches only ([[warm]]):
 * evicting inside a load would let a batch larger than the cap thrash
 * the very entries it is warming, and the decision pass after the warm
 * would then reload them serially. One oversized batch may exceed the
 * cap for a while; the next batch's check reclaims it.
 */
private[sources] final class SidecarCache[K, V](kind: String) {

  /** Sidecar opens — the cache-effectiveness tripwire. */
  val loads = new AtomicLong(0L)

  /** High-water mark of concurrent loads — lets tests assert that
    * [[warm]] overlaps its opens. */
  val peakConcurrentLoads = new AtomicLong(0L)
  private val inflight = new AtomicInteger(0)

  private val cache = new ConcurrentHashMap[K, Option[V]]()

  /** The sidecar `file` cached at `key`, parsed by `read` on a miss.
    * `read` answers None for a sidecar that is absent by design. */
  def get(key: K, file: Path)(read: Path => Option[V]): Option[V] =
    cache.computeIfAbsent(key, _ => {
      loads.incrementAndGet()
      val cur = inflight.incrementAndGet()
      peakConcurrentLoads.getAndUpdate(p => math.max(p, cur))
      try read(file)
      catch { case NonFatal(e) =>
        SidecarCache.log.warn(s"unreadable $kind sidecar $file, planning without it: $e")
        None
      } finally { inflight.decrementAndGet(); () }
    })

  /** Load the uncached `keys` of one batch in parallel (`load(k)` calls
    * [[get]]), so a cold batch of N sidecars costs O(N / 16) round-trips
    * of planning latency instead of N serial opens. */
  def warm(keys: Seq[K])(load: K => Unit): Unit = {
    var missing = keys.filterNot(cache.containsKey)
    if (missing.nonEmpty && cache.size + missing.size > SidecarCache.Cap) {
      cache.clear() // between-batch eviction: everything must re-warm
      missing = keys
    }
    if (missing.size > 1) {
      val tasks = new java.util.ArrayList[Callable[Unit]](missing.size)
      missing.foreach(k => tasks.add(() => load(k)))
      SidecarCache.pool.invokeAll(tasks) // blocks until all are cached
      ()
    }
  }
}

private[sources] object SidecarCache {
  val Cap = 4096

  private val log = org.slf4j.LoggerFactory.getLogger(classOf[SidecarCache[_, _]])

  /** Driver pool for batch sidecar loads. Sidecar opens are
    * latency-bound (small files, object-store round-trips), so a bounded
    * pool overlaps them; CPU cost is negligible. Daemon threads, shared
    * by every cache and query, never shut down. */
  private lazy val pool = Executors.newFixedThreadPool(16,
    (r: Runnable) => {
      val t = new Thread(r, "graft-sidecar-load")
      t.setDaemon(true)
      t
    })
}
