package graft.api

/** Central lifecycle for the engine's memoized iteration states
  * (grid-Lloyd assignments, Harmony correction, Louvain communities,
  * PQ codebooks — the lloydState contract: train once per (session,
  * input), fan out across every consumer).
  *
  * Two guarantees the raw per-object ConcurrentHashMaps lacked
  * (r6 ADVICE item 2):
  *
  *  1. **Staleness**: cache keys include [[dirStamp]] — a fingerprint
  *     of the input directory's file (path, size, mtime) set — so
  *     regenerating testdata under the same path in-session can never
  *     serve a stale checkpointed state.
  *  2. **Eviction**: every cache registers its clear() here;
  *     [[reset]] empties them all, dropping the references so the
  *     ContextCleaner can release the localCheckpoint blocks (Bench
  *     calls it between timed runs — each benchmark run pays its own
  *     state builds, cold; nothing rides another query's cache).
  *
  * At cluster scale the same pattern holds: the caller builds the
  * state once, persists it explicitly, and fans out — reset() is the
  * explicit end-of-job release.
  */
object Memo {
  private val clearers = new java.util.concurrent.CopyOnWriteArrayList[() => Unit]()

  /** Register a cache's clear-all callback (once per cache object). */
  def register(clear: () => Unit): Unit = clearers.add(clear)

  /** Empty every registered memo cache. */
  def reset(): Unit = clearers.forEach(f => f())

  private val buildCount = new java.util.concurrent.atomic.AtomicLong()

  /** State builds [[stamped]] has run in this JVM: a query whose cold
    * run raises it builds memoized state (Bench's warm set). */
  def builds: Long = buildCount.get

  /** Fingerprint of a data directory: name, length and mtime of every
    * file under it (one driver-side listing — bounded by file count,
    * no data read). Regenerated inputs change the stamp, so (dir,
    * stamp) cache keys can't go stale. A subdirectory that vanishes or
    * turns unreadable mid-walk lists as empty (listFiles() null-guard)
    * rather than NPE-ing the whole stamp. */
  def dirStamp(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
          .sortBy(_.getName).foldLeft(f.getName.hashCode.toLong) {
            (acc, c) => 31L * acc + walk(c)
          }
      else f.getName.hashCode.toLong * 31L + f.length * 17L + f.lastModified
    val root = new java.io.File(dir)
    if (root.exists()) walk(root) else 0L
  }

  /** Stamped memoization with superseded-state eviction: the uniform
    * front door every iteration-state cache goes through. Keys are
    * (session, dir, dirStamp(dir), extra); on a stamp MISS every entry
    * for the same (session, dir) under a DIFFERENT stamp is evicted
    * first, so regenerating an input directory in-session drops the
    * superseded localCheckpoint state (the ContextCleaner can release
    * its blocks) instead of accumulating it until reset(). */
  def stamped[K, V](
      cache: java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String, Long, K), V],
      s: org.apache.spark.sql.SparkSession, dir: String, extra: K)(build: => V): V = {
    val stamp = dirStamp(dir)
    val key = (s, dir, stamp, extra)
    if (!cache.containsKey(key))
      cache.keySet().removeIf(k => (k._1 eq s) && k._2 == dir && k._3 != stamp)
    cache.computeIfAbsent(key, _ => { buildCount.incrementAndGet(); build })
  }
}
