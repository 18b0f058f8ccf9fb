package graft

import org.apache.spark.sql.SparkSession

/** Session-keyed train-once memo — the one mechanism behind every
  * memoized build stage ([[BuildStage]]): at most [[maxEntries]] live
  * (session, key) entries, stopped sessions purged on every access, LRU
  * eviction.
  *
  * The build itself runs OUTSIDE the map monitor: entries publish as
  * lazily-forced holders, so the monitor is held only for map
  * bookkeeping. Two threads racing the SAME key share one build (the
  * holder's lazy val synchronizes on the holder alone), while builds
  * for different keys proceed in parallel.
  *
  * Two release hooks, split by safety:
  *
  *   - [[onEvict]] runs for every FORCED value leaving the cache — LRU
  *     eviction, replacement by [[put]], or [[clear]]. Safe only for
  *     releases that a still-held reference survives, i.e.
  *     `.persist()`'d frames: unpersisting one under a live consumer
  *     merely recomputes. It is a NO-OP for localCheckpoint-backed
  *     frames — `Dataset.unpersist` routes through the CacheManager,
  *     which has no entry for a checkpoint's LogicalRDD plan — so
  *     checkpoint storage must NOT be released here anyway: dropping the
  *     checkpoint RDD's blocks under a frame some caller still executes
  *     breaks that execution outright.
  *   - [[onClear]] runs ONLY from [[clear]] (after onEvict), where the
  *     caller asserts every consumer is done — the Bench per-sweep
  *     clears. This is where checkpoint-backed caches release their
  *     storage via the underlying RDD (the Dedup.releaseCheckpoint
  *     pattern); LRU eviction stays drop-only for them, leaving
  *     mid-flight frames to the context cleaner.
  *
  * Unforced holders evict silently (nothing was built), and
  * stopped-session purges skip both hooks (their blocks died with the
  * context). Hooks run outside the map monitor, at most once per
  * holder. A holder evicted while its build is mid-flight is released
  * by the builder itself once the build completes (the post-build
  * re-check below). The one tolerated residual: a CHECKPOINT-backed
  * holder evicted mid-build by clear() gets onEvict but not onClear
  * from the re-check (its storage falls to the context cleaner) —
  * releasing a checkpoint outside the clear window can't be proven
  * safe from here.
  */
final class SessionCache[V](maxEntries: Int = 4,
    onEvict: V => Unit = (_: V) => (),
    onClear: V => Unit = (_: V) => ()) {
  private final class Holder(build: () => V) {
    @volatile var forced = false
    val released = new java.util.concurrent.atomic.AtomicBoolean(false)
    lazy val value: V = { val v = build(); forced = true; v }
  }

  private val m =
    scala.collection.mutable.LinkedHashMap[(SparkSession, String), Holder]()

  private def runHook(h: Holder, hook: V => Unit): Unit =
    try hook(h.value)
    catch { case scala.util.control.NonFatal(_) => () }

  /** At most one release per holder, however many paths race to it. */
  private def evictHook(h: Holder, clearing: Boolean = false): Unit =
    if (h.forced && h.released.compareAndSet(false, true)) {
      runHook(h, onEvict)
      if (clearing) runHook(h, onClear)
    }

  /** Makes `pick(previous holder)` the most recent entry for (s, key),
    * then evicts the holders it displaced. */
  private def install(s: SparkSession, key: String)
      (pick: Option[Holder] => Holder): Holder = {
    val (h, evicted) = m.synchronized {
      m.filterInPlace { case ((sess, _), _) => !sess.sparkContext.isStopped }
      val prev = m.remove((s, key))
      val hh = pick(prev)
      m.put((s, key), hh)
      val lru = m.keys.take(m.size - maxEntries).toList
      (hh, prev.filter(_ ne hh).toList ++ lru.flatMap(m.remove))
    }
    evicted.foreach(evictHook(_))
    h
  }

  def getOrCompute(s: SparkSession, key: String)(build: => V): V = {
    // re-insert on hit = LRU order; a miss reserves the slot with an
    // unforced holder so a concurrent same-key caller joins this build
    val h = install(s, key)(_.getOrElse(new Holder(() => build)))
    val v = h.value
    // evicted mid-build? the eviction pass saw forced=false and skipped
    // the hook — the builder releases its own orphaned value
    val stillMapped = m.synchronized(m.get((s, key)).contains(h))
    if (!stillMapped) evictHook(h)
    v
  }

  /** Seeds (s, key) with an already-built value, e.g. a loaded index;
    * the entry it replaces is evicted. */
  def put(s: SparkSession, key: String, v: V): Unit = {
    val h = new Holder(() => v)
    h.value
    install(s, key)(_ => h)
    ()
  }

  /** Keys live for `s`, least recently used first. */
  private[graft] def keys(s: SparkSession): Seq[String] =
    m.synchronized(m.keys.collect { case (sess, k) if sess eq s => k }.toSeq)

  /** Drops every entry, releasing those of live sessions through both
    * hooks (a stopped session's blocks died with its context). */
  def clear(): Unit = {
    val live = m.synchronized {
      val vs = m.collect { case ((sess, _), h) if !sess.sparkContext.isStopped => h }.toList
      m.clear()
      vs
    }
    live.foreach(evictHook(_, clearing = true))
  }
}
