package graft.pipeline

import java.util.concurrent.atomic.AtomicLong

/** Bounded memo for plan-keyed write-time artifacts (shingle sets,
  * signatures, LM tables, merge tables, IVF/PQ models, staged frames):
  * the one cache every `*Cached` entry point serves from.
  *
  * Access-order LRU capped at `max` entries; an evicted value goes
  * through `release` (`unpersist(false)` for persisted frames, nothing
  * for driver-side values). Every build is attributed to the query
  * that paid for it through the [[Scratch.noteBuild]] ledger, under
  * `name` unless the call names another artifact family sharing the
  * instance. Hit/miss/evict counters feed the Gateway's `/metrics`.
  *
  * Two build disciplines, so materializing a frame or training a
  * model does not hold the lock:
  *  - [[getOrBuild]]: LAZY values (a persisted but unmaterialized
  *    frame) are built under the lock; the caller materializes the
  *    returned frame outside it when the call built it.
  *  - [[getOrCompute]]: driver-side values (models, tables, counts)
  *    are computed outside the lock; when two callers race on one
  *    key, the first stored value wins and the loser's is released.
  *  - [[get]] then [[put]]: a value another piece of work yields on the
  *    way (a prepared plan is the plan a render already optimized);
  *    the caller looks it up, does that work on a miss, and stores the
  *    value when it may be kept.
  *
  * Keys must cover every input the value depends on — for a source
  * frame that means [[Dedup.planKey]], which names file sources by
  * their file listing, not their path.
  */
final class ArtifactCache[K, V <: AnyRef](val name: String, max: Int,
    release: V => Unit = (_: V) => ()) {
  // a cap read before its declaring object initialized it would be 0
  require(max > 0, s"ArtifactCache $name: cap must be positive, got $max")

  private val hits = new AtomicLong
  private val misses = new AtomicLong
  private val evictions = new AtomicLong

  private val map = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean = {
      val evict = size() > max
      if (evict) { evictions.incrementAndGet(); release(e.getValue) }
      evict
    }
  }

  ArtifactCache.register(this)

  /** The cached value for `key`, or `build`'s result stored under it;
    * `build` runs under the lock, so it should only construct (lazy
    * plans, `persist` marks). The flag is true when this call built
    * the value.
    */
  def getOrBuild(key: K, ledger: String = name)(build: => V): (V, Boolean) =
    synchronized {
      val hit = map.get(key)
      if (hit != null) { hits.incrementAndGet(); (hit, false) }
      else {
        val v = build
        map.put(key, v)
        misses.incrementAndGet()
        Scratch.noteBuild(ledger)
        (v, true)
      }
    }

  /** The cached value for `key`, or `compute`'s result, computed
    * OUTSIDE the lock (it may run Spark jobs).
    */
  def getOrCompute(key: K, ledger: String = name)(compute: => V): V = {
    val hit = synchronized(map.get(key))
    if (hit != null) { hits.incrementAndGet(); return hit }
    val v = compute
    misses.incrementAndGet()
    Scratch.noteBuild(ledger)
    synchronized {
      val raced = map.get(key)
      if (raced == null) { map.put(key, v); v }
      else { release(v); raced }
    }
  }

  /** The cached value for `key`, counted as a hit when there is one. A
    * caller that then builds the value itself stores it with [[put]].
    */
  def get(key: K): Option[V] = {
    val v = synchronized(map.get(key))
    if (v != null) hits.incrementAndGet()
    Option(v)
  }

  /** Store a value the caller built (counted as a miss); a value it
    * replaces is released.
    */
  def put(key: K, v: V): Unit = {
    misses.incrementAndGet()
    synchronized {
      val old = map.put(key, v)
      if (old != null && (old ne v)) release(old)
    }
  }

  /** Drop every entry whose key matches through `release`, counted as
    * evictions.
    */
  def removeIf(p: K => Boolean): Unit = synchronized {
    val it = map.entrySet.iterator
    while (it.hasNext) {
      val e = it.next()
      if (p(e.getKey)) { evictions.incrementAndGet(); release(e.getValue); it.remove() }
    }
  }

  /** Read-only probe: neither counts nor refreshes the entry's age. */
  def contains(key: K): Boolean = synchronized(map.containsKey(key))

  /** Drop every entry through `release`. */
  def clear(): Unit = synchronized {
    map.values.forEach(v => release(v))
    map.clear()
  }

  private[graft] def countersJson: String =
    s"""{"hits":${hits.get},"misses":${misses.get},"evictions":${evictions.get}}"""
}

object ArtifactCache {
  /** A cache of persisted frames: eviction unpersists. */
  def frames[K](name: String, max: Int)
      : ArtifactCache[K, org.apache.spark.sql.DataFrame] =
    new ArtifactCache[K, org.apache.spark.sql.DataFrame](name, max,
      _.unpersist(false))

  // weak: a cache that is no longer reachable drops out of /metrics
  private val live = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[ArtifactCache[_, _], java.lang.Boolean]())

  private def register(c: ArtifactCache[_, _]): Unit =
    live.synchronized(live.add(c))

  /** `{"<name>":{"hits":…,"misses":…,"evictions":…},…}` over the
    * caches that exist, sorted by name.
    */
  def countersJson: String = {
    val cs = live.synchronized(live.toArray(Array.empty[ArtifactCache[_, _]]))
    cs.sortBy(_.name).map(c => "\"" + c.name + "\":" + c.countersJson)
      .mkString("{", ",", "}")
  }
}
