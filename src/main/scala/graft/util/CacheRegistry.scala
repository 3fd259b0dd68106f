package graft.util

import org.apache.spark.sql.DataFrame

/** Lifecycle for the engine's shared stages: cache()d DataFrames (LSH
  * bands, scored pairs, ANN buckets, …) and the static memo maps that
  * hold them or the fixtures built from them.
  *
  * Memoization lets a multi-query run share expensive stages, but an
  * object-level cache with no eviction pins SparkSessions and storage
  * for the process lifetime. So every cached frame and every memo map
  * registers here, and hosts (Bench, Verify, a long-lived service
  * between jobs) call `clear()` when a pass is done.
  *
  * Memo maps are made only by [[newMap]], which registers what it
  * makes: a shared stage uses a [[Memo]], and the few side-channel maps
  * that fills `put` into (e.g. `GraphAnn.gateRecalls`) take the map
  * itself. `Mounts` alone registers a raw map, because its prefix
  * invalidation walks the keys.
  *
  * Timing note for bench readers: memoization makes per-query numbers
  * order-dependent — whichever of q27/q28/q51/q57 runs first pays the
  * shared MinHash signature cost (see COVERAGE.md).
  */
object CacheRegistry {
  private val cached =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[DataFrame, java.lang.Boolean]())
  private val memos =
    new java.util.concurrent.CopyOnWriteArrayList[java.util.Map[_, _]]()

  /** Track a cache()d DataFrame for later unpersist. Returns it. */
  def register(df: DataFrame): DataFrame = { cached.add(df); df }

  /** Track a memo map so clear() can evict its entries. */
  private[util] def registerMemo(m: java.util.Map[_, _]): Unit = memos.add(m)

  /** A new concurrent map that clear() empties. */
  def newMap[K, V](): java.util.concurrent.ConcurrentHashMap[K, V] = {
    val m = new java.util.concurrent.ConcurrentHashMap[K, V]()
    registerMemo(m)
    m
  }

  /** Unpersist every registered cache and evict every memo entry.
    * Blocking=false: frees asynchronously, safe mid-session.
    */
  def clear(): Unit = {
    cached.forEach { df =>
      try df.unpersist(blocking = false) catch { case _: Throwable => }
    }
    cached.clear()
    memos.forEach(_.clear())
  }
}

/** One shared stage's memo: the value for a key is built once per
  * process (until [[CacheRegistry.clear]]) and then reused by every
  * query that asks for it.
  *
  * A fill runs inside `ConcurrentHashMap.computeIfAbsent`, so
  * concurrent callers of one key block until the single fill is done
  * (a build is never run, or ledgered, twice). The same rule forbids a
  * fill to re-enter its own memo: a fill that needs another shared
  * stage reads it from that stage's own `Memo`.
  *
  * A fill given a `label` is timed into [[BuildCost]] under it; hits
  * never re-enter the fill, so the ledger holds first-touch costs only.
  */
final class Memo[K, V] {
  private val map = CacheRegistry.newMap[K, V]()

  /** The value under `key`, built by `fill` on first touch. */
  def apply(key: K)(fill: => V): V = map.computeIfAbsent(key, _ => fill)

  /** As `apply(key)`, with the fill's self time recorded as `label`. */
  def apply(key: K, label: String)(fill: => V): V =
    map.computeIfAbsent(key, _ => BuildCost.record(label)(fill))
}
