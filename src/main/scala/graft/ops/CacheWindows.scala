package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Bounded window of persisted frames, keyed by owning SparkSession.
  *
  * Why session-keyed rather than one JVM-global deque (the round-4
  * shape): two concurrent pipelines sharing a JVM used to share one
  * window and could evict each other's hot frames mid-plan. A window per
  * (module, session) gives a pipeline that wants full isolation the
  * standard Spark isolation unit — run in `spark.newSession()` and keep
  * the whole eviction budget; same-session work intentionally shares a
  * window, matching CacheManager semantics (cache entries are plan-keyed
  * and session-shared there anyway).
  *
  * Eviction only unpersists — never a wrong result, worst case a
  * recompute (an in-flight action holds its own reference to the frame).
  *
  * Every window registers itself in the companion's registry at
  * construction, so [[CacheWindows.releaseAll]] / [[CacheWindows.release]]
  * reach every window in the JVM — a new window cannot be missed by a
  * hand-kept release list.
  *
  * Lifecycle: entries are held STRONGLY until `release(spark)` /
  * `releaseAll()` (or the SparkContext stops). A weak map cannot do
  * better here — `df.persist` registers the plan in the session's SHARED
  * `CacheManager`, which holds it strongly until an explicit uncache, so
  * a "weakly held" window entry would only lose the handle needed to
  * unpersist while the blocks stayed pinned anyway (each registered
  * DataFrame also reaches its session via `df.sparkSession`, so weak
  * KEYS were never collectible to begin with — the round-5 WeakHashMap's
  * documented weakness was illusory). Dropping a session without
  * releasing its window leaks its ≤ `maxPerSession` persisted frames
  * until `releaseAll()` — that is Spark's `persist` contract, made
  * explicit rather than papered over.
  */
private[graft] final class CacheWindows(maxPerSession: Int) {
  private val windows = new java.util.HashMap[
    SparkSession, scala.collection.mutable.ArrayDeque[DataFrame]]()
  // registered only once its state exists: a concurrent releaseAll()
  // may reach it as soon as it is in the registry
  CacheWindows.register(this)

  /** Persist `df` (MEMORY_AND_DISK) and register it in its session's
    * window, evicting that session's least-recently-registered frame past
    * the bound.
    *
    * Same-plan registrations REFRESH instead of re-registering: Spark's
    * CacheManager is plan-keyed, so two DataFrames with the same
    * canonicalized plan alias ONE cache entry — appending both would burn
    * two window slots on one entry and, worse, evicting either alias
    * would unpersist the entry the other still relies on (measured: the
    * two benched linkage queries share their corpus-index plan, and
    * slot-per-alias made each query's passes evict the other's live
    * cache). The refreshed frame is returned unpersisted — its action
    * still hits the cached entry, because cache lookup is by plan, not
    * by DataFrame identity. */
  def add(df: DataFrame): DataFrame = synchronized {
    val w = windows.computeIfAbsent(df.sparkSession,
      _ => new scala.collection.mutable.ArrayDeque[DataFrame]())
    val plan = df.queryExecution.analyzed
    val existing = w.indexWhere(_.queryExecution.analyzed.sameResult(plan))
    if (existing >= 0) {
      val entry = w.remove(existing)
      w.append(entry) // LRU refresh: this plan is hot again
      df
    } else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      w.append(p)
      while (w.length > maxPerSession) w.removeHead().unpersist(blocking = false)
      p
    }
  }

  /** Unpersist and forget every frame registered by `spark`'s window;
    * other sessions' windows are untouched. */
  def release(spark: SparkSession): Unit = synchronized {
    Option(windows.remove(spark))
      .foreach(_.foreach(_.unpersist(blocking = false)))
  }

  /** Unpersist everything this window holds, across all sessions. */
  def releaseAll(): Unit = synchronized {
    windows.values.forEach(w => w.foreach(_.unpersist(blocking = false)))
    windows.clear()
  }

  /** Frames currently registered for `spark` (spec/diagnostic surface). */
  def registered(spark: SparkSession): Seq[DataFrame] = synchronized {
    Option(windows.get(spark)).map(_.toSeq).getOrElse(Nil)
  }
}

/** The registry of every [[CacheWindows]] ever constructed in this JVM. */
private[graft] object CacheWindows {
  private val registry =
    new java.util.concurrent.CopyOnWriteArrayList[CacheWindows]()

  private def register(w: CacheWindows): Unit = registry.add(w): Unit

  /** Every registered window (spec/diagnostic surface). */
  def all: Seq[CacheWindows] = registry.toArray(Array.empty[CacheWindows]).toSeq

  /** Unpersist every frame of every window, across all sessions — the one
    * call that starts a bench pass or a test from cold caches. */
  def releaseAll(): Unit = registry.forEach(_.releaseAll())

  /** Unpersist `spark`'s frames from every window; other sessions keep
    * theirs. */
  def release(spark: SparkSession): Unit = registry.forEach(_.release(spark))
}
