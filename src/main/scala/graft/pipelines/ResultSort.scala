package graft.pipelines

/** The query layer's persist window.
  *
  * Query cells and pipeline marts persist a frame here when several
  * branches of one plan consume it (a diamond: the tiering protocol and
  * the row side of a mart, the survivor set of a curation funnel) or when
  * a result is read more than once. Residency is bounded by a
  * session-keyed [[graft.ops.CacheWindows]] (LRU, evictable,
  * MEMORY_AND_DISK; eviction costs a recompute, never a wrong result),
  * sized for a full Verify/Bench sweep's worth of frames. Same-plan
  * registrations refresh one entry, so repeated calls over the same
  * inputs share one cache entry. Like every window it is released by
  * [[graft.ops.CacheWindows.releaseAll]]. */
object ResultSort {
  private[graft] val window = new graft.ops.CacheWindows(16)

  /** Unpersist every registered frame (all sessions). */
  def releaseCaches(): Unit = window.releaseAll()
}
