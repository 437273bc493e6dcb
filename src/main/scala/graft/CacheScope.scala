package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Tracks the shared persisted intermediates the operator families create
  * (hashed-token / signature / prepared-vector tables, sort barriers) so a
  * long-lived interactive session can release them deterministically:
  *
  * {{{
  *   val out = SparkEntry.queries("dd4_jaccard_neardup")(spark, dir)
  *   out.write.parquet(dest)
  *   graft.CacheScope.release()   // drops every graft-persisted block
  * }}}
  *
  * The Verify/Bench harnesses get the same effect from
  * `spark.catalog.clearCache()` between queries — this exists so library
  * users don't need the catalog-wide hammer (which would also evict
  * caches they own). Spark's CacheManager dedupes identical plans, so
  * re-persisting the same shared table across a query family costs one
  * entry, and `release` drops exactly the entries graft created.
  */
object CacheScope {

  private val tracked = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Register a just-persisted frame; returns it for chaining. Frames
    * no longer cached (a harness's `clearCache`, a caller's own
    * `unpersist`) are forgotten here, so a session that never calls
    * [[release]] does not keep every frame and its plan alive.
    */
  def track(df: DataFrame): DataFrame = synchronized {
    tracked.filterInPlace(_.storageLevel != StorageLevel.NONE)
    tracked += df
    df
  }

  /** Unpersist every tracked frame (blocking, so storage is actually
    * freed when this returns) and forget them. Safe to call at any time:
    * unpersisting an already-evicted or re-used plan is a no-op.
    */
  def release(): Unit = synchronized {
    tracked.foreach(_.unpersist(blocking = true))
    tracked.clear()
  }

  /** Number of currently tracked frames (test/diagnostic hook). */
  def size: Int = synchronized(tracked.size)
}
