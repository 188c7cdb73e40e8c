package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** The one cache rule: graft caches a shared relation ONLY through
  * [[cached]] — the pipeline's enriched / routing / raw-rollup relations,
  * the conversation fold inside `Route.convRouting`, and the operators'
  * shared intermediates (`Aggregates.fineRollup`, the dedup and similarity
  * signature / shingle caches, ...). The rule has three parts:
  *
  *  - lazy: [[cached]] only marks the plan; the first action that reads it
  *    fills it. Building a DataFrame never runs a Spark job.
  *  - once per plan: a plan Spark already caches (the same analyzed plan,
  *    built again — q10 re-deriving q09's rollup) is not registered a
  *    second time, so repeated builds leave [[size]] unchanged.
  *  - one release: [[release]] drops every registered entry. Release
  *    points are deliberately coarse: the end of a verify or bench run,
  *    the start of a SqlSurface re-registration, the end of a streaming
  *    micro-batch. Within a run the entries stay live so Spark's cache
  *    manager keeps deduping repeated derivations across queries.
  *    `unpersist` on a live plan is always safe — a later consumer just
  *    recomputes.
  *
  * The only caches outside the book are loop-scoped ones their owner
  * drops itself (`Dedup.duplicateClusters`' per-round label relations)
  * and caller-owned inputs (a bench's generated tables).
  */
object CacheBook {

  private val entries = new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]()

  /** Mark `ds` for caching (no action) and register it for the next
    * [[release]], unless Spark already caches its plan. */
  def cached[T](ds: Dataset[T]): Dataset[T] = {
    if (ds.storageLevel == StorageLevel.NONE) entries.add(ds.cache())
    ds
  }

  /** Unpersist every registered entry (non-blocking) and clear the book. */
  def release(): Unit = {
    var d = entries.poll()
    while (d != null) {
      d.unpersist(blocking = false)
      d = entries.poll()
    }
  }

  /** Number of currently registered entries (test visibility). */
  def size: Int = entries.size()
}
