package graft.core

import org.apache.spark.sql.DataFrame

/** Cache-lifecycle helper for iterative/multi-reference operators.
  *
  * The pattern (as in [[graft.ext.Graph.adamicAdar]]): an
  * operator that caches helper frames (edge lists, capped baskets,
  * vocabularies) referenced several times by its output plan must
  * MATERIALIZE the output while those caches are live, then release
  * them — otherwise every call leaks blocks into executor storage
  * until LRU eviction, and in a long-lived session (a 100-query bench,
  * a notebook) dead graph frames crowd out live working sets.
  *
  * `materialized` forces the full frame into its own cache (count, not
  * isEmpty, so every partition lands) and returns the persisted handle;
  * the caller then unpersists its helpers. Correctness never depends on
  * the cache: if the result is later evicted, recomputation falls back
  * to the (now uncached) lineage — slower, never wrong. The returned
  * frame itself stays persisted; callers that are done with it may
  * `unpersist()` it — operator results are small (scored/aggregated
  * frames), so this is a deliberate, bounded hand-off, not a leak.
  */
object Caches {
  def materialized(df: DataFrame): DataFrame = {
    val p = cached(df)
    p.count()
    p
  }

  /** Materialize `out`, then release the helper frames its construction
    * cached: helper blocks are only needed while `out`'s plan computes
    * (they are referenced >1× inside it); once the result is persisted
    * they are dead weight in the storage pool — in a 116-query session
    * dozens of small leaked vocab/pair frames add up to real eviction
    * pressure on the frames that memoization depends on. If `out` was
    * already memoized (cache hit), the helpers were never populated this
    * call and the unpersists are no-ops.
    */
  def materializedThenRelease(out: DataFrame, helpers: DataFrame*)
  : DataFrame = {
    val p = materialized(out)
    helpers.foreach(_.unpersist(false))
    p
  }

  /** persist() unless an identical (canonicalized) plan is already in
    * the cache — in which case the existing entry serves this frame's
    * scans too and re-persisting would only log "Asked to cache already
    * cached data". The second declaration of the same query in one
    * session (Bench's two passes, a spec re-running an operator) then
    * becomes a silent cache HIT instead of a warning.
    */
  def cached(df: DataFrame): DataFrame = {
    if (!isCached(df)) df.persist()
    df
  }

  /** Whether an identical (canonicalized) plan is already cached —
    * lets an operator skip straight to its memoized result instead of
    * re-running setup work whose only purpose is building that frame.
    */
  def isCached(df: DataFrame): Boolean =
    df.storageLevel != org.apache.spark.storage.StorageLevel.NONE
}
