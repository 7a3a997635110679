package graft.operators

import java.lang.ref.WeakReference

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Lifecycle management for operator-internal `localCheckpoint` blocks.
  *
  * Operators here checkpoint shared subtrees (pair generators reuse the
  * quantizer assignment on both self-join sides; iterative graph loops
  * re-seed each round). `localCheckpoint` TRUNCATES lineage, so a
  * checkpoint's blocks are the only copy of its data, and left alone
  * they accumulate in the block manager for the life of the session
  * (round-4 measured 2.5–4.7× timing inflation on late lanes). The API:
  *
  *  - [[trackedEager]] — acquire an operator-internal checkpoint: eager
  *    `localCheckpoint`, registered for [[releaseTracked]]. Identity
  *    under [[planCaptureMode]], so evidence dumps see the operator tree.
  *  - [[trackedEagerPinned]] — the same for loop-carried frames; it
  *    truncates even under [[planCaptureMode]].
  *  - [[release]] — free ONE checkpoint's blocks once nothing can read
  *    through it, and drop its registry entry. Iterative operators
  *    ([[Components.alternatingStars]], [[Components.hostPagerank]],
  *    `TextAnalysis.bpeTrain`) call this on generation n−1 once
  *    generation n is materialized — the rolling form of acquire → use →
  *    unpersist, which keeps O(1) generations alive instead of O(rounds).
  *    Operators that finish with a checkpoint inside the call
  *    (`QualityFilter.fit`, `TextAnalysis.unigramTrain`) release it the
  *    same way.
  *  - [[releaseTracked]] — free every tracked checkpoint. A pair
  *    generator's checkpoint feeds the lazily returned pair DataFrame, so
  *    the operator itself can never free it; a long-lived session calls
  *    this between logical queries, after materializing the previous
  *    query's results, and user-managed caches stay untouched. The
  *    registry is JVM-wide and every acquire registers, including the
  *    checkpoints an operator releases itself before returning: a
  *    `releaseTracked` that runs concurrently with such an operator call
  *    (another thread on a shared session) frees its blocks mid-call.
  *  - [[quiesce]] — the between-lanes sweep of a session that owns its
  *    SparkContext (`graft.Bench`, `LaneProfile`, `PlanSnap`): every
  *    persistent RDD, the tracked registry, state stores and terminated
  *    queries, then a GC.
  *
  * Both acquire forms are eager: a lazy checkpoint in a rolling-release
  * loop materializes from already-released blocks
  * (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND, the r19 q98/q101 failure). All
  * releases except [[quiesce]]'s are `blocking = false`.
  */
object Checkpoints {

  /** r19 evidence hook (set ONLY by `graft.tools.PlanSnap`): when true,
    * checkpoints taken through [[trackedEager]] become identity, so a
    * final-frame `.explain("formatted")` shows the full operator tree
    * instead of the `Scan ExistingRDD` a checkpoint truncates it to (the
    * r18 plan dumps were before/after byte-identical for exactly this
    * reason). Never set in query/bench/verify paths: without truncation,
    * iterative loops re-derive every prior round (O(rounds²) work) and
    * plans grow unboundedly — this is an evidence switch, not an
    * execution mode. */
  @volatile private[graft] var planCaptureMode = false

  /** Operator-internal checkpoint: eager `localCheckpoint`, registered
    * for [[releaseTracked]]; identity under [[planCaptureMode]]. The
    * chainable form is `df.transform(Checkpoints.trackedEager)`. */
  private[graft] def trackedEager(df: DataFrame): DataFrame =
    if (planCaptureMode) df else track(df.localCheckpoint(eager = true))

  /** Loop-carried checkpoint: like [[trackedEager]] but ALWAYS truncates,
    * even under [[planCaptureMode]]. Iterative frames reference their
    * predecessor several times per round (symmetrize = 2 reads, the
    * fixpoint diff a third), so an untruncated loop plan grows
    * exponentially and the ANALYZER hangs before any task runs —
    * measured: the r19 see-through dump of q63 sat >10 min at sf0.001 in
    * plan analysis. Loop lanes inevitably explain as `Scan ExistingRDD`;
    * their plan evidence is the loop INPUT subtree, captured through the
    * non-loop lanes that share it. */
  private[graft] def trackedEagerPinned(df: DataFrame): DataFrame =
    track(df.localCheckpoint(eager = true))

  /** The persisted RDDs behind a `localCheckpoint`ed DataFrame — the
    * `LogicalRDD` leaves of its analyzed plan. For a DataFrame that IS a
    * checkpoint result this is exactly one RDD; for derived plans it
    * finds every checkpoint leaf (used by tests; operators pass the
    * checkpoint result itself). */
  private def checkpointRdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }

  /** Free the checkpoint blocks behind `df` (a DataFrame returned by
    * `localCheckpoint`). SAFETY: only call once every consumer of the
    * checkpoint has been eagerly materialized — lineage is truncated, so
    * the blocks are the only copy of the data. */
  def release(df: DataFrame): Unit =
    checkpointRdds(df).foreach { r =>
      tracked.remove(r.id)
      r.unpersist(blocking = false)
    }

  /** Operator-internal checkpoints registered for deferred release —
    * weak refs so an unpersisted-by-GC RDD never pins heap here. */
  private val tracked =
    new java.util.concurrent.ConcurrentHashMap[Integer, WeakReference[RDD[_]]]()

  /** Register `df`'s checkpoint blocks for [[releaseTracked]] and return
    * it unchanged (plan-neutral). */
  private def track(df: DataFrame): DataFrame = {
    checkpointRdds(df).foreach(r => tracked.put(r.id, new WeakReference(r)))
    df
  }

  /** How many tracked checkpoints are currently registered (diagnostic,
    * read by the lifecycle spec). */
  def trackedCount: Int = tracked.size()

  /** Free every operator-internal checkpoint registered since the last
    * call. Call between logical queries in a long-lived session, AFTER
    * materializing the previous query's results (the [[quiesce]]
    * contract): the released blocks are unrecoverable by design.
    *
    * ONE-ACTION-WINDOW CONTRACT (also documented on every operator
    * object whose entries return tracked frames — Dedup, Similarity,
    * TextAnalysis, Sampling, Windows, Components): a frame returned by
    * a tracked operator cannot be re-executed after this call, even if
    * it was already materialized once — `localCheckpoint` TRUNCATES
    * lineage, so a second action (count-then-collect, a common
    * interactive pattern) fails with block-not-found. If you need
    * repeated actions on a result across release boundaries, persist it
    * yourself (`.localCheckpoint()` / write it out) before releasing. */
  def releaseTracked(): Unit = {
    val it = tracked.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val r = e.getValue.get()
      if (r != null) r.unpersist(blocking = false)
      it.remove()
    }
  }

  /** Between-lanes quiesce for a session that owns its SparkContext: the
    * dedup/LSH lanes leave checkpoint blocks behind, and round 4
    * measured 2.5-4.7× inflation on late-alphabet lanes (q49/q51) against
    * isolated reruns. Dropping that state (caches, persistent RDDs, the
    * tracked registry) and forcing a GC outside the timed region gives
    * every lane the same quiet JVM an isolated run sees. Frees user
    * caches too — never call it from a session you share. */
  def quiesce(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    // the blanket unpersist above already freed the blocks; this drops
    // the registry's refs
    releaseTracked()
    // every streaming-query run loads fresh state-store providers into a
    // JVM-wide cache whose maintenance tasks keep churning against dead
    // checkpoints; unload them so later lanes run against a quiet JVM
    org.apache.spark.sql.GraftStateStoreBridge.unloadAllStateStores()
    // terminated queries stay referenced by StreamingQueryManager (for
    // awaitAnyTermination), pinning their final execution plans + progress
    // — droppable heap the gc() below could not otherwise reclaim
    spark.streams.resetTerminated()
    System.gc()
  }
}
