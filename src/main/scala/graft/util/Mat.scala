package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The engine's single materialization barrier (r17, VERDICT r16 #1).
  *
  * r16 established that runtime exchange reuse does NOT dedupe repeated
  * map-side subtrees — a lazy multi-referenced frame re-scans its source
  * per reference in the final adaptive plan — so multi-consumer
  * intermediates are materialized eagerly inside each query constructor.
  * r16 hardwired `localCheckpoint(true)` at every such site; that is the
  * right barrier in local mode but a cluster hazard: localCheckpoint
  * stores blocks on executors non-replicated AND truncates lineage, so on
  * a real cluster one executor loss after the barrier kills the job
  * unrecoverably (guide §5). This helper makes the barrier a policy:
  *
  *  - local master (every test/bench/oracle run here): exactly the r16
  *    behavior, `localCheckpoint(eager = true)` — executor loss is
  *    process loss anyway, and keeping the local path byte-identical
  *    keeps the bench comparable across rounds.
  *  - cluster WITH a configured checkpoint dir: reliable
  *    `checkpoint(eager = true)` — blocks land on the checkpoint
  *    filesystem and survive executor loss.
  *  - cluster WITHOUT one: `persist(DISK_ONLY)` + an eager count.
  *    Unlike localCheckpoint this keeps lineage, so a lost block is
  *    recomputed instead of failing the job; DISK_ONLY because the
  *    materialized frames include data-sized working sets (the quantized
  *    embedding corpus, narrow fact projections) that must not compete
  *    with execution memory (guide §5).
  *
  * Every materialized frame is also tracked in a registry (ADVICE r16:
  * the ad-hoc checkpoints were never unpersisted, so blocks accumulated
  * across a 148-query Verify session until GC). [[clear]] — wired into
  * `Dedup.clearCaches()`, which Verify/Profile/PlanDump and perfbench's
  * analytics helper call per measured pass / per query — unpersists
  * them eagerly. The
  * registry holds weak references: a frame that becomes unreachable
  * between clears stays eligible for the ContextCleaner's normal
  * GC-driven reclaim instead of being pinned by the registry.
  */
object Mat {
  private val live: java.util.Set[DataFrame] =
    java.util.Collections.newSetFromMap(
      java.util.Collections.synchronizedMap(
        new java.util.WeakHashMap[DataFrame, java.lang.Boolean]()))

  def apply(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val out =
      if (sc.isLocal) df.localCheckpoint(true)
      else if (sc.getCheckpointDir.isDefined) df.checkpoint(true)
      else {
        val p = df.persist(StorageLevel.DISK_ONLY)
        p.count()
        p
      }
    live.add(out)
    out
  }

  /** Lazy variant for frames a following action materializes anyway
    * (the labelPropagate jump: the convergence count is the
    * materializing action — an eager barrier here would run the plan
    * twice per round). Same storage policy as [[apply]]. */
  def lazily(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val out =
      if (sc.isLocal) df.localCheckpoint(false)
      else if (sc.getCheckpointDir.isDefined) df.checkpoint(false)
      else df.persist(StorageLevel.DISK_ONLY)
    live.add(out)
    out
  }

  /** Eagerly free every still-reachable materialized frame. Safe to call
    * between queries/passes: consumers hold their own references, and a
    * frame unpersisted here while still referenced is only re-computable
    * on the persist path (local/reliable checkpoints are never freed
    * mid-consumer — callers clear between actions, not inside them). */
  def clear(): Unit = {
    val snapshot = live.synchronized {
      val a = new java.util.ArrayList[DataFrame](live)
      live.clear()
      a
    }
    snapshot.forEach { df =>
      try df.unpersist(false) catch { case _: Exception => () }
    }
  }

  /** Postfix form so call sites read like the localCheckpoint they
    * replace: `frame.materialize()`. */
  implicit class Ops(private val df: DataFrame) extends AnyVal {
    def materialize(): DataFrame = Mat(df)
    def lazyMaterialize(): DataFrame = Mat.lazily(df)
  }
}
