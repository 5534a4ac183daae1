package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.MinHashSig

/** Streaming NEAR-dup candidate detection — q36's ingestion-time twin:
  * every incoming document is MinHash-banded and checked against the
  * band buckets seen so far; a document landing in a
  * bucket that already has an owner raises a candidate alert naming the
  * owner — the crawl-time "this is probably a near-copy of X" signal a
  * pipeline uses to queue verification (exact Jaccard, q35's formula)
  * or to deprioritize re-fetches.
  *
  * Shape: the 16-component signature is ONE codegen expression per row
  * ([[MinHashSig]] — bit-identical to the batch pipeline's exploded
  * Md5Pair + min-aggregates, parity spec-pinned), band keys are the same
  * md5-of-4-components the batch `bandedOf` computes, and the only
  * stateful operator is a `flatMapGroupsWithState` keyed by
  * (band, bkey) holding ONE long (the bucket owner = the minimum doc_id
  * seen) — state grows with distinct buckets (≤ 4 per distinct
  * signature), the same bound the batch LSH join carries, and a
  * watermark + state TTL composes on top for deployments that can
  * forget old content. Candidates are LSH-grade (a bucket collision,
  * not a verified near-dup) exactly as in batch q36, where candidate
  * generation and verification are separate stages by design.
  */
object StreamingNearDup {

  /** (band, bkey) struct array over a `_sig` column — the same key
    * construction as the batch `Dedup.bandedOf` (4 bands × 4 rows,
    * bkey = md5 of the comma-joined components). */
  private val bandStructs = (0 until 4).map { b =>
    val parts = (1 to 4).map(r => s"cast(element_at(_sig, ${b * 4 + r}) as string)")
      .mkString(", ")
    s"struct($b as band, md5(cast(concat_ws(',', $parts) as binary)) as bkey)"
  }.mkString(", ")

  /** One alert row `(doc_id, owner_id, band, bkey)` per band collision of
    * an incoming document against the bucket's owner (the minimum doc_id
    * the bucket has seen). A doc colliding in k bands alerts k times —
    * downstream dedups or scores by collision count (more shared bands ⇒
    * higher estimated similarity, the standard LSH amplification read).
    * `stream` carries (idCol, textCol); <3-token docs have no signature
    * and never alert.
    *
    * `ttl` (opt-in, VERDICT r7 #5): without it the (band, bkey) store
    * grows with distinct buckets forever; with it an idle bucket's owner
    * expires `ttl` after its last traffic (idle-TTL — every touch
    * re-arms, so a bucket in steady use never expires). The recall
    * trade is explicit: an evicted bucket silently re-admits its next
    * member as a NEW owner, so a near-copy arriving later than `ttl`
    * after its original raises no alert — acceptable exactly when the
    * deployment is entitled to forget content that old (the batch q36
    * pipeline over the full corpus remains the exhaustive verifier).
    * TTL needs processing-time timeouts, under which the query
    * self-triggers no-data batches to fire expirations — poll the sink
    * rather than relying on processAllAvailable(), which never returns
    * while those batches keep coming. */
  def candidateAlerts(stream: DataFrame, idCol: String = "doc_id",
      textCol: String = "text",
      ttl: Option[java.time.Duration] = None): DataFrame = {
    val s = stream.sparkSession
    import s.implicits._
    val banded = stream
      .withColumn("_sig", MinHashSig(col(textCol)))
      .filter(col("_sig").isNotNull)
      .select(col(idCol).cast("long").as("doc_id"),
        explode(expr(s"array($bandStructs)")).as("x"))
      .select($"doc_id", $"x.band".as("band"), $"x.bkey".as("bkey"))
      .as[(Long, Int, String)]
    val timeout =
      if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    banded
      .groupByKey { case (_, band, bkey) => (band, bkey) }
      .flatMapGroupsWithState(OutputMode.Append, timeout)(
        collide(ttl.map(_.toMillis)))
      .toDF("doc_id", "owner_id", "band", "bkey")
  }

  /** Bucket state transition: the FIRST batch to touch a bucket elects
    * the owner (minimum doc_id within that batch — deterministic under
    * any within-batch arrival order); the owner never changes afterwards
    * (until TTL eviction, when configured), so every later arrival —
    * including one with a smaller id — alerts against it (stream
    * semantics: first content in wins). A re-sent owner never
    * alerts. */
  private def collide(ttlMs: Option[Long])(key: (Int, String),
      rows: Iterator[(Long, Int, String)],
      state: GroupState[Long]): Iterator[(Long, Long, Int, String)] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    val ids = rows.map(_._1).toArray.sorted
    val owner = if (state.exists) state.get else ids.head
    if (!state.exists) state.update(owner)
    ttlMs.foreach(state.setTimeoutDuration) // every touch re-arms (idle-TTL)
    ids.iterator.filter(_ != owner).map(id => (id, owner, key._1, key._2))
  }
}
