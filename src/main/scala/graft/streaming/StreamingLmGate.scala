package graft.streaming
import graft.util.Mat.Ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextOps

/** The q118 CCNet-style LM quality filter AT THE DOOR — the streaming
  * twin the batch tercile cannot have directly: a tercile is a RELATIVE
  * rank over the whole corpus, but a micro-batch must decide per document
  * NOW. The resolution is the standard one (and CCNet's own deployment
  * shape): freeze the model and the per-language tail BOUNDARY SCORE at
  * refresh time, then gate arrivals absolutely against the frozen cut.
  *
  * Persisted at refresh: the bigram model tables (langs·K² cells,
  * langs·K contexts — broadcast-sized at any corpus scale) and the
  * per-language cut = the MINIMUM lm_score among head+middle documents.
  * The door admits a document iff its frozen-model score ≥ its
  * language's cut.
  *
  * Documented stream-semantic divergences (candidate-grade decisions at
  * the door, exact ones at the next batch refresh): (1) a new doc
  * scoring EXACTLY on the boundary is admitted, while the batch tercile could rank a boundary TIE into the tail by
  * doc_id — conservative in the admit direction; (2) a language absent
  * from the cuts table (never seen at refresh) is admitted un-gated — no
  * evidence is not evidence of junk; (3) the gate drifts as the true
  * corpus distribution drifts, until the next refresh re-freezes it —
  * exactly q90's drift-monitoring job.
  *
  * Scale shape: scoring a micro-batch is batch-sized work against three
  * broadcast model frames (zero streaming state — the only restart
  * state is the source offset log): a stream-static shape.
  */
object StreamingLmGate {

  /** Train on `d`'s reference slice and persist model + cuts:
    * `<table>_cells`, `<table>_ctx` (the frozen bigram LM) and
    * `<table>_cuts` (lang, cut). ONE text decode (the checkpointed
    * per-doc frame feeds model, scores and cuts — the q118 barrier). */
  def saveLmModel(d: DataFrame, table: String): Unit = {
    val s = d.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val perDoc = TextOps.lmPerDocOf(d).materialize()
    val (cells, ctx) = TextOps.lmModelOf(perDoc)
    cells.write.mode("overwrite").format("parquet")
      .saveAsTable(table + "_cells")
    ctx.write.mode("overwrite").format("parquet").saveAsTable(table + "_ctx")
    val w = Window.partitionBy($"lang")
      .orderBy($"lm_score".desc, $"doc_id".asc)
    val nW = Window.partitionBy($"lang")
    val ranked = TextOps.lmScoreFromPerDoc(d.select($"doc_id", $"lang"),
        perDoc, s.table(table + "_cells"), s.table(table + "_ctx"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(nW))
      .materialize()
    ranked
      // the tail boundary: min score still inside head+middle (3rk ≤ 2n
      // is q118's non-tail condition verbatim)
      .filter(lit(3L) * $"rk" <= lit(2L) * $"n")
      .groupBy($"lang").agg(min($"lm_score").as("cut"))
      .write.mode("overwrite").format("parquet")
      .saveAsTable(table + "_cuts")
    // freeze-time per-lang ADMIT RATE — the staleness reference
    // [[lmGateDrift]] audits against (≈ 667‰ by the tercile
    // construction; the exact integer count is recorded, not assumed).
    // Counted with the GATE's OWN predicate (lm_score ≥ cut), not the
    // rank predicate: integer scores can TIE at the cut, the door
    // admits ties (documented divergence 1), and a reference counted by
    // rank would make a frozen-corpus replay read spurious drift on any
    // corpus with boundary ties (review finding r12).
    ranked
      .join(broadcast(s.table(table + "_cuts")), Seq("lang"), "left")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_ref"),
        sum(($"cut".isNull || $"lm_score" >= $"cut").cast("long"))
          .as("n_admit"))
      .withColumn("admit_permille", expr("1000L * n_admit div n_ref"))
      .write.mode("overwrite").format("parquet")
      .saveAsTable(table + "_rates")
  }

  /** (cells, ctx, cuts) as loaded frames. */
  def loadModel(s: SparkSession, table: String): (DataFrame, DataFrame, DataFrame) =
    (s.table(table + "_cells"), s.table(table + "_ctx"),
      s.table(table + "_cuts"))

  /** Score one micro-batch against the frozen model — the SHARED q118
    * formula ([[TextOps.lmScoreFromPerDoc]]), so a frozen-corpus doc
    * scores here exactly what q118 scored it. */
  def scoredBatch(batch: DataFrame, cells: DataFrame,
      ctx: DataFrame): DataFrame = {
    val ids = batch.select(col("doc_id"), col("lang"))
    TextOps.lmScoreFromPerDoc(ids, TextOps.lmPerDocOf(batch), cells, ctx)
  }

  /** Gate one micro-batch: one row per INCOMING doc with its score, its
    * language's cut (null = un-gated language) and the verdict. Callers
    * keep `admitted`; the full frame is the door's accounting row. */
  def gatedBatch(batch: DataFrame, cells: DataFrame, ctx: DataFrame,
      cuts: DataFrame): DataFrame =
    scoredBatch(batch, cells, ctx)
      .join(broadcast(cuts), Seq("lang"), "left")
      .withColumn("admitted",
        col("cut").isNull || col("lm_score") >= col("cut"))

  /** STALENESS GATE for the frozen LM cut (VERDICT r11 #4 —
    * [[graft.operators.Similarity.pqIndexDistortion]]'s role for the
    * text gate): gate `batch` with the frozen model and report, per
    * language, its admit rate against the freeze-time rate recorded by
    * [[saveLmModel]]. A drifting corpus moves the rate away from the
    * frozen ≈667‰ tercile long before anyone inspects rankings — after
    * k appends this is the number telling the operator to re-freeze
    * (SURVEY's "q90's monitoring job" for the serving stack).
    *
    * Output: (lang, n_batch, admit_permille, frozen_permille,
    * drift_permille) — pure integer permille arithmetic.
    *
    * Refusal (the pqIndexDistortion coverage rule): a batch language
    * ABSENT from the frozen MODEL is admitted un-gated at the door — at
    * the AUDIT it would read as zero drift while being exactly the
    * un-judged traffic this gate exists to catch; refuse instead.
    *
    * A null cut has TWO distinct causes (ADVICE r12), and only one is
    * refusable: a language never seen at freeze time has no `_rates`
    * row and nothing to judge against — refuse, naming that cause. A
    * language FROZEN WITHOUT a tail cut (present at refresh with so few
    * docs that 3rk ≤ 2n never holds — n = 1 suffices) is a legitimate
    * frozen fact: the door admits all of it BY the frozen contract, its
    * recorded freeze-time rate is 1000‰ under the same predicate, and a
    * frozen-corpus replay must stay auditable. Such languages are
    * REPORTED (with their recorded rate and `ungated = true`), not
    * refused — re-freezing cannot produce a cut for them anyway. */
  def lmGateDrift(batch: DataFrame, cells: DataFrame, ctx: DataFrame,
      cuts: DataFrame, rates: DataFrame): DataFrame = {
    val gated = gatedBatch(batch, cells, ctx, cuts).materialize()
    // language-cardinality-sized driver reads, the cuts/rates broadcast
    // scale class
    val frozen = rates.select(col("lang")).distinct()
      .collect().map(_.getString(0)).toSet
    val unknown = gated.filter(col("cut").isNull)
      .select(col("lang")).distinct().collect().map(_.getString(0))
      .filterNot(frozen)
    require(unknown.isEmpty,
      s"drift gate refused: batch languages [${unknown.mkString(", ")}] " +
        "are absent from the frozen model (no frozen cut, no recorded " +
        "rate) — they pass the door un-gated, so an audit skipping them " +
        "would read clean on exactly the traffic it cannot judge. " +
        "Re-freeze the model over a corpus covering them.")
    gated.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_batch"),
        sum(col("admitted").cast("long")).as("n_admit"),
        max(col("cut").isNull.cast("long")).as("_nocut"))
      .withColumn("admit_permille", expr("1000L * n_admit div n_batch"))
      .join(broadcast(rates.select(col("lang"),
        col("admit_permille").as("frozen_permille"))), "lang")
      .withColumn("drift_permille",
        abs(col("admit_permille") - col("frozen_permille")))
      .select(col("lang"), col("n_batch"), col("admit_permille"),
        col("frozen_permille"), col("drift_permille"),
        (col("_nocut") === 1L).as("ungated"))
      .orderBy(col("lang"))
  }
}
