package graft.streaming
import graft.util.Mat.Ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Classifier

/** The q131 trained quality classifier AT THE DOOR — the serving twin of
  * the batch audit, [[StreamingLmGate]]'s sibling for the learned model:
  * freeze the perceptron weights, the calibrated threshold and the
  * per-language admit-rate baseline at refresh time, then gate arrivals
  * absolutely against the frozen (w, θ). This is how a trained quality
  * filter actually deploys (the GPT-3/LLaMA gate is a frozen artifact
  * applied per shard, not retrained per batch): train/calibrate in the
  * batch refresh, serve the frozen model at the door, re-freeze when the
  * drift audit says so.
  *
  * Contrast with the LM gate's frozen CUT: the classifier's θ is already
  * an absolute decision boundary (calibrated at train time), so there is
  * no tercile-to-absolute translation step and no un-gated-language case
  * — the weights are language-agnostic (hashed unigrams), so a language
  * never seen at refresh still scores and gates. Only the AUDIT needs a
  * per-language baseline, hence the one refusal below.
  *
  * Scale shape: scoring a micro-batch is batch-sized work — one token
  * explode into the bounded ≤257-rows/doc feature frame, the 257 weights
  * as a codegen array literal (zero joins, zero streaming state — the
  * only restart state is the source offset log), the same stream-static
  * shape as StreamingLmGate.
  */
object StreamingQualityGate {

  /** Train on `d`'s train split ([[Classifier.trainPerceptron]]),
    * calibrate θ there ([[Classifier.calibrateTheta]]), and persist the
    * frozen artifact: `<table>_w` (fb, w — 257 rows), `<table>_theta`
    * (1 row) and `<table>_rates` (lang, n_ref, n_admit, admit_permille —
    * the staleness reference, counted over the WHOLE reference corpus
    * with the gate's OWN predicate score > θ, the lmGate r12 tie
    * lesson). ONE text decode: the checkpointed feature frame feeds
    * training, calibration, and the rate census. */
  def saveQualityModel(d: DataFrame, table: String): Unit = {
    val s = d.sparkSession
    import s.implicits._
    val perDoc = Classifier.perceptronPerDoc(d).materialize()
    val w = Classifier.trainPerceptron(perDoc)
    val scores = Classifier.scoresOf(perDoc, w).materialize()
    val theta = Classifier.calibrateTheta(scores.filter($"db" >= 100))
    s.createDataset(w.toIndexedSeq.zipWithIndex
        .map { case (v, i) => (i.toLong, v) })
      .toDF("fb", "w")
      .write.mode("overwrite").format("parquet").saveAsTable(table + "_w")
    s.range(1).select(lit(theta).as("theta"))
      .write.mode("overwrite").format("parquet")
      .saveAsTable(table + "_theta")
    scores.groupBy($"lang")
      .agg(count(lit(1)).as("n_ref"),
        sum(($"score" > theta).cast("long")).as("n_admit"))
      .withColumn("admit_permille", expr("1000L * n_admit div n_ref"))
      .write.mode("overwrite").format("parquet")
      .saveAsTable(table + "_rates")
  }

  /** The frozen model as driver values: (weights, θ). Model-sized reads
    * (257 rows + 1 row) — the same scale class as the LM gate's
    * broadcast frames, here a codegen literal instead of a join. */
  def loadModel(s: SparkSession, table: String): (Array[Long], Long) = {
    val rows = s.table(table + "_w").collect()
    // 257 rows is not enough: a duplicated cell id would silently
    // last-write a weight and gate every batch with a corrupt model —
    // demand exact coverage of 0..256, and exactly one θ
    require(rows.length == Classifier.PerceptronBuckets + 1 &&
      rows.map(_.getLong(0)).sorted.toSeq ==
        (0L to Classifier.BiasBucket),
      s"$table's weight table does not cover cells 0..${Classifier.BiasBucket} " +
        s"exactly once (${rows.length} rows) — rebuild (saveQualityModel)")
    val w = Array.fill(Classifier.PerceptronBuckets + 1)(0L)
    rows.foreach(r => w(r.getLong(0).toInt) = r.getLong(1))
    val thetas = s.table(table + "_theta").collect()
    require(thetas.length == 1,
      s"$table's theta table has ${thetas.length} rows, expected 1 — " +
        "rebuild (saveQualityModel)")
    (w, thetas(0).getLong(0))
  }

  /** Gate one micro-batch against the frozen (w, θ): one row per
    * INCOMING doc — (doc_id, lang, score, admitted). A frozen-corpus doc
    * scores here exactly what q131 scored it (shared
    * [[Classifier.perceptronPerDoc]]/[[Classifier.scoresOf]]), so the
    * door's admit set over a replay IS q131's predicted-positive set. */
  def gatedBatch(batch: DataFrame, w: Array[Long], theta: Long): DataFrame =
    Classifier.scoresOf(Classifier.perceptronPerDoc(batch), w)
      .select(col("doc_id"), col("lang"), col("score"),
        (col("score") > theta).as("admitted"))

  /** STALENESS GATE for the frozen classifier
    * ([[StreamingLmGate.lmGateDrift]]'s role for the learned model):
    * gate `batch` with the frozen (w, θ) and report, per language, its
    * admit rate against the freeze-time rate. A drifting corpus moves
    * the admit rate away from the frozen baseline long before anyone
    * reads rankings — after k appends this is the number telling the
    * operator to re-freeze.
    *
    * Refusal (the pqIndexDistortion coverage rule): a batch language
    * with no `_rates` row has nothing to be judged AGAINST — unlike the
    * LM gate's frozen-without-a-cut case there is no second cause here
    * (every language present at freeze time gets a rate, because every
    * document scores), so the remedy in the message always works:
    * re-freeze over a corpus covering the language. */
  def qualityGateDrift(batch: DataFrame, w: Array[Long], theta: Long,
      rates: DataFrame): DataFrame = {
    val gated = gatedBatch(batch, w, theta).materialize()
    // language-cardinality-sized driver reads — the rates broadcast
    // scale class
    val frozen = rates.select(col("lang")).distinct()
      .collect().map(_.getString(0)).toSet
    val unknown = gated.select(col("lang")).distinct()
      .collect().map(_.getString(0)).filterNot(frozen)
    require(unknown.isEmpty,
      s"drift gate refused: batch languages [${unknown.mkString(", ")}] " +
        "have no freeze-time admit-rate baseline — their drift is " +
        "undefined, and an audit skipping them would read clean on " +
        "exactly the traffic it cannot judge. Re-freeze the quality " +
        "model (saveQualityModel) over a corpus covering them.")
    gated.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_batch"),
        sum(col("admitted").cast("long")).as("n_admit"))
      .withColumn("admit_permille", expr("1000L * n_admit div n_batch"))
      .join(broadcast(rates.select(col("lang"),
        col("admit_permille").as("frozen_permille"))), "lang")
      .withColumn("drift_permille",
        abs(col("admit_permille") - col("frozen_permille")))
      .select(col("lang"), col("n_batch"), col("admit_permille"),
        col("frozen_permille"), col("drift_permille"))
      .orderBy(col("lang"))
  }
}
