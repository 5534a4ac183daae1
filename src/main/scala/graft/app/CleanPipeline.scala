package graft.app
import graft.util.Mat.Ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextOps
import graft.sinks.CorpusPublisher
import graft.util.Tables

/** The end-to-end batch cleaning pipeline a training-data user runs:
  * stage every document (exact-dup canonicalization → repetition filter →
  * quality filter → deterministic sampling, q54's primitive), publish the
  * survivors as a lang-partitioned + doc_id-bucketed table
  * ([[CorpusPublisher]]), and report per-language accounting of where
  * every document went. One distributed plan to stage + one bucketed
  * write; the accounting aggregate is vocabulary-sized.
  *
  * Usage: graft.app.CleanPipeline <sfDir> <tableName> [buckets]
  */
object CleanPipeline {

  /** Returns the per-(lang, stage) accounting AFTER publishing the kept
    * documents to `table`. The staged frame is persisted across its two
    * consumers (the publish write and the accounting aggregate) so the
    * cascade — the expensive plan here — runs once, and the tiny
    * accounting result is materialized before the unpersist. */
  def run(spark: SparkSession, inDir: String, table: String,
      buckets: Int = 32): DataFrame = {
    val staged = TextOps.stagedDocs(Tables(spark, inDir, "documents")).persist()
    try {
      val kept = staged.filter(col("stage") === "kept")
        .select("doc_id", "text", "source", "n_chars", "lang")
      CorpusPublisher.publish(kept, table, buckets)
      val acct = staged.groupBy(col("lang"), col("stage"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"), col("stage"))
      val rows = acct.collect() // |langs|×|stages| rows — driver-sized
      spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), acct.schema)
    } finally staged.unpersist()
  }

  /** VERDICT r8 #7: the FULL published curation pipeline as one
    * spark-submit entry — every stage this engine implements, in the
    * order a training-data team runs them:
    *
    *   clean (q54 cascade: exact-dup → repetition → quality → sample)
    *   → near-dup drop (q36 components, q65 keeper)
    *   → decontam drop (the q60 machinery aimed at THIS pipeline's own
    *     published val/test splits: a train-split doc sharing a
    *     DecontamWidth-shingle with any val/test doc is dropped)
    *   → LM-quality tail drop (q118 CCNet-style bigram-LM terciles;
    *     `--lm-tail-filter` — off by default, CCNet keeps head+middle)
    *   → Gopher rule drop (q119: docs failing any of the `gopherRules`
    *     subset — off by default/empty; a named subset, not all-18,
    *     because rule applicability is corpus-dependent, see
    *     [[graft.operators.TextOps.gopherDrops]])
    *   → span strip (q116, the published ExactSubstr convention of Lee
    *     et al. 2022: only MAXIMAL duplicated blocks of ≥ `minStripSpan`
    *     tokens are removed, short incidental matches are kept; applied
    *     WITHIN the surviving corpus — the version being published is
    *     what must not self-duplicate. `minStripSpan` ≤ the gram width
    *     degenerates to the q99 every-dup-gram rule, spec-pinned)
    *   → PII redact (q114 chain, the published text)
    *   → split ([[splitCol]]: a salted 98/1/1 hash, independent of the
    *     sample stage's bucket)
    *   → pack (q58 distributed prefix-sum offsets, 8192-token packs)
    *   → publish (lang-partitioned, doc_id-bucketed table).
    *
    * Returns (per-(lang, stage) accounting, per-lang transform summary);
    * both are driver-materialized before the staged frame unpersists.
    * One corpus decode feeds the stage cascade; the strip/redact chain
    * touches only kept documents; every drop stage joins a doc-id-sized
    * list — the expensive frames are the q36 banding and the q60/q99
    * shingle shuffles, each already shaped for scale by its operator. */
  /** The published train/val/test assignment: an INDEPENDENT salted
    * hash. The q54 sample stage consumed the plain doc_id bucket (every
    * kept doc has bucket < its language rate), so a split derived from
    * the same bucket would label the whole published corpus `train` —
    * val/test buckets 980+ can never survive sampling (review finding
    * r9). Salting re-randomizes: each published doc lands in 98/1/1
    * independently of how it was sampled, deterministically per id. */
  private[graft] def splitBucket =
    graft.util.Buckets.modN("concat(cast(doc_id as string), '#split')", 1000)

  private[graft] def splitCol =
    when(splitBucket < 980, "train")
      .when(splitBucket < 990, "val").otherwise("test")

  def runFull(spark: SparkSession, inDir: String, table: String,
      buckets: Int = 32,
      minStripSpan: Long = graft.operators.Dedup.MinStripSpan,
      lmTailFilter: Boolean = false,
      gopherRules: Seq[String] = Nil,
      statePath: Option[String] = None,
      qualityModel: Option[String] = None)
      : (DataFrame, DataFrame) = {
    import graft.operators.Dedup
    val docsAll = Tables(spark, inDir, "documents")
    val dropList = Dedup.nearDupDrops(spark, inDir)
      .withColumn("neardup", lit(1))
    // q118 stage knob (VERDICT r9 #4): CCNet's convention — drop the
    // per-language tail tercile of the bigram-LM quality score. Like
    // every drop stage here, the decision is computed on the FULL corpus
    // (stage decisions are independent of stage order, so a keeper can
    // itself fall to a later stage) and joined as a doc-id-sized list
    val lmTail =
      if (!lmTailFilter) None
      else Some(TextOps.lmTailDrops(docsAll).withColumn("lm_tail", lit(1)))
    // q119 stage knob (r11): drop docs failing any of the NAMED Gopher
    // rules (a tuned subset — see TextOps.gopherDrops for why not
    // all-18). Computed on the full corpus like every drop stage; joins
    // back as a doc-id-sized list
    val gopher =
      if (gopherRules.isEmpty) None
      else Some(TextOps.gopherDrops(docsAll, gopherRules)
        .withColumn("gopher_fail", lit(1)))
    // decontamination protects the pipeline's OWN published eval splits
    // (review finding r9: dropping against q60's bucket<100 eval set —
    // which this pipeline publishes into train — protects nothing it
    // ships): a train-split doc sharing a shingle with any val/test doc
    // is dropped; val/test docs are never dropped by this stage
    val contam = Dedup.contaminatedDocsBy(docsAll, splitBucket >= 980)
      .withColumn("contaminated", lit(1))
    val preStaged = TextOps.stagedDocs(docsAll)
      .join(dropList, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .withColumn("stage",
        when(col("stage") === "kept" && col("neardup") === 1, "neardup")
          .when(col("stage") === "kept" && col("contaminated") === 1,
            "contaminated")
          .otherwise(col("stage")))
    val lmStaged = lmTail.fold(preStaged) { tl =>
      preStaged.join(tl, Seq("doc_id"), "left")
        .withColumn("stage",
          when(col("stage") === "kept" && col("lm_tail") === 1, "lm_tail")
            .otherwise(col("stage")))
    }
    val gopherStaged = gopher.fold(lmStaged) { gf =>
      lmStaged.join(gf, Seq("doc_id"), "left")
        .withColumn("stage",
          when(col("stage") === "kept" && col("gopher_fail") === 1,
            "gopher_fail")
            .otherwise(col("stage")))
    }
    // trained-classifier stage knob (r13): drop docs the FROZEN quality
    // model rejects (score ≤ θ against the saved weights — q131's gate,
    // [[graft.streaming.StreamingQualityGate]]'s artifact). Unlike the
    // LM/Gopher knobs this decision is per-doc ABSOLUTE, so the same
    // knob is legal on runIncremental: gate the SAME frozen table on
    // both runs and append ≡ recurate still holds
    val staged = qualityModel.fold(gopherStaged) { t =>
      val (qw, qTheta) =
        graft.streaming.StreamingQualityGate.loadModel(spark, t)
      gopherStaged.join(
          graft.operators.Classifier.qualityRejects(docsAll, qw, qTheta)
            .withColumn("q_reject", lit(1)),
          Seq("doc_id"), "left")
        .withColumn("stage",
          when(col("stage") === "kept" && col("q_reject") === 1, "q_reject")
            .otherwise(col("stage")))
    }.persist()
    try {
      val kept = staged.filter(col("stage") === "kept")
        .select("doc_id", "text", "source", "lang")
      // q116 threshold strip within the published corpus (VERDICT r9 #1:
      // the q99 every-dup-gram rule over-strips short incidental matches
      // the ExactSubstr convention exists to keep): derive the maximal
      // dup intervals once, strip only blocks ≥ minStripSpan, and account
      // per doc for the duplicated tokens the threshold KEPT — the delta
      // an operator reads to see what the rule spared vs q99
      val base = Dedup.spanBase(kept.select(col("doc_id"), col("text")))
      val ivs = Dedup.maxSpanIntervals(Dedup.dupStartsOf(base))
        .withColumn("n_dup_kept", expr(
          s"""aggregate(filter(iv, v -> v.b - v.a < ${minStripSpan}L),
             |  0L, (acc, v) -> acc + (v.b - v.a))""".stripMargin))
        .withColumn("iv",
          expr(s"filter(iv, v -> v.b - v.a >= ${minStripSpan}L)"))
        .select(col("doc_id"), col("iv"), col("n_dup_kept"))
      val stripped = Dedup.stripByIntervals(base, ivs)
        .withColumn("n_dup_kept", coalesce(col("n_dup_kept"), lit(0L)))
        .select(col("doc_id"), col("stripped_text"),
          col("n").as("n_tok"), col("n_kept"), col("n_dup_kept"))
      // q114 chain over the stripped text — the bytes being published
      val redacted = TextOps.piiRewriteOf(
          stripped.withColumnRenamed("stripped_text", "text"))
        .select(col("doc_id"), col("redacted").as("text"),
          (col("n_emails") + col("n_ipv4") + col("n_phones")).as("n_pii"),
          col("n_tok"), col("n_kept"), col("n_dup_kept"))
      val fin = kept.drop("text").join(redacted, "doc_id")
        .withColumn("split", splitCol)
      val packed = TextOps.packAssignments(
          fin.withColumn("tok", col("n_kept")))
        .withColumn("n_chars", length(col("text")))
        .drop("tok")
      CorpusPublisher.publish(packed, table, buckets)
      // persist the incremental-curate state (VERDICT r9 #5) while the
      // corpus is already in hand — the artifacts runIncremental probes
      statePath.foreach(p =>
        Dedup.saveCurateState(docsAll, kept, p, splitBucket >= 980))
      val acct = staged.groupBy(col("lang"), col("stage"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"), col("stage"))
      // per-lang transform summary read back from the PUBLISHED table —
      // accounting covers what was actually written
      val pub = spark.table(table)
      val summary = pub.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_published"),
          sum(col("n_tok")).as("tok_in"),
          sum(col("n_kept")).as("tok_kept"),
          sum(col("n_tok") - col("n_kept")).as("tok_stripped"),
          // duplicated-span tokens the q116 threshold SPARED (q99 would
          // have stripped them) — tok_stripped + tok_dup_kept is the
          // full dup coverage, so the two columns together price the rule
          sum(col("n_dup_kept")).as("tok_dup_kept"),
          sum(col("n_pii")).as("n_pii_redacted"),
          (max(col("pack_id")) + 1L).as("n_packs"))
        .orderBy(col("lang"))
      def materialize(df: DataFrame): DataFrame = {
        val rows = df.collect() // |langs|×|stages| rows — driver-sized
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
      }
      (materialize(acct), materialize(summary))
    } finally staged.unpersist()
  }

  /** VERDICT r9 #5: the INCREMENTAL curate — process only documents new
    * since the last published snapshot, at batch-sized cost, and append
    * them to the published table. Composes the operators built for
    * exactly this: q80's snapshot diff finds the batch, q56's
    * hash-gate + the state-aware near-dup/decontam/strip decisions
    * (persisted by [[runFull]]'s `statePath`) replay every corpus-global
    * stage against slim index artifacts instead of the corpus, and
    * `appendPqIndex` extends the serving index with the batch's vectors.
    *
    * EQUIVALENCE contract (spec-proven): for a pure-append batch,
    * published(runFull(base)) ∪ published(runIncremental(batch)) equals
    * published(runFull(base ∪ batch)) ROW FOR ROW — same kept set, same
    * stripped/redacted bytes, same split/pack columns (pack offsets
    * continue from the base per-lang token totals). Documented
    * divergence classes, inherent to append-only curation:
    *   - keeper ties: a batch doc longer than its base near-dups would
    *     win a full recurate's q65 keeper choice; append-only drops the
    *     batch doc instead (the base copy is already published);
    *   - retroactive drops: a batch EVAL doc contaminating a base train
    *     doc, or a batch gram making a base kept doc's span newly
    *     duplicated, would retract published content under a full
    *     recurate — an append cannot unpublish; the batch side is still
    *     handled identically;
    *   - changed/removed input docs are REPORTED (stages
    *     `changed_frozen` / `removed_frozen`) but not reprocessed.
    *
    * CONTRACT (ADVICE r11): the refresh replays dedup/PII/packing state
    * only — there is no LM-tail or Gopher stage here, so the
    * append ≡ recurate equivalence holds ONLY against a base published
    * by runFull WITHOUT `--lm-tail-filter`/`--gopher-rules` (main()
    * refuses the combination rather than silently diverging).
    * EXCEPTION (r13): `qualityModel` — the frozen trained classifier's
    * gate IS legal here, because its decision is per-doc ABSOLUTE
    * (frozen weights, frozen θ; nothing corpus-relative shifts when
    * docs append). The contract is symmetric: pass the SAME frozen
    * table the base was published with, and append ≡ recurate holds
    * with the gate on both sides (spec-pinned in ClassifierSpec).
    *
    * Cost shape: every stage touches batch text only; base-side inputs
    * are the persisted hash/signature/gram indexes (probed by equi-join,
    * candidate-restricted) plus one columnar (lang, n_kept) aggregate of
    * the published table for pack continuation. The one full-corpus
    * read is the q80 diff's hash projection of the previous input — at
    * scale that side is the persisted hash index partition of a
    * versioned input, not a re-scan. */
  def runIncremental(spark: SparkSession, prevInDir: String,
      newInDir: String, table: String, statePath: String,
      buckets: Int = 32,
      minStripSpan: Long = graft.operators.Dedup.MinStripSpan,
      pqIndexPath: Option[String] = None,
      qualityModel: Option[String] = None): (DataFrame, DataFrame) = {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.broadcast
    val prevDocs = Tables(spark, prevInDir, "documents")
    val newDocs = Tables(spark, newInDir, "documents")
    // q80: the batch is what the diff calls `added`; changed/removed are
    // frozen (append-only) and surface in the accounting
    val diff = TextOps.snapshotDiffRows(
        prevDocs.select(col("doc_id"), col("lang"), col("text")),
        newDocs.select(col("doc_id"), col("lang"), col("text")))
      .materialize()
    val batch = newDocs.join(
        diff.filter(col("status") === "added").select(col("doc_id")),
        "doc_id")
      .persist()
    val ib = Dedup.incBatchArtifacts(batch)
    val dupEx = Dedup.incrementalDupExisting(batch, statePath)
      .withColumn("dup_existing", lit(1))
    val nd = Dedup.incrementalNearDupDrops(batch, ib, statePath)
      .withColumn("neardup", lit(1))
    val contam = Dedup.incrementalContaminated(batch, statePath,
        splitBucket >= 980)
      .withColumn("contaminated", lit(1))
    // the one quality stage legal here (r13): the frozen classifier's
    // per-doc ABSOLUTE gate — the base was gated doc-by-doc against the
    // same frozen table, so gating the batch identically preserves
    // append ≡ recurate (the property the corpus-relative LM/Gopher
    // knobs cannot have; main() still refuses those)
    val qRej = qualityModel.map { t =>
      val (qw, qTheta) =
        graft.streaming.StreamingQualityGate.loadModel(spark, t)
      graft.operators.Classifier.qualityRejects(batch, qw, qTheta)
        .withColumn("q_reject", lit(1))
    }.getOrElse(spark.range(0).select(col("id").as("doc_id"),
      lit(1).as("q_reject")))
    val staged = TextOps.stagedDocs(batch)
      .join(dupEx, Seq("doc_id"), "left")
      .join(nd, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .join(qRej, Seq("doc_id"), "left")
      .withColumn("stage",
        when(col("stage") === "kept" && col("dup_existing") === 1,
          "dup_existing")
          .when(col("stage") === "kept" && col("neardup") === 1, "neardup")
          .when(col("stage") === "kept" && col("contaminated") === 1,
            "contaminated")
          .when(col("stage") === "kept" && col("q_reject") === 1,
            "q_reject")
          .otherwise(col("stage")))
      // EAGER materialization, not lazy persist: appendCurateState below
      // mutates the very state tables this plan's joins read — a lazy
      // consumer evaluated after the append would reclassify every batch
      // doc as dup_existing (its own hash is in the state by then)
      .materialize()
    try {
      val kept = staged.filter(col("stage") === "kept")
        .select("doc_id", "text", "source", "lang")
      // q116 threshold strip with the STATE-aware dup starts: base kept
      // grams always count as prior occurrences, batch-internal firsts
      // survive — identical arithmetic to runFull on the union. The
      // chain is [[Dedup.stripRedactAgainstState]].
      val redacted = Dedup.stripRedactAgainstState(
        kept.select(col("doc_id"), col("text")), statePath, minStripSpan)
      val fin = kept.drop("text").join(redacted, "doc_id")
        .withColumn("split", splitCol)
      // pack continuation: batch offsets start where the published
      // per-lang token totals end (a batch doc can share its pack with
      // base docs — q58's straddle convention, applied across the append)
      // eager: the frame reads the very table the append below writes —
      // capture the per-lang totals (lang-sized) before that write
      val baseOffs = spark.table(table).groupBy(col("lang"))
        .agg(sum(col("n_kept")).as("base_off"))
        .materialize()
      val packed = TextOps.packAssignments(
          fin.withColumn("tok", col("n_kept")))
        .join(broadcast(baseOffs), Seq("lang"), "left")
        .withColumn("start_off",
          col("start_off") + coalesce(col("base_off"), lit(0L)))
        .withColumn("pack_id", expr("start_off div 8192L"))
        .drop("base_off")
        .withColumn("n_chars", length(col("text")))
        .drop("tok")
      CorpusPublisher.appendTo(packed, table, buckets)
      // state catches up so the NEXT increment sees base ∪ batch
      Dedup.appendCurateState(batch, ib, kept, statePath, splitBucket >= 980)
      // serving index: append only the batch's new vectors (frozen
      // models — the documented appendPqIndex contract; audit prices it)
      pqIndexPath.foreach { p =>
        val prevV = Tables(spark, prevInDir, "embeddings").select("vec_id")
        val fresh = Tables(spark, newInDir, "embeddings")
          .join(prevV, Seq("vec_id"), "left_anti")
          .select("vec_id", "embedding")
        if (!fresh.isEmpty) graft.operators.Similarity
          .appendPqIndex(spark, p, fresh)
      }
      val acct = staged.groupBy(col("lang"), col("stage"))
        .agg(count(lit(1)).as("n_docs"))
        .union(diff.filter(col("status").isin("changed", "removed"))
          .select(col("lang"),
            concat(col("status"), lit("_frozen")).as("stage"))
          .groupBy(col("lang"), col("stage"))
          .agg(count(lit(1)).as("n_docs")))
        .orderBy(col("lang"), col("stage"))
      // summary over the APPENDED rows only — what this run published
      val pub = spark.table(table)
        .join(kept.select(col("doc_id")), Seq("doc_id"), "left_semi")
      val summary = pub.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_published"),
          sum(col("n_tok")).as("tok_in"),
          sum(col("n_kept")).as("tok_kept"),
          sum(col("n_tok") - col("n_kept")).as("tok_stripped"),
          sum(col("n_dup_kept")).as("tok_dup_kept"),
          sum(col("n_pii")).as("n_pii_redacted"),
          (max(col("pack_id")) + 1L).as("n_packs"))
        .orderBy(col("lang"))
      def materialize(df: DataFrame): DataFrame = {
        val rows = df.collect() // |langs|×|stages| rows — driver-sized
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
      }
      (materialize(acct), materialize(summary))
    } finally { batch.unpersist(): Unit }
  }

  def main(args: Array[String]): Unit = {
    val full = args.contains("--full")
    val lmTail = args.contains("--lm-tail-filter")
    // a value-taking flag in last position is a usage error (exit 2,
    // the Main.scala argparse convention), not an
    // ArrayIndexOutOfBoundsException (ADVICE r13)
    def reqValue(i: Int, flag: String): String = args.lift(i + 1).getOrElse {
      System.err.println(s"usage: CleanPipeline: $flag requires a value")
      sys.exit(2)
    }
    val mi = args.indexOf("--min-strip-span")
    val minSpan = if (mi >= 0) reqValue(mi, "--min-strip-span").toLong
      else graft.operators.Dedup.MinStripSpan
    // --gopher-rules fail_dup_line,fail_top2  (comma-separated subset)
    val gi = args.indexOf("--gopher-rules")
    val gopherRules =
      if (gi >= 0) reqValue(gi, "--gopher-rules").split(",").toSeq
        .filter(_.nonEmpty)
      else Seq.empty[String]
    // --door-divergence: after the refresh, print the q128 door-vs-batch
    // keeper accounting ([[graft.operators.Dedup.doorKeeperDivergence]])
    // — the number a door deployment quotes for how far its streamed
    // corpus sits from this batch answer (VERDICT r12 #7; the audit
    // itself is oracle- and spec-gated as q128)
    val doorDiv = args.contains("--door-divergence")
    // --quality-model <table>: gate with the frozen trained classifier
    // (q131's saved weights + θ). Legal on BOTH --full and --incremental
    // — the gate is per-doc absolute, so appending with the SAME frozen
    // table preserves append ≡ recurate (the corpus-relative LM/Gopher
    // knobs stay full-only below)
    val qi = args.indexOf("--quality-model")
    val qualityModel =
      if (qi >= 0) Some(reqValue(qi, "--quality-model")) else None
    val pos = args.zipWithIndex.collect {
      case (a, i) if a != "--full" && a != "--lm-tail-filter" &&
        a != "--door-divergence" &&
        (mi < 0 || (i != mi && i != mi + 1)) &&
        (gi < 0 || (i != gi && i != gi + 1)) &&
        (qi < 0 || (i != qi && i != qi + 1)) => a
    }
    if (args.contains("--incremental")) {
      // usage: --incremental <prevInDir> <newInDir> <table> <statePath>
      //        [buckets]
      // ADVICE r11: runIncremental has no LM/Gopher stage — its
      // append ≡ recurate equivalence holds only against a base
      // published WITHOUT the quality-stage knobs. Silently ignoring
      // them here would let the published table diverge from the
      // contract with no warning; refuse instead.
      require(!lmTail && gopherRules.isEmpty,
        "--incremental does not support --lm-tail-filter/--gopher-rules: " +
          "the incremental refresh replays dedup/PII/packing state only, " +
          "so its append-equals-recurate guarantee holds just for a base " +
          "published without the quality-stage knobs. Re-run --full to " +
          "apply quality filters.")
      val p = pos.filterNot(_ == "--incremental")
      val spark = graft.util.GraftSession.local("graft-clean-pipeline")
      val (acct, summary) = runIncremental(spark, p(0), p(1), p(2), p(3),
        p.lift(4).map(_.toInt).getOrElse(32), minSpan,
        qualityModel = qualityModel)
      acct.show(100, truncate = false)
      summary.show(100, truncate = false)
      spark.stop()
      return
    }
    val inDir = pos.headOption.getOrElse("/root/testdata/sf0.01")
    val table = pos.lift(1).getOrElse("clean_corpus")
    val buckets = pos.lift(2).map(_.toInt).getOrElse(32)
    val spark = graft.util.GraftSession.local("graft-clean-pipeline")
    if (full) {
      val (acct, summary) = runFull(spark, inDir, table, buckets, minSpan,
        lmTail, gopherRules, qualityModel = qualityModel)
      acct.show(100, truncate = false)
      summary.show(100, truncate = false)
    } else run(spark, inDir, table, buckets).show(100, truncate = false)
    if (doorDiv) {
      println("[door-divergence] door first-wins vs batch keeper, this corpus:")
      graft.operators.Dedup.doorKeeperDivergence(
          graft.util.Tables(spark, inDir, "documents"))
        .show(truncate = false)
    }
    spark.stop()
  }
}
