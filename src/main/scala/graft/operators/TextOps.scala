package graft.operators
import graft.util.Mat.Ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Tables
import graft.util.OracleSafe._

/** Text-analysis operators over the `documents` table — the language-ID /
  * quality-scoring / token-counting / fingerprinting family a large-scale
  * training-data pipeline needs. All map-side per-document computation
  * (one shuffle for the final group-by only): at 100 TB these run as pure
  * scan→project→partial-agg pipelines.
  */
object TextOps {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  private val stopEn = Seq("the", "a", "of", "and", "to")
  private val stopEs = Seq("el", "la", "de", "que", "y")
  private val stopDe = Seq("der", "die", "und", "ist", "das")
  private val stopFr = Seq("le", "les", "des", "et", "un")

  private def hitCount(toksCol: String, words: Seq[String]) = {
    val lst = words.map(w => s"'$w'").mkString(", ")
    expr(s"CAST(size(filter($toksCol, t -> t IN ($lst))) AS BIGINT)")
  }

  /** The en-stopword quality score — ONE definition for the batch
    * cascade ([[stagedDocs]]/q54), equal to q31's `quality` column by
    * construction:
    * stop_ratio·0.5 + (1 − punct_ratio)·0.5 over whitespace tokens of
    * the lowercased text. Empty text scores 0 (junk by definition) so
    * the length division can never hit ANSI 0/0. */
  private[graft] def qualityExpr(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val toks = split(lower(text), " ")
    val stopHits = size(filter(toks, t => t.isin(stopEn: _*))).cast("long")
    when(length(text) === 0, lit(0.0)).otherwise(
      (stopHits.cast("double") / size(toks)) * 0.5 +
        (lit(1.0) -
          (length(text) - length(regexp_replace(text, "[.,!?;:]", "")))
            .cast("double") / length(text)) * 0.5)
  }

  /** The per-language sampling rate (per-mille) — ONE definition shared
    * by q46 and the batch cascade ([[stagedDocs]]), so both keep exactly
    * the same sample. */
  private[graft] def sampleRate(lang: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(lang === "en", 500L).otherwise(200L)

  // ---------------------------------------------------------------- q30
  /** Token counting per language: whitespace tokens + a BPE-ish regex
    * tokenizer (letters / digits / single punctuation). */
  def q30Tokens(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .withColumn("tok_ws", size(split(trim($"text"), "\\s+")).cast("long"))
      .withColumn("tok_re",
        regexp_count($"text", lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).cast("long"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"tok_ws").as("sum_tok_ws"),
        sum($"tok_re").as("sum_tok_re"),
        davg($"n_chars".cast("double")).as("avg_chars"))
      .orderBy($"lang")
  }

  // ---------------------------------------------------------------- q31
  /** Per-document quality scoring: token count, punctuation ratio,
    * stopword ratio — pure rational arithmetic (no libm) so the oracle
    * matches bit-for-bit. */
  def q31Quality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .filter($"doc_id" < 200)
      .withColumn("toks", split(lower($"text"), " "))
      .withColumn("n_tokens", size($"toks").cast("long"))
      .withColumn("n_punct",
        (length($"text") - length(regexp_replace($"text", "[.,!?;:]", ""))).cast("long"))
      .withColumn("n_stop", hitCount("toks", stopEn))
      // empty text: ratio 0 rather than an ANSI divide-by-zero error
      .withColumn("punct_ratio",
        when(length($"text") === 0, lit(0.0))
          .otherwise($"n_punct".cast("double") / length($"text")))
      .withColumn("stop_ratio", $"n_stop".cast("double") / $"n_tokens")
      .withColumn("quality",
        $"stop_ratio" * 0.5 + (lit(1.0) - $"punct_ratio") * 0.5)
      .select($"doc_id", $"n_tokens", $"n_punct", $"n_stop",
        $"punct_ratio", $"stop_ratio", $"quality")
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- q32
  /** N-gram-heuristic language ID: stopword-hit votes per language with a
    * deterministic tie-break, confusion-matrix output. */
  def q32LangId(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .withColumn("toks", split(lower($"text"), " "))
      .withColumn("s_en", hitCount("toks", stopEn))
      .withColumn("s_es", hitCount("toks", stopEs))
      .withColumn("s_de", hitCount("toks", stopDe))
      .withColumn("s_fr", hitCount("toks", stopFr))
      .withColumn("pred",
        when($"s_en" >= $"s_es" && $"s_en" >= $"s_de" && $"s_en" >= $"s_fr", "en")
          .when($"s_es" >= $"s_de" && $"s_es" >= $"s_fr", "es")
          .when($"s_de" >= $"s_fr", "de")
          .otherwise("fr"))
      .groupBy($"lang", $"pred")
      .agg(count(lit(1)).as("n"))
      .orderBy($"lang", $"pred")
  }

  // ---------------------------------------------------------------- q33
  /** Document fingerprinting: content hash + 64-bit prefix fingerprint of
    * the normalized text (md5 — portable across engines). */
  def q33Fingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .filter($"doc_id" < 100)
      .withColumn("content_md5", md5($"text".cast("binary")))
      .withColumn("fp64", substring(md5(lower(trim($"text")).cast("binary")), 1, 16))
      .select($"doc_id", $"content_md5", $"fp64")
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- q46
  /** Deterministic stratified sampling by content hash: bucket =
    * md5(doc_id) mod 1000, keep bucket < per-language rate (en 50%,
    * others 20%). This is how reproducible pipeline sampling is done at
    * scale — no RNG state, identical keep-set under any partitioning,
    * any cluster size, and any re-run (append-safe: new docs don't
    * reshuffle old decisions), and exactly mirrorable in any engine with
    * md5. Pure map-side scan → partial agg. */
  def q46HashSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .withColumn("bucket", graft.util.Buckets.mod1000("doc_id"))
      .withColumn("rate", sampleRate($"lang"))
      .withColumn("kept", ($"bucket" < $"rate").cast("long"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"kept").as("n_kept"))
      .withColumn("kept_ratio", $"n_kept".cast("double") / $"n_docs")
      .orderBy($"lang")
  }

  // ---------------------------------------------------------------- q48
  /** Within-document repetition rate: fraction of 3-gram shingle
    * occurrences that are duplicates of an earlier shingle in the same
    * document — the standard boilerplate/repetition quality filter
    * (crawled pages with repeated nav blocks score high and get dropped).
    * Two partial aggregates over codegen-exploded shingles, no joins:
    * scan → (doc, shingle) count → per-doc (total, distinct). */
  def q48Repetition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // MAP-SIDE since r7: one doc's shingle multiset is per-row data, so
    // (total, distinct) comes from the codegen ShingleStats expression —
    // no explode, no (doc, shingle) shuffle, no aggregation at all; the
    // only exchange left is the output sort. Spec-pinned equal to the
    // exploded formulation; docs with <3 tokens carry no shingles and
    // are excluded exactly as the explode dropped them (also keeps the
    // 0/0 division unreachable under ANSI).
    docs(s, dir)
      .select($"doc_id", graft.functions.ShingleStats($"text").as("_ss"))
      .select($"doc_id", $"_ss.n_shingles".as("n_shingles"),
        $"_ss.n_distinct".as("n_distinct"))
      .filter($"n_shingles" > 0)
      .withColumn("rep_frac",
        ($"n_shingles" - $"n_distinct").cast("double") / $"n_shingles".cast("double"))
      .select($"doc_id", $"n_shingles", $"n_distinct", $"rep_frac")
      .orderBy($"doc_id")
  }

  // --------------------------------------------------------------- q119
  /** The published Gopher rule thresholds (Rae et al. 2021, Appendix A1),
    * held as exact integers: every rule decision is an integer
    * cross-multiplication (`signal·100 > pct·denominator`), so the audit
    * carries ZERO floating point and the DuckDB twin is hash-exact by
    * construction. (name, pct) for the fraction rules; the count/range
    * rules are bespoke below. */
  val GopherMinWords = 50L
  val GopherMaxWords = 100000L
  val GopherMinMeanWordLen = 3L // mean word length ∈ [3, 10], inclusive
  val GopherMaxMeanWordLen = 10L
  val GopherMinStopwords = 2L // ≥2 distinct hits from the 8-word list

  /** Doc-level rule flags — each `fail_*` column is 1 iff the document
    * violates that rule. Separated from the audit so the planted spec can
    * assert individual rules per document. One map-side [[graft.functions.GopherStats]]
    * pass computes every signal; no joins, no shuffle. */
  private[graft] def gopherFlagsOf(d: DataFrame): DataFrame =
    gopherFlagsFromStats(d.select(col("doc_id"), col("lang"),
      length(col("text")).cast("long").as("n_chars"),
      graft.functions.GopherStats(col("text")).as("_g")))

  /** The rule columns over a frame already carrying `n_chars` and the
    * GopherStats struct `_g` (plus any passenger columns, preserved) —
    * split out (r17) so the one-scan [[qualityPerDoc]] can ride a scan
    * that also computes the LM token buckets. Arithmetic unchanged. */
  private def gopherFlagsFromStats(stats: DataFrame): DataFrame = {
    val s = stats.sparkSession
    import s.implicits._
    // fraction rule: signal/denom > pct/100 fails — exact integer form.
    // A zero denominator (no segments, empty text) can never fail a
    // fraction rule (0 > 0 is false); the word-count rule catches those.
    def pctFail(x: org.apache.spark.sql.Column, pct: Int,
        denom: org.apache.spark.sql.Column) =
      (x * 100L > lit(pct.toLong) * denom).cast("long")
    stats
      .select($"*", $"_g.*").drop("_g")
      .withColumn("fail_word_count",
        ($"n_words" < GopherMinWords || $"n_words" > GopherMaxWords).cast("long"))
      .withColumn("fail_mean_word_len",
        ($"sum_word_len" < lit(GopherMinMeanWordLen) * $"n_words" ||
          $"sum_word_len" > lit(GopherMaxMeanWordLen) * $"n_words").cast("long"))
      .withColumn("fail_symbol_ratio", pctFail($"n_sym", 10, $"n_words"))
      .withColumn("fail_bullet", pctFail($"n_bullet_segs", 90, $"n_segs"))
      .withColumn("fail_ellipsis", pctFail($"n_ellipsis_segs", 30, $"n_segs"))
      .withColumn("fail_alpha_words",
        ($"n_alpha_words" * 100L < lit(80L) * $"n_words").cast("long"))
      .withColumn("fail_stopwords",
        ($"n_stop_distinct" < GopherMinStopwords).cast("long"))
      .withColumn("fail_dup_line", pctFail($"n_dup_segs", 30, $"n_segs"))
      .withColumn("fail_dup_line_char", pctFail($"dup_seg_chars", 20, $"n_chars"))
      .withColumn("fail_top2", pctFail($"top2_chars", 20, $"n_chars"))
      .withColumn("fail_top3", pctFail($"top3_chars", 18, $"n_chars"))
      .withColumn("fail_top4", pctFail($"top4_chars", 16, $"n_chars"))
      .withColumn("fail_dup5", pctFail($"dup5_chars", 15, $"n_chars"))
      .withColumn("fail_dup6", pctFail($"dup6_chars", 14, $"n_chars"))
      .withColumn("fail_dup7", pctFail($"dup7_chars", 13, $"n_chars"))
      .withColumn("fail_dup8", pctFail($"dup8_chars", 12, $"n_chars"))
      .withColumn("fail_dup9", pctFail($"dup9_chars", 11, $"n_chars"))
      .withColumn("fail_dup10", pctFail($"dup10_chars", 10, $"n_chars"))
  }

  private[graft] val GopherRuleCols: Seq[String] = Seq(
    "fail_word_count", "fail_mean_word_len", "fail_symbol_ratio",
    "fail_bullet", "fail_ellipsis", "fail_alpha_words", "fail_stopwords",
    "fail_dup_line", "fail_dup_line_char", "fail_top2", "fail_top3",
    "fail_top4", "fail_dup5", "fail_dup6", "fail_dup7", "fail_dup8",
    "fail_dup9", "fail_dup10")

  /** Gopher-style quality + repetition rule audit: the full published
    * 18-rule set evaluated per document, rolled up per language — docs
    * audited, per-rule failure counts, and the count passing EVERY rule
    * (the corpus the filter would keep). Scale shape: one documents scan,
    * all signals codegen map-side ([[graft.functions.GopherStats]]), one
    * partial-agg exchange on `lang` — the same single-scan shape as
    * q30/q48, auditing 100 TB at scan speed. */
  def q119GopherRules(s: SparkSession, dir: String): DataFrame =
    gopherAuditOf(docs(s, dir))

  private[graft] def gopherAuditOf(d: DataFrame): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    val flags = gopherFlagsOf(d)
    val nFails = GopherRuleCols.map(col).reduce(_ + _)
    flags
      .withColumn("passed", (nFails === 0L).cast("long"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        (GopherRuleCols.map(c => sum(col(c)).as(c)) :+
          sum($"passed").as("n_pass")): _*)
      .orderBy($"lang")
  }

  /** doc_ids failing ANY of the NAMED Gopher rules — the runFull stage
    * form of q119. A subset (not all-18) because rule applicability is
    * corpus-dependent: on the synthetic corpus `fail_stopwords` fires on
    * every document (its vocabulary holds only 'the' of the 8-word
    * presence list), exactly the situation where a practitioner tunes
    * the rule set. Unknown rule names fail fast. Same single-scan shape
    * as the audit; the result is a doc-id-sized drop list. */
  private[graft] def gopherDrops(d: DataFrame, rules: Seq[String]): DataFrame = {
    val bad = rules.filterNot(GopherRuleCols.contains)
    require(bad.isEmpty, s"unknown Gopher rules: ${bad.mkString(", ")}; " +
      s"valid: ${GopherRuleCols.mkString(", ")}")
    gopherFlagsOf(d)
      .filter(rules.map(col(_) === 1L).reduce(_ || _))
      .select("doc_id")
  }

  // --------------------------------------------------------------- q123
  /** The Gopher subset the q123 mixture planner filters on — the rules
    * that discriminate on this corpus (measured at sf0.001: word-count
    * ~45%, top-gram 2–4 a few %; `fail_stopwords` fires corpus-wide for
    * the reason documented on [[gopherDrops]] and is excluded exactly as
    * a practitioner would). */
  val MixGopherRules: Seq[String] =
    Seq("fail_word_count", "fail_top2", "fail_top3", "fail_top4")

  /** q123: quality-aware mixture weights — the planning step AFTER the
    * quality audits: allocate the q76 training-token budget across
    * (lang, source) cells by the √(kept tokens) temperature rule, where
    * "kept" means the document survives BOTH published quality families
    * (not in the q118 CCNet tail tercile, passes every [[MixGopherRules]]
    * Gopher rule). q76 weights raw document counts; this weights what a
    * curation pass would actually keep — the delta between the two
    * allocations is exactly the low-quality mass a raw-size mixture
    * over-allocates to junk-heavy sources.
    *
    * Exactness: n_toks is GopherStats' n_words (the q119 signal — one
    * definition of "token count" across the quality family); the weight
    * is ⌊√kept_toks·10⁴ + ½⌋ (IEEE sqrt is correctly rounded — the q76
    * convention), floor-scaled to a long BEFORE the cross-cell sum;
    * share is one double division; the allocation pure integer floor.
    *
    * Scale shape: two text scans (the LM pass and the Gopher pass, each
    * individually single-scan shaped and partial-agged map-side); every
    * join after them is doc-sized (flags ⋈ source ⋈ lm_bucket on
    * doc_id), the cell frame is |langs|·|sources| rows, and the weight
    * total is a q76-style window over that metadata-sized frame. */
  def q123QualityMixture(s: SparkSession, dir: String): DataFrame =
    qualityMixtureOf(docs(s, dir))

  /** Per-doc quality verdict frame — (doc_id, lang, source, n_words,
    * kept): the composition of both published quality families, shared
    * by the q123 mixture planner and the q125 manifest materializer.
    *
    * r17 (VERDICT r16 #3) — MEASURED AND REJECTED: fusing the two text
    * passes (the Gopher GopherStats scan + the LM tokenize/md5-bucket
    * scan) onto one scan behind a combined per-row barrier
    * (GopherStats struct + token-bucket array, text-free, md5 once).
    * Oracle-green, but profiled SLOWER at sf0.1 back-to-back: q123
    * taskSec 2.4 → 3.4, q126 3.6 → 4.9, walls up 10–25% — the barrier
    * row (30-field struct + an 8-byte-per-token array) outweighs the
    * text column it replaces, and its three cached re-reads (rule
    * columns, bigram explode, id spine) cost more than the second
    * compressed columnar scan. Same economics as the rejected q137 fold
    * and the r16 q92 dimension melt: materialize only frames SMALLER
    * than the scan they replace. The two scans stay — each is
    * individually single-scan shaped (the r16 verdict's own audit). */
  private def qualityPerDoc(d: DataFrame): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    val flags = gopherFlagsOf(d)
      .select($"doc_id" +: $"lang" +: $"n_words" +: MixGopherRules.map(col): _*)
    val lm = lmQualityOf(d).select($"doc_id", $"lm_bucket")
    val kept = ($"lm_bucket" =!= "tail") &&
      MixGopherRules.map(col(_) === 0L).reduce(_ && _)
    flags
      .join(d.select($"doc_id", $"source"), "doc_id")
      .join(lm, "doc_id")
      .select($"doc_id", $"lang", $"source", $"n_words",
        kept.cast("long").as("kept"))
  }

  /** Budget allocation over the cell weight columns, guarded for the
    * zero-total-weight corpus (every cell's kept_toks = 0 — a junk-heavy
    * slice where both quality gates drop everything): `div` by zero must
    * never kill a 100 TB planning job, so the degenerate corpus
    * allocates 0 everywhere instead. Shared by q123/q125/q126; the
    * DuckDB twins carry the same CASE WHEN so the convention is pinned
    * by the oracle, not just by code. */
  private def allocTokensCol(budget: Long): Column =
    when(col("total_w") === 0L, lit(0L))
      .otherwise(expr(s"($budget * w_scaled) div total_w"))

  /** The share twin of [[allocTokensCol]]: 0.0 (not NaN) on the
    * zero-weight corpus. */
  private def shareCol: Column =
    when(col("total_w") === 0L, lit(0.0))
      .otherwise(col("w_scaled").cast("double") / col("total_w").cast("double"))

  /** q123's cell aggregation over an explicit per-doc verdict frame —
    * (lang, source) cells with counts, q76-convention weight, share and
    * the integer budget allocation. */
  private def mixtureCellsOf(perDoc: DataFrame): DataFrame = {
    val s = perDoc.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w0 = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    perDoc
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_words").as("n_toks"),
        sum($"kept").as("n_kept"),
        sum($"kept" * $"n_words").as("kept_toks"))
      .withColumn("w_scaled",
        floor(sqrt($"kept_toks".cast("double")) * 10000.0 + 0.5).cast("long"))
      .withColumn("total_w", sum($"w_scaled").over(w0)) // cell-count rows
      .withColumn("share", shareCol)
      .withColumn("alloc_tokens", allocTokensCol(MixtureTokenBudget))
  }

  private[graft] def qualityMixtureOf(d: DataFrame): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    mixtureCellsOf(qualityPerDoc(d))
      .select($"lang", $"source", $"n_docs", $"n_toks", $"n_kept",
        $"kept_toks", $"w_scaled", $"share", $"alloc_tokens")
      .orderBy($"lang", $"source")
  }

  // --------------------------------------------------------------- q125
  /** q125: mixture MANIFEST materialization — the step after q123's
    * planning: turn each cell's token allocation into a concrete,
    * reproducible document list. Within each (lang, source) cell the
    * KEPT documents are ordered by (md5(doc_id), doc_id) — the q46/q82
    * deterministic-hash convention, so the selection is stable under
    * any partitioning, any re-run, and append-safe — and selected
    * greedily while the EXCLUSIVE running token total is under the
    * cell's allocation (q58's straddle convention: the document that
    * crosses the boundary is included, so every cell with a nonzero
    * allocation selects at least one kept doc if it has one). The
    * manifest itself is reported as the md5 of the sorted selected
    * doc_id list — the reproducibility receipt a training run records —
    * plus selection accounting per cell.
    *
    * Scale shape: the per-doc verdict frame is computed once
    * (checkpointed — it feeds the cell allocation AND the selection);
    * the running total is the q58 two-pass distributed prefix sum
    * bucketed on the md5-prefix selection order (see
    * [[manifestSelection]]) — parallelism #cells × #buckets even when
    * one (lang, source) cell holds the whole corpus; the manifest
    * aggregate collapses to one row per cell before anything leaves the
    * executors. */
  /** q125's registered budget — deliberately SMALLER than q76/q123's
    * planning budget so the greedy boundary actually binds on the
    * oracle corpora (kept-token mass ≈ 14.6k at sf0.01 / ~150k at
    * sf0.1): the straddle arithmetic is then verified hash-exactly by
    * the DuckDB twin, not only by the planted spec. */
  val ManifestTokenBudget = 10000L

  def q125MixtureManifest(s: SparkSession, dir: String): DataFrame =
    mixtureManifestOf(docs(s, dir), ManifestTokenBudget)

  /** The (lang, source, doc_id, n_words) rows the greedy md5-ordered
    * selection admits under `budget` — q125's selection, exposed so the
    * q126 epoch ordering consumes the SAME manifest. `pd` is the
    * checkpointed [[qualityPerDoc]] frame.
    *
    * Scale shape (VERDICT r11's top item — the q58 upgrade, applied):
    * a `Window.partitionBy(lang, source)` running sum caps parallelism
    * at the CELL count, and real corpora are cell-skewed (one
    * lang × source pair holds most of the mass), so the dominant cell's
    * entire kept-doc set would funnel through one window task at 100×.
    * This is the q58 two-pass distributed prefix sum instead, bucketed
    * along the SELECTION ORDER: the sort key is (hx = md5(doc_id),
    * doc_id), and md5 is uniform, so fixed-width ranges of the first
    * four hex nibbles split every cell into `buckets` near-equal ordered
    * slices (the hex alphabet is value-ordered, so the prefix integer is
    * monotone in the string order — bucket boundaries respect the sort).
    * (1) per-(cell, hx-range) token subtotals — one partial agg, output
    *     is #cells × #buckets rows regardless of corpus size,
    * (2) exclusive running sum over THAT tiny table gives each range's
    *     starting offset,
    * (3) broadcast the offsets back; the heavy window partitions on
    *     (lang, source, rbucket) — parallelism #cells × #buckets,
    *     identical results (prefix sums are exact integer arithmetic).
    * `buckets` defaults to the session parallelism; it never affects
    * results, only task granularity (spec-pinned against the
    * single-window shape). */
  private[graft] def manifestSelection(pd: DataFrame, budget: Long,
      buckets: Int = 0): DataFrame = {
    val s = pd.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val nb = if (buckets > 0) buckets.toLong
      else math.max(2, s.sparkContext.defaultParallelism).toLong
    val cells = mixtureCellsOf(pd)
      .withColumn("alloc_tokens", allocTokensCol(budget))
    val kept = pd.filter($"kept" === 1L)
      .withColumn("hx", md5($"doc_id".cast("string").cast("binary")))
      // exact integer division (the q58 convention): 4 nibbles → 0..65535
      .withColumn("rbucket",
        expr(s"(CAST(conv(substring(hx, 1, 4), 16, 10) AS BIGINT) * ${nb}L)" +
          " div 65536L"))
    // pass 1: per-(cell, hx-range) subtotals — #cells × nb rows
    val sub = kept.groupBy($"lang", $"source", $"rbucket")
      .agg(sum($"n_words").as("bucket_tok"))
    val wOff = Window.partitionBy($"lang", $"source").orderBy($"rbucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = sub
      .withColumn("bucket_off",
        coalesce(sum($"bucket_tok").over(wOff), lit(0L)))
      .select($"lang", $"source", $"rbucket", $"bucket_off")
    // pass 2: exclusive running sum WITHIN each (cell, hx-range) + offset
    val wIn = Window.partitionBy($"lang", $"source", $"rbucket")
      .orderBy($"hx", $"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    kept.join(broadcast(off), Seq("lang", "source", "rbucket"))
      .withColumn("cw",
        $"bucket_off" + coalesce(sum($"n_words").over(wIn), lit(0L)))
      .join(cells.select($"lang", $"source", $"alloc_tokens"),
        Seq("lang", "source"))
      .filter($"cw" < $"alloc_tokens")
      .select($"lang", $"source", $"doc_id", $"n_words")
  }

  private[graft] def mixtureManifestOf(d: DataFrame,
      budget: Long = MixtureTokenBudget): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    val pd = qualityPerDoc(d).materialize()
    val cells = mixtureCellsOf(pd)
      .withColumn("alloc_tokens", allocTokensCol(budget))
      .select($"lang", $"source", $"n_kept", $"kept_toks", $"alloc_tokens")
    val sel = manifestSelection(pd, budget)
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n_selected"),
        sum($"n_words").as("sel_tokens"),
        md5(concat_ws(",", sort_array(collect_list($"doc_id")))
          .cast("binary")).as("m"))
    cells
      .join(sel, Seq("lang", "source"), "left")
      .select($"lang", $"source", $"alloc_tokens", $"n_kept", $"kept_toks",
        coalesce($"n_selected", lit(0L)).as("n_selected"),
        coalesce($"sel_tokens", lit(0L)).as("sel_tokens"),
        coalesce($"m", md5(lit("").cast("binary"))).as("manifest_md5"))
      .orderBy($"lang", $"source")
  }

  /** Minimum corpus-wide occurrence count for a bigram to be scored by
    * q87 — below this, lift estimates are noise (and at 100 TB the
    * HAVING prunes the singleton tail, which dominates the bigram key
    * space, before the dictionary joins). */
  val CollocMinSupport = 5L

  // ---------------------------------------------------------------- q87
  /** Bigram collocation mining: rank adjacent token pairs by LIFT —
    * c(xy)·N / (c(x)·c(y)), the PMI ordering without the log (no libm;
    * every count is exact and < 2⁵³, so the two products and one
    * division are correctly-rounded IEEE and bit-identical across
    * engines). The classic phrase-detection pass a tokenizer-training
    * pipeline runs before merging multi-word units. Scale shape: one
    * shuffle each for bigram and unigram counts, support-pruned
    * candidates join the (small) unigram dictionary — broadcast-able,
    * AQE decides — and the top-k plans as TakeOrderedAndProject
    * (partial top-k per partition, no global sort). */
  /** Corpus-wide adjacent-bigram counts `(t1, t2, c_xy)` — shared by the
    * q87 collocation miner and the q88 TextRank graph. One explode + one
    * shuffle on the pair key. */
  private def bigramCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .withColumn("toks", split(lower($"text"), " "))
      .filter(size($"toks") >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(toks) - 2), " +
          "i -> struct(element_at(toks, i+1) AS t1, element_at(toks, i+2) AS t2))"))
        .as("b"))
      .select($"b.t1", $"b.t2")
      .groupBy($"t1", $"t2").agg(count(lit(1)).as("c_xy"))
  }

  def q87Collocations(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r16 (the q92 stack/melt idiom): unigram and bigram counts ride ONE
    // text scan + ONE explode + ONE shuffle — unigrams as (t1, NULL)
    // rows, bigrams as (t1, t2) rows, split back out of the checkpointed
    // (t1, t2, c) frame (vocab+bigram-type-sized). The lazy shape
    // re-expanded the unigram aggregate on both dictionary-join sides
    // plus the scalar total and paid a separate bigram scan.
    val counts = docs(s, dir)
      .withColumn("toks", split(lower($"text"), " "))
      .select(explode(expr(
        "concat(" +
          "transform(toks, t -> struct(t AS t1, CAST(NULL AS STRING) AS t2)), " +
          "CASE WHEN size(toks) >= 2 THEN transform(sequence(0, size(toks) - 2), " +
          "i -> struct(element_at(toks, i+1) AS t1, element_at(toks, i+2) AS t2)) " +
          "ELSE array() END)")).as("p"))
      .groupBy($"p.t1".as("t1"), $"p.t2".as("t2"))
      .agg(count(lit(1)).as("c"))
      .materialize()
    val uni = counts.filter($"t2".isNull).select($"t1".as("tok"), $"c")
    val nTotal = uni.agg(sum($"c").as("n_total"))
    val bi = counts.filter($"t2".isNotNull)
      .select($"t1", $"t2", $"c".as("c_xy"))
      .filter($"c_xy" >= CollocMinSupport)
    bi
      .join(uni.select($"tok".as("t1"), $"c".as("c1")), "t1")
      .join(uni.select($"tok".as("t2"), $"c".as("c2")), "t2")
      .crossJoin(broadcast(nTotal)) // 1-row scalar frame
      .withColumn("lift",
        ($"c_xy".cast("double") * $"n_total".cast("double")) /
          ($"c1".cast("double") * $"c2".cast("double")))
      .select($"t1", $"t2", $"c_xy", $"c1", $"c2", $"lift")
      .orderBy($"lift".desc, $"t1", $"t2")
      .limit(50)
  }

  /** Fixed TextRank iteration count for q88 — unrolled identically as
    * CTEs in the DuckDB twin, so it must stay a small literal. */
  val TextRankIters = 3

  // ---------------------------------------------------------------- q91
  /** Corpus-balance audit: the chi-square independence grid for
    * (source × language) — "does every feed carry the same language
    * mix, or is a source skewing the corpus?" Emits the FULL grid
    * (dimension cross of source totals × language totals, zero cells
    * included — a chi-square over observed cells only is biased), each
    * cell with observed n, expected = nₛ·nₗ/N and its χ² contribution
    * (O−E)²/E. Expected is computed double×double/double (NOT an int64
    * product — nₛ·nₗ overflows long at 100 TB row counts); every step
    * is one correctly-rounded IEEE op with the identical shape in the
    * twin, so the rows stay hash-exact. E > 0 by construction (both
    * marginals are positive), so no ANSI 0/0. Scale shape: one count
    * aggregation over the corpus; everything after operates on
    * dimension-cardinality frames (|sources| × |langs|), broadcast. */
  def q91BalanceChi2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r16: cells feeds both marginals, the scalar total and the grid
    // join — checkpoint the dimension-sized frame so the corpus count
    // aggregation runs once (the q36 lazy-re-expansion finding)
    val cells = docs(s, dir).groupBy($"source", $"lang")
      .agg(count(lit(1)).as("n"))
      .materialize()
    val bySource = cells.groupBy($"source").agg(sum($"n").as("n_source"))
    val byLang = cells.groupBy($"lang").agg(sum($"n").as("n_lang"))
    val total = cells.agg(sum($"n").as("n_total"))
    bySource.crossJoin(broadcast(byLang)).crossJoin(broadcast(total))
      .join(cells, Seq("source", "lang"), "left")
      .withColumn("n", coalesce($"n", lit(0L)))
      .withColumn("expected",
        $"n_source".cast("double") * $"n_lang".cast("double") /
          $"n_total".cast("double"))
      .withColumn("chi2_contrib",
        ($"n".cast("double") - $"expected") * ($"n".cast("double") - $"expected")
          / $"expected")
      .select($"source", $"lang", $"n", $"n_source", $"n_lang",
        $"expected", $"chi2_contrib")
      .orderBy($"source", $"lang")
  }

  // ---------------------------------------------------------------- q88
  /** TextRank keyword extraction: PageRank over the token co-occurrence
    * graph (undirected edges = adjacent bigrams, weight = corpus count),
    * the classic graph-based keyword scorer. All arithmetic is INTEGER:
    * ranks are 1e6-scaled longs, each diffusion step is
    * `150000 + Σ (r·85·w) div (100·W)` (damping 0.85 as 85/100, W = the
    * neighbor's total incident weight), so every iteration is exact,
    * partitioning-independent, and replayable by the oracle as
    * [[TextRankIters]] unrolled CTEs. Overflow headroom: the binding
    * term is one edge's product r·85·w ≈ 1e6·85·w, safe to w ≈ 10¹⁰
    * edge occurrences (2⁶³ ≈ 9.2·10¹⁸). Scale shape: the edge list
    * shuffles once on src per iteration and the rank frame — one row
    * per vocabulary token, orders of magnitude smaller than the corpus
    * — co-partitions with it; the final top-20 is a
    * TakeOrderedAndProject. At 1000 executors each iteration is one
    * co-partitioned join + partial agg, the labelPropagate shape with
    * weighted diffusion instead of min. */
  def q88TextRank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bc = bigramCounts(s, dir)
    val e = bc.select($"t1".as("src"), $"t2".as("dst"), $"c_xy".as("c"))
      .union(bc.select($"t2".as("src"), $"t1".as("dst"), $"c_xy".as("c")))
      .groupBy($"src", $"dst").agg(sum($"c").as("w"))
    val ws = e.groupBy($"src").agg(sum($"w").as("wt"))
    // materialize the (vocab²-bounded) edge frame ONCE: every iteration
    // subtree references it, and without the barrier each reference
    // recomputes the corpus scan + bigram shuffle (the q60 lesson). The
    // rank frames stay lazy — AQE exchange reuse dedupes their nesting.
    val ew = e.join(ws, "src").materialize() // (src, dst, w, wt)
    var ranks = ew.select($"src".as("tok"), lit(1000000L).as("r")).distinct()
    for (_ <- 1 to TextRankIters) {
      ranks = ew.join(ranks, ew("src") === ranks("tok"))
        .select($"dst", expr("(r * 85 * w) div (100 * wt)").as("contrib"))
        .groupBy($"dst")
        .agg((lit(150000L) + sum($"contrib")).as("r"))
        .select($"dst".as("tok"), $"r")
    }
    ranks
      .select($"tok", $"r".as("rank_scaled"))
      .orderBy($"rank_scaled".desc, $"tok")
      .limit(20)
  }

  /** Vocabulary size for the q94 coverage audit — deliberately smaller
    * than the corpus vocabulary so the OOV tail is non-empty. */
  val VocabK = 20

  // ---------------------------------------------------------------- q94
  /** Vocabulary-coverage audit: fix the top-[[VocabK]] tokens by corpus
    * count (ties broken on the token — a total order, so the vocab SET
    * is deterministic) and report per-language token coverage and OOV
    * rate — the "will this tokenizer's vocab serve every language"
    * check run before committing to a tokenizer. Scale shape: one token
    * count (shuffle on token), a TakeOrderedAndProject top-K, then a
    * map-side BROADCAST membership join back onto the token stream —
    * the corpus is never shuffled by the audit itself. */
  def q94VocabCoverage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = docs(s, dir)
      .select($"lang", explode(split(lower($"text"), " ")).as("tok"))
    val vocab = toks.groupBy($"tok").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"tok").limit(VocabK)
      .select($"tok", lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when($"in_vocab".isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        when($"n_tokens" === 0L, lit(0.0))
          .otherwise($"n_oov".cast("double") / $"n_tokens".cast("double")))
      .orderBy($"lang")
  }

  // ---------------------------------------------------------------- q93
  /** Token-graph triangle census: exact triangle count and global
    * clustering coefficient (3·triangles / wedges) of the undirected
    * bigram co-occurrence graph — the structural "is this corpus
    * phrase-like or bag-like" diagnostic, and the third graph-analytics
    * member next to components (q47) and PageRank (q88). Counting uses
    * the compact-forward orientation: every edge points from its
    * lower-(degree, name) endpoint, so each triangle materializes
    * exactly once and the path join's fan-out is bounded by the
    * oriented out-degree (O(√|E|)) instead of the raw degree — the
    * property that keeps triangle joins viable on power-law graphs at
    * 100 TB. All counts are exact longs; the one division is
    * correctly-rounded IEEE with an identical twin shape. On this
    * synthetic corpus the 31-token vocabulary saturates (the same graph
    * at every SF) — the planted spec supplies the structural cases. */
  def q93TriangleCensus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val und = bigramCounts(s, dir)
      .filter($"t1" =!= $"t2") // repeated-token self-loops are not edges
      .select(least($"t1", $"t2").as("a"), greatest($"t1", $"t2").as("b"))
      .distinct()
      .materialize() // referenced by deg/ore/edges: corpus scanned once
    val deg = und.select($"a".as("n")).union(und.select($"b".as("n")))
      .groupBy($"n").agg(count(lit(1)).as("d"))
    val ore = und
      .join(deg.select($"n".as("a"), $"d".as("da")), "a")
      .join(deg.select($"n".as("b"), $"d".as("db")), "b")
      .select(
        when($"da" < $"db" || ($"da" === $"db" && $"a" < $"b"), $"a")
          .otherwise($"b").as("u"),
        when($"da" < $"db" || ($"da" === $"db" && $"a" < $"b"), $"b")
          .otherwise($"a").as("v"))
      .materialize() // three self-references below; scan the corpus once
    val tri = ore.as("e1")
      .join(ore.as("e2"), $"e1.v" === $"e2.u")
      .join(ore.as("e3"), $"e3.u" === $"e1.u" && $"e3.v" === $"e2.v")
      .agg(count(lit(1)).as("n_triangles"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"),
      // SUM over an edgeless graph is NULL in both engines — force 0
      coalesce(sum(expr("d * (d - 1) div 2")), lit(0L)).as("n_wedges"))
    val edges = und.agg(count(lit(1)).as("n_edges"))
    nodes.crossJoin(broadcast(edges)).crossJoin(broadcast(tri))
      .withColumn("global_clustering",
        when($"n_wedges" === 0L, lit(0.0))
          .otherwise((lit(3L) * $"n_triangles").cast("double") /
            $"n_wedges".cast("double")))
      .select($"n_nodes", $"n_edges", $"n_wedges", $"n_triangles",
        $"global_clustering")
  }

  // ---------------------------------------------------------------- q86
  /** N-gram novelty attribution: which documents actually ADD content?
    * For every distinct 3-gram the corpus-wide introducer is the minimum
    * doc_id carrying it (ingestion order); a document's novelty is the
    * fraction of its distinct 3-grams it introduced. Duplicates, late
    * scrapes and template text score near 0 — the per-SOURCE rollup is
    * the "is this feed still contributing?" signal a crawl pipeline
    * prioritizes fetches by.
    *
    * Scale shape (reworked r6, VERDICT r5 #7): there is NO join carrying
    * shingle rows. Each shingle has exactly one introducer, so a doc's
    * introduced count is a group-by over the introducer FRAME (already
    * distinct-shingle-sized, collapsing to doc cardinality), and its
    * total is a map-side-combined count by doc_id. The former
    * `sh JOIN intro ON s` re-shuffled the full shingle-row side a second
    * time at 10× (the 2.2× ScaleSmoke ratio); now the only shuffle that
    * carries shingle volume is the introducer MIN itself, and everything
    * joined afterwards is doc-sized. */
  def q86NoveltyAttribution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // localCheckpoint = the scan barrier (q60's pattern, Dedup.decontamOf):
    // `sh` feeds both the introducer MIN and the per-doc count; without the
    // barrier each consumer re-plans the text decode + shingle explode +
    // the distinct's shuffle, so the corpus is scanned twice per run.
    val sh = Dedup.shingleRows(s, dir, distinct = true).materialize()
    val introduced = sh.groupBy($"s").agg(min($"doc_id").as("doc_id"))
      .groupBy($"doc_id").agg(count(lit(1)).as("n_introduced"))
    val perDoc = sh.groupBy($"doc_id").agg(count(lit(1)).as("n_shingles"))
    docs(s, dir).select($"doc_id", $"source")
      .join(perDoc, Seq("doc_id"), "left")
      .join(introduced, Seq("doc_id"), "left")
      .withColumn("n_shingles", coalesce($"n_shingles", lit(0L)))
      .withColumn("n_introduced", coalesce($"n_introduced", lit(0L)))
      // <3-token docs carry no shingles: novelty 0, not a 0/0 ANSI abort
      .withColumn("frac",
        when($"n_shingles" === 0L, lit(0.0))
          .otherwise($"n_introduced".cast("double") / $"n_shingles".cast("double")))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_shingles").as("total_shingles"),
        sum($"n_introduced").as("introduced"),
        davg($"frac").as("avg_novelty"))
      .orderBy($"source")
  }

  // ---------------------------------------------------------------- q50
  /** Exact per-language length quantiles (p50/p90/p99 of n_chars) via the
    * nearest-rank method: k = ceil(p·n), answer = k-th smallest. Pure
    * integer/window arithmetic — unlike interpolated percentile functions
    * (whose (1-g)a+gb vs a+(b-a)g orderings differ in the last ulp across
    * engines), this is hash-exact by construction. One shuffle on lang;
    * at 100 TB the same shape runs per partition-pruned slice. */
  def q50LengthQuantiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"lang").orderBy($"n_chars".asc, $"doc_id".asc)
    val ranked = docs(s, dir)
      .select($"lang", $"n_chars", $"doc_id")
      .withColumn("rn", row_number().over(w))
    val counts = docs(s, dir).groupBy($"lang").agg(count(lit(1)).as("n_docs"))
    def pick(p: Double, name: String) =
      max(when($"rn" === ceil(lit(p) * $"n_docs").cast("long"), $"n_chars"))
        .as(name)
    ranked.join(counts, "lang")
      .groupBy($"lang")
      .agg(max($"n_docs").as("n_docs"),
        pick(0.5, "p50"), pick(0.9, "p90"), pick(0.99, "p99"))
      .orderBy($"lang")
  }

  // ---------------------------------------------------------------- q83
  /** Approximate percentiles (the engine's Greenwald-Khanna
    * `percentile_approx` sketch) made oracle-checkable the q19 way:
    * sketch INTERNALS are engine-specific (and the distributed merge
    * order is not even deterministic), but GK's rank-error GUARANTEE is —
    * the returned value's rank is within ε·n of the target for
    * ε = 1/accuracy, whatever order partitions merge in. So the checked
    * row carries the exact nearest-rank percentiles (q50's pattern) plus
    * Spark-computed `*_rank_ok` flags: the exact rank of the sketch's
    * answer (count of values ≤ it) must sit within ε·n + 1 of the target
    * rank. The DuckDB twin computes the exact side and predicts the
    * flags literally — hash-exact while the GK path is fully exercised.
    * This closes the sketch family's checkability story: HLL → invariant
    * flag (q19), KMV/MinHash/SimHash/MG → exactly deterministic
    * (q71/q36/q37/q81), GK → guarantee-bound flag. */
  val GkAccuracy = 100

  def q83ApproxQuantiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // r16: base feeds the sketch, the ranked pass, the count join and
    // the rank-of-answer pass — 9 scans in the lazy final plan (the q36
    // finding). One text-free scan behind a checkpoint.
    val base = docs(s, dir).select($"lang", $"n_chars", $"doc_id")
      .materialize()
    val approx = base.groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        percentile_approx($"n_chars", lit(0.5), lit(GkAccuracy)).as("a50"),
        percentile_approx($"n_chars", lit(0.9), lit(GkAccuracy)).as("a90"))
    val w = Window.partitionBy($"lang").orderBy($"n_chars".asc, $"doc_id".asc)
    val ranked = base.withColumn("rn", row_number().over(w))
    def pick(p: Double, name: String) =
      max(when($"rn" === ceil(lit(p) * $"n_docs").cast("long"), $"n_chars"))
        .as(name)
    val exact = ranked
      .join(base.groupBy($"lang").agg(count(lit(1)).as("n_docs")), "lang")
      .groupBy($"lang")
      .agg(pick(0.5, "p50_exact"), pick(0.9, "p90_exact"))
    // exact rank of each sketch answer: one partial-agg pass of
    // conditional counts — no sort, no join fan-out
    val ranksOfApprox = base.join(broadcast(approx), "lang")
      .groupBy($"lang")
      .agg(sum(when($"n_chars" <= $"a50", 1L).otherwise(0L)).as("r50"),
        sum(when($"n_chars" <= $"a90", 1L).otherwise(0L)).as("r90"))
    def ok(r: org.apache.spark.sql.Column, p: Double) =
      abs(r.cast("double") - lit(p) * $"n_docs".cast("double")) <=
        $"n_docs".cast("double") / lit(GkAccuracy.toDouble) + lit(1.0)
    approx.join(exact, "lang").join(ranksOfApprox, "lang")
      .select($"lang", $"n_docs", $"p50_exact", $"p90_exact",
        ok($"r50", 0.5).as("p50_rank_ok"), ok($"r90", 0.9).as("p90_rank_ok"))
      .orderBy($"lang")
  }

  // ---------------------------------------------------------------- q51
  /** Cross-source contamination matrix: for every pair of sources, how
    * many distinct texts appear in BOTH (the train/test-overlap check a
    * training-data pipeline runs before mixing corpora). Shape: distinct
    * (source, content-hash) rows self-equi-join on the hash — fan-out per
    * hash is bounded by the number of sources, so no hot key at any corpus
    * size; the all-pairs frame is a cross of the SOURCE dimension only
    * (metadata cardinality, broadcast, PlanSpec-allow-listed). */
  def q51Contamination(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r16: d feeds perSource and both sides of the shared self-join —
    // 4 text-bearing scans in the lazy plan (the q36 finding). One text
    // decode into the checkpointed distinct-hash frame.
    val d = docs(s, dir)
      .select($"source", md5($"text".cast("binary")).as("h")).distinct()
      .materialize()
    val perSource = d.groupBy($"source").agg(count(lit(1)).as("n"))
    val pairs = perSource.as("a").join(perSource.as("b"),
        $"a.source" < $"b.source")
      .select($"a.source".as("source_a"), $"b.source".as("source_b"),
        $"a.n".as("n_a"), $"b.n".as("n_b"))
    val shared = d.as("x").join(d.as("y"),
        $"x.h" === $"y.h" && $"x.source" < $"y.source")
      .groupBy($"x.source".as("source_a"), $"y.source".as("source_b"))
      .agg(count(lit(1)).as("ns"))
    pairs.join(shared, Seq("source_a", "source_b"), "left")
      .withColumn("n_shared", coalesce($"ns", lit(0L)))
      .withColumn("overlap",
        $"n_shared".cast("double") / ($"n_a" + $"n_b" - $"n_shared"))
      .select($"source_a", $"source_b", $"n_a", $"n_b", $"n_shared", $"overlap")
      .orderBy($"source_a", $"source_b")
  }

  // ---------------------------------------------------------------- q53
  /** Exact top-20 tokens per language by document frequency — the
    * vocabulary/stopword-discovery table that feeds df-caps (q35) and
    * quality heuristics. Shape: explode → per-doc distinct (map-side
    * partial agg before the shuffle) → (lang, token) df count → per-lang
    * top-k window with a total tie-break. At 100 TB the (lang, token)
    * aggregate is the classic word-count shuffle — partial aggregation
    * bounds it by vocabulary, not corpus, size. */
  def q53TopTokens(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val df = docs(s, dir)
      .select($"doc_id", $"lang", explode(split(lower($"text"), " ")).as("tok"))
      .distinct() // document frequency, not term frequency
      .groupBy($"lang", $"tok").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy($"lang").orderBy($"df".desc, $"tok".asc)
    df.withColumn("rk", row_number().over(w))
      .filter($"rk" <= 20)
      .select($"lang", $"rk".cast("long").as("rk"), $"tok", $"df")
      .orderBy($"lang", $"rk")
  }

  // ---------------------------------------------------------------- q54
  /** The cleaning CASCADE end-to-end — what a user of this library runs as
    * their whole corpus-cleaning pass in ONE distributed plan: exact-dup
    * canonicalization → repetition filter (q48 signal) → quality filter
    * (q31 signal) → deterministic hash-sampling (q46) — with per-language
    * accounting of where each document fell out (first failing stage
    * wins). Every signal is a join/partial-agg already proven hash-exact
    * alone; composition stays one plan, no driver loops, no collects. */
  def q54CleanCorpus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    stagedDocs(docs(s, dir))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"stage" === "dup", 1L).otherwise(0L)).as("n_dup"),
        sum(when($"stage" === "repetition", 1L).otherwise(0L)).as("n_rep"),
        sum(when($"stage" === "quality", 1L).otherwise(0L)).as("n_quality"),
        sum(when($"stage" === "sample", 1L).otherwise(0L)).as("n_sample"),
        sum(when($"stage" === "kept", 1L).otherwise(0L)).as("n_kept"))
      .orderBy($"lang")
  }

  /** The row-level primitive under q54's accounting AND the publish
    * pipeline ([[graft.app.CleanPipeline]]): every document of the input
    * corpus plus its cleaning `stage` (dup / repetition / quality /
    * sample / kept — first failing stage wins) and the `quality` score,
    * deliberately retained as an observability signal. Filtering
    * `stage = kept` yields the publishable corpus;
    * aggregating yields q54. */
  def stagedDocs(d: DataFrame): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // canonical id via a window min over the hash partition: one shuffle
    // on h and ONE scan of documents, vs groupBy + re-join (two scans)
    val withCanon = d
      .withColumn("h", md5($"text".cast("binary")))
      .withColumn("canon_id", min($"doc_id").over(Window.partitionBy($"h")))
    // repetition fraction MAP-SIDE (r7): the shingle multiset of one doc
    // is per-row data, so (total − distinct)/total needs no explode, no
    // (doc_id, shingle) shuffle and no join back — the r6 shape paid a
    // second text scan plus two shingle-volume shuffles for a number
    // computable where the row already is. [[graft.functions.ShingleStats]]
    // (one codegen pass per doc, proven equal to the exploded q48 signal
    // by spec) is the one implementation of the repetition signal.
    // <3-token docs have zero shingles ⇒ 0.0.
    withCanon
      .withColumn("_ss", graft.functions.ShingleStats($"text"))
      .withColumn("rf", when($"_ss.n_shingles" > 0,
          ($"_ss.n_shingles" - $"_ss.n_distinct").cast("double")
            / $"_ss.n_shingles".cast("double"))
        .otherwise(lit(0.0)))
      .drop("_ss")
      .withColumn("quality", qualityExpr($"text"))
      .withColumn("bucket", graft.util.Buckets.mod1000("doc_id"))
      .withColumn("rate", sampleRate($"lang"))
      .withColumn("stage",
        when($"doc_id" =!= $"canon_id", "dup")
          .when($"rf" > 0.05, "repetition")
          .when($"quality" < 0.52, "quality")
          .when($"bucket" >= $"rate", "sample")
          .otherwise("kept"))
      .drop("h", "canon_id", "rf", "bucket", "rate")
  }

  // ---------------------------------------------------------------- q57
  /** Deterministic train/val/test split assignment (98/1/1) by content-id
    * hash bucket — append-safe and re-run-safe like q46: a document's
    * split never changes when the corpus grows or repartitions, and the
    * three sets are disjoint by construction. Pure map-side + one count
    * aggregate. */
  def q57SplitAssign(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .withColumn("bucket", graft.util.Buckets.mod1000("doc_id"))
      .withColumn("split",
        when($"bucket" < 980, "train").when($"bucket" < 990, "val")
          .otherwise("test"))
      .groupBy($"lang", $"split")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy($"lang", $"split")
  }

  // ---------------------------------------------------------------- q82
  /** Stratified EXACT-k eval-set builder: exactly [[EvalK]] documents per
    * (lang, source) cell, selected in deterministic content-free hash
    * order — the eval/calibration-set primitive q46 cannot express (q46
    * samples at a RATE, so cell sizes float with the data; an eval suite
    * needs a fixed budget per cell, reproducible across re-runs and
    * unbiased by doc_id assignment order). Order is md5(doc_id) with
    * doc_id as tiebreak — same engine-portable hash family as the q46/q57
    * bucket function. Plans as the q07/q71 WindowGroupLimit shape: each
    * task keeps ≤ k rows per group BEFORE the shuffle, so the sort never
    * sees more than k × #groups × #partitions rows — the scale-safe
    * per-group top-k, not a global sort. */
  val EvalK = 20

  def q82StratifiedEval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"lang", $"source")
      .orderBy($"hx".asc, $"doc_id".asc)
    docs(s, dir)
      .withColumn("hx", expr("md5(cast(cast(doc_id as string) as binary))"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= EvalK)
      .select($"lang", $"source", $"rk".cast("long").as("rk"), $"doc_id")
      .orderBy($"lang", $"source", $"rk")
  }

  // ---------------------------------------------------------------- q98
  /** Sample size per language for q98's weighted sample. */
  val WeightedK = 20

  /** 2^48 — the denominator of the dyadic uniform draw u = h1/2^48. */
  private[graft] val Pow48 = 281474976710656.0

  /** Weighted stratified sampling via PRIORITY SAMPLING (Duffield–Lund–
    * Thorup, JACM 2007): per language, each document draws a deterministic
    * uniform u = (48-bit md5 prefix + 1)/2^48 and gets priority
    * q = w/u with weight w = its whitespace token count; the top-k by
    * priority are the sample, and with τ = the (k+1)-th priority,
    * Σ max(w_i, τ) over the sample is an UNBIASED estimator of the
    * stratum's total token count. This is the weighted complement of the
    * sampling family: q46 samples at a rate, q82 takes a uniform exact-k,
    * q98 takes an exact-k where long documents are proportionally more
    * likely — the mixture-aware "sketch of the corpus" whose estimator
    * quality is itself part of the output (est vs exact totals).
    *
    * Determinism: u is an exact dyadic rational; ordering by priority
    * descending ⇔ ordering by u/w = (h1 as double)/(w as double)
    * ascending — ONE correctly-rounded IEEE division, bit-identical in
    * any engine (ties broken by doc_id). τ = w·2^48/h1 is two
    * correctly-rounded ops in fixed order; the estimator is floor-scaled
    * to 1e6-longs BEFORE summing (the scaled-long gate) so the per-lang
    * sum is exact integer arithmetic, order-free, hash-exact. A stratum
    * with ≤ k documents has no (k+1)-th priority: τ is NULL, every doc
    * is sampled, and the "estimate" is exactly the total (err_frac 0).
    *
    * Scale shape: the top-(k+1) per language plans as WindowGroupLimit —
    * each task pre-prunes to k+1 rows per group BEFORE the shuffle, so
    * the window never sorts more than (k+1)·#langs·#partitions rows.
    * The ranked frame is localCheckpoint'd (≤ (k+1)·#langs rows) so τ
    * and the sample don't re-run the scan+window; the exact per-lang
    * totals are a second deliberately separate pass — a 3-column pruned
    * scan into a map-side partial agg is cheaper at 100 TB than
    * materializing a per-row barrier just to share one md5 call. All
    * post-window joins are broadcast (#langs-row frames). */
  /** (doc_id, lang, tok, h1, pri) weighted-sampling projection over any
    * `(doc_id, lang, text)` frame — ONE definition of the draw and the
    * rank key for the batch sampler (q98). */
  private[graft] def weightedProjection(d: DataFrame): DataFrame =
    d.select(col("doc_id"), col("lang"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("tok"),
      (expr("cast(conv(substring(md5(cast(cast(doc_id as string) as binary)), 1, 12), 16, 10) as long)") + lit(1L)).as("h1"))
      .filter(col("tok") > 0)
      .withColumn("pri", col("h1").cast("double") / col("tok").cast("double"))

  /** (doc_id, lang, tok, h1, pri) weighted-sampling frame — the map-side
    * projection both the ranker and the exact-totals pass consume. */
  private def weightedBase(s: SparkSession, dir: String): DataFrame =
    weightedProjection(docs(s, dir).select(col("doc_id"), col("lang"), col("text")))

  /** Pre-checkpoint top-(k+1)-per-language frame — exposed so PlanSpec
    * can pin the WindowGroupLimit partial-top-k shape, which the
    * localCheckpoint barrier in [[q98WeightedSample]] hides from the
    * final plan. */
  private[graft] def weightedRanked(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"lang").orderBy($"pri".asc, $"doc_id".asc)
    weightedBase(s, dir)
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= WeightedK + 1)
  }

  def q98WeightedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = weightedBase(s, dir)
    val ranked = weightedRanked(s, dir).materialize()
    val tau = ranked.filter($"rk" === WeightedK + 1)
      .select($"lang",
        ($"tok".cast("double") * lit(Pow48) / $"h1".cast("double")).as("tau"))
    val totals = base.groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"tok").as("total_tokens"))
    val sel = ranked.filter($"rk" <= WeightedK)
      .join(broadcast(tau), Seq("lang"), "left")
      .withColumn("est_w6",
        floor(when($"tau".isNull, $"tok".cast("double"))
          .otherwise(greatest($"tok".cast("double"), $"tau")) * lit(1000000.0))
          .cast("long"))
    val est = sel.groupBy($"lang").agg(sum($"est_w6").as("est_total6"))
    sel.join(broadcast(totals), Seq("lang"))
      .join(broadcast(est), Seq("lang"))
      .withColumn("err_frac",
        abs($"est_total6" - $"total_tokens" * lit(1000000L)).cast("double") /
          ($"total_tokens" * lit(1000000L)).cast("double"))
      .select($"lang", $"rk".cast("long").as("rk"), $"doc_id", $"tok",
        $"est_w6", $"n_docs", $"total_tokens", $"est_total6", $"err_frac")
      .orderBy($"lang", $"rk")
  }

  // --------------------------------------------------------------- q102
  /** Hashed feature-bucket count for importance weighting: the q46/q57
    * md5-hex family applied to a TOKEN (tokens are already strings, so
    * no to-string cast), mod [[DsirBuckets]]. */
  val DsirBuckets = 256
  /** Fixed-point scale of the per-bucket target/source ratio. */
  val DsirScale = 1000000L
  /** Selected documents per language. */
  val DsirK = 5

  /** q102: DSIR-style data selection by hashed importance weighting
    * (after Xie et al. 2023, "Data Selection for Language Models via
    * Importance Resampling"): score each TRAIN document by how
    * target-like its hashed unigram distribution is, and keep the
    * per-language top-[[DsirK]]. Target = the q60/q101 eval split
    * (doc_id bucket < 100), source = the train split.
    *
    * Departure from the paper, deliberately: the per-token weight is the
    * smoothed count RATIO (add-half) in exact fixed-point integer
    * arithmetic —
    *   R[b] = ⌊SCALE · (2·ct_b+1)(2·Ts+K) / ((2·cs_b+1)(2·Tt+K))⌋
    * — and a document scores Σ_tokens R[bucket(token)], i.e. the
    * arithmetic mean of ratios rather than the paper's log-space
    * product. `ln` is library-dependent in the last ulp (the q61/q87
    * rule), so log-space scores cannot be oracle-exact across engines;
    * integer ratios can, and they induce the same "looks like the
    * target" ordering signal. R[b] is bounded by SCALE·(2·Ts+K)/3 (a
    * train doc's bucket has cs_b ≥ 1), so a doc score fits a long
    * comfortably below ~10^18 corpus tokens; the 100 TB path swaps in
    * the q42 int128 sum, same oracle.
    *
    * Scale shape: ONE corpus scan → token explode → partial-agged
    * group-by on (doc, bucket) — the only data-volume shuffle, carrying
    * ≤ [[DsirBuckets]] rows per doc, not its token stream. The K×2
    * bucket-count table is a driver-sized collect (256 cells); the ratio
    * table goes back as a 256-long ARRAY LITERAL compiled into codegen —
    * no join anywhere in the plan. Final per-language top-k is the
    * rank-then-filter WindowGroupLimit shape (each task keeps ≤ k rows
    * per language before the shuffle). */
  def q102DsirWeights(s: SparkSession, dir: String): DataFrame =
    dsirOf(docs(s, dir))

  private def dsirPerDoc(d: DataFrame): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    d.select($"doc_id", $"lang",
        graft.util.Buckets.mod1000("doc_id").as("db"),
        explode(split(lower($"text"), " ")).as("tok"))
      .withColumn("fb", graft.util.Buckets.modN("tok", DsirBuckets))
      .groupBy($"doc_id", $"lang", $"db", $"fb")
      .agg(count(lit(1)).as("c"))
  }

  /** The [[DsirBuckets]]-long target/source ratio table from a corpus's
    * eval/train split — exact BigInt arithmetic over the driver-sized
    * cell collect. */
  private def dsirRatiosOf(perDoc: DataFrame): Array[Long] = {
    val s = perDoc.sparkSession
    import s.implicits._
    val K = DsirBuckets
    // K×2 cells — driver-sized by construction, independent of corpus
    val cells = perDoc.groupBy($"fb")
      .agg(sum(when($"db" < 100, $"c").otherwise(0L)).as("ct"),
        sum(when($"db" >= 100, $"c").otherwise(0L)).as("cs"))
      .collect()
    val tt = cells.map(_.getLong(1)).sum
    val ts = cells.map(_.getLong(2)).sum
    // exact BigInt ratio per bucket (floor; all factors positive);
    // untouched buckets get the ct=cs=0 formula value — formula-
    // consistent, and unreachable anyway (no token maps there)
    def ratio(ct: Long, cs: Long): Long =
      ((BigInt(DsirScale) * (2 * BigInt(ct) + 1) * (2 * BigInt(ts) + K)) /
        ((2 * BigInt(cs) + 1) * (2 * BigInt(tt) + K))).toLong
    val rArr = Array.fill(K)(ratio(0L, 0L))
    cells.foreach(r => rArr(r.getLong(0).toInt) =
      ratio(r.getLong(1), r.getLong(2)))
    rArr
  }

  def dsirOf(d: DataFrame): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // (doc, lang, doc-bucket, feature-bucket) → token count; checkpoint:
    // both the global cells and the scoring pass consume this frame, and
    // the barrier guarantees ONE text decode + ONE explode (q101 rule)
    val perDoc = dsirPerDoc(d).materialize()
    val rArr = dsirRatiosOf(perDoc)
    val rLookup = array(rArr.map(lit(_)).toIndexedSeq: _*)
    val w = Window.partitionBy($"lang")
      .orderBy($"dsir_score".desc, $"doc_id".asc)
    perDoc.filter($"db" >= 100)
      .withColumn("rv", element_at(rLookup, ($"fb" + 1).cast("int")))
      .groupBy($"doc_id", $"lang")
      .agg(sum($"c" * $"rv").as("dsir_score"), sum($"c").as("n_tokens"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= DsirK)
      .select($"lang", $"rk", $"doc_id", $"n_tokens", $"dsir_score")
      .orderBy($"lang", $"rk")
  }

  // --------------------------------------------------------------- q118
  /** Hashed token-bucket count for the bigram LM — 64 buckets keeps the
    * per-language model at 64² = 4096 conditional cells: model-sized (a
    * broadcast-join literal at any corpus scale) while still resolving
    * the bigram structure that separates natural text from shuffled
    * gibberish (the planted spec's distinguishing case). */
  val LmBuckets = 64
  /** Fixed-point scale of the per-bigram smoothed conditional. */
  val LmScale = 1000000L

  /** q118 (VERDICT r9 #4): CCNet-style LM quality bucketing (after
    * Wenzek et al. 2020, "CCNet: Extracting High Quality Monolingual
    * Datasets from Web Crawl Data"): train a language model on a trusted
    * reference slice, score every document by how well the model
    * predicts it, and split each language head/middle/tail — head is
    * the training-data keep set, tail the junk.
    *
    * Departures from the paper, deliberate and in the engine's idiom:
    * the LM is a hashed token-BIGRAM table (not KenLM 5-grams — the
    * model must be replayable by the oracle from the corpus alone), the
    * reference slice is the q60/q101/q102 eval split (doc_id bucket <
    * 100 — the corpus's standing held-out slice), and the score is the
    * exact-integer fixed-point mean of add-half-smoothed conditionals
    *   L(b1,b2) = ⌊SCALE·(2·c12+1) / (2·c1+K)⌋,   score = ⌊Σc·L / Σc⌋
    * rather than log-space perplexity — `ln` is library-dependent in
    * the last ulp (the q61/q87/q102 rule), so perplexity cannot be
    * oracle-exact across engines; the arithmetic mean of conditionals
    * induces the same "does the model predict this text" ordering, and
    * higher score = more natural (the inverse of perplexity's lower =
    * better). Unseen bigrams and unseen contexts fall out of the SAME
    * formula at c12 = 0 / c1 = 0 — no special-cased backoff. Buckets
    * are per-language exact nearest-rank terciles (q50's machinery):
    * rank by (score desc, doc_id), head ⇔ 3·rk ≤ n, middle ⇔ 3·rk ≤
    * 2·n, else tail — integer arithmetic, no interpolation. Documents
    * with no bigram (< 2 tokens) score 0: junk by definition, same
    * convention as the q31 empty-text rule.
    *
    * Scale shape: ONE corpus scan → per-doc bigram-bucket counts (the
    * only data-volume shuffle, ≤ K² rows per doc — partial-agged
    * map-side); the model is two broadcast-sized aggregates (langs×K²
    * cells, langs×K contexts) broadcast-joined back; the tercile rank
    * is q50's one-shuffle-on-lang window (at 100 TB the same shape runs
    * per partition-pruned slice; the q58 two-pass prefix-sum upgrade
    * applies unchanged if a single language dominates). L fits a long
    * below ~4·10¹² reference-slice tokens; the 100 TB path swaps the
    * q42 int128 sum, same oracle. */
  def q118LmQuality(s: SparkSession, dir: String): DataFrame =
    lmQualityOf(docs(s, dir))

  /** Per-doc (doc_id, lang, db, b1, b2, c) bigram-bucket counts — the
    * one corpus-volume frame of the q118 family. */
  private def lmPerDoc(d: DataFrame): DataFrame =
    lmCountsFromBuckets(d.select(col("doc_id"), col("lang"),
      graft.util.Buckets.mod1000("doc_id").as("db"),
      lmBucketsCol))

  /** The per-token LM bucket array off the text column — THE tokenize +
    * md5-bucket expression of the q118 family, split out (r17) so the
    * one-scan [[qualityPerDoc]] computes it on the same pass as the
    * Gopher signals. */
  private def lmBucketsCol: Column =
    expr(s"transform(split(lower(text), ' '), t -> ${
      graft.util.Buckets.sqlModN("t", LmBuckets)})").as("bs")

  /** The explode + partial-agg tail of [[lmPerDoc]] over a frame already
    * carrying (doc_id, lang, db, bs). Arithmetic unchanged. Exposed to
    * the package for q137's one-scan teacher/student fold. */
  private[graft] def lmCountsFromBuckets(b: DataFrame): DataFrame = {
    val s = b.sparkSession
    import s.implicits._
    // positional bigrams off the bucket array; the size guard matters:
    // sequence(0, -1) DESCENDS in Spark, so a 1-token doc must
    // short-circuit to the empty array, not sequence(0, size-2)
    b.withColumn("bg", explode(expr(
        """CASE WHEN size(bs) < 2 THEN array()
          |ELSE transform(sequence(0, size(bs) - 2),
          |  i -> struct(bs[i] AS b1, bs[i + 1] AS b2)) END""".stripMargin)))
      .select($"doc_id", $"lang", $"db", $"bg.b1", $"bg.b2")
      .groupBy($"doc_id", $"lang", $"db", $"b1", $"b2")
      .agg(count(lit(1)).as("c"))
  }

  /** The frozen model tables from a (checkpointed) [[lmPerDoc]] frame:
    * cells = (lang, b1, b2, c12) over the reference slice, ctx =
    * (lang, b1, c1). Shared by the inline q118 scorer and the persisted
    * door model ([[graft.streaming.StreamingLmGate]]). */
  private[graft] def lmModelOf(perDoc: DataFrame): (DataFrame, DataFrame) = {
    val s = perDoc.sparkSession
    import s.implicits._
    val cells = perDoc.filter($"db" < 100)
      .groupBy($"lang", $"b1", $"b2").agg(sum($"c").as("c12"))
    (cells, cells.groupBy($"lang", $"b1").agg(sum($"c12").as("c1")))
  }

  /** Score documents against an explicit frozen model — the ONE scoring
    * formula, shared by the inline q118 arm and the door gate: `ids` is
    * the (doc_id, lang) universe (every doc reports, bigram-less ones at
    * score 0), `perDoc` its bigram-bucket counts. Output: (doc_id, lang,
    * n_bigrams, lm_score). */
  private[graft] def lmScoreFromPerDoc(ids: DataFrame, perDoc: DataFrame,
      cells: DataFrame, ctx: DataFrame): DataFrame = {
    val s = ids.sparkSession
    import s.implicits._
    val scored = perDoc
      .join(broadcast(cells), Seq("lang", "b1", "b2"), "left")
      .join(broadcast(ctx), Seq("lang", "b1"), "left")
      .withColumn("lv", expr(
        s"(${LmScale}L * (2L * coalesce(c12, 0L) + 1L)) div " +
          s"(2L * coalesce(c1, 0L) + $LmBuckets)"))
      .groupBy($"doc_id", $"lang")
      .agg(sum($"c" * $"lv").as("ssum"), sum($"c").as("n_bigrams"))
    ids
      .join(scored, Seq("doc_id", "lang"), "left")
      // guard BEFORE coalescing: ANSI `div` throws on a 0 divisor even
      // under a null numerator, so the no-bigram branch must never
      // reach the division (scored rows always have n_bigrams ≥ 1)
      .withColumn("lm_score",
        when($"n_bigrams".isNull, lit(0L))
          .otherwise(expr("ssum div n_bigrams")))
      .withColumn("n_bigrams", coalesce($"n_bigrams", lit(0L)))
      .select($"doc_id", $"lang", $"n_bigrams", $"lm_score")
  }

  /** The q118 scorer over an explicit documents frame (doc_id, lang,
    * text) — exposed for the planted natural-vs-gibberish spec and the
    * [[graft.app.CleanPipeline]] quality-stage knob. */
  def lmQualityOf(d: DataFrame): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    // one text decode + explode feeds both the model cells and the
    // scoring pass — the q102/q101 barrier rule
    val perDoc = lmPerDoc(d).materialize()
    lmQualityFromPerDoc(d.select($"doc_id", $"lang"), perDoc)
  }

  /** The model-fit + score + tercile tail of [[lmQualityOf]] over an
    * explicit (already materialized) [[lmPerDoc]] frame and id universe —
    * split out (r17) so the one-scan [[qualityPerDoc]] feeds it from its
    * own barrier. Arithmetic unchanged. */
  private def lmQualityFromPerDoc(ids: DataFrame,
      perDoc: DataFrame): DataFrame = {
    val s = ids.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val (cells, ctx) = lmModelOf(perDoc)
    val w = Window.partitionBy($"lang")
      .orderBy($"lm_score".desc, $"doc_id".asc)
    val nW = Window.partitionBy($"lang")
    lmScoreFromPerDoc(ids, perDoc, cells, ctx)
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(nW))
      .withColumn("lm_bucket",
        when(lit(3L) * $"rk" <= $"n", "head")
          .when(lit(3L) * $"rk" <= lit(2L) * $"n", "middle")
          .otherwise("tail"))
      .select($"lang", $"doc_id", $"n_bigrams", $"lm_score", $"lm_bucket")
      .orderBy($"lang", $"doc_id")
  }

  /** q118's bigram-bucket frame for an explicit doc frame — exposed so
    * the door gate scores micro-batches with the IDENTICAL bucket/bigram
    * arithmetic. */
  private[graft] def lmPerDocOf(d: DataFrame): DataFrame = lmPerDoc(d)

  /** The tail-tercile doc_id drop list [[graft.app.CleanPipeline]]'s
    * `--lm-tail-filter` stage joins against (CCNet's convention: keep
    * head + middle, drop tail). Doc-id-sized, like every drop list. */
  def lmTailDrops(d: DataFrame): DataFrame =
    lmQualityOf(d).filter(col("lm_bucket") === "tail").select("doc_id")

  // ---------------------------------------------------------------- q58
  /** Sequence packing: greedily pack documents (in stable doc_id order,
    * per language) into 8192-token context windows by start offset — the
    * pre-training batch-prep step. pack_id = floor(exclusive-running-token
    * -total / 8192); a document that straddles a boundary belongs to the
    * pack it starts in. Reports packing efficiency per language.
    *
    * Scale shape (VERDICT r3's top item): a naive
    * `Window.partitionBy(lang).orderBy(doc_id)` running sum caps
    * parallelism at the LANGUAGE count — one task streams every document
    * of a language, a genuine 100×-scale killer on a single-language
    * corpus. This is the classic distributed prefix sum instead:
    * (1) split each language's doc_id range into ordered buckets,
    * (2) per-(lang, bucket) token subtotals — one partial agg, map-side
    *     combined, output is #langs × #buckets rows regardless of corpus
    *     size,
    * (3) exclusive running sum over THAT tiny table gives each bucket's
    *     starting offset (window over ≤ #buckets rows per language),
    * (4) broadcast the offsets back and run the running sum WITHIN each
    *     (lang, bucket) — parallelism #langs × #buckets, identical
    *     results (prefix sums are exact integer arithmetic).
    * Buckets come from fixed-width doc_id ranges (doc ids are dense
    * here; a production deployment over sparse ids would sample range
    * bounds, RangePartitioner-style — same plan shape). */
  def q58SequencePacking(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val packed = packAssignments(
      docs(s, dir).withColumn(
        "tok", size(split(trim($"text"), "\\s+")).cast("long")))
    packed.groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"tok").as("total_tokens"),
        (max($"pack_id") + 1L).as("n_packs"))
      .withColumn("avg_tokens_per_pack",
        $"total_tokens".cast("double") / $"n_packs".cast("double"))
      .orderBy($"lang")
  }

  /** Per-document pack assignment via the distributed two-pass prefix
    * sum, over an explicit `(lang, doc_id, tok)`-bearing frame. Exposed
    * for specs: output must be IDENTICAL to the single-window running
    * sum, with the heavy window partitioned on (lang, rbucket). `buckets`
    * defaults to the session's parallelism (it never affects results,
    * only task granularity). */
  private[graft] def packAssignments(d: DataFrame,
      buckets: Int = 0): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val nb = if (buckets > 0) buckets
      else math.max(2, s.sparkContext.defaultParallelism)
    // ordered range buckets over the observed doc_id span: one
    // driver-sized bounds job (2 longs), exactly like RangePartitioner's
    // bound sampling but without the sample
    val bounds = d.agg(min($"doc_id").as("lo"), max($"doc_id").as("hi"))
      .collect()(0)
    if (bounds.isNullAt(0)) return d.withColumn("start_off", lit(0L))
      .withColumn("pack_id", lit(0L)) // empty corpus: schema-stable empty
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val span = math.max(1L, (hi - lo) / nb + 1L)
    // exact integer division (Column./ is double division — imprecise
    // past 2^53 at real id scales)
    val toks = d.withColumn("rbucket", expr(s"(doc_id - ${lo}L) div ${span}L"))
    // pass 1: per-(lang, range-bucket) subtotals — #langs × nb rows
    val sub = toks.groupBy($"lang", $"rbucket")
      .agg(sum($"tok").as("bucket_tok"))
    // exclusive prefix over the subtotal table: tiny window (≤ nb rows
    // per language), then broadcast back
    val wOff = Window.partitionBy($"lang").orderBy($"rbucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = sub
      .withColumn("bucket_off", coalesce(sum($"bucket_tok").over(wOff), lit(0L)))
      .select($"lang", $"rbucket", $"bucket_off")
    // pass 2: running sum WITHIN each (lang, bucket) + the bucket offset
    val wIn = Window.partitionBy($"lang", $"rbucket").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    toks.join(broadcast(off), Seq("lang", "rbucket"))
      .withColumn("start_off",
        $"bucket_off" + coalesce(sum($"tok").over(wIn), lit(0L)))
      .withColumn("pack_id", floor($"start_off" / 8192L))
      .drop("rbucket", "bucket_off")
  }

  // ---------------------------------------------------------------- q59
  /** Source-mixture rebalancing: compute the per-source deterministic
    * keep-rate that flattens the corpus to a uniform source mixture
    * (rate = min(1, target/actual)), then the kept counts under q46-style
    * hash-bucket sampling. The "what do I sample to hit my target mix"
    * planning step — two aggregates and a broadcast-size join, no RNG. */
  def q59MixtureRebalance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val d = docs(s, dir).withColumn("bucket", graft.util.Buckets.mod1000("doc_id"))
    val counts = d.groupBy($"source").agg(count(lit(1)).as("n_docs"))
    // the uniform target is a global scalar over the SOURCE-cardinality
    // table: a single-partition window over ~|sources| rows, not a join
    val w0 = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val rates = counts
      .withColumn("target",
        sum($"n_docs").over(w0).cast("double") / count(lit(1)).over(w0).cast("double"))
      .withColumn("rate_k",
        least(lit(1000L), floor(($"target" / $"n_docs".cast("double")) * 1000.0).cast("long")))
    d.join(broadcast(rates.select($"source", $"n_docs", $"rate_k")), "source")
      .withColumn("kept", ($"bucket" < $"rate_k").cast("long"))
      .groupBy($"source", $"n_docs", $"rate_k")
      .agg(sum($"kept").as("n_kept"))
      .select($"source", $"n_docs", $"rate_k", $"n_kept")
      .orderBy($"source")
  }

  // ---------------------------------------------------------------- q61
  /** Exact TF-IDF top-3 terms per document (doc_id < 50 window), with the
    * raw-ratio idf variant score = tf · N / df — chosen over log-idf
    * deliberately: multiplication and division are correctly-rounded IEEE
    * ops, so the score (and therefore the ranking) is bit-identical on
    * every engine, where `ln` is library-dependent in the last ulp. df is
    * document frequency over the FULL corpus (distinct doc per token —
    * the word-count shuffle, bounded by vocabulary after partial agg); N
    * joins in as a one-row broadcast aggregate (the scalar-subquery
    * shape — fully lazy, so building the plan never triggers a job).
    * Ranking ties break on token text. */
  def q61Tfidf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val toks = docs(s, dir)
      .select($"doc_id", explode(split(lower($"text"), " ")).as("tok"))
    val nDf = docs(s, dir).agg(count(lit(1)).cast("double").as("n_total"))
    val tf = toks.filter($"doc_id" < 50)
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
    val dfT = toks.distinct().groupBy($"tok").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy($"doc_id").orderBy($"score".desc, $"tok".asc)
    tf.join(dfT, "tok")
      .crossJoin(broadcast(nDf)) // 1 aggregate row — a scalar, not a frame
      .withColumn("score",
        $"tf".cast("double") * $"n_total" / $"df".cast("double"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .select($"doc_id", $"rk".cast("long").as("rk"), $"tok",
        $"tf", $"df", $"score")
      .orderBy($"doc_id", $"rk")
  }

  // --------------------------------------------------------------- q122
  /** The standing retrieval workload: (query_id, term) pairs over the
    * corpus vocabulary. Terms repeat across queries by design (the join
    * has to handle it); the set is small enough to broadcast — which is
    * the realistic shape: retrieval serves a bounded query batch against
    * an unbounded corpus. */
  val Bm25Queries: Seq[(Long, String)] = Seq(
    1L -> "spark", 1L -> "join",
    2L -> "window", 2L -> "stream", 2L -> "batch",
    3L -> "fast", 3L -> "merge", 3L -> "sort", 3L -> "query",
    4L -> "vector", 4L -> "hash")
  val Bm25TopK = 10

  /** q122: BM25 ranked retrieval (Robertson–Spärck Jones Okapi weighting,
    * k1 = 1.2, b = 0.75) — top-[[Bm25TopK]] documents per query for the
    * [[Bm25Queries]] batch. Two deliberate engine-exactness choices:
    * the idf is the RAW odds ratio (N − df + ½)/(df + ½) = (2N−2df+1)/
    * (2df+1), not Lucene's ln(1 + ·) — the q61 convention: transcendental
    * functions differ across engines in the last ulp, while this keeps
    * every step a correctly-rounded IEEE op (for a single-term query the
    * ranking is identical, ln being monotone); and avgdl is the integer
    * floor of total/docs (documented convention both engines replay).
    * Each term contribution is computed as a FIXED-ORDER chain of IEEE
    * double ops — bit-identical in any engine — then floor-scaled to
    * 1e6-longs BEFORE the per-(query, doc) sum, so the sum is exact
    * integer arithmetic, order- and partitioning-free (the OracleSafe
    * discipline).
    *
    * Scale shape: ONE corpus scan explodes tokens and partial-aggregates
    * per doc (a doc's token rows colocate in their input partition, so
    * the shuffle carries one 13-column row per doc); the checkpointed
    * per-doc frame serves corpus stats, per-term df and the match
    * unpivot — text is never rescanned. Query table, df table and the
    * 1-row stats frame all BROADCAST; the per-query top-k plans as the
    * WindowGroupLimit partial top-k, so no executor ever sorts more than
    * k rows per partition. */
  def q122Bm25(s: SparkSession, dir: String): DataFrame =
    bm25Of(docs(s, dir))

  private[graft] def bm25Of(d: DataFrame): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    val terms = Bm25Queries.map(_._2).distinct
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      sum(when($"tok" === t, 1L).otherwise(0L)).as(s"tf_$i") }
    // one text scan: dl + per-term tf in a single partial agg
    val perDoc = d
      .select($"doc_id", explode(split(lower($"text"), " ")).as("tok"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("dl"), tfCols: _*)
      .materialize()
    val stats = perDoc
      .agg(count(lit(1)).as("n_docs"), sum($"dl").as("n_toks"))
      .withColumn("avgdl", expr("n_toks div n_docs"))
      .select($"n_docs", $"avgdl")
    val stackArgs = terms.zipWithIndex
      .map { case (t, i) => s"'$t', tf_$i" }.mkString(", ")
    val matches = perDoc
      .selectExpr("doc_id", "dl",
        s"stack(${terms.length}, $stackArgs) as (term, tf)")
      .filter($"tf" > 0L)
    val dfT = matches.groupBy($"term").agg(count(lit(1)).as("df"))
    bm25Rank(matches.join(broadcast(dfT), "term"), stats,
      Bm25Queries.toDF("qid", "term"), Bm25TopK)
  }

  /** The ONE BM25 scoring + ranking definition, shared by the batch arm
    * (q122, which computes its postings inline) and the loaded-index
    * serving twins ([[graft.streaming.StreamingBm25]]): `matched` carries
    * one row per (term, doc_id) with `tf`, `dl`, `df`; `stats` is the
    * 1-row (n_docs, avgdl) frame; `queries` the (qid, term) batch. The
    * fixed-order IEEE chain + 1e6-long floor-scaling happen HERE so
    * every consumer ranks bit-identically. */
  private[graft] def bm25Rank(matched: DataFrame, stats: DataFrame,
      queries: DataFrame, k: Int): DataFrame = {
    val s = matched.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"qid").orderBy($"score".desc, $"doc_id".asc)
    matched
      // 1-row broadcast aggregate (corpus size + avgdl) — the q61/q87
      // scalar shape; morally a literal, allow-listed in PlanSpec
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        (lit(2L) * $"n_docs" - lit(2L) * $"df" + lit(1L)).cast("double") /
          (lit(2L) * $"df" + lit(1L)).cast("double"))
      .withColumn("contrib", floor(lit(1000000.0) * ($"idf" *
        (($"tf".cast("double") * lit(2.2)) /
          ($"tf".cast("double") + lit(1.2) * (lit(0.25) + lit(0.75) *
            ($"dl".cast("double") / $"avgdl".cast("double"))))))))
      .join(broadcast(queries), "term")
      .groupBy($"qid", $"doc_id")
      .agg(sum($"contrib").as("score"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= k)
      .select($"qid", $"rk", $"doc_id", $"score")
      .orderBy($"qid", $"rk")
  }

  // --------------------------------------------------------------- q124
  /** Reciprocal-rank-fusion constant (Cormack–Clarke–Buettcher SIGIR'09
    * — the published k = 60). */
  val RrfK = 60L

  /** q124: HYBRID retrieval — the standard two-arm retrieval stack:
    * BM25 over text (q122's arm, verbatim) and embedding cosine (q38's
    * exact arm over the integer-quantized vectors, verbatim — vec_id ≡
    * doc_id, the q90 alignment), fused per query by reciprocal rank
    * fusion: rrf(d) = Σ_arms ⌊10⁶ / (60 + rank_arm(d))⌋ — RRF is
    * rank-only by design (the two arms' scores are incommensurable), so
    * the fusion is PURE integer arithmetic and hash-exact for free. A
    * doc ranked by only one arm contributes only that arm's term (the
    * published convention). Output keeps each arm's rank (0 = unranked
    * by that arm) so the fusion is auditable per row.
    *
    * Scale shape: each arm is its own already-shaped plan (q122: one
    * token scan + broadcasts; cosine: the allow-listed broadcast-4-query
    * brute arm — 4 dot products per corpus row, scan-speed); at real
    * query volume the SERVING twin substitutes both arms with their
    * saved indexes — [[graft.streaming.StreamingBm25.hybridServe]] fuses
    * the loaded postings with the IVF/PQ shortlist+re-rank through the
    * SAME [[rrfFuse]]; the fusion joins two (4·k)-row frames —
    * driver-sized. */
  def q124HybridRetrieval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val qids = Bm25Queries.map(_._1).distinct
    val text = bm25Of(docs(s, dir))
      .select($"qid", $"doc_id", $"rk".as("text_rk"))
    val base = Similarity.scaled(s, dir)
    val qSide = base.filter($"vec_id".isin(qids: _*))
      .select($"vec_id".as("qid"), $"e".as("qe"), $"nrm".as("qn"))
    val vec = Similarity
      .cosineTopK(base.join(broadcast(qSide), $"vec_id" =!= $"qid"), Bm25TopK)
      .select($"qid", $"nid".as("doc_id"), $"rk".as("vec_rk"))
    rrfFuse(text, vec, Bm25TopK)
  }

  /** The ONE RRF fusion definition — bm25Rank's counterpart for the
    * hybrid stack, shared by the inline q124 arm and the loaded-index
    * serving twin ([[graft.streaming.StreamingBm25.hybridServe]]) so
    * served fusions are bit-identical to the batch arm by construction.
    * `text` carries (qid, doc_id, text_rk), `vec` (qid, doc_id, vec_rk);
    * a doc ranked by only one arm contributes only that arm's term
    * (coalesce to a rank far past any real k ⇒ integer term 0 — the
    * published convention), and ties break on doc_id. Both inputs are
    * (|queries|·k)-row frames — driver-sized; the fusion is a full-outer
    * join + pure integer arithmetic. */
  private[graft] def rrfFuse(text: DataFrame, vec: DataFrame,
      k: Int): DataFrame = {
    val s = text.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"qid").orderBy($"rrf".desc, $"doc_id".asc)
    text
      .join(vec, Seq("qid", "doc_id"), "full_outer")
      .select($"qid", $"doc_id",
        (expr(s"1000000L div ($RrfK + coalesce(text_rk, 1000000000L))") +
          expr(s"1000000L div ($RrfK + coalesce(vec_rk, 1000000000L))"))
          .as("rrf"),
        coalesce($"text_rk", lit(0L)).as("text_rk"),
        coalesce($"vec_rk", lit(0L)).as("vec_rk"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= k)
      .select($"qid", $"rk", $"doc_id", $"rrf", $"text_rk", $"vec_rk")
      .orderBy($"qid", $"rk")
  }

  // --------------------------------------------------------------- q126
  /** Epochs / audit depth of the q126 training-order report. */
  val EpochCount = 3
  val EpochTopK = 20

  /** q126: reproducible training ORDER — the step after q125's manifest:
    * every epoch reads the same selected documents in a different but
    * fully deterministic order, the way a pre-training run shuffles its
    * data per epoch without an RNG state to lose. The permutation key is
    * md5(epoch || ':' || doc_id) — per-epoch decorrelated, stable under
    * any partitioning/re-run (the q46/q82 convention lifted to order).
    * The report carries the first [[EpochTopK]] (epoch, position,
    * doc_id) rows per epoch — the auditable head a training log records
    * to prove two runs consumed identical streams — plus the per-epoch
    * document count.
    *
    * Scale shape: ONE selection computation (the checkpointed q125
    * machinery), a ×[[EpochCount]] map-side epoch fan-out, and the
    * per-epoch head as a WindowGroupLimit partial top-k — no executor
    * ever materializes a full epoch order; the full permutation exists
    * only implicitly (any consumer sorts its own partition range by the
    * same key). */
  def q126EpochOrder(s: SparkSession, dir: String): DataFrame =
    epochOrderOf(docs(s, dir), ManifestTokenBudget)

  /** [[manifestSelection]] over a raw doc frame — the q126 spec's handle
    * on the selected id set it replays the permutations from. */
  private[graft] def manifestSelectionOf(d: DataFrame,
      budget: Long): DataFrame =
    manifestSelection(qualityPerDoc(d).materialize(), budget)

  private[graft] def epochOrderOf(d: DataFrame, budget: Long): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val pd = qualityPerDoc(d).materialize()
    val sel = manifestSelection(pd, budget)
    val w = Window.partitionBy($"epoch").orderBy($"hx", $"doc_id")
    val nW = Window.partitionBy($"epoch")
    sel
      .select($"doc_id",
        explode(expr(s"sequence(0, ${EpochCount - 1})")).as("epoch"))
      .withColumn("hx",
        md5(concat($"epoch".cast("string"), lit(":"),
          $"doc_id".cast("string")).cast("binary")))
      .withColumn("pos", row_number().over(w).cast("long"))
      .withColumn("n_docs", count(lit(1)).over(nW))
      .filter($"pos" <= EpochTopK)
      .select($"epoch".cast("long").as("epoch"), $"pos", $"doc_id", $"n_docs")
      .orderBy($"epoch", $"pos")
  }

  // ---------------------------------------------------------------- q63
  /** Per-document token-rarity profile (doc_id < 100): the median (plus
    * min/max) corpus document-frequency over the document's token
    * OCCURRENCES — the gibberish/ill-formed-text detector (a document of
    * rare tokens has low median df; boilerplate has high). Median is the
    * q50 nearest-rank construction — exact integer pick, no interpolation
    * — over rows joined to the vocabulary-sized df table (broadcast-size
    * after the word-count partial agg). */
  def q63Rarity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val toks = docs(s, dir)
      .select($"doc_id", explode(split(lower($"text"), " ")).as("tok"))
    val dfT = toks.distinct().groupBy($"tok").agg(count(lit(1)).as("df"))
    val occ = toks.filter($"doc_id" < 100).join(dfT, "tok")
    val w = Window.partitionBy($"doc_id").orderBy($"df".asc, $"tok".asc)
    val wn = Window.partitionBy($"doc_id")
    occ.withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wn))
      .groupBy($"doc_id")
      .agg(max($"n").as("n_tokens"),
        max(when($"rn" === ceil(lit(0.5) * $"n").cast("long"), $"df"))
          .as("med_df"),
        min($"df").as("min_df"), max($"df").as("max_df"))
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- q64
  /** Inverted-index construction over rare shingles: posting lists
    * (sorted doc-id strings) for 3-gram shingles with document frequency
    * in [2, 5], load-controlled by a deterministic 1/16 hash sample of
    * the shingle space — the "which exact phrases recur, and where"
    * index a dedup/provenance pipeline materializes. The sample filter
    * runs BEFORE the per-shingle aggregation (15/16 of rows pruned
    * map-side, pre-shuffle); posting lists are bounded by the df cap, so
    * no group exceeds 5 entries — no collect_list hot key at any corpus
    * size. */
  def q64InvertedIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // localCheckpoint = the scan barrier (q89's pattern): `e` feeds both
    // the df count and the posting join; without it each consumer
    // re-plans the text decode + explode + distinct. The materialized
    // frame is only the 1/16 hash sample of distinct shingles.
    val e = Dedup.shingleRows(s, dir, distinct = true)
      .filter(substring(md5($"s".cast("binary")), 1, 1) === "0")
      .materialize()
    // df filter FIRST, list aggregation after: a hot shingle (df ~ corpus
    // size) must be discarded as a cheap count, never materialized as an
    // unbounded collect_list in one aggregation group's memory
    val small = e.groupBy($"s").agg(count(lit(1)).as("df"))
      .filter($"df".between(2, 5))
    e.join(small, "s")
      .groupBy($"s", $"df")
      .agg(sort_array(collect_list($"doc_id")).as("ids"))
      .withColumn("posting",
        expr("array_join(transform(ids, x -> cast(x as string)), ',')"))
      .select($"s", $"df", $"posting")
      .orderBy($"s")
  }

  // ---------------------------------------------------------------- q68
  /** PII patterns shared by the Spark and DuckDB sides — kept to syntax
    * with identical semantics in Java regex and RE2 (character classes,
    * bounded repetition; no lookaround, which RE2 lacks). */
  val PiiEmail = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val PiiIpv4 = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
  val PiiPhone = "\\+[0-9][0-9 -]{7,}[0-9]"

  /** PII detection/redaction accounting per source: email / IPv4 / phone
    * match counts and the redacted-character total — the scrub step a
    * training-data pipeline runs before publishing (C4/CCNet-style).
    * Pure map-side regex scan → one partial agg on source. The synthetic
    * corpus contains no PII, so every count is zero HERE by construction
    * (still hash-checked against the oracle running the same patterns);
    * PiiSpec plants real emails/IPs/phones and pins the detection and
    * redaction semantics. */
  def q68PiiRedact(s: SparkSession, dir: String): DataFrame =
    piiOf(docs(s, dir))

  def piiOf(d: DataFrame): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    val anyPii = s"($PiiEmail)|($PiiIpv4)|($PiiPhone)"
    d
      .withColumn("ne", regexp_count($"text", lit(PiiEmail)).cast("long"))
      .withColumn("ni", regexp_count($"text", lit(PiiIpv4)).cast("long"))
      .withColumn("np", regexp_count($"text", lit(PiiPhone)).cast("long"))
      .withColumn("redacted",
        (length($"text") - length(regexp_replace($"text", anyPii, ""))).cast("long"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"ne").as("n_emails"), sum($"ni").as("n_ipv4"),
        sum($"np").as("n_phones"), sum($"redacted").as("n_redacted_chars"))
      .orderBy($"source")
  }

  // ---------------------------------------------------------------- q114
  /** The ordered redaction chain: class patterns applied in this
    * sequence, each on the PREVIOUS stage's output (so a match consumed
    * by an earlier class — an IP inside an already-replaced email — is
    * not double-counted), with per-class counts taken on the exact text
    * state that class rewrites. One (pattern, token) set shared by the
    * batch rewrite and the oracle twin. */
  val PiiRedactions: Seq[(String, String)] = Seq(
    PiiEmail -> "<EMAIL>", PiiIpv4 -> "<IP>", PiiPhone -> "<PHONE>")

  /** VERDICT r8 #2: the ACTIVE rewrite behind q68's accounting — the
    * transformed corpus a curation pipeline publishes, not just the
    * counts. Appends to `d` (any frame with a `text` column):
    * n_emails/n_ipv4/n_phones (counts on the stage each class saw),
    * `redacted` (the rewritten text), `changed`, and the before/after
    * md5s that verify the transform byte-exactly without shipping text
    * (the q99 discipline). Pure map-side codegen'd regexp work — no
    * shuffle, no UDF; the chain stays inside one WholeStageCodegen
    * span. */
  def piiRewriteOf(d: DataFrame): DataFrame = {
    val staged = PiiRedactions.zipWithIndex
      .foldLeft(d.withColumn("_t0", col("text"))) {
        case (acc, ((pat, token), i)) =>
          acc
            .withColumn(s"_n$i", regexp_count(col(s"_t$i"), lit(pat)).cast("long"))
            .withColumn(s"_t${i + 1}", regexp_replace(col(s"_t$i"), pat, token))
      }
    staged
      .withColumn("n_emails", col("_n0"))
      .withColumn("n_ipv4", col("_n1"))
      .withColumn("n_phones", col("_n2"))
      .withColumn("redacted", col(s"_t${PiiRedactions.size}"))
      .withColumn("changed", col("redacted") =!= col("text"))
      .withColumn("orig_md5", md5(col("text").cast("binary")))
      .withColumn("redacted_md5", md5(col("redacted").cast("binary")))
      .drop((0 to PiiRedactions.size).map(i => s"_t$i") ++
        PiiRedactions.indices.map(i => s"_n$i"): _*)
  }

  /** q114: per-document redaction report — counts per class, whether the
    * document changed, and the original/redacted md5 pair. The synthetic
    * corpus carries no PII (every count 0, changed false, md5s equal —
    * still hash-checked end to end against the oracle running the same
    * chain); PiiSpec plants real emails/IPs/phones and pins the rewrite
    * byte-exactly. */
  def q114PiiRewrite(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    piiRewriteOf(docs(s, dir))
      .select($"doc_id", $"source", $"n_emails", $"n_ipv4", $"n_phones",
        $"changed", $"orig_md5", $"redacted_md5")
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- q69
  /** Character-class profile per language: average alpha / space / punct
    * fractions — the script/encoding sanity signal (mojibake and
    * markup-heavy documents skew these). Fractions are per-doc rational
    * arithmetic; the per-language average is OracleSafe's scaled-exact
    * mean. Map-side lengths → one partial agg. */
  def q69CharClass(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // empty text: fraction 0 rather than an ANSI divide-by-zero error
    def frac(keepPat: String) =
      when(length($"text") === 0, lit(0.0)).otherwise(
        length(regexp_replace($"text", keepPat, "")).cast("double") / length($"text"))
    docs(s, dir)
      .withColumn("alpha_frac", frac("[^a-zA-Z]"))
      .withColumn("space_frac", frac("[^ ]"))
      .withColumn("punct_frac", frac("[^.,!?;:]"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        davg($"alpha_frac").as("avg_alpha_frac"),
        davg($"space_frac").as("avg_space_frac"),
        davg($"punct_frac").as("avg_punct_frac"))
      .orderBy($"lang")
  }

  // ---------------------------------------------------------------- q70
  /** Per-document chunking accounting: split every document into
    * ChunkLen-token context windows with a (ChunkLen − ChunkStride)-token
    * overlap — the per-doc complement of q58's cross-doc packing, and the
    * step that decides how many training sequences a long document
    * yields. n_chunks = 1 + ceil(max(0, tok − ChunkLen) / ChunkStride),
    * all integer arithmetic (ceil(a/b) as (a + b − 1) div b), so the
    * count — and the fill factor total_tokens / (total_chunks · ChunkLen)
    * — is bit-identical on every engine. Production sizing would be
    * 1024/896; 32/24 is scaled to this corpus's 25-80-token documents the
    * same way DecontamWidth is. Pure map-side projection + one partial
    * agg. */
  val ChunkLen = 32L
  val ChunkStride = 24L // = ChunkLen - 8 overlap

  def q70Chunking(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .withColumn("tok", size(split(trim($"text"), "\\s+")).cast("long"))
      .withColumn("n_chunks", expr(
        s"1 + (greatest(0L, tok - $ChunkLen) + ${ChunkStride - 1}) div $ChunkStride"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"tok").as("total_tokens"),
        sum($"n_chunks").as("total_chunks"),
        max($"n_chunks").as("max_chunks"))
      .withColumn("avg_fill",
        $"total_tokens".cast("double") /
          ($"total_chunks" * lit(ChunkLen)).cast("double"))
      .orderBy($"lang")
  }

  // ---------------------------------------------------------------- q76
  /** Temperature-scaled source mixture (T = 0.5): per-source sampling
    * weight ∝ √n_docs — the standard flatten-the-head reweighting for
    * multi-source pre-training corpora — and the integer token allocation
    * out of a fixed budget. Determinism: IEEE-754 `sqrt` is correctly
    * rounded (unlike ln/exp, identical in every engine), each weight is
    * floor-scaled to a long BEFORE the cross-source sum (so accumulation
    * order cannot matter), and the allocation is pure integer arithmetic.
    * Two source-cardinality aggregates — driver-sized frames only. */
  val MixtureTokenBudget = 1000000L

  def q76MixtureWeights(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val counts = docs(s, dir).groupBy($"source")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("w_scaled",
        floor(sqrt($"n_docs".cast("double")) * 10000.0 + 0.5).cast("long"))
    val w0 = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    counts
      .withColumn("total_w", sum($"w_scaled").over(w0)) // |sources| rows
      .withColumn("share",
        $"w_scaled".cast("double") / $"total_w".cast("double"))
      .withColumn("alloc_tokens",
        expr(s"($MixtureTokenBudget * w_scaled) div total_w"))
      .select($"source", $"n_docs", $"w_scaled", $"share", $"alloc_tokens")
      .orderBy($"source")
  }

  // ---------------------------------------------------------------- q78
  /** Cross-document boilerplate detection at the segment level: split
    * each document on sentence boundaries, count the per-doc distinct
    * segments that appear in ≥2 documents (template/navigation text —
    * the thing paragraph-dedup removes before training). Per-language
    * report with the scaled-exact average boilerplate fraction. Scale
    * shape: explode → per-doc distinct → one df aggregate on the segment
    * hash → join back — the q35 shingle pattern at segment granularity,
    * no pairwise work. */
  def q78Boilerplate(s: SparkSession, dir: String): DataFrame =
    boilerplateOf(docs(s, dir))

  /** Same, over an explicit `(doc_id, lang, text)` corpus
    * (spec-testable with planted template sentences). */
  private[graft] def boilerplateOf(d: DataFrame): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    val segs = d.select($"doc_id", explode(split($"text", "\\. ")).as("seg0"))
      .withColumn("seg", trim($"seg0"))
      .filter(length($"seg") > 0)
      .select($"doc_id", $"seg").distinct()
    val dfc = segs.groupBy($"seg").agg(count(lit(1)).as("df"))
    val per = segs.join(dfc, "seg")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_segs"),
        sum(when($"df" >= 2, 1L).otherwise(0L)).as("n_boiler"))
    d.select($"doc_id", $"lang").join(per, Seq("doc_id"), "left")
      .withColumn("n_segs", coalesce($"n_segs", lit(0L)))
      .withColumn("n_boiler", coalesce($"n_boiler", lit(0L)))
      // segment-less (empty-text) docs: fraction 0, not an ANSI 0/0
      .withColumn("frac", when($"n_segs" === 0L, lit(0.0))
        .otherwise($"n_boiler".cast("double") / $"n_segs".cast("double")))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n_segs").as("total_segs"),
        sum($"n_boiler").as("boiler_segs"),
        davg($"frac").as("avg_boiler_frac"))
      .orderBy($"lang")
  }

  // ---------------------------------------------------------------- q80
  /** Corpus snapshot diff — the versioning check a published corpus gets
    * between releases: content-hash FULL OUTER join of two snapshots,
    * classified added / removed / changed / unchanged per language. The
    * two versions derive deterministically from the driver's table (the
    * q34 re-ingest idiom): the "previous" snapshot lacks buckets 0–9
    * (1% new docs), the "current" drops buckets ≥ 990 (1% deletions) and
    * edits buckets 500–509 (1% changed text). Both versions derive from
    * the driver's single table, so the plan scans it twice (the
    * md5-bucket filters are expressions, not pushable predicates — same
    * as q34's re-ingest union). The join carries only (doc_id, lang,
    * 128-bit hash) — never text. */
  def q80SnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    snapshotDiffAgg(snapshotDiffRows(snapshotV1(d), snapshotV2(d)))
  }

  /** The "previous" deterministic corpus version (q80's derivation). */
  private def snapshotV1(d: DataFrame): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    d.withColumn("bucket", graft.util.Buckets.mod1000("doc_id"))
      .filter($"bucket" >= 10)
      .select($"doc_id", $"lang", $"text")
  }

  /** The "current" deterministic corpus version (q80's derivation). */
  private def snapshotV2(d: DataFrame): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    d.withColumn("bucket", graft.util.Buckets.mod1000("doc_id"))
      .filter($"bucket" < 990)
      .select($"doc_id", $"lang",
        when($"bucket".between(500, 509), concat($"text", lit(" [edited]")))
          .otherwise($"text").as("text"))
  }

  /** Per-doc diff classification of two `(doc_id, lang, text)` snapshot
    * sides: hash in each side's scan projection (the join carries only
    * (doc_id, lang, 128-bit hash) — never text), FULL OUTER on doc_id. */
  private[graft] def snapshotDiffRows(v1: DataFrame, v2: DataFrame): DataFrame = {
    val s = v1.sparkSession
    import s.implicits._
    val a = v1.select($"doc_id", $"lang", md5($"text".cast("binary")).as("h1"))
    val b = v2.select($"doc_id", $"lang".as("lang2"),
      md5($"text".cast("binary")).as("h2"))
    a.join(b, Seq("doc_id"), "full_outer")
      .withColumn("lang", coalesce($"lang", $"lang2"))
      .withColumn("status",
        when($"h1".isNull, "added").when($"h2".isNull, "removed")
          .when($"h1" =!= $"h2", "changed").otherwise("unchanged"))
      .select($"doc_id", $"lang", $"status")
  }

  private def snapshotDiffAgg(rows: DataFrame): DataFrame = {
    val s = rows.sparkSession
    import s.implicits._
    rows.groupBy($"lang", $"status")
      .agg(count(lit(1)).as("n"))
      .orderBy($"lang", $"status")
  }

  // ---------------------------------------------------------------- q81
  /** Heavy hitters (ε-frequent items): every token whose TERM-occurrence
    * count exceeds n/k — the sketch family's missing member next to
    * HLL (q19), KMV (q71), MinHash (q36/q49), SimHash (q37). The q53
    * contrast: q53 ranks a FIXED number of tokens per language (top-k by
    * df); this returns the complete, threshold-defined set, whose size
    * is data-dependent.
    *
    * The 100 TB shape is the classic two-pass Misra-Gries (Misra &
    * Gries 1982; Metwally et al. Space-Saving is the same guarantee):
    *  - pass 1: a BOUNDED-MEMORY summary of [[HeavyK]] counters per
    *    partition (mapPartitions — genuine per-partition imperative
    *    state, the rare justified RDD drop-down); by the pigeonhole
    *    merge property, any token with global count > n/k exceeds its
    *    partition threshold in ≥ 1 partition, so the union of partition
    *    candidates (≤ k × #partitions, driver-sized) is a SUPERSET of
    *    the true heavy hitters — this replaces a full-vocabulary
    *    group-by, the thing that is expensive at corpus scale;
    *  - pass 2: ONE scan that broadcast-classifies each token as
    *    candidate-or-other and partially aggregates to ≤ |candidates|+1
    *    rows per partition — exact counts for candidates AND the exact
    *    total in the same job.
    * The verify step makes the OUTPUT deterministic and exact (the true
    * heavy hitters, nothing else) no matter how partitioning shuffles
    * the sketch's internal candidate set — which is why a capricious
    * one-pass summary can still be oracle-checked hash-exact. */
  val HeavyK = 200

  def q81HeavyHitters(s: SparkSession, dir: String): DataFrame =
    heavyHittersOf(docs(s, dir))

  /** Same, over an explicit corpus with a `text` column (spec-testable
    * with planted frequencies and adversarial partitioning). */
  private[graft] def heavyHittersOf(d: DataFrame): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    val toks = d
      .select(explode(split(lower($"text"), " ")).as("tok"))
    // pass 1: per-partition Misra-Gries summaries → candidate union
    val candidates = toks.rdd.mapPartitions { it =>
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { r =>
        val t = r.getString(0)
        m.get(t) match {
          case Some(c) => m.update(t, c + 1)
          case None if m.size < HeavyK => m.update(t, 1L)
          case None => // MG decrement-all step; drop exhausted counters
            val dead = scala.collection.mutable.ArrayBuffer.empty[String]
            m.foreach { case (key, c) =>
              if (c == 1L) dead += key else m.update(key, c - 1) }
            dead.foreach(m.remove)
        }
      }
      m.keysIterator
    }.distinct().collect().sorted
    // pass 2: exact candidate counts + exact total, one scan, partial
    // aggregation to ≤ |candidates|+1 rows per partition. Broadcast
    // join, not isin: thousands of literals would blow codegen.
    val candDf = candidates.toSeq.toDF("ctok")
    // the not-a-candidate bucket's sentinel is a single space — split on
    // " " can never emit it, while "" IS a legal token and must stay
    // reportable (it can be a heavy hitter of sparse documents)
    val grouped = toks
      .join(broadcast(candDf), $"tok" === $"ctok", "left")
      .groupBy(coalesce($"ctok", lit(" ")).as("g"))
      .agg(count(lit(1)).as("cnt"))
      .materialize() // tiny (≤ |candidates|+1 rows); feeds 2 actions
    // coalesce(0): an EMPTY corpus (a day's partition with no documents)
    // sums to null — must yield an empty result, not an NPE (the r3
    // degenerate-input rule: one empty input never kills a 100 TB job)
    val total = grouped.agg(coalesce(sum($"cnt"), lit(0L))).head.getLong(0)
    grouped.filter($"g" =!= " " && $"cnt" * HeavyK > total)
      .select($"g".as("tok"), $"cnt",
        ($"cnt".cast("double") / total.toDouble).as("share"))
      .orderBy($"tok")
  }

  // --------------------------------------------------------------- q100
  /** Number of BPE merge rules q100 learns. */
  val BpeMerges = 12

  /** q100: distributed BPE tokenizer training — learn the first
    * [[BpeMerges]] byte-pair-encoding merge rules over the corpus.
    *
    * The scalable formulation is the classic word-vocabulary one: pair
    * statistics are computed over DISTINCT words weighted by frequency,
    * never over raw corpus positions. The corpus is scanned ONCE (the
    * word count); every merge iteration then runs over the checkpointed
    * vocab frame, whose size is |vocab|, not |corpus| — at 100 TB the
    * text is read a single time and the iterations touch only the
    * (billions-at-most) distinct-word frame, partial-agg'd map-side to
    * the (symbol, symbol) pair space.
    *
    * Representation: each word is a sequence of space-flanked symbols
    * (`' s '` each, so consecutive symbols are separated by TWO spaces)
    * ending in the `</w>` end-of-word marker. A merge of (a, b) is the
    * codegen string replace `' a  b ' → ' ab '` — left-to-right
    * non-overlapping, which IS greedy BPE pair application ('a a a'
    * merges to ('aa', 'a')), and the per-symbol flanking spaces make a
    * mid-token false match impossible while keeping each remaining
    * symbol's own flanks intact for the next scan. The argmax merge is
    * chosen with the deterministic tie-break (count DESC, a ASC, b ASC)
    * via orderBy+limit(1) — TakeOrderedAndProject, no global sort — and
    * the only driver-side data is that single row per iteration.
    *
    * Output: one row per learned rule (it, sym_a, sym_b, merged,
    * pair_count) — integer counts and string ops only, so the unrolled
    * per-stage DuckDB twin is hash-exact. Learning stops early if the
    * pair space runs dry (tiny corpora); the twin's empty-merge CTE
    * cascade mirrors that exactly. */
  def q100BpeMerges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val words = docs(s, dir)
      .select(explode(split(trim(lower($"text")), "\\s+")).as("word"))
      .filter($"word" =!= "")
      .groupBy($"word").agg(count(lit(1)).as("cnt"))
    // ' c1  c2  ...  cN  </w> ' — every symbol flanked by its own spaces
    val v0 = words.select(
      concat(
        expr("array_join(transform(sequence(1, length(word))," +
          " i -> concat(' ', substring(word, i, 1), ' ')), '')"),
        lit(" </w> ")).as("seq"),
      $"cnt")
    // the barrier: without it every iteration re-plans the corpus scan
    var v = v0.materialize()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var k = 1
    var dry = false
    while (k <= BpeMerges && !dry) {
      // r17 (VERDICT r16 #6): ONE shuffle-free job per merge round. The
      // r16 shape ran groupBy(a, b) + TakeOrdered(1) per round — with
      // AQE that is two sequential stage-jobs (the pair exchange, then
      // the argmax over it), and the 12-round loop's cost is pure
      // driver round-trip latency (0.4–0.7 s of task time inside 1.3–2.4
      // s of wall across q100/q104/q133). The pair table is
      // ALPHABET-bounded (distinct symbols ≤ corpus chars + 12 merges),
      // never corpus- or vocab-sized, so the model-sized-collect rule
      // (the fit-family discipline) applies: aggregate per partition,
      // collect the partials, fold + argmax on the driver. Bit-identical
      // by construction — per-(a,b) long sums are order-free, and the
      // tie-break (count DESC, a ASC, b ASC) compares UTF-8 bytes
      // exactly as Spark's string ordering does.
      val partials = v
        .select(trim($"seq").as("t"), $"cnt").as[(String, Long)]
        .mapPartitions { it =>
          val m = scala.collection.mutable.HashMap.empty[(String, String), Long]
          it.foreach { case (t, cnt) =>
            val arr = t.split("  ")
            var i = 1
            while (i < arr.length) {
              val key = (arr(i - 1), arr(i))
              m.update(key, m.getOrElse(key, 0L) + cnt)
              i += 1
            }
          }
          m.iterator.map { case ((a, b), c) => (a, b, c) }
        }
        .collect()
      if (partials.isEmpty) dry = true
      else {
        val totals = scala.collection.mutable.HashMap.empty[(String, String), Long]
        partials.foreach { case (a, b, c) =>
          totals.update((a, b), totals.getOrElse((a, b), 0L) + c)
        }
        def utf8Lt(x: String, y: String): Boolean = java.util.Arrays.compare(
          x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          y.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0
        val (a, b, c) = totals.iterator
          .map { case ((pa, pb), pc) => (pa, pb, pc) }
          .reduceLeft { (x, y) =>
            if (y._3 > x._3 ||
              (y._3 == x._3 && (utf8Lt(y._1, x._1) ||
                (y._1 == x._1 && utf8Lt(y._2, x._2))))) y
            else x
          }
        merges += ((k.toLong, a, b, c))
        v = v.select(
          replace($"seq", lit(s" $a  $b "), lit(s" $a$b ")).as("seq"), $"cnt")
        // re-barrier every 4th merge: the in-between replaces are narrow
        // codegen projections over the last checkpoint (cheap to re-run
        // once in the next pair count), while a per-iteration checkpoint
        // would pay a materialization JOB each merge — measured ~1 s of
        // pure job overhead at sf0.1
        if (k % 4 == 0) v = v.materialize()
        k += 1
      }
    }
    merges.toSeq.toDF("it", "sym_a", "sym_b", "pair_count")
      .select($"it", $"sym_a", $"sym_b",
        concat($"sym_a", $"sym_b").as("merged"), $"pair_count")
      .orderBy($"it")
  }

  // --------------------------------------------------------------- q104
  /** q104: ENCODE the corpus with the q100-trained tokenizer — the apply
    * side of BPE training, and the number a data pipeline actually
    * budgets with (token counts under the real tokenizer, not the
    * whitespace proxy). Per language: word instances, baseline symbol
    * count (characters + the `</w>` marker — the 0-merge encoding), the
    * symbol count after the [[BpeMerges]] learned rules, and their ratio
    * (the learned compression).
    *
    * Scale shape: the rules are [[BpeMerges]] driver-side strings (the
    * q100 argmax rows), so APPLICATION is a pure projection — the merge
    * chain folds into ONE codegen expression of nested `replace` calls
    * over the space-flanked symbol encoding, applied directly to the
    * per-(lang, word) frame: no join, no iteration, no shuffle beyond
    * the word-count group-by and the per-language rollup. Encoding cost
    * is |distinct (lang, word)|, not corpus positions — the same
    * word-vocabulary economics as training. (The query re-learns the
    * rules so the oracle can re-derive them data-dependently.) */
  def q104BpeEncode(s: SparkSession, dir: String): DataFrame =
    bpeEncodeWith(s, dir, q100BpeMerges(s, dir).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq)

  /** q104's encode pass against an explicit rule list. */
  private def bpeEncodeWith(s: SparkSession, dir: String,
      rules: Seq[(String, String)]): DataFrame = {
    import s.implicits._
    val lw = docs(s, dir)
      .select($"lang", explode(split(trim(lower($"text")), "\\s+")).as("word"))
      .filter($"word" =!= "")
      .groupBy($"lang", $"word").agg(count(lit(1)).as("cnt"))
    val seq0 = concat(
      expr("array_join(transform(sequence(1, length(word))," +
        " i -> concat(' ', substring(word, i, 1), ' ')), '')"),
      lit(" </w> "))
    // sequential left-to-right merge application — the fold nests 12
    // literal replaces into one whole-stage-codegen projection
    val enc = rules.foldLeft(seq0) { case (c, (a, b)) =>
      replace(c, lit(s" $a  $b "), lit(s" $a$b ")) }
    lw.withColumn("n_sym", size(split(trim(enc), "  ")).cast("long"))
      .groupBy($"lang")
      .agg(sum($"cnt").as("n_words"),
        sum($"cnt" * (length($"word") + 1).cast("long")).as("tokens_char"),
        sum($"cnt" * $"n_sym").as("tokens_bpe"))
      .withColumn("compression",
        $"tokens_bpe".cast("double") / $"tokens_char".cast("double"))
      .orderBy($"lang")
  }

  /** The q100 twin: [[BpeMerges]] unrolled (pairs → argmax → apply)
    * stages. Each stage's merge table is data-dependent (CROSS JOIN of
    * the 1-row argmax), so no literals are interpolated; an empty stage
    * (dry pair space, or an empty corpus) empties every later stage,
    * matching the Spark side's early stop. The CTEs are MATERIALIZED:
    * each stage is referenced twice (pairs + apply), so inlining would
    * re-evaluate the chain 2^k times — measured as a 10-minute melt at
    * k=12 vs 0.5 s materialized. */
  private def bpeOracleSql(k: Int): String = {
    val ctes = bpeLearnCtes(k)
    val union = (1 to k).map(i => s"SELECT * FROM m$i").mkString(" UNION ALL ")
    "WITH " + ctes.mkString(",\n") + s"""
      |SELECT CAST(it AS BIGINT) AS it, a AS sym_a, b AS sym_b,
      |       a || b AS merged, CAST(c AS BIGINT) AS pair_count
      |FROM ($union) ORDER BY it""".stripMargin
  }

  /** The learn-side CTE cascade (v0, then p/m/v per stage) shared by the
    * q100 twin and q104's apply chain. */
  private def bpeLearnCtes(k: Int): Seq[String] = {
    val ctes = scala.collection.mutable.ArrayBuffer[String]()
    ctes += s"""v0 AS MATERIALIZED (
      |  SELECT array_to_string(list_transform(range(length(word)),
      |           i -> ' ' || substr(word, CAST(i AS INTEGER)+1, 1) || ' '), '')
      |         || ' </w> ' AS seq, cnt
      |  FROM (SELECT word, CAST(COUNT(*) AS BIGINT) cnt
      |        FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word
      |              FROM documents)
      |        WHERE word <> '' GROUP BY word))""".stripMargin
    for (i <- 1 to k) {
      ctes += s"""p$i AS MATERIALIZED (
        |  SELECT arr[CAST(i AS INTEGER)+1] AS a, arr[CAST(i AS INTEGER)+2] AS b,
        |         SUM(cnt) AS c
        |  FROM (SELECT unnest(range(len(arr)-1)) AS i, arr, cnt
        |        FROM (SELECT string_split(trim(seq), '  ') AS arr, cnt FROM v${i - 1}))
        |  GROUP BY 1, 2)""".stripMargin
      ctes += s"""m$i AS MATERIALIZED (
        |  SELECT $i AS it, a, b, c FROM p$i ORDER BY c DESC, a ASC, b ASC LIMIT 1)""".stripMargin
      ctes += s"""v$i AS MATERIALIZED (
        |  SELECT replace(seq, ' ' || m.a || '  ' || m.b || ' ',
        |                 ' ' || m.a || m.b || ' ') AS seq, cnt
        |  FROM v${i - 1} CROSS JOIN m$i m)""".stripMargin
    }
    ctes.toSeq
  }

  /** The q104 twin: the shared learn cascade re-derives the rules
    * data-dependently, then a per-(lang, word) apply chain re-encodes
    * the vocabulary. Each apply stage LEFT JOINs its 1-row merge table
    * ON TRUE so a DRY stage (empty `m_i`) passes the encoding through
    * unchanged — mirroring the Spark side's shorter fold — where the
    * learn chain's CROSS JOIN would empty everything downstream. */
  /** The apply-side CTE cascade (lw, e0..ek) shared by the q104 and
    * q133 twins: per-(lang, word) counts re-encoded through the learned
    * rules, each stage LEFT JOINed ON TRUE so a dry stage passes the
    * encoding through unchanged. */
  private def bpeApplyCtes(k: Int): Seq[String] = {
    val ctes = scala.collection.mutable.ArrayBuffer[String]()
    ctes += s"""lw AS MATERIALIZED (
      |  SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM (SELECT lang, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word
      |        FROM documents)
      |  WHERE word <> '' GROUP BY lang, word)""".stripMargin
    ctes += s"""e0 AS MATERIALIZED (
      |  SELECT lang, word, cnt,
      |    array_to_string(list_transform(range(length(word)),
      |      i -> ' ' || substr(word, CAST(i AS INTEGER)+1, 1) || ' '), '')
      |    || ' </w> ' AS seq
      |  FROM lw)""".stripMargin
    for (i <- 1 to k)
      ctes += s"""e$i AS MATERIALIZED (
        |  SELECT lang, word, cnt,
        |    CASE WHEN m.a IS NULL THEN seq
        |         ELSE replace(seq, ' ' || m.a || '  ' || m.b || ' ',
        |                      ' ' || m.a || m.b || ' ') END AS seq
        |  FROM e${i - 1} LEFT JOIN m$i m ON TRUE)""".stripMargin
    ctes.toSeq
  }

  private def bpeEncodeOracleSql(k: Int): String = {
    val ctes = scala.collection.mutable.ArrayBuffer[String]()
    ctes ++= bpeLearnCtes(k)
    ctes ++= bpeApplyCtes(k)
    "WITH " + ctes.mkString(",\n") + s"""
      |SELECT lang, CAST(SUM(cnt) AS BIGINT) AS n_words,
      |  CAST(SUM(cnt * (length(word) + 1)) AS BIGINT) AS tokens_char,
      |  CAST(SUM(cnt * len(string_split(trim(seq), '  '))) AS BIGINT) AS tokens_bpe,
      |  CAST(SUM(cnt * len(string_split(trim(seq), '  '))) AS DOUBLE)
      |    / CAST(SUM(cnt * (length(word) + 1)) AS DOUBLE) AS compression
      |FROM e$k GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** The q133 twin: the shared learn + apply cascades, then the vocab
    * census (weighted occurrences → ROW_NUMBER ids), the positional id
    * join, and the per-language rollup with the order-independent
    * md5-int32 checksum of every form's id assignment. */
  private def bpeVocabOracleSql(k: Int): String = {
    val hexChk =
      "list_reduce(list_transform(range(8), ii -> CAST(strpos('0123456789abcdef', substr(md5(word || ':' || idstr), CAST(ii AS INTEGER)+1, 1)) AS BIGINT) - 1), (a,b) -> a*16 + b)"
    val ctes = scala.collection.mutable.ArrayBuffer[String]()
    ctes ++= bpeLearnCtes(k)
    ctes ++= bpeApplyCtes(k)
    ctes += s"""sy AS MATERIALIZED (
      |  SELECT lang, word, cnt, string_split(trim(seq), '  ') AS syms
      |  FROM e$k)""".stripMargin
    ctes += s"""vb AS MATERIALIZED (
      |  SELECT sym, SUM(cnt) AS occ
      |  FROM (SELECT unnest(syms) AS sym, cnt FROM sy) GROUP BY sym)""".stripMargin
    ctes += s"""vid AS MATERIALIZED (
      |  SELECT sym, CAST(ROW_NUMBER() OVER (ORDER BY occ DESC, sym ASC)
      |    AS BIGINT) AS id FROM vb)""".stripMargin
    ctes += s"""px AS MATERIALIZED (
      |  SELECT lang, word, cnt, i, syms[CAST(i AS INTEGER)+1] AS sym
      |  FROM (SELECT lang, word, cnt, syms, unnest(range(len(syms))) AS i
      |        FROM sy))""".stripMargin
    ctes += s"""wi AS MATERIALIZED (
      |  SELECT lang, word, cnt,
      |    string_agg(CAST(v.id AS VARCHAR), ',' ORDER BY i) AS idstr,
      |    string_agg(p.sym, '' ORDER BY i) AS joined
      |  FROM px p JOIN vid v USING (sym) GROUP BY lang, word, cnt)""".stripMargin
    ctes += "vsz AS (SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size FROM vid)"
    "WITH " + ctes.mkString(",\n") + s"""
      |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_forms,
      |  CAST(SUM(cnt) AS BIGINT) AS n_words,
      |  (SELECT vocab_size FROM vsz) AS vocab_size,
      |  CAST(SUM(CASE WHEN replace(joined, '</w>', '') = word
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_roundtrip_ok,
      |  CAST(SUM($hexChk) AS BIGINT) AS ids_chk
      |FROM wi GROUP BY lang ORDER BY lang""".stripMargin
  }

  // --------------------------------------------------------------- q133
  /** q133: the tokenizer's ID layer — the artifact a trainer actually
    * ships and the half q100/q104 leave implicit: materialize the VOCAB
    * (every symbol of the final encoding, id-ranked by weighted corpus
    * occurrences, ties by symbol — the frequency-ranked id convention
    * real tokenizers use), encode every word form to its id sequence,
    * DECODE the ids back, and PROVE the roundtrip (BPE merges only
    * concatenate adjacent symbols, so symbol-concat minus the `</w>`
    * marker must reproduce every word — n_roundtrip_ok ≡ n_forms is the
    * losslessness theorem, asserted per language, not assumed).
    *
    * Output per language: word forms, word instances, the global vocab
    * size, the roundtrip count, and `ids_chk` — an ORDER-INDEPENDENT
    * exact checksum of the full id assignment (Σ over forms of the
    * first-8-hex-chars-of-md5 integer of `word:id,id,...`). The sum
    * shape matters at scale: a sorted string_agg manifest would build
    * one lang-vocabulary-sized row on a single task, while a SUM of
    * 32-bit values distributes and stays exact (≤ 2³² per form, ~10⁸
    * forms → far inside a long).
    *
    * Scale shape: q104's word-form economics throughout — the merge
    * chain is a codegen projection, the vocab is tokenizer-sized
    * (chars + merges) and broadcasts into the id join, and every
    * aggregate is a partial-agg rollup. */
  def q133BpeVocab(s: SparkSession, dir: String): DataFrame =
    bpeVocabWith(s, dir, q100BpeMerges(s, dir).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq)

  /** Vocab + id-encode + decode-roundtrip against an explicit rule list
    * (the learn/apply split of [[bpeEncodeWith]]). */
  def bpeVocabWith(s: SparkSession, dir: String,
      rules: Seq[(String, String)]): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val lw = docs(s, dir)
      .select($"lang", explode(split(trim(lower($"text")), "\\s+")).as("word"))
      .filter($"word" =!= "")
      .groupBy($"lang", $"word").agg(count(lit(1)).as("cnt"))
    val seq0 = concat(
      expr("array_join(transform(sequence(1, length(word))," +
        " i -> concat(' ', substring(word, i, 1), ' ')), '')"),
      lit(" </w> "))
    val enc = rules.foldLeft(seq0) { case (c, (a, b)) =>
      replace(c, lit(s" $a  $b "), lit(s" $a$b ")) }
    // checkpoint: the symbol frame feeds the vocab census AND the id
    // join (the q101 barrier — one merge-chain evaluation)
    val sy = lw.withColumn("syms", split(trim(enc), "  "))
      .materialize()
    val vocab = sy.select(explode($"syms").as("sym"), $"cnt")
      .groupBy($"sym").agg(sum($"cnt").as("occ"))
      .withColumn("id", row_number()
        .over(Window.orderBy($"occ".desc, $"sym".asc)).cast("long"))
      .select($"sym", $"id")
    val perForm = sy
      .select($"lang", $"word", $"cnt", posexplode($"syms").as(Seq("pos", "sym")))
      .join(broadcast(vocab), "sym")
      .groupBy($"lang", $"word", $"cnt")
      .agg(sort_array(collect_list(struct($"pos", $"id", $"sym"))).as("toks"))
      .select($"lang", $"word", $"cnt",
        expr("array_join(transform(toks, x -> cast(x.id as string)), ',')")
          .as("idstr"),
        expr("array_join(transform(toks, x -> x.sym), '')").as("joined"))
      .withColumn("ok",
        (replace($"joined", lit("</w>"), lit("")) === $"word").cast("long"))
    // model-sized driver read (the vocab IS the model) — a 1-row
    // crossJoin here would plan as a nested-loop the BNLJ ban rejects
    val vocabSize = vocab.count()
    perForm
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_forms"), sum($"cnt").as("n_words"),
        sum($"ok").as("n_roundtrip_ok"),
        sum(expr("cast(conv(substring(md5(cast(concat(word, ':', idstr) " +
          "as binary)), 1, 8), 16, 10) as long)")).as("ids_chk"))
      .select($"lang", $"n_forms", $"n_words",
        lit(vocabSize).as("vocab_size"), $"n_roundtrip_ok", $"ids_chk")
      .orderBy($"lang")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q100_bpe_merges" -> (q100BpeMerges _),
    "q104_bpe_encode" -> (q104BpeEncode _),
    "q133_bpe_vocab" -> (q133BpeVocab _),
    "q76_mixture_weights" -> (q76MixtureWeights _),
    "q78_boilerplate" -> (q78Boilerplate _),
    "q80_snapshot_diff" -> (q80SnapshotDiff _),
    "q81_heavy_hitters" -> (q81HeavyHitters _),
    "q82_stratified_eval" -> (q82StratifiedEval _),
    "q98_weighted_sample" -> (q98WeightedSample _),
    "q102_dsir_weights" -> (q102DsirWeights _),
    "q118_lm_quality" -> (q118LmQuality _),
    "q123_quality_mixture" -> (q123QualityMixture _),
    "q125_mixture_manifest" -> (q125MixtureManifest _),
    "q126_epoch_order" -> (q126EpochOrder _),
    "q83_approx_quantiles" -> (q83ApproxQuantiles _),
    "q30_tokens" -> (q30Tokens _),
    "q31_quality" -> (q31Quality _),
    "q32_langid" -> (q32LangId _),
    "q33_fingerprint" -> (q33Fingerprint _),
    "q46_hash_sample" -> (q46HashSample _),
    "q48_repetition" -> (q48Repetition _),
    "q119_gopher_rules" -> (q119GopherRules _),
    "q86_novelty_attribution" -> (q86NoveltyAttribution _),
    "q87_collocations" -> (q87Collocations _),
    "q88_textrank" -> (q88TextRank _),
    "q91_balance_chi2" -> (q91BalanceChi2 _),
    "q93_triangle_census" -> (q93TriangleCensus _),
    "q94_vocab_coverage" -> (q94VocabCoverage _),
    "q50_length_quantiles" -> (q50LengthQuantiles _),
    "q51_contamination" -> (q51Contamination _),
    "q53_top_tokens" -> (q53TopTokens _),
    "q54_clean_corpus" -> (q54CleanCorpus _),
    "q57_split_assign" -> (q57SplitAssign _),
    "q58_sequence_packing" -> (q58SequencePacking _),
    "q59_mixture_rebalance" -> (q59MixtureRebalance _),
    "q61_tfidf" -> (q61Tfidf _),
    "q122_bm25" -> (q122Bm25 _),
    "q124_hybrid_retrieval" -> (q124HybridRetrieval _),
    "q63_rarity" -> (q63Rarity _),
    "q64_inverted_index" -> (q64InvertedIndex _),
    "q68_pii_redact" -> (q68PiiRedact _),
    "q114_pii_rewrite" -> (q114PiiRewrite _),
    "q69_charclass" -> (q69CharClass _),
    "q70_chunking" -> (q70Chunking _),
  )

  private def sqlHits(words: Seq[String]) = {
    val lst = words.map(w => s"'$w'").mkString(", ")
    s"CAST(len(list_filter(string_split(lower(text), ' '), t -> t IN ($lst))) AS BIGINT)"
  }

  /** q119's DuckDB twin, generated from the SAME rule table the Spark
    * side evaluates — every signal replayed from `text` with list ops,
    * every threshold the identical integer cross-multiplication. The
    * per-doc CTE chain ([[gopherDocCtes]], ending in `gf`) is shared
    * with the q123 mixture oracle. */
  private def gopherOracleSql: String = {
    val failSum = GopherRuleCols.mkString(" + ")
    val sumSelect = GopherRuleCols.map { c =>
      s"CAST(SUM($c) AS BIGINT) AS $c"
    }.mkString(",\n        ")
    s"""WITH $gopherDocCtes
       |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |        $sumSelect,
       |  CAST(SUM(CASE WHEN $failSum = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_pass
       |FROM gf GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** The BM25 CTE chain (no leading WITH): query table and every
    * arithmetic step GENERATED from the same constants the Spark side
    * uses — idf as the raw odds ratio (2N-2df+1)/(2df+1), avgdl =
    * n_toks // n_docs, the identical fixed-order double chain,
    * floor-scaled to 1e6-longs pre-sum. Ends in `r` = (qid, doc_id,
    * score, rk). Shared by the q122 oracle and the q124 hybrid oracle. */
  private def bm25Ctes: String = {
    val vals = Bm25Queries
      .map { case (qid, t) => s"($qid, '$t')" }.mkString(", ")
    s"""q(qid, term) AS (VALUES $vals),
      |toks AS (SELECT doc_id, string_split(lower(text), ' ') t FROM documents),
      |pd AS (SELECT doc_id, CAST(len(t) AS BIGINT) dl FROM toks),
      |e AS (SELECT doc_id, unnest(t) tok FROM toks),
      |m AS (SELECT e.doc_id, e.tok term, CAST(COUNT(*) AS BIGINT) tf
      |      FROM e WHERE e.tok IN (SELECT DISTINCT term FROM q)
      |      GROUP BY 1, 2),
      |dfx AS (SELECT term, CAST(COUNT(*) AS BIGINT) df FROM m GROUP BY term),
      |st AS (SELECT CAST(COUNT(*) AS BIGINT) n_docs,
      |         CAST(SUM(dl) AS BIGINT) n_toks FROM pd),
      |sc AS (SELECT m.doc_id, m.term,
      |         CAST(floor(1000000.0 * (
      |           (CAST(2*st.n_docs - 2*dfx.df + 1 AS DOUBLE)
      |              / CAST(2*dfx.df + 1 AS DOUBLE))
      |           * ((CAST(m.tf AS DOUBLE) * 2.2)
      |              / (CAST(m.tf AS DOUBLE) + 1.2 * (0.25 + 0.75
      |                 * (CAST(pd.dl AS DOUBLE)
      |                    / CAST(st.n_toks // st.n_docs AS DOUBLE)))))
      |         )) AS BIGINT) contrib
      |       FROM m JOIN pd USING (doc_id) CROSS JOIN st
      |       JOIN dfx USING (term)),
      |pq AS (SELECT q.qid, sc.doc_id, CAST(SUM(sc.contrib) AS BIGINT) score
      |       FROM sc JOIN q USING (term) GROUP BY 1, 2),
      |r AS (SELECT qid, doc_id, score, ROW_NUMBER() OVER (PARTITION BY qid
      |        ORDER BY score DESC, doc_id ASC) rk FROM pq)""".stripMargin
  }

  /** [[mixtureCtes]] extended with q125's greedy md5-ordered prefix
    * selection under each cell's allocation (q58's straddle convention
    * via the EXCLUSIVE running sum). Ends in `ax` (cells + allocations)
    * and `selq` (the selected doc rows). Shared by the q125 and q126
    * oracles. */
  private def manifestSelCtes: String =
    s"""$mixtureCtes,
      |ax AS (SELECT lang, source, n_kept, kept_toks,
      |         CASE WHEN total_w = 0 THEN 0
      |           ELSE ($ManifestTokenBudget * w_scaled) // total_w
      |         END AS alloc_tokens
      |       FROM wts CROSS JOIN tw),
      |sel0 AS (SELECT lang, source, doc_id, n_words,
      |           md5(CAST(doc_id AS VARCHAR)) hx FROM pdq WHERE kept = 1),
      |cum AS (SELECT *, COALESCE(SUM(n_words) OVER (
      |          PARTITION BY lang, source ORDER BY hx, doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) cw
      |        FROM sel0),
      |selq AS (SELECT c.lang, c.source, c.doc_id, c.n_words
      |         FROM cum c JOIN ax USING (lang, source)
      |         WHERE c.cw < ax.alloc_tokens)""".stripMargin

  /** The quality-mixture CTE chain (no leading WITH): composes the two
    * shared per-doc chains (gf = Gopher flags, lb = LM bucket) exactly
    * as the Spark side composes gopherFlagsOf and lmQualityOf, then the
    * q76 weight arithmetic down to the round-half-up floor-scaling.
    * Ends in `pdq` (per-doc verdicts), `wts` (cells + weights), `tw`
    * (weight total). Shared by the q123 and q125 oracles. */
  private def mixtureCtes: String = {
    val subsetSum = MixGopherRules.mkString(" + ")
    s"""$gopherDocCtes,
      |${lmDocCtes()},
      |pdq AS (SELECT gf.lang, d.source, gf.doc_id, gf.n_words,
      |    CASE WHEN lb.lm_bucket <> 'tail' AND ($subsetSum) = 0
      |      THEN 1 ELSE 0 END AS kept
      |  FROM gf JOIN documents d USING (doc_id)
      |  JOIN lb ON lb.doc_id = gf.doc_id),
      |mix AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(n_words) AS BIGINT) AS n_toks,
      |    CAST(SUM(kept) AS BIGINT) AS n_kept,
      |    CAST(SUM(kept * n_words) AS BIGINT) AS kept_toks
      |  FROM pdq GROUP BY lang, source),
      |wts AS (SELECT *, CAST(FLOOR(sqrt(CAST(kept_toks AS DOUBLE))*10000
      |    + 0.5) AS BIGINT) AS w_scaled FROM mix),
      |tw AS (SELECT CAST(SUM(w_scaled) AS BIGINT) AS total_w FROM wts)""".stripMargin
  }

  /** The per-document q118 LM-bucket CTE chain (no leading WITH): ends
    * in `lb` = (lang, doc_id, n_bigrams, lm_score, lm_bucket). Shared by
    * the q118 oracle and the q123 mixture oracle. HUGEINT // is floor
    * division on positives — the Spark `div`; the smoothed conditional
    * falls out of ONE formula at every (c12, c1) including the
    * unseen-bigram/unseen-context cases. */
  /** `prefix` renames every CTE (`b` → `${prefix}b` …) so the chain can
    * compose into a WITH whose own names collide — the q137 distilled
    * classifier's twin embeds this chain as the TEACHER next to the
    * perceptron training chain (whose `b`/`pd`/`sc` it would otherwise
    * shadow); `refPred` picks the LM's reference slice (q118's contract
    * is the standing eval split `db < 100`; q137's teacher freezes on
    * the STUDENT's train split `db >= 100` so the student's eval is
    * held out from both models). Defaults keep the q118/q123 oracles
    * semantically identical. */
  private[graft] def lmDocCtes(prefix: String = "",
      refPred: String = "db < 100"): String = {
    val p = prefix
    val dbHex =
      "list_reduce(list_transform(range(8), ii -> CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), CAST(ii AS INTEGER)+1, 1)) AS BIGINT) - 1), (a,b) -> a*16 + b) % 1000"
    val tokHex =
      s"list_reduce(list_transform(range(8), ii -> CAST(strpos('0123456789abcdef', substr(md5(tok), CAST(ii AS INTEGER)+1, 1)) AS BIGINT) - 1), (a,b) -> a*16 + b) % $LmBuckets"
    val K = LmBuckets
    s"""${p}b AS (SELECT doc_id, lang, $dbHex AS db,
      |    list_transform(string_split(lower(text), ' '),
      |      tok -> $tokHex) AS bs FROM documents),
      |${p}bg AS (SELECT doc_id, lang, db, bs, unnest(range(len(bs) - 1)) AS i
      |  FROM ${p}b WHERE len(bs) >= 2),
      |${p}pp AS (SELECT doc_id, lang, db,
      |    bs[CAST(i + 1 AS INTEGER)] AS b1,
      |    bs[CAST(i + 2 AS INTEGER)] AS b2 FROM ${p}bg),
      |${p}pd AS (SELECT doc_id, lang, db, b1, b2, COUNT(*) AS c
      |  FROM ${p}pp GROUP BY doc_id, lang, db, b1, b2),
      |${p}cells AS (SELECT lang, b1, b2, SUM(c) AS c12
      |  FROM ${p}pd WHERE $refPred GROUP BY lang, b1, b2),
      |${p}ctx AS (SELECT lang, b1, SUM(c12) AS c1
      |  FROM ${p}cells GROUP BY lang, b1),
      |${p}sc AS (SELECT pd.doc_id, pd.lang,
      |    SUM(c * ((CAST($LmScale AS HUGEINT) * (2*COALESCE(c12, 0)+1))
      |             // (2*COALESCE(c1, 0)+$K))) AS ssum,
      |    SUM(c) AS nbg
      |  FROM ${p}pd pd LEFT JOIN ${p}cells USING (lang, b1, b2)
      |    LEFT JOIN ${p}ctx USING (lang, b1)
      |  GROUP BY pd.doc_id, pd.lang),
      |${p}lf AS (SELECT d.lang, d.doc_id,
      |    CAST(COALESCE(nbg, 0) AS BIGINT) AS n_bigrams,
      |    CAST(COALESCE(ssum // nbg, 0) AS BIGINT) AS lm_score
      |  FROM documents d
      |  LEFT JOIN ${p}sc sc ON sc.doc_id = d.doc_id AND sc.lang = d.lang),
      |${p}lrk AS (SELECT lang, doc_id, n_bigrams, lm_score,
      |    ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY lm_score DESC, doc_id ASC) AS rk,
      |    COUNT(*) OVER (PARTITION BY lang) AS n FROM ${p}lf),
      |${p}lb AS (SELECT lang, doc_id, n_bigrams, lm_score,
      |    CASE WHEN 3*rk <= n THEN 'head'
      |         WHEN 3*rk <= 2*n THEN 'middle' ELSE 'tail' END AS lm_bucket
      |  FROM ${p}lrk)""".stripMargin
  }

  /** The per-document Gopher flag CTE chain (no leading WITH): ends in
    * `gf` = (doc_id, lang, n_words, fail_* × 18). */
  private def gopherDocCtes: String = {
    // (flag column, SQL predicate over the joined signal row) — ONE rule
    // table; order matches GopherRuleCols
    val rules: Seq[(String, String)] = Seq(
      "fail_word_count" -> "n_words < 50 OR n_words > 100000",
      "fail_mean_word_len" ->
        "sum_word_len < 3*n_words OR sum_word_len > 10*n_words",
      "fail_symbol_ratio" -> "n_sym*100 > 10*n_words",
      "fail_bullet" -> "n_bullet_segs*100 > 90*n_segs",
      "fail_ellipsis" -> "n_ellipsis_segs*100 > 30*n_segs",
      "fail_alpha_words" -> "n_alpha_words*100 < 80*n_words",
      "fail_stopwords" -> "n_stop_distinct < 2",
      "fail_dup_line" -> "n_dup_segs*100 > 30*n_segs",
      "fail_dup_line_char" -> "dup_seg_chars*100 > 20*n_chars",
      "fail_top2" -> "top2_chars*100 > 20*n_chars",
      "fail_top3" -> "top3_chars*100 > 18*n_chars",
      "fail_top4" -> "top4_chars*100 > 16*n_chars",
      "fail_dup5" -> "dup5_chars*100 > 15*n_chars",
      "fail_dup6" -> "dup6_chars*100 > 14*n_chars",
      "fail_dup7" -> "dup7_chars*100 > 13*n_chars",
      "fail_dup8" -> "dup8_chars*100 > 12*n_chars",
      "fail_dup9" -> "dup9_chars*100 > 11*n_chars",
      "fail_dup10" -> "dup10_chars*100 > 10*n_chars")
    def gramCte(n: Int): String = {
      val cat = (1 to n).map(j => s"t[i+$j]").mkString(" || ' ' || ")
      val (agg, name) =
        if (n <= 4) (s"CAST(MAX(c*length(g)) AS BIGINT)", s"top${n}_chars")
        else (s"CAST(SUM(CASE WHEN c >= 2 THEN c*length(g) ELSE 0 END) AS BIGINT)",
          s"dup${n}_chars")
      s"""g$n AS (SELECT doc_id, g, COUNT(*) c FROM (
         |  SELECT doc_id, unnest(list_transform(range(len(t) - ${n - 1}),
         |    i -> $cat)) AS g
         |  FROM tk WHERE len(t) >= $n) GROUP BY doc_id, g),
         |a$n AS (SELECT doc_id, $agg AS $name FROM g$n GROUP BY doc_id)""".stripMargin
    }
    val gramJoin = (2 to 10)
      .map(n => s"LEFT JOIN a$n USING (doc_id)").mkString(" ")
    val gramCoalesce = (2 to 10).map { n =>
      val c = if (n <= 4) s"top${n}_chars" else s"dup${n}_chars"
      s"COALESCE($c, 0) AS $c"
    }.mkString(",\n        ")
    val flagSelect = rules.map { case (c, p) =>
      s"CASE WHEN $p THEN 1 ELSE 0 END AS $c"
    }.mkString(",\n        ")
    s"""base AS (SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars,
       |         text, lower(text) AS low FROM documents),
       |tk AS (SELECT doc_id, string_split(low, ' ') AS t FROM base),
       |w AS (SELECT doc_id,
       |        CAST(len(t) AS BIGINT) AS n_words,
       |        CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT)
       |          AS sum_word_len,
       |        CAST(len(list_filter(t, x -> regexp_matches(x, '[a-z]')))
       |          AS BIGINT) AS n_alpha_words,
       |        CAST(len(list_filter(
       |          ['the','be','to','of','and','that','have','with'],
       |          sw -> list_contains(t, sw))) AS BIGINT) AS n_stop_distinct
       |      FROM tk),
       |sy AS (SELECT doc_id, CAST(length(text)
       |          - length(replace(replace(text, '#', ''), '…', ''))
       |          AS BIGINT) AS n_sym FROM base),
       |sg0 AS (SELECT doc_id, seg
       |        FROM (SELECT doc_id, unnest(string_split(text, '. ')) AS seg
       |              FROM base) WHERE length(seg) > 0),
       |sgc AS (SELECT doc_id, seg, COUNT(*) c FROM sg0 GROUP BY doc_id, seg),
       |sgs AS (SELECT doc_id,
       |          CAST(SUM(c) AS BIGINT) AS n_segs,
       |          CAST(SUM(CASE WHEN seg LIKE '-%' OR seg LIKE '•%'
       |            THEN c ELSE 0 END) AS BIGINT) AS n_bullet_segs,
       |          CAST(SUM(CASE WHEN seg LIKE '%...' OR seg LIKE '%…'
       |            THEN c ELSE 0 END) AS BIGINT) AS n_ellipsis_segs,
       |          CAST(SUM(CASE WHEN c >= 2 THEN c - 1 ELSE 0 END) AS BIGINT)
       |            AS n_dup_segs,
       |          CAST(SUM(CASE WHEN c >= 2 THEN c*length(seg) ELSE 0 END)
       |            AS BIGINT) AS dup_seg_chars
       |        FROM sgc GROUP BY doc_id),
       |${(2 to 10).map(gramCte).mkString(",\n")},
       |j AS (SELECT b.doc_id, b.lang, b.n_chars, w.n_words, w.sum_word_len,
       |        w.n_alpha_words, w.n_stop_distinct, sy.n_sym,
       |        COALESCE(sgs.n_segs, 0) AS n_segs,
       |        COALESCE(sgs.n_bullet_segs, 0) AS n_bullet_segs,
       |        COALESCE(sgs.n_ellipsis_segs, 0) AS n_ellipsis_segs,
       |        COALESCE(sgs.n_dup_segs, 0) AS n_dup_segs,
       |        COALESCE(sgs.dup_seg_chars, 0) AS dup_seg_chars,
       |        $gramCoalesce
       |      FROM base b JOIN w USING (doc_id) JOIN sy USING (doc_id)
       |      LEFT JOIN sgs USING (doc_id) $gramJoin),
       |gf AS (SELECT doc_id, lang, n_words,
       |        $flagSelect
       |      FROM j)""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q100_bpe_merges" -> bpeOracleSql(BpeMerges),
    "q104_bpe_encode" -> bpeEncodeOracleSql(BpeMerges),
    "q133_bpe_vocab" -> bpeVocabOracleSql(BpeMerges),
    "q81_heavy_hitters" ->
      // the exact threshold set the MG-candidate + verify pipeline must
      // land on regardless of its internal sketch state
      s"""WITH t AS (SELECT unnest(string_split(lower(text), ' ')) AS tok
        |           FROM documents),
        |n AS (SELECT COUNT(*) n_total FROM t)
        |SELECT tok, COUNT(*) AS cnt,
        |  CAST(COUNT(*) AS DOUBLE) / CAST(n.n_total AS DOUBLE) AS share
        |FROM t CROSS JOIN n
        |GROUP BY tok, n.n_total
        |HAVING COUNT(*) * $HeavyK > n.n_total
        |ORDER BY tok""".stripMargin,
    "q82_stratified_eval" ->
      s"""WITH h AS (SELECT lang, source, doc_id,
        |            md5(CAST(doc_id AS VARCHAR)) hx FROM documents),
        |r AS (SELECT lang, source, doc_id,
        |        ROW_NUMBER() OVER (PARTITION BY lang, source
        |          ORDER BY hx ASC, doc_id ASC) rk
        |      FROM h)
        |SELECT lang, source, CAST(rk AS BIGINT) AS rk, doc_id
        |FROM r WHERE rk <= $EvalK
        |ORDER BY lang, source, rk""".stripMargin,
    "q98_weighted_sample" -> {
      // 48-bit md5-prefix integer: the q46 hexInt pattern over 12 nibbles
      val hex48 =
        "list_reduce(list_transform(range(12), ii -> CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), CAST(ii AS INTEGER)+1, 1)) AS BIGINT) - 1), (a,b) -> a*16 + b)"
      val kk = WeightedK
      s"""WITH base AS (
        |  SELECT doc_id, lang,
        |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS tok,
        |    ($hex48) + 1 AS h1
        |  FROM documents),
        |b2 AS (SELECT * FROM base WHERE tok > 0),
        |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
        |         ORDER BY CAST(h1 AS DOUBLE) / CAST(tok AS DOUBLE) ASC,
        |                  doc_id ASC) AS rk
        |       FROM b2),
        |tau AS (SELECT lang,
        |          CAST(tok AS DOUBLE) * 281474976710656.0 / CAST(h1 AS DOUBLE) AS tau
        |        FROM rk WHERE rk = ${kk + 1}),
        |tot AS (SELECT lang, COUNT(*) AS n_docs,
        |          CAST(SUM(tok) AS BIGINT) AS total_tokens
        |        FROM b2 GROUP BY lang),
        |sel AS (SELECT r.lang, r.rk, r.doc_id, r.tok,
        |          CAST(floor((CASE WHEN t.tau IS NULL THEN CAST(r.tok AS DOUBLE)
        |                 ELSE greatest(CAST(r.tok AS DOUBLE), t.tau) END)
        |               * 1000000.0) AS BIGINT) AS est_w6
        |        FROM rk r LEFT JOIN tau t USING (lang) WHERE r.rk <= $kk),
        |est AS (SELECT lang, CAST(SUM(est_w6) AS BIGINT) AS est_total6
        |        FROM sel GROUP BY lang)
        |SELECT s.lang, CAST(s.rk AS BIGINT) AS rk, s.doc_id, s.tok, s.est_w6,
        |  t.n_docs, t.total_tokens, e.est_total6,
        |  CAST(abs(e.est_total6 - t.total_tokens * 1000000) AS DOUBLE)
        |    / CAST(t.total_tokens * 1000000 AS DOUBLE) AS err_frac
        |FROM sel s JOIN tot t USING (lang) JOIN est e USING (lang)
        |ORDER BY lang, rk""".stripMargin
    },
    "q102_dsir_weights" -> {
      // doc bucket: the shared q46/q57 8-nibble md5 idiom over the id;
      // feature bucket: the same idiom over the TOKEN (already VARCHAR)
      val dbHex =
        "list_reduce(list_transform(range(8), ii -> CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), CAST(ii AS INTEGER)+1, 1)) AS BIGINT) - 1), (a,b) -> a*16 + b) % 1000"
      val fbHex =
        s"list_reduce(list_transform(range(8), ii -> CAST(strpos('0123456789abcdef', substr(md5(tok), CAST(ii AS INTEGER)+1, 1)) AS BIGINT) - 1), (a,b) -> a*16 + b) % $DsirBuckets"
      val K = DsirBuckets
      // HUGEINT // is floor division on positives — exactly the BigInt /
      s"""WITH b AS (SELECT doc_id, lang, $dbHex AS db,
        |  string_split(lower(text), ' ') AS t FROM documents),
        |tok AS (SELECT doc_id, lang, db, unnest(t) AS tok FROM b),
        |tb AS (SELECT doc_id, lang, db, $fbHex AS fb FROM tok),
        |pd AS (SELECT doc_id, lang, db, fb, COUNT(*) AS c
        |       FROM tb GROUP BY doc_id, lang, db, fb),
        |cells AS (SELECT fb,
        |    SUM(CASE WHEN db < 100 THEN c ELSE 0 END) AS ct,
        |    SUM(CASE WHEN db >= 100 THEN c ELSE 0 END) AS cs
        |  FROM pd GROUP BY fb),
        |tot AS (SELECT SUM(ct) AS tt, SUM(cs) AS ts FROM cells),
        |r AS (SELECT fb,
        |    (CAST($DsirScale AS HUGEINT) * (2*ct+1) * (2*ts+$K))
        |      // ((2*cs+1) * (2*tt+$K)) AS rv
        |  FROM cells, tot),
        |ds AS (SELECT doc_id, lang,
        |    CAST(SUM(c * rv) AS BIGINT) AS dsir_score,
        |    CAST(SUM(c) AS BIGINT) AS n_tokens
        |  FROM pd JOIN r USING (fb) WHERE db >= 100 GROUP BY doc_id, lang),
        |rk AS (SELECT lang, doc_id, n_tokens, dsir_score,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY dsir_score DESC, doc_id ASC) AS rk FROM ds)
        |SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id, n_tokens, dsir_score
        |FROM rk WHERE rk <= $DsirK ORDER BY lang, rk""".stripMargin
    },
    "q118_lm_quality" ->
      s"""WITH ${lmDocCtes()}
        |SELECT lang, doc_id, n_bigrams, lm_score, lm_bucket
        |FROM lb ORDER BY lang, doc_id""".stripMargin,
    "q123_quality_mixture" ->
      // the zero-weight CASE mirrors the Spark-side guard: an all-junk
      // corpus (total_w = 0) allocates 0 / shares 0.0 instead of
      // aborting on integer div-by-zero
      s"""WITH $mixtureCtes
        |SELECT lang, source, n_docs, n_toks, n_kept, kept_toks, w_scaled,
        |  CASE WHEN total_w = 0 THEN 0.0
        |    ELSE CAST(w_scaled AS DOUBLE) / CAST(total_w AS DOUBLE)
        |  END AS share,
        |  CASE WHEN total_w = 0 THEN 0
        |    ELSE ($MixtureTokenBudget * w_scaled) // total_w
        |  END AS alloc_tokens
        |FROM wts CROSS JOIN tw ORDER BY lang, source""".stripMargin,
    "q125_mixture_manifest" ->
      // the shared selection chain, extended with the sorted-list
      // manifest md5 per cell
      s"""WITH $manifestSelCtes,
        |man AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) n_selected,
        |          CAST(SUM(n_words) AS BIGINT) sel_tokens,
        |          md5(string_agg(CAST(doc_id AS VARCHAR), ','
        |            ORDER BY doc_id)) m
        |        FROM selq GROUP BY lang, source)
        |SELECT ax.lang, ax.source, ax.alloc_tokens, ax.n_kept, ax.kept_toks,
        |  COALESCE(man.n_selected, 0) AS n_selected,
        |  COALESCE(man.sel_tokens, 0) AS sel_tokens,
        |  COALESCE(man.m, md5('')) AS manifest_md5
        |FROM ax LEFT JOIN man USING (lang, source)
        |ORDER BY lang, source""".stripMargin,
    "q126_epoch_order" ->
      // the shared selection chain, fanned out per epoch and permuted by
      // the per-epoch md5 key — the identical arithmetic the Spark side
      // runs, so the audit head is hash-exact
      s"""WITH $manifestSelCtes,
        |ep AS (SELECT doc_id, unnest(range($EpochCount)) epoch FROM selq),
        |ehx AS (SELECT epoch, doc_id,
        |          md5(CAST(epoch AS VARCHAR) || ':'
        |            || CAST(doc_id AS VARCHAR)) hx FROM ep),
        |erk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY epoch
        |          ORDER BY hx, doc_id) pos,
        |          COUNT(*) OVER (PARTITION BY epoch) n_docs FROM ehx)
        |SELECT CAST(epoch AS BIGINT) AS epoch, CAST(pos AS BIGINT) AS pos,
        |  doc_id, CAST(n_docs AS BIGINT) AS n_docs
        |FROM erk WHERE pos <= $EpochTopK ORDER BY epoch, pos""".stripMargin,
    "q76_mixture_weights" ->
      s"""WITH c AS (SELECT source, COUNT(*) n_docs,
        |    CAST(FLOOR(sqrt(CAST(COUNT(*) AS DOUBLE))*10000 + 0.5) AS BIGINT)
        |      AS w_scaled
        |  FROM documents GROUP BY source),
        |t AS (SELECT CAST(SUM(w_scaled) AS BIGINT) total_w FROM c)
        |SELECT source, n_docs, w_scaled,
        |  CAST(w_scaled AS DOUBLE) / CAST(total_w AS DOUBLE) AS share,
        |  ($MixtureTokenBudget * w_scaled) // total_w AS alloc_tokens
        |FROM c CROSS JOIN t ORDER BY source""".stripMargin,
    "q80_snapshot_diff" -> {
      val bucket =
        "list_reduce(list_transform(range(8), ii -> CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), CAST(ii AS INTEGER)+1, 1)) AS BIGINT) - 1), (a,b) -> a*16 + b) % 1000"
      s"""WITH b AS (SELECT doc_id, lang, text, $bucket AS bucket FROM documents),
        |v1 AS (SELECT doc_id, lang, md5(text) h1 FROM b WHERE bucket >= 10),
        |v2 AS (SELECT doc_id, lang AS lang2,
        |         md5(CASE WHEN bucket BETWEEN 500 AND 509
        |               THEN text || ' [edited]' ELSE text END) h2
        |       FROM b WHERE bucket < 990)
        |SELECT COALESCE(v1.lang, v2.lang2) AS lang,
        |  CASE WHEN h1 IS NULL THEN 'added'
        |       WHEN h2 IS NULL THEN 'removed'
        |       WHEN h1 <> h2 THEN 'changed'
        |       ELSE 'unchanged' END AS status,
        |  COUNT(*) AS n
        |FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
        |GROUP BY 1, 2 ORDER BY lang, status""".stripMargin
    },
    "q78_boilerplate" ->
      s"""WITH s0 AS (SELECT doc_id, unnest(string_split(text, '. ')) seg0
        |  FROM documents),
        |segs AS (SELECT DISTINCT doc_id, trim(seg0) seg FROM s0
        |         WHERE length(trim(seg0)) > 0),
        |dfc AS (SELECT seg, COUNT(*) df FROM segs GROUP BY seg),
        |per AS (SELECT doc_id, COUNT(*) n_segs,
        |          SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) n_boiler
        |        FROM segs JOIN dfc USING (seg) GROUP BY doc_id),
        |f AS (SELECT d.lang,
        |        COALESCE(per.n_segs, 0) n_segs,
        |        COALESCE(per.n_boiler, 0) n_boiler,
        |        CASE WHEN COALESCE(per.n_segs, 0) = 0 THEN 0.0
        |             ELSE CAST(per.n_boiler AS DOUBLE) / per.n_segs END frac
        |      FROM documents d LEFT JOIN per USING (doc_id))
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_segs) AS BIGINT) AS total_segs,
        |  CAST(SUM(n_boiler) AS BIGINT) AS boiler_segs,
        |  ${SqlDavgPub("frac")} AS avg_boiler_frac
        |FROM f GROUP BY lang ORDER BY lang""".stripMargin,
    "q30_tokens" ->
      s"""SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS sum_tok_ws,
        |  CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT) AS sum_tok_re,
        |  ${SqlDavgPub("CAST(n_chars AS DOUBLE)")} AS avg_chars
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,
    "q31_quality" ->
      // punct_ratio's empty-text guard mirrors the engine's when()-guard
      // (ratio 0.0), not DuckDB's NULL-on-0/0; stop_ratio needs none because
      // string_split of '' yields [''] (len 1) in both engines
      s"""SELECT doc_id,
        |  CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
        |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
        |  ${sqlHits(stopEn)} AS n_stop,
        |  CASE WHEN length(text) = 0 THEN 0.0 ELSE
        |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text) END AS punct_ratio,
        |  CAST(${sqlHits(stopEn)} AS DOUBLE) / len(string_split(lower(text), ' ')) AS stop_ratio,
        |  (CAST(${sqlHits(stopEn)} AS DOUBLE) / len(string_split(lower(text), ' '))) * 0.5
        |    + (1.0 - CASE WHEN length(text) = 0 THEN 0.0 ELSE
        |        CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text) END) * 0.5 AS quality
        |FROM documents
        |WHERE doc_id < 200
        |ORDER BY doc_id""".stripMargin,
    "q32_langid" ->
      s"""SELECT lang, CASE
        |    WHEN ${sqlHits(stopEn)} >= ${sqlHits(stopEs)} AND ${sqlHits(stopEn)} >= ${sqlHits(stopDe)} AND ${sqlHits(stopEn)} >= ${sqlHits(stopFr)} THEN 'en'
        |    WHEN ${sqlHits(stopEs)} >= ${sqlHits(stopDe)} AND ${sqlHits(stopEs)} >= ${sqlHits(stopFr)} THEN 'es'
        |    WHEN ${sqlHits(stopDe)} >= ${sqlHits(stopFr)} THEN 'de'
        |    ELSE 'fr' END AS pred, COUNT(*) AS n
        |FROM documents
        |GROUP BY 1, 2
        |ORDER BY lang, pred""".stripMargin,
    "q33_fingerprint" ->
      """SELECT doc_id, md5(text) AS content_md5,
        |  substring(md5(lower(trim(text))), 1, 16) AS fp64
        |FROM documents
        |WHERE doc_id < 100
        |ORDER BY doc_id""".stripMargin,
    "q48_repetition" ->
      """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') t FROM documents),
        |d2 AS (SELECT doc_id, list_transform(range(len(t)-2),
        |         i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]) sh
        |       FROM toks WHERE len(t) >= 3),
        |e AS (SELECT doc_id, unnest(sh) s FROM d2),
        |g AS (SELECT doc_id, s, COUNT(*) c FROM e GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_shingles,
        |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |  CAST(CAST(SUM(c) AS BIGINT) - COUNT(*) AS DOUBLE)
        |    / CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE) AS rep_frac
        |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q119_gopher_rules" -> gopherOracleSql,
    "q86_novelty_attribution" ->
      s"""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') t FROM documents),
        |d2 AS (SELECT doc_id, list_distinct(list_transform(range(len(t)-2),
        |         i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) sh
        |       FROM toks WHERE len(t) >= 3),
        |e AS (SELECT doc_id, unnest(sh) s FROM d2),
        |intro AS (SELECT s, MIN(doc_id) introducer FROM e GROUP BY s),
        |per AS (SELECT e.doc_id, COUNT(*) n_shingles,
        |          SUM(CASE WHEN e.doc_id = intro.introducer THEN 1 ELSE 0 END)
        |            n_introduced
        |        FROM e JOIN intro USING (s) GROUP BY e.doc_id),
        |f AS (SELECT d.source,
        |        COALESCE(per.n_shingles, 0) n_shingles,
        |        COALESCE(per.n_introduced, 0) n_introduced,
        |        CASE WHEN COALESCE(per.n_shingles, 0) = 0 THEN 0.0
        |             ELSE CAST(per.n_introduced AS DOUBLE) / per.n_shingles END frac
        |      FROM documents d LEFT JOIN per USING (doc_id))
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_shingles) AS BIGINT) AS total_shingles,
        |  CAST(SUM(n_introduced) AS BIGINT) AS introduced,
        |  ${SqlDavgPub("frac")} AS avg_novelty
        |FROM f GROUP BY source ORDER BY source""".stripMargin,
    "q87_collocations" ->
      s"""WITH toks AS (SELECT string_split(lower(text), ' ') t FROM documents),
        |uni AS (SELECT unnest(t) tok FROM toks),
        |cu AS (SELECT tok, CAST(COUNT(*) AS BIGINT) c FROM uni GROUP BY tok),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) n_total FROM uni),
        |bi AS (SELECT unnest(list_transform(range(len(t)-1), i -> t[i+1])) AS t1,
        |              unnest(list_transform(range(len(t)-1), i -> t[i+2])) AS t2
        |       FROM toks WHERE len(t) >= 2),
        |cb AS (SELECT t1, t2, CAST(COUNT(*) AS BIGINT) c_xy FROM bi
        |       GROUP BY 1, 2 HAVING COUNT(*) >= $CollocMinSupport)
        |SELECT t1, t2, c_xy, u1.c AS c1, u2.c AS c2,
        |  (CAST(c_xy AS DOUBLE) * CAST(n_total AS DOUBLE))
        |    / (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE)) AS lift
        |FROM cb JOIN cu u1 ON t1 = u1.tok JOIN cu u2 ON t2 = u2.tok
        |CROSS JOIN n
        |ORDER BY lift DESC, t1, t2 LIMIT 50""".stripMargin,
    "q88_textrank" -> {
      // the diffusion steps are generated from TextRankIters so the twin
      // can never drift from the engine's iteration count
      val steps = (1 to TextRankIters).map { i =>
        s"""r$i AS (SELECT e.dst AS tok,
           |  CAST(150000 + SUM((r${i - 1}.r * 85 * e.w) // (100 * ws.wt)) AS BIGINT) r
           |  FROM e JOIN r${i - 1} ON e.src = r${i - 1}.tok
           |  JOIN ws ON e.src = ws.src GROUP BY e.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH toks AS (SELECT string_split(lower(text), ' ') t FROM documents),
        |bi AS (SELECT unnest(list_transform(range(len(t)-1), i -> t[i+1])) AS t1,
        |              unnest(list_transform(range(len(t)-1), i -> t[i+2])) AS t2
        |       FROM toks WHERE len(t) >= 2),
        |bc AS (SELECT t1, t2, COUNT(*) c FROM bi GROUP BY 1, 2),
        |e AS (SELECT t1 AS src, t2 AS dst, CAST(SUM(c) AS BIGINT) w FROM
        |      (SELECT t1, t2, c FROM bc UNION ALL SELECT t2, t1, c FROM bc) u(t1, t2, c)
        |      GROUP BY 1, 2),
        |ws AS (SELECT src, CAST(SUM(w) AS BIGINT) wt FROM e GROUP BY src),
        |r0 AS (SELECT src AS tok, CAST(1000000 AS BIGINT) r FROM ws),
        |$steps
        |SELECT tok, r AS rank_scaled FROM r$TextRankIters
        |ORDER BY rank_scaled DESC, tok LIMIT 20""".stripMargin
    },
    "q91_balance_chi2" ->
      """WITH cells AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) n
        |               FROM documents GROUP BY source, lang),
        |bs AS (SELECT source, CAST(SUM(n) AS BIGINT) n_source FROM cells GROUP BY source),
        |bl AS (SELECT lang, CAST(SUM(n) AS BIGINT) n_lang FROM cells GROUP BY lang),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) n_total FROM cells),
        |grid AS (SELECT bs.source, bl.lang, bs.n_source, bl.n_lang, t.n_total,
        |           COALESCE(cells.n, 0) AS n
        |         FROM bs CROSS JOIN bl CROSS JOIN t
        |         LEFT JOIN cells ON cells.source = bs.source AND cells.lang = bl.lang)
        |SELECT source, lang, n, n_source, n_lang,
        |  CAST(n_source AS DOUBLE) * CAST(n_lang AS DOUBLE)
        |    / CAST(n_total AS DOUBLE) AS expected,
        |  (CAST(n AS DOUBLE) - CAST(n_source AS DOUBLE) * CAST(n_lang AS DOUBLE)
        |      / CAST(n_total AS DOUBLE))
        |   * (CAST(n AS DOUBLE) - CAST(n_source AS DOUBLE) * CAST(n_lang AS DOUBLE)
        |      / CAST(n_total AS DOUBLE))
        |   / (CAST(n_source AS DOUBLE) * CAST(n_lang AS DOUBLE)
        |      / CAST(n_total AS DOUBLE)) AS chi2_contrib
        |FROM grid ORDER BY source, lang""".stripMargin,
    "q93_triangle_census" ->
      """WITH toks AS (SELECT string_split(lower(text), ' ') t FROM documents),
        |bi AS (SELECT unnest(list_transform(range(len(t)-1), i -> t[i+1])) AS t1,
        |              unnest(list_transform(range(len(t)-1), i -> t[i+2])) AS t2
        |       FROM toks WHERE len(t) >= 2),
        |und AS (SELECT DISTINCT least(t1, t2) a, greatest(t1, t2) b
        |        FROM bi WHERE t1 <> t2),
        |deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) d FROM
        |        (SELECT a n FROM und UNION ALL SELECT b FROM und) u(n) GROUP BY n),
        |ore AS (SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND a < b) THEN a ELSE b END u,
        |               CASE WHEN da.d < db.d OR (da.d = db.d AND a < b) THEN b ELSE a END v
        |        FROM und JOIN deg da ON da.n = a JOIN deg db ON db.n = b),
        |tri AS (SELECT CAST(COUNT(*) AS BIGINT) c FROM ore e1
        |        JOIN ore e2 ON e1.v = e2.u
        |        JOIN ore e3 ON e3.u = e1.u AND e3.v = e2.v),
        |st AS (SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) n_nodes,
        |              CAST((SELECT COUNT(*) FROM und) AS BIGINT) n_edges,
        |              CAST(COALESCE((SELECT SUM(d*(d-1)//2) FROM deg), 0) AS BIGINT) n_wedges,
        |              (SELECT c FROM tri) n_triangles)
        |SELECT n_nodes, n_edges, n_wedges, n_triangles,
        |  CASE WHEN n_wedges = 0 THEN 0.0
        |       ELSE CAST(3*n_triangles AS DOUBLE)/CAST(n_wedges AS DOUBLE)
        |  END AS global_clustering
        |FROM st""".stripMargin,
    "q94_vocab_coverage" ->
      s"""WITH toks AS (SELECT lang, unnest(string_split(lower(text), ' ')) tok
        |              FROM documents),
        |vocab AS (SELECT tok FROM (SELECT tok, COUNT(*) c FROM toks GROUP BY tok
        |          ORDER BY c DESC, tok LIMIT $VocabK)),
        |m AS (SELECT t.lang, CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END oov
        |      FROM toks t LEFT JOIN vocab v ON t.tok = v.tok)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(oov) AS BIGINT) AS n_oov,
        |  CASE WHEN COUNT(*) = 0 THEN 0.0
        |       ELSE CAST(SUM(oov) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |  END AS oov_rate
        |FROM m GROUP BY lang ORDER BY lang""".stripMargin,
    "q83_approx_quantiles" ->
      // exact side mirrors q50's nearest-rank idiom; the GK flags are
      // literal — guaranteed TRUE by the sketch's rank-error contract
      """WITH ranked AS (
        |  SELECT lang, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars ASC, doc_id ASC) rn
        |  FROM documents),
        |c AS (SELECT lang, COUNT(*) n_docs FROM documents GROUP BY lang)
        |SELECT r.lang, CAST(MAX(n_docs) AS BIGINT) AS n_docs,
        |  MAX(CASE WHEN rn = CAST(CEIL(0.5 * n_docs) AS BIGINT) THEN n_chars END) AS p50_exact,
        |  MAX(CASE WHEN rn = CAST(CEIL(0.9 * n_docs) AS BIGINT) THEN n_chars END) AS p90_exact,
        |  TRUE AS p50_rank_ok, TRUE AS p90_rank_ok
        |FROM ranked r JOIN c ON c.lang = r.lang
        |GROUP BY r.lang ORDER BY r.lang""".stripMargin,
    "q50_length_quantiles" ->
      """WITH ranked AS (
        |  SELECT lang, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars ASC, doc_id ASC) rn
        |  FROM documents),
        |c AS (SELECT lang, COUNT(*) n_docs FROM documents GROUP BY lang)
        |SELECT r.lang, CAST(MAX(n_docs) AS BIGINT) AS n_docs,
        |  MAX(CASE WHEN rn = CAST(CEIL(0.5 * n_docs) AS BIGINT) THEN n_chars END) AS p50,
        |  MAX(CASE WHEN rn = CAST(CEIL(0.9 * n_docs) AS BIGINT) THEN n_chars END) AS p90,
        |  MAX(CASE WHEN rn = CAST(CEIL(0.99 * n_docs) AS BIGINT) THEN n_chars END) AS p99
        |FROM ranked r JOIN c ON c.lang = r.lang
        |GROUP BY r.lang ORDER BY r.lang""".stripMargin,
    "q51_contamination" ->
      """WITH d AS (SELECT DISTINCT source, md5(text) h FROM documents),
        |ps AS (SELECT source, COUNT(*) n FROM d GROUP BY source),
        |pairs AS (SELECT a.source source_a, b.source source_b, a.n n_a, b.n n_b
        |          FROM ps a JOIN ps b ON a.source < b.source),
        |sh AS (SELECT x.source source_a, y.source source_b, COUNT(*) ns
        |       FROM d x JOIN d y ON x.h = y.h AND x.source < y.source
        |       GROUP BY 1, 2)
        |SELECT p.source_a, p.source_b, CAST(p.n_a AS BIGINT) AS n_a,
        |  CAST(p.n_b AS BIGINT) AS n_b,
        |  CAST(COALESCE(ns, 0) AS BIGINT) AS n_shared,
        |  CAST(COALESCE(ns, 0) AS DOUBLE) / (p.n_a + p.n_b - COALESCE(ns, 0)) AS overlap
        |FROM pairs p LEFT JOIN sh USING (source_a, source_b)
        |ORDER BY source_a, source_b""".stripMargin,
    "q53_top_tokens" ->
      """WITH e AS (SELECT DISTINCT doc_id, lang,
        |             unnest(string_split(lower(text), ' ')) tok
        |           FROM documents),
        |df AS (SELECT lang, tok, COUNT(*) df FROM e GROUP BY 1, 2),
        |r AS (SELECT lang, tok, df,
        |        ROW_NUMBER() OVER (PARTITION BY lang ORDER BY df DESC, tok ASC) rk
        |      FROM df)
        |SELECT lang, CAST(rk AS BIGINT) AS rk, tok, CAST(df AS BIGINT) AS df
        |FROM r WHERE rk <= 20 ORDER BY lang, rk""".stripMargin,
    "q54_clean_corpus" -> {
      val hexInt =
        "list_reduce(list_transform(range(8), ii -> CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), CAST(ii AS INTEGER)+1, 1)) AS BIGINT) - 1), (a,b) -> a*16 + b)"
      s"""WITH canon AS (SELECT md5(text) h, min(doc_id) canon_id
        |               FROM documents GROUP BY 1),
        |toks2 AS (SELECT doc_id, string_split(lower(text), ' ') t FROM documents),
        |d2 AS (SELECT doc_id, list_transform(range(len(t)-2),
        |         i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]) sh
        |       FROM toks2 WHERE len(t) >= 3),
        |e AS (SELECT doc_id, unnest(sh) s FROM d2),
        |g AS (SELECT doc_id, s, COUNT(*) c FROM e GROUP BY 1, 2),
        |rep AS (SELECT doc_id,
        |          CAST(CAST(SUM(c) AS BIGINT) - COUNT(*) AS DOUBLE)
        |            / CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE) rep_frac
        |        FROM g GROUP BY doc_id),
        |staged AS (SELECT dd.lang,
        |  CASE
        |    WHEN dd.doc_id <> c.canon_id THEN 'dup'
        |    WHEN COALESCE(rep_frac, 0.0) > 0.05 THEN 'repetition'
        |    WHEN (${sqlHits(stopEn)} * 1.0 / len(string_split(lower(text), ' '))) * 0.5
        |       + (1.0 - CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text)) * 0.5 < 0.52
        |      THEN 'quality'
        |    WHEN $hexInt % 1000 >= (CASE WHEN dd.lang = 'en' THEN 500 ELSE 200 END)
        |      THEN 'sample'
        |    ELSE 'kept' END AS stage
        |  FROM documents dd
        |  JOIN canon c ON c.h = md5(dd.text)
        |  LEFT JOIN rep USING (doc_id))
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN stage = 'dup' THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  CAST(SUM(CASE WHEN stage = 'repetition' THEN 1 ELSE 0 END) AS BIGINT) AS n_rep,
        |  CAST(SUM(CASE WHEN stage = 'quality' THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
        |  CAST(SUM(CASE WHEN stage = 'sample' THEN 1 ELSE 0 END) AS BIGINT) AS n_sample,
        |  CAST(SUM(CASE WHEN stage = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM staged GROUP BY lang ORDER BY lang""".stripMargin
    },
    "q57_split_assign" -> {
      val hexInt =
        "list_reduce(list_transform(range(8), ii -> CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), CAST(ii AS INTEGER)+1, 1)) AS BIGINT) - 1), (a,b) -> a*16 + b)"
      s"""WITH b AS (SELECT lang, $hexInt % 1000 AS bucket FROM documents)
        |SELECT lang,
        |  CASE WHEN bucket < 980 THEN 'train'
        |       WHEN bucket < 990 THEN 'val' ELSE 'test' END AS split,
        |  COUNT(*) AS n_docs
        |FROM b GROUP BY 1, 2 ORDER BY lang, split""".stripMargin
    },
    "q58_sequence_packing" ->
      """WITH t AS (SELECT lang, doc_id,
        |             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) tok
        |           FROM documents),
        |p AS (SELECT lang, tok,
        |        COALESCE(SUM(tok) OVER (PARTITION BY lang ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) start_off
        |      FROM t),
        |q AS (SELECT lang, tok, CAST(floor(start_off / 8192) AS BIGINT) pack_id FROM p)
        |SELECT lang, COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS total_tokens,
        |  CAST(MAX(pack_id) + 1 AS BIGINT) AS n_packs,
        |  CAST(CAST(SUM(tok) AS BIGINT) AS DOUBLE) / CAST(MAX(pack_id) + 1 AS DOUBLE)
        |    AS avg_tokens_per_pack
        |FROM q GROUP BY lang ORDER BY lang""".stripMargin,
    "q59_mixture_rebalance" -> {
      val hexInt =
        "list_reduce(list_transform(range(8), ii -> CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), CAST(ii AS INTEGER)+1, 1)) AS BIGINT) - 1), (a,b) -> a*16 + b)"
      s"""WITH b AS (SELECT source, doc_id, $hexInt % 1000 AS bucket FROM documents),
        |c AS (SELECT source, COUNT(*) n_docs FROM b GROUP BY source),
        |t AS (SELECT CAST(SUM(n_docs) AS DOUBLE) / COUNT(*) target FROM c),
        |r AS (SELECT source, n_docs,
        |        LEAST(CAST(1000 AS BIGINT),
        |          CAST(floor((target / CAST(n_docs AS DOUBLE)) * 1000.0) AS BIGINT)) rate_k
        |      FROM c, t)
        |SELECT r.source, CAST(r.n_docs AS BIGINT) AS n_docs, r.rate_k AS rate_k,
        |  CAST(SUM(CASE WHEN b.bucket < r.rate_k THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM b JOIN r ON r.source = b.source
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin
    },
    "q46_hash_sample" -> {
      val hexInt =
        "list_reduce(list_transform(range(8), ii -> CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), CAST(ii AS INTEGER)+1, 1)) AS BIGINT) - 1), (a,b) -> a*16 + b)"
      s"""WITH b AS (SELECT lang, $hexInt % 1000 AS bucket FROM documents),
        |k AS (SELECT lang,
        |        CASE WHEN bucket < (CASE WHEN lang = 'en' THEN 500 ELSE 200 END)
        |          THEN 1 ELSE 0 END AS kept
        |      FROM b)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(kept) AS BIGINT) AS n_kept,
        |  CAST(CAST(SUM(kept) AS BIGINT) AS DOUBLE) / COUNT(*) AS kept_ratio
        |FROM k GROUP BY lang ORDER BY lang""".stripMargin
    },
    "q61_tfidf" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) tok
        |              FROM documents),
        |tf AS (SELECT doc_id, tok, COUNT(*) tf FROM toks
        |       WHERE doc_id < 50 GROUP BY 1, 2),
        |dfx AS (SELECT tok, COUNT(*) df
        |        FROM (SELECT DISTINCT doc_id, tok FROM toks) GROUP BY tok),
        |sc AS (SELECT tf.doc_id, tf.tok,
        |         CAST(tf.tf AS BIGINT) tf, CAST(dfx.df AS BIGINT) df,
        |         CAST(tf.tf AS DOUBLE)
        |           * CAST((SELECT COUNT(*) FROM documents) AS DOUBLE)
        |           / CAST(dfx.df AS DOUBLE) score
        |       FROM tf JOIN dfx USING (tok)),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |        ORDER BY score DESC, tok ASC) rk FROM sc)
        |SELECT doc_id, CAST(rk AS BIGINT) AS rk, tok, tf, df, score
        |FROM r WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    "q122_bm25" ->
      s"""WITH $bm25Ctes
        |SELECT CAST(qid AS BIGINT) AS qid, CAST(rk AS BIGINT) AS rk, doc_id,
        |  score
        |FROM r WHERE rk <= $Bm25TopK ORDER BY qid, rk""".stripMargin,
    "q124_hybrid_retrieval" -> {
      // composes the shared BM25 chain with q38's cosine replay (the
      // scaled CTEs from Similarity) and fuses by pure-integer RRF —
      // the missing-arm sentinel makes 10^6 // (60 + 10^9) = 0 exactly
      // as the Spark side's coalesce does
      val qidList = Bm25Queries.map(_._1).distinct.mkString(", ")
      s"""WITH $bm25Ctes,
        |${Similarity.scaledCtesBody},
        |cp AS (SELECT q2.vec_id qid, c.vec_id nid,
        |        list_inner_product(list_transform(q2.e, x -> CAST(x AS DOUBLE)),
        |                           list_transform(c.e, x -> CAST(x AS DOUBLE)))
        |          / (q2.nrm * c.nrm) sim
        |      FROM n q2 JOIN n c
        |        ON q2.vec_id IN ($qidList) AND c.vec_id <> q2.vec_id),
        |cr AS (SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid
        |        ORDER BY sim DESC, nid ASC) rk FROM cp),
        |tc AS (SELECT qid, doc_id, rk AS text_rk FROM r WHERE rk <= $Bm25TopK),
        |vc AS (SELECT qid, nid AS doc_id, rk AS vec_rk
        |       FROM cr WHERE rk <= $Bm25TopK),
        |fu AS (SELECT COALESCE(tc.qid, vc.qid) qid,
        |         COALESCE(tc.doc_id, vc.doc_id) doc_id,
        |         CAST(1000000 // ($RrfK + COALESCE(tc.text_rk, 1000000000))
        |           + 1000000 // ($RrfK + COALESCE(vc.vec_rk, 1000000000))
        |           AS BIGINT) rrf,
        |         CAST(COALESCE(tc.text_rk, 0) AS BIGINT) text_rk,
        |         CAST(COALESCE(vc.vec_rk, 0) AS BIGINT) vec_rk
        |       FROM tc FULL OUTER JOIN vc
        |         ON tc.qid = vc.qid AND tc.doc_id = vc.doc_id),
        |fr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
        |        ORDER BY rrf DESC, doc_id ASC) rk FROM fu)
        |SELECT CAST(qid AS BIGINT) AS qid, CAST(rk AS BIGINT) AS rk, doc_id,
        |  rrf, text_rk, vec_rk
        |FROM fr WHERE rk <= $Bm25TopK ORDER BY qid, rk""".stripMargin
    },
    "q63_rarity" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) tok
        |              FROM documents),
        |dfx AS (SELECT tok, COUNT(*) df
        |        FROM (SELECT DISTINCT doc_id, tok FROM toks) GROUP BY tok),
        |occ AS (SELECT toks.doc_id, toks.tok, CAST(dfx.df AS BIGINT) df
        |        FROM toks JOIN dfx USING (tok) WHERE doc_id < 100),
        |rn AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |         ORDER BY df ASC, tok ASC) rn,
        |         COUNT(*) OVER (PARTITION BY doc_id) n
        |       FROM occ)
        |SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_tokens,
        |  MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT) THEN df END) AS med_df,
        |  MIN(df) AS min_df, MAX(df) AS max_df
        |FROM rn GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q64_inverted_index" ->
      """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') t FROM documents),
        |d AS (SELECT doc_id, list_distinct(list_transform(range(len(t)-2),
        |        i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) sh
        |      FROM toks WHERE len(t) >= 3),
        |e AS (SELECT doc_id, unnest(sh) s FROM d),
        |f AS (SELECT doc_id, s FROM e WHERE substr(md5(s), 1, 1) = '0'),
        |g AS (SELECT s, COUNT(*) df,
        |        string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) posting
        |      FROM f GROUP BY s)
        |SELECT s, CAST(df AS BIGINT) AS df, posting
        |FROM g WHERE df BETWEEN 2 AND 5 ORDER BY s""".stripMargin,
    "q68_pii_redact" -> {
      val any = s"($PiiEmail)|($PiiIpv4)|($PiiPhone)"
      s"""SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(len(regexp_extract_all(text, '$PiiEmail'))) AS BIGINT) AS n_emails,
        |  CAST(SUM(len(regexp_extract_all(text, '$PiiIpv4'))) AS BIGINT) AS n_ipv4,
        |  CAST(SUM(len(regexp_extract_all(text, '$PiiPhone'))) AS BIGINT) AS n_phones,
        |  CAST(SUM(length(text) - length(regexp_replace(text, '$any', '', 'g'))) AS BIGINT)
        |    AS n_redacted_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin
    },
    "q114_pii_rewrite" -> {
      // the same ordered chain: counts taken on the stage each class
      // rewrites, RE2's 'g' replace ≡ Java replaceAll for these
      // lookaround-free patterns (the q68-established compatibility)
      s"""WITH r1 AS (SELECT doc_id, source, text t0,
        |    CAST(len(regexp_extract_all(text, '$PiiEmail')) AS BIGINT) ne,
        |    regexp_replace(text, '$PiiEmail', '<EMAIL>', 'g') t1
        |  FROM documents),
        |r2 AS (SELECT *,
        |    CAST(len(regexp_extract_all(t1, '$PiiIpv4')) AS BIGINT) ni,
        |    regexp_replace(t1, '$PiiIpv4', '<IP>', 'g') t2
        |  FROM r1),
        |r3 AS (SELECT *,
        |    CAST(len(regexp_extract_all(t2, '$PiiPhone')) AS BIGINT) np,
        |    regexp_replace(t2, '$PiiPhone', '<PHONE>', 'g') t3
        |  FROM r2)
        |SELECT doc_id, source, ne AS n_emails, ni AS n_ipv4, np AS n_phones,
        |  (t3 <> t0) AS changed, md5(t0) AS orig_md5, md5(t3) AS redacted_md5
        |FROM r3 ORDER BY doc_id""".stripMargin
    },
    "q69_charclass" ->
      // empty-text guard mirrors the engine's when()-guard (fraction 0.0),
      // not DuckDB's NULL-on-0/0 — the twins must agree on degenerate docs
      s"""WITH f AS (SELECT lang,
        |  CASE WHEN length(text) = 0 THEN 0.0 ELSE
        |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)/length(text) END alpha_frac,
        |  CASE WHEN length(text) = 0 THEN 0.0 ELSE
        |    CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE)/length(text) END space_frac,
        |  CASE WHEN length(text) = 0 THEN 0.0 ELSE
        |    CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE)/length(text) END punct_frac
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n_docs,
        |  ${SqlDavgPub("alpha_frac")} AS avg_alpha_frac,
        |  ${SqlDavgPub("space_frac")} AS avg_space_frac,
        |  ${SqlDavgPub("punct_frac")} AS avg_punct_frac
        |FROM f GROUP BY lang ORDER BY lang""".stripMargin,
    "q70_chunking" ->
      s"""WITH t AS (SELECT lang,
        |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) tok
        |  FROM documents),
        |c AS (SELECT lang, tok,
        |    1 + (GREATEST(0, tok - $ChunkLen) + ${ChunkStride - 1}) // $ChunkStride n_chunks
        |  FROM t)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(tok) AS BIGINT) AS total_tokens,
        |  CAST(SUM(n_chunks) AS BIGINT) AS total_chunks,
        |  CAST(MAX(n_chunks) AS BIGINT) AS max_chunks,
        |  CAST(CAST(SUM(tok) AS BIGINT) AS DOUBLE)
        |    / CAST(CAST(SUM(n_chunks) AS BIGINT) * $ChunkLen AS DOUBLE) AS avg_fill
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin,
  )

  /** public twin of Relational's private SqlDavg */
  private def SqlDavgPub(x: String) =
    s"CAST(SUM(CAST(FLOOR($x*10000 + 0.5) AS BIGINT)) AS DOUBLE)/10000.0/COUNT($x)"
}
