package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.CorpusPublisher

/** The bucketed-publish contract: after CorpusPublisher.publish, the
  * operations a pipeline repeats forever (join on doc_id, aggregate on
  * doc_id, per-language scan) run WITHOUT a shuffle / full scan — the
  * physical-layout payoff the one-time bucketed write buys. */
class PublishSpec extends AnyFunSuite {

  lazy val spark = SparkTest.session
  private val dir = "/root/testdata/sf0.001"

  /** The in-memory catalog is per-JVM but the warehouse dir persists: a
    * leftover location from a previous run must go before a re-create. */
  private def cleanTableLocation(table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath,
      table)
    if (loc.exists()) graft.util.Fs.rmTree(loc)
  }

  private def publishOnce(): Unit = {
    if (!spark.catalog.tableExists("docs_pub")) {
      cleanTableLocation("docs_pub")
      val d = graft.util.Tables(spark, dir, "documents")
        .select("doc_id", "text", "source", "n_chars", "lang")
      CorpusPublisher.publish(d, "docs_pub", buckets = 8)
    }
  }

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("published table round-trips rows and schema") {
    publishOnce()
    val orig = graft.util.Tables(spark, dir, "documents")
    val back = spark.table("docs_pub")
    assert(back.count() == orig.count())
    assert(back.columns.toSet == Set("doc_id", "text", "source", "n_chars", "lang"))
    // spot-check one row's content survives the round trip
    val r = back.filter(back("doc_id") === 0L).collect()
    val o = orig.filter(orig("doc_id") === 0L).select("doc_id", "text", "source", "n_chars", "lang").collect()
    assert(r.length == 1 && r(0).getString(1) == o(0).getString(1))
  }

  test("self-join on the bucket key plans with NO shuffle exchange") {
    publishOnce()
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val t1 = spark.table("docs_pub").select("doc_id", "n_chars")
      val t2 = spark.table("docs_pub").select("doc_id", "source")
      val p = plan(t1.join(t2, "doc_id"))
      assert(!p.contains("ShuffleExchange") && !p.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("aggregation on the bucket key plans with NO shuffle exchange") {
    publishOnce()
    val p = plan(spark.table("docs_pub").groupBy("doc_id").count())
    assert(!p.contains("Exchange hashpartitioning"),
      s"bucketed aggregation still shuffles:\n$p")
  }

  test("CleanPipeline publishes exactly q54's kept documents") {
    cleanTableLocation("clean_pub")
    val summary = graft.app.CleanPipeline.run(spark, dir, "clean_pub", buckets = 4)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val wantKept = graft.operators.TextOps.q54CleanCorpus(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(6)).toMap
    // accounting agrees with q54's oracle-checked totals...
    wantKept.foreach { case (lang, n) =>
      assert(summary.getOrElse((lang, "kept"), 0L) == n, s"lang $lang")
    }
    // ...and the published table holds exactly the kept rows
    assert(spark.table("clean_pub").count() == wantKept.values.sum)
  }

  /** ADVICE r11: runIncremental has no quality stage — combining
    * --incremental with the quality-stage knobs must refuse up front
    * (before any session/work), not silently publish a table that
    * diverges from the append ≡ recurate contract. */
  test("--incremental refuses the quality-stage knobs") {
    val e1 = intercept[IllegalArgumentException] {
      graft.app.CleanPipeline.main(Array("--incremental",
        "--lm-tail-filter", "a", "b", "t", "s"))
    }
    assert(e1.getMessage.contains("--incremental"))
    val e2 = intercept[IllegalArgumentException] {
      graft.app.CleanPipeline.main(Array("--incremental",
        "--gopher-rules", "fail_top2", "a", "b", "t", "s"))
    }
    assert(e2.getMessage.contains("--incremental"))
  }

  /** runFull (VERDICT r8 #7; strip rule per VERDICT r9 #1): the complete
    * curate CLI end to end at sf0.001 — stage accounting partitions the
    * corpus, the published table holds exactly the kept documents with
    * the strip/redact/split/pack columns, the published text is
    * verifiably the q116-threshold-stripped + q114-redacted bytes
    * (maximal dup blocks ≥ MinStripSpan removed, short incidental
    * matches KEPT and accounted in n_dup_kept), and every pack respects
    * the 8192-token frame. */
  test("full curate pipeline: stages partition, published text is transformed") {
    cleanTableLocation("curate_pub")
    val (acctDf, summaryDf) = graft.app.CleanPipeline
      .runFull(spark, dir, "curate_pub", buckets = 4)
    val acct = acctDf.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val total = graft.util.Tables(spark, dir, "documents").count()
    assert(acct.values.sum == total,
      s"stage counts ${acct.values.sum} must partition the $total docs")
    val stages = acct.keys.map(_._2).toSet
    assert(stages.contains("kept") && stages.contains("sample"),
      s"stages seen: $stages")
    val pub = spark.table("curate_pub")
    assert(pub.count() == acct.collect { case ((_, "kept"), n) => n }.sum)
    assert(pub.columns.toSet == Set("doc_id", "source", "lang", "text",
      "n_pii", "n_tok", "n_kept", "n_dup_kept", "split", "start_off",
      "pack_id", "n_chars"),
      pub.columns.mkString(","))
    // splits come from the SALTED hash (review finding r9: the plain
    // doc_id bucket was consumed by the q54 sample stage, which keeps
    // only bucket < rate — a split on the same bucket could never
    // publish a val/test doc). Recompute the assignment independently
    // and compare exactly — deterministic, so no small-corpus flake.
    val splits = pub.select("split").distinct().collect()
      .map(_.getString(0)).toSet
    assert(splits.subsetOf(Set("train", "val", "test")) && splits.contains("train"))
    import org.apache.spark.sql.functions.col
    val mismatched = pub
      .withColumn("want", graft.app.CleanPipeline.splitCol)
      .filter(col("split") =!= col("want")).count()
    assert(mismatched == 0L, s"$mismatched docs diverge from the salted split rule")
    // and the salted rule is genuinely independent of the sample bucket:
    // every published doc has sample-bucket < 500, yet val/test can only
    // come from salted-bucket >= 980 — prove the two hashes differ on
    // this corpus
    val sameHash = pub
      .withColumn("sb", graft.util.Buckets.mod1000("doc_id"))
      .withColumn("kb", graft.app.CleanPipeline.splitBucket)
      .filter(col("sb") === col("kb")).count()
    assert(sameHash < pub.count(), "salted split bucket degenerated to the sample bucket")
    // published text = the q116 THRESHOLD strip of the kept subset, then
    // the q114 chain — re-derive both transforms independently via the
    // shared longSpanStripOf and compare md5-for-md5 (VERDICT r9 #1)
    import org.apache.spark.sql.functions._
    val kept = pub.select(col("doc_id")).join(
      graft.util.Tables(spark, dir, "documents"), "doc_id")
      .select(col("doc_id"), col("text"))
    val want = graft.operators.TextOps.piiRewriteOf(
        graft.operators.Dedup.longSpanStripOf(kept,
          graft.operators.Dedup.MinStripSpan)
          .withColumnRenamed("stripped_text", "text")
          .select("doc_id", "text"))
      .select(col("doc_id"), md5(col("redacted").cast("binary")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = pub.select(col("doc_id"), md5(col("text").cast("binary")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == want, "published text diverges from the threshold-strip+redact chain")
    // the accounting identity the threshold column carries: per doc,
    // stripped tokens + threshold-kept tokens = the FULL q99 dup
    // coverage — recompute the q99 arm independently and reconcile
    val q99base = graft.operators.Dedup.spanBase(kept)
    val q99cov = graft.operators.Dedup.stripByStarts(q99base,
        graft.operators.Dedup.dupStartsOf(q99base))
      .select(col("doc_id"), (col("n") - col("n_kept")).as("cov"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val acctRows = pub.select("doc_id", "n_tok", "n_kept", "n_dup_kept")
      .collect()
    acctRows.foreach { r =>
      val (id, nTok, nKept, nDupKept) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert((nTok - nKept) + nDupKept == q99cov.getOrElse(id, 0L),
        s"doc $id: stripped ${nTok - nKept} + spared $nDupKept != q99 coverage ${q99cov.getOrElse(id, 0L)}")
    }
    // pack frame: offsets are per-lang contiguous (start_off of each
    // doc = prefix sum of earlier tokens), packs hold ≤ 8192-token
    // STARTS (a doc may straddle its pack boundary — q58's convention)
    val rows = pub.select("lang", "doc_id", "n_kept", "start_off", "pack_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    rows.groupBy(_._1).foreach { case (lang, rs) =>
      val sorted = rs.sortBy(_._2)
      var off = 0L
      sorted.foreach { case (_, id, tok, start, pid) =>
        assert(start == off, s"$lang doc $id: start_off $start != $off")
        assert(pid == start / 8192L, s"$lang doc $id: pack_id $pid")
        off += tok
      }
    }
    val summary = summaryDf.collect()
      .map(r => r.getString(0) -> r).toMap
    summary.values.foreach { r =>
      assert(r.getLong(r.fieldIndex("tok_kept")) <= r.getLong(r.fieldIndex("tok_in")))
      assert(r.getLong(r.fieldIndex("n_packs")) >= 1L)
    }
    // NOTE: tok_stripped AND tok_dup_kept are 0 at sf0.001 — the q54
    // cascade already removed the exact dups and the sample stage thins
    // the rest, so no duplicated 20-gram survives INSIDE the kept
    // subset. The strip stage's wiring is still proven above: the
    // published text equals the threshold-strip→redact chain
    // md5-for-md5, and the per-doc identity reconciles against the
    // independently-recomputed q99 coverage (an unwired stage would
    // only pass if the strip were identity, which is what 0 means).
    summary.values.foreach { r =>
      assert(r.getLong(r.fieldIndex("tok_stripped")) >= 0L)
      assert(r.getLong(r.fieldIndex("tok_dup_kept")) >= 0L)
    }
  }

  /** VERDICT r9 #1, the distinguishing case the sf corpus can't show
    * (its kept subset has zero dup coverage): a planted two-doc corpus
    * where the later doc shares BOTH a 60-token block (≥ MinStripSpan →
    * stripped) and an isolated 20-token match (< MinStripSpan → KEPT —
    * the q99 rule would have deleted it). Proves runFull actually runs
    * the threshold rule, end to end through the published bytes, and
    * that n_dup_kept prices exactly the spared tokens. */
  test("planted corpus: runFull strips long blocks, keeps short matches") {
    import org.apache.spark.sql.functions.col
    // ids that survive the q54 sample stage (en bucket < 500) and land
    // in the train split (salted bucket < 980) — derived with the
    // pipeline's own hash, not hard-coded
    val ids = spark.range(0, 4000).select(col("id").as("doc_id"))
      .withColumn("b", graft.util.Buckets.mod1000("doc_id"))
      .withColumn("sb", graft.app.CleanPipeline.splitBucket)
      .filter(col("b") < 500 && col("sb") < 980)
      .orderBy(col("doc_id")).limit(2)
      .collect().map(_.getLong(0))
    val Array(idA, idB) = ids
    // every 4th token a stopword keeps quality ≥ 0.52; all other tokens
    // unique per segment so within-doc shingles are distinct (rf = 0)
    // and only the two planted blocks are shared across the docs
    def seg(tag: String, stop: String, n: Int): Seq[String] =
      (0 until n).map(i => if (i % 4 == 3) stop else s"$tag$i")
    val longBlock = seg("blk", "of", 60)    // one 60-token maximal span
    val shortBlock = seg("sh", "and", 20)   // exactly one shared 20-gram
    // per-doc DIFFERENT filler stopword: a shared stopword at an aligned
    // position just before a block would otherwise extend the shared
    // gram coverage by one token and shift the expected counts
    def text(tag: String, stop: String): String =
      (seg(tag + "p", stop, 100) ++ longBlock ++
        seg(tag + "m", stop, 100) ++ shortBlock ++
        seg(tag + "z", stop, 40)).mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("graft-planted").toString
    val s2 = spark
    import s2.implicits._
    Seq((idA, text("a", "the")), (idB, text("b", "to")))
      .map { case (id, t) => (id, t, "planted", t.length.toLong, "en") }
      .toDF("doc_id", "text", "source", "n_chars", "lang")
      .repartition(1)
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    cleanTableLocation("planted_pub")
    val (acctDf, _) = graft.app.CleanPipeline
      .runFull(spark, tmp, "planted_pub", buckets = 2)
    val acct = acctDf.collect()
      .map(r => (r.getString(1), r.getLong(2))).toMap
    assert(acct.get("kept").contains(2L),
      s"both planted docs must survive the cascade: $acct")
    val pub = spark.table("planted_pub")
      .select("doc_id", "text", "n_tok", "n_kept", "n_dup_kept")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val (textA, nTokA, nKeptA, dupKeptA) = pub(idA)
    val (textB, nTokB, nKeptB, dupKeptB) = pub(idB)
    // doc A holds every first occurrence: nothing strips, nothing spared
    assert(nTokA == 320L && nKeptA == 320L && dupKeptA == 0L,
      s"doc A: $nTokA/$nKeptA/$dupKeptA")
    assert(textA.contains("blk0") && textA.contains("sh0"))
    // doc B: the 60-token block goes, the 20-token match stays — and is
    // accounted as spared-by-threshold
    assert(nTokB == 320L && nTokB - nKeptB == 60L && dupKeptB == 20L,
      s"doc B: $nTokB/$nKeptB/$dupKeptB")
    assert(!textB.contains("blk0") && !textB.contains("blk58"),
      "long duplicated block must be stripped from doc B")
    assert(textB.contains("sh0") && textB.contains("sh18"),
      "short incidental match must SURVIVE the threshold rule in doc B")
  }

  /** VERDICT r9 #5, the incremental-curate equivalence contract: for a
    * pure-append batch, base-published ∪ incrementally-appended must
    * equal a FULL recurate of the union ROW FOR ROW — same kept set
    * (exact-dup, near-dup, decontam and sample decisions replayed
    * against the persisted state), same stripped+redacted bytes (the
    * state-aware q116 first-occurrence rule), same split, and pack
    * offsets that CONTINUE the base packing. The batch plants one case
    * per corpus-global stage: a novel keeper, an exact dup of base, a
    * near-dup of base (shorter — the base keeper wins in both modes), a
    * batch-internal near-dup pair, a long copied block (stripped) plus a
    * short one (spared + accounted), and a train doc contaminated by a
    * base eval doc. Keeper-tie and retroactive-drop divergences are
    * documented in runIncremental's contract and avoided by
    * construction here. */
  test("runIncremental: append equals full recurate of the union") {
    import org.apache.spark.sql.functions.{col, expr}
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-inc").toString
    def seg(tag: String, stop: String, n: Int): Seq[String] =
      (0 until n).map(i => if (i % 4 == 3) stop else s"$tag$i")
    // ids that survive sample (bucket < 500 for en) and land in train
    def surviving(from: Long, n: Int): Seq[Long] =
      spark.range(from, from + 20000).select(col("id").as("doc_id"))
        .withColumn("b", graft.util.Buckets.mod1000("doc_id"))
        .withColumn("sb", graft.app.CleanPipeline.splitBucket)
        .filter(col("b") < 500 && col("sb") < 980)
        .orderBy(col("doc_id")).limit(n)
        .collect().map(_.getLong(0)).toSeq
    // ---- base: the sf corpus + two planted fresh-vocab kept docs ----
    val sfDocs = graft.util.Tables(spark, dir, "documents")
    val Seq(b0, b1) = surviving(5000, 2)
    val baseRows = Seq(
      (b0, seg("bsA", "the", 80).mkString(" ")),
      (b1, seg("bsB", "of", 80).mkString(" ")))
    def asDocs(rows: Seq[(Long, String)]) = rows
      .map { case (id, t) => (id, t, "planted", t.length.toLong, "en") }
      .toDF("doc_id", "text", "source", "n_chars", "lang")
    sfDocs.unionByName(asDocs(baseRows)).repartition(2)
      .write.mode("overwrite").parquet(s"$tmp/prev/documents.parquet")
    // a base EVAL doc (salted split >= 980) with >= 5 tokens, for the
    // contamination plant
    val evalDoc = sfDocs
      .withColumn("sb", graft.app.CleanPipeline.splitBucket)
      .filter(col("sb") >= 980 &&
        org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.split(col("text"), " ")) >= 5)
      .select(col("text")).head.getString(0)
    val evalGram = evalDoc.split(" ").slice(0, 5).mkString(" ")
    // ---- batch: ids strictly above every base id ----
    val Seq(n0, n1, n2, n3, n4, s0, c0) = surviving(10000, 7)
    val base0Toks = baseRows.head._2.split(" ").toSeq
    val novelA = seg("nvA", "and", 60).mkString(" ")
    val batchRows = Seq(
      // novel keepers
      (n0, novelA),
      (n1, seg("nvB", "to", 60).mkString(" ")),
      // exact dup of a base doc -> dup_existing here, 'dup' in the full
      (n2, baseRows.head._2),
      // near-dup of base b1: one token swapped for a SHORTER one -> the
      // base copy stays keeper in both modes
      (n3, baseRows(1)._2.split(" ").updated(40, "x").mkString(" ")),
      // batch-INTERNAL near-dup pair: n4 is a shorter variant of n0 ->
      // n0 is the q65 keeper in both modes
      (n4, novelA.split(" ").updated(30, "y").mkString(" ")),
      // strip plant: 40 tokens copied from base b0 (>= minStripSpan=25
      // -> stripped) + 20 copied tokens (< 25 -> spared, accounted)
      (s0, (seg("stA", "a", 32) ++ base0Toks.slice(0, 40) ++
        seg("stB", "a", 32) ++ base0Toks.slice(56, 76) ++
        seg("stC", "a", 32)).mkString(" ")),
      // contamination plant: shares one 5-gram with the base eval doc
      (c0, (seg("ctA", "the", 32) :+ evalGram).mkString(" ")))
    asDocs(batchRows).unionByName(asDocs(baseRows))
      .unionByName(sfDocs)
      .repartition(2)
      .write.mode("overwrite").parquet(s"$tmp/new/documents.parquet")
    // embeddings ride along unchanged (runIncremental only reads them
    // when a pqIndexPath is given; Tables still requires the file)
    for (side <- Seq("prev", "new"))
      spark.read.parquet(s"$dir/embeddings.parquet")
        .write.mode("overwrite").parquet(s"$tmp/$side/embeddings.parquet")
    // ---- the three runs ----
    cleanTableLocation("inc_base"); cleanTableLocation("inc_full")
    val span = 25L
    graft.app.CleanPipeline.runFull(spark, s"$tmp/prev", "inc_base",
      buckets = 4, minStripSpan = span, statePath = Some(s"$tmp/state"))
    val (acctI, _) = graft.app.CleanPipeline.runIncremental(spark,
      s"$tmp/prev", s"$tmp/new", "inc_base", s"$tmp/state",
      buckets = 4, minStripSpan = span)
    graft.app.CleanPipeline.runFull(spark, s"$tmp/new", "inc_full",
      buckets = 4, minStripSpan = span)
    // ---- row-for-row equality of the published tables ----
    val cols = Seq("doc_id", "lang", "source", "text", "n_pii", "n_tok",
      "n_kept", "n_dup_kept", "split", "start_off", "pack_id", "n_chars")
    def rowsOf(t: String) = spark.table(t).select(cols.map(col): _*)
      .collect().map(_.toString).sorted.toSeq
    assert(rowsOf("inc_base") == rowsOf("inc_full"),
      "incremental append diverges from the full recurate of the union")
    // ---- the planted decisions each landed in their stage ----
    val st = acctI.collect()
      .map(r => r.getString(1) -> r.getLong(2)).groupBy(_._1)
      .view.mapValues(_.map(_._2).sum).toMap
    assert(st.getOrElse("dup_existing", 0L) >= 1L, s"stages: $st")
    assert(st.getOrElse("neardup", 0L) >= 2L, s"stages: $st") // vs-base + in-batch
    assert(st.getOrElse("contaminated", 0L) >= 1L, s"stages: $st")
    assert(st.getOrElse("kept", 0L) >= 3L, s"stages: $st")
    // the strip plant: stripped the 40-token block, spared+accounted 20
    val srow = spark.table("inc_base").filter(col("doc_id") === s0)
      .select("n_tok", "n_kept", "n_dup_kept").head
    assert(srow.getLong(0) - srow.getLong(1) == 40L,
      s"strip plant removed ${srow.getLong(0) - srow.getLong(1)}, want 40")
    assert(srow.getLong(2) == 20L,
      s"strip plant spared ${srow.getLong(2)}, want 20")
    // pack continuation: appended en rows start at the base en token sum
    val batchIds = batchRows.map(_._1).toSet
    val enRows = spark.table("inc_base").filter(col("lang") === "en")
      .select("doc_id", "n_kept", "start_off")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val baseEnTok = enRows.filterNot(t => batchIds(t._1)).map(_._2).sum
    val firstBatch = enRows.filter(t => batchIds(t._1)).minBy(_._3)
    assert(firstBatch._3 == baseEnTok,
      s"first appended en doc starts at ${firstBatch._3}, want $baseEnTok")
  }

  /** The q118 stage knob (VERDICT r9 #4): `--lm-tail-filter` must drop
    * exactly the per-language tail tercile of the bigram-LM score — the
    * published set shrinks by precisely (kept ∩ q118-tail), the lm_tail
    * accounting stage prices it, and stage counts still partition the
    * corpus. Proven against an independent baseline run with the knob
    * off plus an independent q118 evaluation. */
  test("runFull --lm-tail-filter drops exactly the q118 tail tercile") {
    import org.apache.spark.sql.functions.col
    cleanTableLocation("curate_lm_base")
    cleanTableLocation("curate_lm")
    val (baseAcct, _) = graft.app.CleanPipeline
      .runFull(spark, dir, "curate_lm_base", buckets = 4)
    val (acctDf, _) = graft.app.CleanPipeline
      .runFull(spark, dir, "curate_lm", buckets = 4, lmTailFilter = true)
    val docs = graft.util.Tables(spark, dir, "documents")
    val tails = graft.operators.TextOps.lmTailDrops(docs)
      .collect().map(_.getLong(0)).toSet
    assert(tails.nonEmpty)
    val baseIds = spark.table("curate_lm_base").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val gotIds = spark.table("curate_lm").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(gotIds == baseIds -- tails,
      s"published set must be baseline minus the q118 tail " +
        s"(missing ${(baseIds -- tails -- gotIds).take(5)}, " +
        s"extra ${(gotIds -- (baseIds -- tails)).take(5)})")
    // the stage accounting prices the drop and still partitions
    val acct = acctDf.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val nTailStage = acct.collect { case ((_, "lm_tail"), n) => n }.sum
    assert(nTailStage == (baseIds & tails).size.toLong,
      s"lm_tail stage counts $nTailStage vs ${(baseIds & tails).size}")
    assert(acct.values.sum == docs.count(),
      "stage counts must still partition the corpus with the knob on")
    // the baseline run has no lm_tail stage at all
    assert(!baseAcct.collect().map(_.getString(1)).contains("lm_tail"))
  }

  /** The q119 stage knob (r11): `--gopher-rules <subset>` must drop
    * exactly the docs failing any NAMED rule — published set shrinks by
    * precisely (kept ∩ gopherDrops), the gopher_fail stage prices it,
    * stage counts still partition the corpus, and an unknown rule name
    * fails fast. Rule choice: fail_word_count + fail_top4 fire on a
    * strict subset of sf0.001 docs (44% / ~12%), so the spec
    * discriminates; fail_stopwords would drop everything here (the
    * synthetic vocabulary holds only 'the' of the 8-word list). */
  test("runFull --gopher-rules drops exactly the named-rule failures") {
    import org.apache.spark.sql.functions.col
    val rules = Seq("fail_word_count", "fail_top4")
    cleanTableLocation("curate_gopher_base")
    cleanTableLocation("curate_gopher")
    val (baseAcct, _) = graft.app.CleanPipeline
      .runFull(spark, dir, "curate_gopher_base", buckets = 4)
    val (acctDf, _) = graft.app.CleanPipeline
      .runFull(spark, dir, "curate_gopher", buckets = 4,
        gopherRules = rules)
    val docs = graft.util.Tables(spark, dir, "documents")
    val fails = graft.operators.TextOps.gopherDrops(docs, rules)
      .collect().map(_.getLong(0)).toSet
    assert(fails.nonEmpty && fails.size < docs.count(),
      s"spec rules must fire on a strict subset (got ${fails.size})")
    val baseIds = spark.table("curate_gopher_base").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val gotIds = spark.table("curate_gopher").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(gotIds == baseIds -- fails,
      s"published set must be baseline minus the gopher failures " +
        s"(missing ${(baseIds -- fails -- gotIds).take(5)}, " +
        s"extra ${(gotIds -- (baseIds -- fails)).take(5)})")
    val acct = acctDf.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val nStage = acct.collect { case ((_, "gopher_fail"), n) => n }.sum
    assert(nStage == (baseIds & fails).size.toLong,
      s"gopher_fail stage counts $nStage vs ${(baseIds & fails).size}")
    assert(acct.values.sum == docs.count(),
      "stage counts must still partition the corpus with the knob on")
    assert(!baseAcct.collect().map(_.getString(1)).contains("gopher_fail"))
    // unknown rule names fail fast, not silently no-op
    val e = intercept[IllegalArgumentException] {
      graft.operators.TextOps.gopherDrops(docs, Seq("fail_nope"))
    }
    assert(e.getMessage.contains("fail_nope"))
  }

  test("per-language read prunes partitions at the source") {
    publishOnce()
    val p = plan(spark.table("docs_pub").filter("lang = 'en'"))
    assert(p.contains("PartitionFilters") && p.contains("lang"),
      s"no partition pruning visible:\n$p")
    // the pruned scan must not carry a post-scan lang filter on data rows
    assert(!p.contains("PushedFilters: [IsNotNull(lang)"), p)
  }

  /** Dynamic partition pruning: when the partition column arrives
    * through a JOIN instead of a literal filter, the fact scan must be
    * pruned at RUNTIME from the broadcast dim side — the 100 TB
    * mechanism for "join the corpus to this quarter's language list"
    * queries, where a static filter doesn't exist at plan time. The
    * scan's PartitionFilters must carry a dynamicpruning expression and
    * the result must match the statically-pruned equivalent. */
  test("dim-side filter dynamically prunes fact partitions through a join") {
    publishOnce()
    import spark.implicits._
    val c = spark.conf
    val keys = Seq(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats",
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio")
    val saved = keys.map(k => k -> c.get(k))
    try {
      // the cost gate compares estimated pruned bytes against the DPP
      // subquery overhead — a kilobyte-sized fixture never clears it, so
      // raise the assumed filter ratio to prove the PLAN SHAPE engages;
      // at production scale the real stats clear the default gate
      c.set(keys(0), "false")
      c.set(keys(1), "10000")
      // the dim must be a real source: a LocalRelation's filter is
      // constant-folded away at plan time, leaving no selective
      // predicate for the pruning rule to find
      val dimDir = java.nio.file.Files.createTempDirectory("dpp_dim").toString
      Seq(("en", 1L), ("de", 2L), ("fr", 3L), ("es", 4L), ("ja", 5L))
        .toDF("lang", "grp").write.mode("overwrite").parquet(dimDir)
      val dim = spark.read.parquet(dimDir)
      val q = spark.table("docs_pub")
        .join(dim.filter($"grp" === 1L), "lang")
        .groupBy($"lang").count()
      val p = plan(q).toLowerCase
      assert(p.contains("dynamicpruning"),
        s"no runtime partition pruning in the plan:\n${plan(q).take(1500)}")
      val rows = q.collect()
      val want = spark.table("docs_pub").filter($"lang" === "en").count()
      assert(rows.length == 1 && rows(0).getString(0) == "en" &&
        rows(0).getLong(1) == want)
    } finally saved.foreach { case (k, v) => c.set(k, v) }
  }
}
