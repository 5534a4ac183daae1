package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextOps

/** Internal-consistency checks for the text-analysis operators the
  * per-query oracles can't express (relationships across columns/queries). */
class TextOpsSpec extends AnyFunSuite {

  lazy val spark = SparkTest.session
  private val dir = "/root/testdata/sf0.001"

  test("q61: three ranked terms per doc, scores consistent and descending") {
    val rows = TextOps.q61Tfidf(spark, dir).collect()
    val byDoc = rows.groupBy(_.getLong(0))
    assert(byDoc.nonEmpty)
    byDoc.foreach { case (doc, rs) =>
      assert(rs.map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L, 3L), s"doc $doc")
      // ranking is by (score desc, tok asc); score recomputes from tf, df
      val sorted = rs.sortBy(_.getLong(1))
      sorted.sliding(2).foreach { case Array(a, b) =>
        val better = a.getDouble(5) > b.getDouble(5) ||
          (a.getDouble(5) == b.getDouble(5) &&
            a.getString(2) < b.getString(2))
        assert(better, s"doc $doc rank order broken")
      }
    }
  }

  test("q63: median df sits inside [min_df, max_df]; token counts match") {
    import org.apache.spark.sql.functions._
    val rows = TextOps.q63Rarity(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) >= r.getLong(3) && r.getLong(2) <= r.getLong(4),
        s"doc ${r.getLong(0)}: med outside [min, max]")
    }
    val nTok = graft.util.Tables(spark, dir, "documents")
      .filter(col("doc_id") < 100)
      .select(col("doc_id"), size(split(lower(col("text")), " ")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach(r => assert(r.getLong(1) == nTok(r.getLong(0)),
      s"doc ${r.getLong(0)} token count"))
  }

  /** The synthetic corpus contains no PII (q68's oracle check is all
    * zeros there) — this is where the detection/redaction semantics are
    * actually exercised, on planted emails / IPv4s / phone numbers. */
  test("q68 detects and redacts planted emails, IPs and phone numbers") {
    import spark.implicits._
    val rows = Seq(
      (1L, "contact alice@example.com or bob.smith+x@mail.co today", "s1"),
      (2L, "server 10.0.255.3 and 192.168.1.1 rebooted", "s1"),
      (3L, "call +1 555 123-4567 now", "s2"),
      (4L, "nothing sensitive here at all", "s2"))
    val out = TextOps.piiOf(rows.toDF("doc_id", "text", "source")).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5)))).toMap
    val (e1, i1, p1, red1) = out("s1")
    assert(e1 == 2 && i1 == 2 && p1 == 0, out("s1").toString)
    // redacted chars = the exact matched spans' lengths
    assert(red1 == "alice@example.com".length + "bob.smith+x@mail.co".length +
      "10.0.255.3".length + "192.168.1.1".length)
    val (e2, i2, p2, red2) = out("s2")
    assert(e2 == 0 && i2 == 0 && p2 == 1, out("s2").toString)
    assert(red2 == "+1 555 123-4567".length)
  }

  /** q114 (VERDICT r8 #2): the ACTIVE rewrite — planted PII must come
    * back with the class tokens substituted, counts per class taken on
    * the stage each class saw, and md5s that verify the transform. The
    * chain order is load-bearing: an IP reachable only because the email
    * stage did NOT consume it (non-TLD domain) is redacted by the IP
    * stage. */
  test("q114 rewrites planted PII to class tokens with exact counts and md5s") {
    import spark.implicits._
    val rows = Seq(
      (1L, "contact alice@example.com or bob.smith+x@mail.co today"),
      (2L, "server 10.0.255.3 and 192.168.1.1 rebooted"),
      (3L, "call +1 555 123-4567 now"),
      (4L, "nothing sensitive here at all"),
      (5L, "mail me at bob@10.0.0.1 thanks"),
      (6L, "reach +44 20 7946 0958 or sue@x.org ok"))
    val out = TextOps.piiRewriteOf(rows.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(r.fieldIndex("doc_id")) ->
        ((r.getString(r.fieldIndex("redacted")),
          r.getLong(r.fieldIndex("n_emails")),
          r.getLong(r.fieldIndex("n_ipv4")),
          r.getLong(r.fieldIndex("n_phones")),
          r.getBoolean(r.fieldIndex("changed"))))).toMap
    assert(out(1L) == (("contact <EMAIL> or <EMAIL> today", 2L, 0L, 0L, true)))
    assert(out(2L) == (("server <IP> and <IP> rebooted", 0L, 2L, 0L, true)))
    assert(out(3L) == (("call <PHONE> now", 0L, 0L, 1L, true)))
    assert(out(4L) == (("nothing sensitive here at all", 0L, 0L, 0L, false)))
    // "bob@10.0.0.1" is NOT an email (no alphabetic TLD) — the IP stage
    // gets it, proof the counts track the chained text states
    assert(out(5L) == (("mail me at bob@<IP> thanks", 0L, 1L, 0L, true)))
    assert(out(6L) == (("reach <PHONE> or <EMAIL> ok", 1L, 0L, 1L, true)))
    // md5 pair: unchanged doc keeps orig == redacted; changed docs differ
    val md5s = TextOps.piiRewriteOf(rows.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> ((r.getString(r.fieldIndex("orig_md5")),
        r.getString(r.fieldIndex("redacted_md5"))))).toMap
    assert(md5s(4L)._1 == md5s(4L)._2)
    assert(md5s(1L)._1 != md5s(1L)._2)
    def m(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    assert(md5s(3L)._2 == m("call <PHONE> now"))
  }

  test("q69 fractions are consistent per language") {
    val rows = TextOps.q69CharClass(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      Seq(2, 3, 4).foreach { i =>
        assert(r.getDouble(i) >= 0.0 && r.getDouble(i) <= 1.0)
      }
      // alpha + space can't exceed 1 (beyond davg's 1e-4 rounding grain)
      assert(r.getDouble(2) + r.getDouble(3) <= 1.0 + 1e-4)
    }
  }

  test("q70 chunk-count boundary arithmetic") {
    // tok <= 32 -> 1 chunk; each further 24-token stride adds one
    def nChunks(tok: Long): Long =
      1 + math.max(0L, tok - TextOps.ChunkLen + TextOps.ChunkStride - 1) /
        TextOps.ChunkStride
    assert(nChunks(1) == 1 && nChunks(32) == 1)
    assert(nChunks(33) == 2 && nChunks(56) == 2)
    assert(nChunks(57) == 3)
    // the real corpus must exercise the multi-chunk arm
    val rows = TextOps.q70Chunking(spark, dir).collect()
    assert(rows.map(_.getLong(4)).max >= 2, "no multi-chunk docs in corpus")
    rows.foreach { r =>
      assert(r.getLong(3) >= r.getLong(1)) // total_chunks >= n_docs
      assert(r.getDouble(5) > 0.0 && r.getDouble(5) <= 1.0)
    }
  }

  /** Degenerate documents — empty, blank, sub-shingle-width — must flow
    * through the staging cascade without crashing and classify
    * deterministically. This test originally CAUGHT a real crash: the
    * quality score divides by length(text), and under ANSI mode (the
    * Spark 4 default) an empty document threw DIVIDE_BY_ZERO through
    * q31/q54/q69 — all three now guard empty text as
    * quality/fraction 0 (junk by definition, dropped at the quality
    * stage instead of killing the job). */
  test("stagedDocs survives empty and sub-width documents") {
    import spark.implicits._
    val rows = Seq(
      (1L, "", "en", "s0", 0L),
      (2L, " ", "en", "s0", 1L),
      (3L, "a", "en", "s0", 1L),
      (4L, "a b", "en", "s0", 3L),
      (5L, "the a of and to the a of and to . . .", "en", "s0", 37L))
    val staged = TextOps.stagedDocs(
        rows.toDF("doc_id", "text", "lang", "source", "n_chars"))
      .select("doc_id", "stage").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(staged.size == 5)
    val valid = Set("dup", "repetition", "quality", "sample", "kept")
    staged.foreach { case (id, st) =>
      assert(valid.contains(st), s"doc $id -> $st")
    }
    // and twice in a row gives the same answer (determinism, incl. NaN paths)
    val again = TextOps.stagedDocs(
        rows.toDF("doc_id", "text", "lang", "source", "n_chars"))
      .select("doc_id", "stage").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again == staged)
  }

  /** q58 (cross-doc packing) and q70 (per-doc chunking) share one
    * tokenization — their per-language token totals must agree. */
  test("q58 and q70 agree on total tokens per language") {
    val packed = TextOps.q58SequencePacking(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val chunked = TextOps.q70Chunking(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(packed.nonEmpty && packed.keySet == chunked.keySet)
    packed.foreach { case (lang, tok) =>
      assert(chunked(lang) == tok, s"lang $lang: $tok vs ${chunked(lang)}")
    }
  }

  /** VERDICT r3 top item: packing parallelism must not cap at the
    * language count. The distributed prefix sum must (a) reproduce the
    * naive single-window running sum EXACTLY and (b) hash-partition the
    * heavy window on (lang, rbucket) — >1 task per language on a
    * single-language corpus. */
  test("q58 prefix sum matches the single window; >1 task per language") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // ONE language, skewed token counts, ids with gaps
    val d = (0L until 1000L).map(i => ("en", i * 3, i % 37 + 1))
      .toDF("lang", "doc_id", "tok")
    val got = TextOps.packAssignments(d, buckets = 8)
      .select("doc_id", "start_off", "pack_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val w = Window.partitionBy($"lang").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val want = d
      .withColumn("start_off", coalesce(sum($"tok").over(w), lit(0L)))
      .withColumn("pack_id", floor($"start_off" / 8192L))
      .select("doc_id", "start_off", "pack_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(got.sameElements(want))
    // the within-bucket window exchanges on (lang, rbucket): the single
    // language splits into 8 range buckets instead of one mega-task
    val plan = TextOps.packAssignments(d, buckets = 8)
      .queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*hashpartitioning\\([^)]*rbucket.*"), plan)
  }

  /** q76 invariants the oracle can't see: shares form a distribution,
    * the integer allocation never overspends the budget, and weights are
    * monotone in corpus size (temperature 0.5 flattens but never
    * reorders). */
  test("q76 mixture: shares sum to 1, allocation within budget, monotone") {
    val rows = TextOps.q76MixtureWeights(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4)))
    assert(rows.length > 1)
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-9)
    assert(rows.map(_._5).sum <= TextOps.MixtureTokenBudget)
    // floor leaves less than |sources| tokens unallocated
    assert(rows.map(_._5).sum > TextOps.MixtureTokenBudget - rows.length)
    rows.sortBy(_._2).sliding(2).foreach { w =>
      assert(w(1)._3 >= w(0)._3, s"weights reordered: $w")
    }
  }

  /** q78 with planted template text: three docs sharing a boilerplate
    * sentence, one unique doc — the shared segment (and only it) counts
    * as boilerplate in each carrier. */
  test("q78 counts planted cross-doc boilerplate segments") {
    import spark.implicits._
    val boiler = "Subscribe to our newsletter"
    val d = Seq(
      (1L, "en", s"$boiler. alpha beta gamma"),
      (2L, "en", s"$boiler. delta epsilon"),
      (3L, "en", s"zeta eta. $boiler. "),
      (4L, "de", "unique content only here"))
      .toDF("doc_id", "lang", "text")
    val out = TextOps.boilerplateOf(d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toMap
    // en: doc1 has 2 segs (1 boiler), doc2 has 2 (1), doc3 has 2 (1)
    assert(out("en") == ((3L, 6L, 3L,
      out("en")._4)) && math.abs(out("en")._4 - 0.5) < 1e-4, out)
    // de: one doc, one unique segment, zero boilerplate
    assert(out("de") == ((1L, 1L, 0L, 0.0)), out)
    // and the real operator over testdata returns sane fractions
    val real = TextOps.q78Boilerplate(spark, dir).collect()
    assert(real.nonEmpty)
    real.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2)) // boiler_segs <= total_segs
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0 + 1e-4)
    }
  }

  test("typed Dataset surface round-trips the corpus tables") {
    val docs = graft.model.Corpus.documents(spark, dir)
    val d = docs.head()
    assert(d.n_chars == d.text.length, "n_chars disagrees with text")
    assert(docs.filter((x: graft.model.Document) => x.lang == "en").count() > 0)
    val emb = graft.model.Corpus.embeddings(spark, dir).head()
    assert(emb.embedding.length == 64)
  }

  /** q81's contract: the bounded-memory Misra-Gries candidate pass may
    * keep or evict anything it likes, but the verified OUTPUT must be
    * exactly the tokens with count·k > n — pinned with planted
    * frequencies straddling the threshold and adversarial partitioning
    * (many distinct filler tokens force constant MG counter eviction). */
  test("q81: exact threshold set survives MG eviction pressure") {
    import spark.implicits._
    import graft.operators.TextOps
    // n = 40000 fillers + 250 hot + 150 warm; threshold n/200 = 202.0 —
    // hot (250) is in, warm (150) and every filler (1) are out
    val filler = (0 until 40000).map(i => s"f$i")
    val words = filler ++ Seq.fill(250)("hot") ++ Seq.fill(150)("warm")
    // one word per doc, shuffled deterministically and spread over many
    // small partitions: each partition's MG map overflows repeatedly
    val docs = new scala.util.Random(7).shuffle(words).zipWithIndex
      .map { case (w, i) => (i.toLong, w) }
    val df = docs.toDF("doc_id", "text").repartition(16)
    val out = TextOps.heavyHittersOf(df).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(out == Map("hot" -> 250L), s"got $out")
    // threshold is strict (> n/k): exactly n/k must NOT qualify
    // (n = 40000, k = 200 → edge at exactly 200 occurrences)
    val words2 = (0 until 39800).map(i => s"f$i") ++ Seq.fill(200)("edge")
    val df2 = words2.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text").repartition(8)
    assert(TextOps.heavyHittersOf(df2).collect().isEmpty)
    // degenerate input: an EMPTY corpus yields an empty result, no crash
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(TextOps.heavyHittersOf(empty).collect().isEmpty)
  }

  /** q86: the introducer is the MINIMUM doc_id per 3-gram, so a verbatim
    * duplicate scores novelty 0, the original keeps 1, and a doc too
    * short to shingle contributes 0 without dividing by zero. */
  test("q86 planted: duplicates score zero novelty, originals keep it") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("novelty").toString
    Seq(
      (0L, "one two three four", "en", "s1", 18L), // introduces its 2 shingles
      (1L, "one two three four", "en", "s1", 18L), // verbatim dup → 0
      (2L, "five six seven eight", "en", "s2", 20L), // all novel → 1
      (3L, "hi", "en", "s2", 2L)) // <3 tokens: no shingles, frac 0
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.q86NoveltyAttribution(spark, tmp).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got("s1") == ((2L, 4L, 2L, 0.5)), got) // davg(1.0, 0.0)
    assert(got("s2") == ((2L, 2L, 2L, 0.5)), got) // davg(1.0, 0.0-no-shingle)
  }

  /** q98: priority sampling checked against a driver-side reference run
    * of the SAME arithmetic (48-bit md5 uniform, one IEEE division for
    * the rank key, τ from the (k+1)-th priority, floor-scaled estimator)
    * — the distributed WindowGroupLimit + broadcast joins must land on
    * exactly those longs. A stratum with ≤ k docs takes the τ-less path:
    * everything sampled, estimate EXACTLY the total. */
  test("q98 planted: sample and estimator match the driver reference") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("wsample").toString
    // "aa": 30 docs, token counts 1..30 (doc i has i+1 tokens) → τ path;
    // "bb": 3 docs → exact path
    val aa = (0 until 30).map { i =>
      (i.toLong, Seq.fill(i + 1)("w").mkString(" "), "aa", "s1", 10L)
    }
    val bb = (100 until 103).map { i =>
      (i.toLong, Seq.fill(7)("x").mkString(" "), "bb", "s1", 10L)
    }
    (aa ++ bb).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")

    // driver reference (same ops, same order)
    def h1Of(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.take(12), 16) + 1L
    }
    def tokOf(text: String): Long = text.trim.split("\\s+").length.toLong
    val k = TextOps.WeightedK
    val docsRef = (aa ++ bb).map { case (id, text, lang, _, _) =>
      (lang, id, tokOf(text), h1Of(id))
    }
    val want = docsRef.groupBy(_._1).flatMap { case (lang, ds) =>
      val ranked = ds.sortBy { case (_, id, tok, h1) =>
        (h1.toDouble / tok.toDouble, id)
      }
      val tau = ranked.drop(k).headOption
        .map { case (_, _, tok, h1) => tok.toDouble * 281474976710656.0 / h1.toDouble }
      ranked.take(k).zipWithIndex.map { case ((_, id, tok, _), i) =>
        val estW = tau.fold(tok.toDouble)(t => math.max(tok.toDouble, t))
        (lang, (i + 1).toLong, id, tok, math.floor(estW * 1000000.0).toLong)
      }
    }.toSet

    val got = TextOps.q98WeightedSample(spark, tmp).collect()
    val gotSet = got.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSet
    assert(gotSet == want,
      s"sample mismatch:\n extra=${gotSet -- want}\n missing=${want -- gotSet}")
    // τ-less stratum: estimate is EXACTLY the total, err_frac exactly 0
    val bbRows = got.filter(_.getString(0) == "bb")
    assert(bbRows.length == 3)
    bbRows.foreach { r =>
      assert(r.getLong(7) == r.getLong(6) * 1000000L,
        s"bb est_total6 ${r.getLong(7)} != total*1e6 ${r.getLong(6) * 1000000L}")
      assert(r.getDouble(8) == 0.0)
    }
    // τ stratum: per-lang constants consistent, estimator floors at τ ⇒
    // every est_w6 ≥ the true weight's scaling
    val aaRows = got.filter(_.getString(0) == "aa")
    assert(aaRows.length == k)
    assert(aaRows.map(_.getLong(6)).distinct.sameElements(Array(465L))) // Σ 1..30
    aaRows.foreach(r => assert(r.getLong(4) >= r.getLong(3) * 1000000L))
  }

  /** q98 property: seeded-random corpora (varying strata sizes straddling
    * k, skewed weight distributions) must match the driver reference on
    * the full output — sample membership, ranks, estimator values and
    * totals — for every stratum shape. */
  test("q98 property: random corpora match the driver reference") {
    import spark.implicits._
    def h1Of(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.take(12), 16) + 1L
    }
    val k = TextOps.WeightedK
    val rnd = new scala.util.Random(4204L)
    for (trial <- 1 to 3) {
      // strata deliberately straddle k: below, at, just above, far above
      val sizes = Seq("sm" -> (1 + rnd.nextInt(k - 1)), "eq" -> k,
        "ju" -> (k + 1 + rnd.nextInt(3)), "bg" -> (2 * k + rnd.nextInt(40)))
      var next = trial * 100000L
      val docs = sizes.flatMap { case (lang, n) =>
        (1 to n).map { _ =>
          next += 1
          // skewed weights: mostly short docs, occasional heavy ones
          val tok = if (rnd.nextInt(5) == 0) 200 + rnd.nextInt(800)
            else 1 + rnd.nextInt(30)
          (next, Seq.fill(tok)("w").mkString(" "), lang, "s1", 10L)
        }
      }
      val want = docs.groupBy(_._3).flatMap { case (lang, ds) =>
        val withKeys = ds.map(d => (d._1, d._2.trim.split("\\s+").length.toLong))
          .map { case (id, tok) => (id, tok, h1Of(id)) }
        val ranked = withKeys.sortBy { case (id, tok, h1) =>
          (h1.toDouble / tok.toDouble, id)
        }
        val tau = ranked.drop(k).headOption
          .map { case (_, tok, h1) => tok.toDouble * 281474976710656.0 / h1.toDouble }
        val nDocs = ds.length.toLong
        val total = withKeys.map(_._2).sum
        val sel = ranked.take(k).zipWithIndex.map { case ((id, tok, _), i) =>
          val estW = tau.fold(tok.toDouble)(t => math.max(tok.toDouble, t))
          (lang, (i + 1).toLong, id, tok, math.floor(estW * 1000000.0).toLong)
        }
        val estTotal = sel.map(_._5).sum
        val err = math.abs(estTotal - total * 1000000L).toDouble /
          (total * 1000000L).toDouble
        sel.map { case (l, rk, id, tok, e6) =>
          (l, rk, id, tok, e6, nDocs, total, estTotal, err)
        }
      }.toSet
      val tmp = java.nio.file.Files.createTempDirectory(s"q98prop$trial").toString
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val got = TextOps.q98WeightedSample(spark, tmp).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
          r.getDouble(8))).toSet
      assert(got == want, s"trial $trial:\n extra=${got -- want}\n missing=${want -- got}")
    }
  }

  private def dsirHex8(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.take(8), 16)
  }
  private def dsirDbOf(id: Long): Long = dsirHex8(id.toString) % 1000L

  /** Driver reference for q102: same tokenization, same md5 buckets,
    * same BigInt add-half ratio arithmetic, same top-k tie-break. */
  private def dsirRef(docs: Seq[(Long, String, String)]): Set[(String, Long, Long, Long, Long)] = {
    val K = TextOps.DsirBuckets
    def fbOf(tok: String): Long = dsirHex8(tok) % K
    val tokRows = docs.flatMap { case (id, lang, text) =>
      text.toLowerCase.split(" ", -1).map(t => (id, lang, dsirDbOf(id), fbOf(t)))
    }
    val cells = tokRows.groupBy(_._4).map { case (fb, rs) =>
      fb -> ((rs.count(_._3 < 100).toLong, rs.count(_._3 >= 100).toLong))
    }
    val tt = cells.values.map(_._1).sum
    val ts = cells.values.map(_._2).sum
    def ratio(ct: Long, cs: Long): Long =
      ((BigInt(TextOps.DsirScale) * (2 * BigInt(ct) + 1) * (2 * BigInt(ts) + K)) /
        ((2 * BigInt(cs) + 1) * (2 * BigInt(tt) + K))).toLong
    tokRows.filter(_._3 >= 100).groupBy(r => (r._1, r._2))
      .map { case ((id, lang), rs) =>
        val score = rs.map(r => ratio(cells(r._4)._1, cells(r._4)._2)).sum
        (lang, id, rs.size.toLong, score)
      }.toSeq.groupBy(_._1).flatMap { case (lang, ds) =>
        ds.sortBy(d => (-d._4, d._2)).take(TextOps.DsirK).zipWithIndex
          .map { case ((l, id, n, sc), i) => (l, (i + 1).toLong, id, n, sc) }
      }.toSet
  }

  /** q102: the distributed hashed-ratio scoring must land on EXACTLY the
    * longs a driver-side run of the same integer arithmetic produces
    * (md5 buckets, BigInt add-half ratios, per-doc sums, top-k ties by
    * doc_id), and the target-like train doc must outrank the off-target
    * ones — the selection signal the operator exists for. */
  test("q102 planted: scores match the driver reference, target-like doc wins") {
    import spark.implicits._
    val ids = (0L until 400L)
    val evalIds = ids.filter(dsirDbOf(_) < 100).take(2)
    val trainIds = ids.filter(dsirDbOf(_) >= 100).take(8)
    val target = "alpha beta gamma delta epsilon"
    val off = "uno dos tres cuatro cinco"
    val docs = evalIds.map(id => (id, "en", target + " zeta eta")) ++
      Seq((trainIds(0), "en", off + " seis"),
        (trainIds(1), "en", target + " theta"), // target-like → must win
        (trainIds(2), "en", off + " siete ocho"),
        (trainIds(3), "es", off),
        (trainIds(4), "es", target)) // target-like in es
    val df = docs.toDF("doc_id", "lang", "text")
    val want = dsirRef(docs)
    val got = TextOps.dsirOf(df).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got == want, s"extra=${got -- want}\n missing=${want -- got}")
    // the selection signal: target-like docs rank first in both langs
    val top = got.filter(_._2 == 1L).map(t => t._1 -> t._3).toMap
    assert(top("en") == trainIds(1) && top("es") == trainIds(4), top)
  }

  /** q102 property: seeded random corpora (zipfy vocab, random langs,
    * strata straddling DsirK) must match the driver reference on the
    * full output every trial. */
  test("q102 property: random corpora match the driver reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(4711L)
    for (trial <- 1 to 3) {
      val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
        "eta", "theta", "iota", "kappa", "rare1", "rare2")
      val docs = (0 until 80).map { i =>
        val n = 3 + rnd.nextInt(12)
        // zipfy: low indices much likelier
        val toks = Seq.fill(n)(vocab(
          math.min(rnd.nextInt(vocab.size), rnd.nextInt(vocab.size))))
        (trial * 10000L + i, if (rnd.nextBoolean()) "en" else "es",
          toks.mkString(" "))
      }
      val got = TextOps.dsirOf(docs.toDF("doc_id", "lang", "text"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
      assert(got == dsirRef(docs), s"trial $trial")
    }
  }

  /** q102 with NO eval split (tt = 0): the smoothed formula stays
    * defined, every train doc still scores, output is deterministic —
    * the degenerate-input rule. */
  test("q102 with an empty target split still ranks deterministically") {
    import spark.implicits._
    def dbOf(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.take(8), 16) % 1000L
    }
    val trainIds = (0L until 400L).filter(dbOf(_) >= 100).take(3)
    val df = trainIds.map(id => (id, "en", s"w$id common words here"))
      .toDF("doc_id", "lang", "text")
    val a = TextOps.dsirOf(df).collect().map(_.toString).toSeq
    val b = TextOps.dsirOf(df).collect().map(_.toString).toSeq
    assert(a.nonEmpty && a.size == 3 && a == b)
  }

  /** q98 on the real corpus: weighted selection must skew the sample
    * toward long documents — the sampled mean token count exceeds the
    * stratum mean in every language (deterministic given the data). */
  test("q98: sample is length-biased and the estimator lands near truth") {
    val got = TextOps.q98WeightedSample(spark, dir).collect()
    assert(got.nonEmpty)
    val byLang = got.groupBy(_.getString(0))
    byLang.foreach { case (lang, rows) =>
      val sampleMean = rows.map(_.getLong(3)).sum.toDouble / rows.length
      val stratumMean =
        rows.head.getLong(6).toDouble / rows.head.getLong(5).toDouble
      assert(sampleMean > stratumMean,
        s"$lang: weighted sample mean $sampleMean ≤ stratum mean $stratumMean")
      assert(rows.head.getDouble(8) < 0.5,
        s"$lang: estimator err_frac ${rows.head.getDouble(8)} ≥ 0.5")
    }
  }

  /** q87: support floor respected, ranking total and recomputable. */
  test("q87: lift ranking is total, descending, above min support") {
    val rows = TextOps.q87Collocations(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= 50)
    rows.foreach(r => assert(r.getLong(2) >= TextOps.CollocMinSupport))
    rows.sliding(2).foreach { case Array(a, b) =>
      val ok = a.getDouble(5) > b.getDouble(5) ||
        (a.getDouble(5) == b.getDouble(5) &&
          (a.getString(0) < b.getString(0) ||
            (a.getString(0) == b.getString(0) &&
              a.getString(1) < b.getString(1))))
      assert(ok, s"rank order broken between $a and $b")
    case _ => ()
    }
  }

  /** q88: a planted 5-spoke star graph, checked against a 12-line
    * driver-side reference run of the SAME integer diffusion — the
    * distributed joins must land on exactly those longs. */
  test("q88 planted star: ranks match the integer reference bit-for-bit") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("textrank").toString
    val spokes = (1 to 5).map(i => s"spoke$i")
    spokes.zipWithIndex.map { case (sp, i) =>
      (i.toLong, s"hub $sp", "en", "s1", 10L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // reference: undirected star, w=1 per edge; W(hub)=5, W(spoke)=1
    var hub = 1000000L
    var spoke = 1000000L // all spokes symmetric
    for (_ <- 1 to TextOps.TextRankIters) {
      val h2 = 150000L + 5L * (spoke * 85L * 1L / (100L * 1L))
      val s2_ = 150000L + hub * 85L * 1L / (100L * 5L)
      hub = h2; spoke = s2_
    }
    val got = TextOps.q88TextRank(spark, tmp).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("hub") == hub, s"hub: got ${got("hub")} want $hub")
    spokes.foreach(sp =>
      assert(got(sp) == spoke, s"$sp: got ${got(sp)} want $spoke"))
  }

  /** q91: a perfectly balanced corpus has O = E in every cell, so every
    * χ² contribution must be EXACTLY 0.0 (the subtraction is exact);
    * skewing one cell makes its row and its marginals' zero cells
    * positive. Grid must include absent (source, lang) combinations. */
  test("q91 planted: balanced corpus scores exactly zero everywhere") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("chi2").toString
    val rows = for {
      (src, base) <- Seq(("s1", 0L), ("s2", 100L))
      (lng, off) <- Seq(("en", 0L), ("de", 10L))
      k <- 0L until 3L
    } yield (base + off + k, s"doc $k", lng, src, 5L)
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.q91BalanceChi2(spark, tmp).collect()
    assert(got.length == 4)
    got.foreach { r =>
      assert(r.getLong(2) == 3L && r.getDouble(5) == 3.0 &&
        r.getDouble(6) == 0.0, r.toString)
    }
    // drop one lang from one source: the grid still carries the zero
    // cell, and its contribution is its full expected count
    val rows2 = rows.filterNot(r => r._3 == "de" && r._4 == "s2")
    rows2.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val g2 = TextOps.q91BalanceChi2(spark, tmp).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(6)))).toMap
    assert(g2.size == 4 && g2(("s2", "de"))._1 == 0L)
    assert(g2(("s2", "de"))._2 > 0.0 && g2(("s1", "en"))._2 > 0.0)
  }

  /** q93: structural cases the saturated synthetic graph can't show — a
    * pure path has wedges but ZERO triangles; a triangle with a pendant
    * edge has exactly one triangle and clustering 3/5. */
  test("q93 planted: path graph counts zero triangles; pendant triangle 3/5") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("tri").toString
    def write(texts: Seq[String]): Unit =
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s1", 5L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // path a-b-c-d: 4 nodes, 3 edges, wedges at b and c = 2, 0 triangles
    write(Seq("pa pb pc pd"))
    val path = TextOps.q93TriangleCensus(spark, tmp).collect()(0)
    assert((path.getLong(0), path.getLong(1), path.getLong(2),
      path.getLong(3), path.getDouble(4)) == ((4L, 3L, 2L, 0L, 0.0)), path)
    // triangle x-y-z (closed via two docs) plus pendant z-w:
    // degrees x=2 y=2 z=3 w=1; wedges 1+1+3+0 = 5; one triangle; 3/5
    write(Seq("x y z x", "z w"))
    val t = TextOps.q93TriangleCensus(spark, tmp).collect()(0)
    assert((t.getLong(0), t.getLong(1), t.getLong(2), t.getLong(3)) ==
      ((4L, 4L, 5L, 1L)), t)
    assert(t.getDouble(4) == 0.6, t)
    // a single-doc corpus with no repeated-token pairs beyond self-loops
    // ("q q") has no edges at all — zero everything, no ANSI 0/0
    write(Seq("q q"))
    val z = TextOps.q93TriangleCensus(spark, tmp).collect()(0)
    assert((z.getLong(0), z.getLong(1), z.getLong(2), z.getLong(3),
      z.getDouble(4)) == ((0L, 0L, 0L, 0L, 0.0)), z)
  }

  test("q64: posting length equals df and ids are sorted ascending") {
    val rows = TextOps.q64InvertedIndex(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ids = r.getString(2).split(",").map(_.toLong).toSeq
      assert(ids.length == r.getLong(1), s"shingle '${r.getString(0)}'")
      assert(ids == ids.sorted, s"shingle '${r.getString(0)}' unsorted")
      assert(ids.distinct == ids, s"shingle '${r.getString(0)}' dup ids")
    }
  }

  // ------------------------------------------------------------- q100
  private def bpeCorpus(texts: Seq[String]): String = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("bpe").toString
    texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "s1", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  private def runBpe(texts: Seq[String]): Seq[(Long, String, String, String, Long)] =
    TextOps.q100BpeMerges(spark, bpeCorpus(texts)).collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))

  /** Driver reference: classic word-vocab BPE with greedy left-to-right
    * pair application and the (count DESC, a ASC, b ASC) tie-break. */
  private def refBpe(texts: Seq[String], k: Int): Seq[(Long, String, String, String, Long)] = {
    var vocab: Map[Vector[String], Long] = texts
      .flatMap(_.toLowerCase.trim.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, ws) =>
        (w.map(_.toString).toVector :+ "</w>") -> ws.length.toLong }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    var it = 1
    var done = false
    while (it <= k && !done) {
      val pairs = scala.collection.mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (syms, cnt) =>
        syms.sliding(2).foreach {
          case Vector(a, b) => pairs((a, b)) = pairs.getOrElse((a, b), 0L) + cnt
          case _ =>
        }
      }
      if (pairs.isEmpty) done = true
      else {
        val ((a, b), c) = pairs.minBy { case ((x, y), n) => (-n, x, y) }
        out += ((it.toLong, a, b, a + b, c))
        vocab = vocab.groupBy { case (syms, _) =>
          val merged = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) { // greedy left-to-right, non-overlapping
            if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
              merged += a + b; i += 2
            } else { merged += syms(i); i += 1 }
          }
          merged.toVector
        }.map { case (syms, g) => syms -> g.values.sum }
        it += 1
      }
    }
    out.toSeq
  }

  /** Planted vocab {hug:3, pug:2}: it1 ties (u,g) vs (g,</w>) at 5 and
    * the a-ASC tie-break must pick (g,</w>); learning runs dry after 4
    * merges, well before the BpeMerges=12 budget — early stop pinned. */
  test("q100 planted: merge sequence, tie-break, early stop") {
    val got = runBpe(Seq("hug hug pug", "pug hug"))
    assert(got == Seq(
      (1L, "g", "</w>", "g</w>", 5L),
      (2L, "u", "g</w>", "ug</w>", 5L),
      (3L, "h", "ug</w>", "hug</w>", 3L),
      (4L, "p", "ug</w>", "pug</w>", 2L)), got)
  }

  /** 'aaa': the (a,a) pair counts at BOTH adjacent positions (4 across
    * two words) but greedy left-to-right application merges only the
    * first — ('aa','a'), never ('a','aa') or double-merge. */
  test("q100: greedy non-overlapping application on repeated symbols") {
    val got = runBpe(Seq("aaa aaa"))
    assert(got == Seq(
      (1L, "a", "a", "aa", 4L),
      (2L, "a", "</w>", "a</w>", 2L),
      (3L, "aa", "a</w>", "aaa</w>", 2L)), got)
  }

  test("q100 property: matches the driver reference on random corpora") {
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { trial =>
      val alphabet = "abcd"
      val texts = Seq.fill(5 + rnd.nextInt(5)) {
        Seq.fill(3 + rnd.nextInt(8)) {
          Seq.fill(1 + rnd.nextInt(5))(
            alphabet(rnd.nextInt(alphabet.length))).mkString
        }.mkString(" ")
      }
      val got = runBpe(texts)
      val want = refBpe(texts, TextOps.BpeMerges)
      assert(got == want, s"trial $trial corpus=$texts")
    }
  }

  /** Driver reference for q104: greedy left-to-right application of the
    * learned rules to one word, returning its final symbol count. */
  private def refEncodeLen(w: String, rules: Seq[(String, String)]): Long = {
    var syms: Vector[String] = w.map(_.toString).toVector :+ "</w>"
    rules.foreach { case (a, b) =>
      val merged = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          merged += a + b; i += 2
        } else { merged += syms(i); i += 1 }
      }
      syms = merged.toVector
    }
    syms.length.toLong
  }

  /** q104: per-language accounting must match the driver reference
    * (rules learned globally by refBpe, applied greedily per word) on a
    * multi-language corpus that runs DRY before the 12-merge budget —
    * the apply chain must pass through the missing stages unchanged. */
  test("q104 planted: encoding accounting matches the driver reference") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("bpe_enc").toString
    val docs = Seq(
      (0L, "hug hug pug", "en"), (1L, "pug hug", "en"),
      (2L, "gug pug", "es"))
    docs.map { case (i, t, l) => (i, t, l, "s1", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rules = refBpe(docs.map(_._2), TextOps.BpeMerges)
      .map(m => (m._2, m._3))
    assert(rules.length < TextOps.BpeMerges, "corpus must run dry for this spec")
    val want = docs.groupBy(_._3).map { case (lang, ds) =>
      val words = ds.flatMap(_._2.toLowerCase.trim.split("\\s+")).filter(_.nonEmpty)
      val nWords = words.length.toLong
      val tokChar = words.map(w => (w.length + 1).toLong).sum
      val tokBpe = words.map(refEncodeLen(_, rules)).sum
      (lang, nWords, tokChar, tokBpe, tokBpe.toDouble / tokChar.toDouble)
    }.toSet
    val got = TextOps.q104BpeEncode(spark, tmp).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    assert(got == want, s"extra=${got -- want}\n missing=${want -- got}")
    // the whole point: merges only ever shrink the encoding
    got.foreach(r => assert(r._4 <= r._3 && r._5 <= 1.0 && r._5 > 0.0, r))
  }

  /** q133 planted: one explicit rule, hand-computed vocab — ids rank by
    * (weighted occurrences desc, symbol asc), the id strings and the
    * order-independent md5-int32 checksum follow, and the decode
    * roundtrip holds for the merged and unmerged form alike. */
  test("q133 planted: vocab ids, checksum and roundtrip hand-verified") {
    import spark.implicits._
    val tmp = bpeCorpus(Seq("ab ab b"))
    // 'ab' merges ([ab, </w>], cnt 2); 'b' stays ([b, </w>], cnt 1):
    // occ </w>=3 → id 1, ab=2 → id 2, b=1 → id 3
    val got = TextOps.bpeVocabWith(spark, tmp, Seq(("a", "b"))).collect()
    assert(got.length == 1)
    val r = got(0)
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == (("en", 2L, 3L, 3L, 2L)), r)
    val chk = spark.range(1).selectExpr(
      "cast(conv(substring(md5(cast('ab:2,1' as binary)), 1, 8), 16, 10) as long) + " +
        "cast(conv(substring(md5(cast('b:3,1' as binary)), 1, 8), 16, 10) as long)")
      .head().getLong(0)
    assert(r.getLong(5) == chk, s"ids_chk ${r.getLong(5)} != $chk")
  }

  /** q133 on the real corpus: the losslessness theorem (BPE merges only
    * concatenate, so decode reproduces every word form) must hold for
    * every language, and the vocab stays tokenizer-sized. */
  test("q133: decode roundtrip holds corpus-wide; vocab is model-sized") {
    val got = TextOps.q133BpeVocab(spark, dir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getLong(4) == r.getLong(1),
        s"${r.getString(0)}: ${r.getLong(1) - r.getLong(4)} forms failed decode")
      assert(r.getLong(3) > 1L && r.getLong(3) <= 128L,
        s"vocab_size ${r.getLong(3)} outside the chars+merges band")
    }
  }

  /** q104 on the real corpus: 12 learned merges must strictly compress
    * every language (the corpus shares high-frequency character pairs). */
  test("q104: learned merges compress the real corpus") {
    val got = TextOps.q104BpeEncode(spark, dir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getLong(3) < r.getLong(2),
        s"${r.getString(0)}: no compression (${r.getLong(3)} vs ${r.getLong(2)})")
      assert(r.getDouble(4) > 0.0 && r.getDouble(4) < 1.0, r)
    }
  }

  /** The q118 planted distinguishing case (VERDICT r9 #4): the bigram LM
    * must rank NATURAL text (bigrams the reference slice has seen) above
    * GIBBERISH built from the very same tokens shuffled — a
    * unigram/stopword scorer (q31) cannot see that difference at all,
    * which is why the CCNet-style LM head/middle/tail family exists.
    * Reference docs are whichever planted ids the standing md5 bucket
    * rule puts in the eval slice (db < 100) — the spec derives the
    * bucket with the same arithmetic rather than hand-picking ids. */
  test("q118 planted: natural text heads, shuffled-token gibberish tails") {
    import spark.implicits._
    def b1000(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16) % 1000
    }
    val sentences = Array(
      "the quick brown fox jumps over the lazy dog",
      "a watched pot never boils on the old stove",
      "the rain in spain stays mainly on the plain",
      "every good boy does fine on the high wire")
    def natural(id: Long): String =
      (0 until 6).map(k => sentences(((id + k) % 4).toInt)).mkString(" ")
    val ids = (0L until 400L)
    val refIds = ids.filter(b1000(_) < 100).take(20)     // model slice
    val scoredIds = ids.filter(b1000(_) >= 100).take(30) // scored docs
    val gibIds = scoredIds.takeRight(3)
    def gibberish(id: Long): String = {
      val r = new scala.util.Random(id)
      r.shuffle(natural(id).split(" ").toList).mkString(" ")
    }
    val rows = refIds.map(i => (i, "en", natural(i))) ++
      scoredIds.dropRight(3).map(i => (i, "en", natural(i))) ++
      gibIds.map(i => (i, "en", gibberish(i))) ++
      // degenerate docs: no bigram → score 0, never a crash (ANSI rule)
      Seq((9001L, "en", ""), (9002L, "en", "hello"))
    val out = TextOps.lmQualityOf(rows.toDF("doc_id", "lang", "text"))
      .collect().map(r => r.getLong(1) ->
        ((r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out.size == rows.size)
    val natScores = scoredIds.dropRight(3).map(out(_)._2)
    val gibScores = gibIds.map(out(_)._2)
    assert(gibScores.max < natScores.min,
      s"gibberish ${gibScores.toSeq} must score below natural ${natScores.toSeq}")
    gibIds.foreach(i => assert(out(i)._3 == "tail",
      s"gibberish doc $i bucketed ${out(i)._3}"))
    assert(scoredIds.dropRight(3).exists(out(_)._3 == "head"),
      "no natural doc reached the head tercile")
    // no-bigram docs: n_bigrams 0, score 0, bottom of the ranking
    Seq(9001L, 9002L).foreach { i =>
      assert(out(i) == ((0L, 0L, "tail")), s"doc $i: ${out(i)}")
    }
    // exact nearest-rank terciles partition each language n/3-wise
    val n = rows.size
    val byBucket = out.values.groupBy(_._3).view.mapValues(_.size).toMap
    assert(byBucket("head") == n / 3)
    assert(byBucket("middle") == 2 * n / 3 - n / 3)
    assert(byBucket("tail") == n - 2 * n / 3)
  }

  /** q119's GopherStats expression, pinned on a hand-computed document:
    * every one of the 19 signal fields exact. Tokens are
    * split(lower, " ") so trailing '.'s ride their token; segments are
    * the q78 split; gram char weights count the space-joined string. */
  test("q119 GopherStats: every signal field matches the hand computation") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // tokens: xy zz xy zz xy. ww. ww  |  segments: [xy zz xy zz xy, ww, ww]
    val row = Seq("xy zz xy zz xy. ww. ww").toDF("text")
      .select(graft.functions.GopherStats(col("text")).as("g"))
      .select($"g.*").collect()(0)
    val got = row.toSeq.map(_.asInstanceOf[Long])
    val want = Seq(
      7L, // n_words
      16L, // sum_word_len (22 chars - 6 spaces)
      7L, // n_alpha_words
      0L, // n_stop_distinct
      0L, // n_sym
      3L, // n_segs
      0L, 0L, // bullet / ellipsis
      1L, // n_dup_segs ("ww" twice -> one extra occurrence)
      4L, // dup_seg_chars (2 x "ww")
      10L, // top2_chars: "xy zz" x2 x 5
      10L, // top3_chars: all distinct, longest is 10 ("zz xy. ww.")
      13L, // top4_chars: all distinct, longest is 13
      0L, 0L, 0L, 0L, 0L, 0L) // dup5..dup10: no repeated >=5-grams
    assert(got == want, s"got $got")
    // the symbol / bullet / ellipsis / stopword arm (word+segment fields).
    // "on... #" contains ". " (last ellipsis dot + space), so the text
    // splits into TWO segments: "- the list goes on.." (bullet) and
    // "# and # on…" (ellipsis) — same for the DuckDB twin's literal split.
    val r2 = Seq("- the list goes on... # and # on…").toDF("text")
      .select(graft.functions.GopherStats(col("text")).as("g"))
      .select($"g.n_words", $"g.n_alpha_words", $"g.n_stop_distinct",
        $"g.n_sym", $"g.n_segs", $"g.n_bullet_segs", $"g.n_ellipsis_segs")
      .collect()(0)
    assert(r2.toSeq == Seq(9L, 6L, 2L, 3L, 2L, 1L, 1L), s"got ${r2.toSeq}")
  }

  /** q119 planted rule-by-rule: each crafted document trips its target
    * rule; a well-formed document passes ALL 18 (so no rule fires
    * spuriously). The corpus-level oracle pins the full arithmetic; this
    * spec pins the rules' discriminative power — which the synthetic
    * corpus can't (its vocabulary holds only 'the' from the Gopher
    * stopword list, so fail_stopwords correctly fires on every real
    * doc). */
  test("q119 planted docs trip their target rules; a clean doc passes all") {
    import spark.implicits._
    val stop8 = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    def w(tag: String, n: Int) = (1 to n).map(i => s"$tag$i")
    val clean = (stop8 ++ w("pass", 44)).mkString(" ")
    val twoChar = // 60 two-char words incl. two stopwords: mean len 2 < 3
      (Seq("to", "of") ++ (for (a <- 'a' to 'h'; b <- 'a' to 'h')
        yield s"$a$b").take(58)).mkString(" ")
    val symbols = (stop8 ++ w("sym", 42) ++ Seq.fill(8)("#")).mkString(" ")
    val bullets = (1 to 20).map(i => s"- item$i etc").mkString(". ")
    val ellipsis = ((1 to 6).map(i => s"seg$i text") ++
      (1 to 4).map(i => s"trail$i off...")).mkString(". ")
    val numeric = (stop8 ++ w("al", 42) ++
      (100 to 119).map(_.toString)).mkString(" ")
    val nostop = w("qf", 60).mkString(" ")
    val dupline = "alpha beta. alpha beta. alpha beta. gamma delta"
    val top2 = (stop8 ++ (1 to 12).flatMap(i =>
      Seq("zebra", "quokka", s"fill${i}a", s"fill${i}b", s"fill${i}c")))
      .mkString(" ")
    val five = Seq("victor", "whiskey", "xray", "yankee", "zulu")
    val dup5 = (stop8 ++ (1 to 3).flatMap(i =>
      five ++ (1 to 5).map(j => s"gap$i$j"))).mkString(" ")
    val d = Seq(
      (1L, clean), (2L, "the and x"), (3L, twoChar), (4L, symbols),
      (5L, bullets), (6L, ellipsis), (7L, numeric), (8L, nostop),
      (9L, dupline), (10L, top2), (11L, dup5))
      .toDF("doc_id", "text").withColumn("lang", org.apache.spark.sql.functions.lit("en"))
    val flags = TextOps.gopherFlagsOf(d).collect()
      .map(r => r.getLong(0) -> r).toMap
    def f(id: Long, c: String): Long =
      flags(id).getLong(flags(id).fieldIndex(c))
    TextOps.GopherRuleCols.foreach(c =>
      assert(f(1L, c) == 0L, s"clean doc fails $c"))
    assert(f(2L, "fail_word_count") == 1L)
    assert(f(3L, "fail_mean_word_len") == 1L)
    assert(f(4L, "fail_symbol_ratio") == 1L)
    assert(f(5L, "fail_bullet") == 1L)
    assert(f(6L, "fail_ellipsis") == 1L)
    assert(f(7L, "fail_alpha_words") == 1L)
    assert(f(8L, "fail_stopwords") == 1L)
    assert(f(9L, "fail_dup_line") == 1L)
    assert(f(9L, "fail_dup_line_char") == 1L)
    assert(f(10L, "fail_top2") == 1L)
    assert(f(11L, "fail_dup5") == 1L)
    // the audit rollup: 11 en docs, exactly one passes everything
    val audit = TextOps.gopherAuditOf(d).collect()
    assert(audit.length == 1)
    val a = audit(0)
    assert(a.getLong(a.fieldIndex("n_docs")) == 11L)
    assert(a.getLong(a.fieldIndex("n_pass")) == 1L, a.toString)
  }

  /** q123: the quality-aware mixture must starve a junk source. One
    * language, two sources: srcA's docs pass every MixGopherRules rule
    * (≥50 words, varied grams), srcB's are all sub-50-word (fail the
    * word-count rule) — so srcB's kept mass is 0 REGARDLESS of its LM
    * tercile, its weight 0, its allocation 0, and srcA takes the entire
    * budget. Also pins the accounting identities (n_kept ≤ n_docs,
    * allocations ≤ budget, q76-convention weight of the kept tokens). */
  test("q123 allocates nothing to a source that fails the quality gates") {
    import spark.implicits._
    val wordsA = (0 until 60).map(i => s"tok$i").mkString(" ")
    val rows =
      (1 to 6).map(i => (i.toLong, "en", "srcA",
        wordsA + s" uniq$i extra$i")) ++
      (7 to 9).map(i => (i.toLong, "en", "srcB", s"tiny doc $i only"))
    val out = TextOps.qualityMixtureOf(
        rows.toDF("doc_id", "lang", "source", "text")).collect()
      .map(r => (r.getString(1), (r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(8)))).toMap
    val (aDocs, aToks, aKept, aKeptToks, aW, aAlloc) = out("srcA")
    val (bDocs, _, bKept, bKeptToks, bW, bAlloc) = out("srcB")
    assert(bDocs == 3L && bKept == 0L && bKeptToks == 0L &&
      bW == 0L && bAlloc == 0L, out.toString)
    assert(aDocs == 6L && aKept >= 1L && aKept <= 6L, out.toString)
    // only nonzero cell ⇒ the full budget lands on srcA exactly
    assert(aAlloc == TextOps.MixtureTokenBudget, out.toString)
    assert(aToks == 62L * 6L, out.toString)
    // q76 weight convention on the kept token mass
    assert(aW == math.floor(math.sqrt(aKeptToks.toDouble) * 10000.0 + 0.5).toLong,
      out.toString)
    // the per-lang tercile forces exactly 3 of the 9 docs into the tail;
    // srcB's 3 junk docs can absorb at most all 3 of those slots
    assert(aKept >= 3L, s"tail tercile ate more than 3 docs: $out")
  }

  /** q125: the manifest materializer under a binding budget — the q123
    * planted corpus with a 100-token budget: srcB (all quality-failed)
    * selects nothing and reports md5(''); srcA takes the whole 100-token
    * allocation and selects exactly the md5-ordered greedy prefix with
    * the q58 straddle convention (the 62-token doc crossing the boundary
    * is INCLUDED, so sel_tokens 124 > alloc 100), matched bit-for-bit
    * against a driver replay of the ordering and the manifest md5. */
  test("q125 materializes the md5-ordered straddle prefix per cell") {
    import spark.implicits._
    def m(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val wordsA = (0 until 60).map(i => s"tok$i").mkString(" ")
    val rows =
      (1 to 6).map(i => (i.toLong, "en", "srcA",
        wordsA + s" uniq$i extra$i")) ++          // 62 words each
      (7 to 9).map(i => (i.toLong, "en", "srcB", s"tiny doc $i only"))
    val out = TextOps.mixtureManifestOf(
        rows.toDF("doc_id", "lang", "source", "text"), budget = 100L)
      .collect().map(r => r.getString(1) ->
        ((r.getLong(2), r.getLong(5), r.getLong(6), r.getString(7))))
      .toMap
    val (bAlloc, bSel, bSelToks, bMan) = out("srcB")
    assert(bAlloc == 0L && bSel == 0L && bSelToks == 0L && bMan == m(""),
      out.toString)
    val (aAlloc, aSel, aSelToks, aMan) = out("srcA")
    assert(aAlloc == 100L, out.toString)
    // driver replay: which of srcA's KEPT docs are md5-first? the lm
    // tercile keeps 2/3 — recompute the kept set from the engine itself
    val keptA = TextOps.lmQualityOf(
        rows.toDF("doc_id", "lang", "source", "text")
          .select($"doc_id", $"lang", $"text"))
      .collect().filter(r => r.getString(4) != "tail")
      .map(_.getLong(1)).filter(_ <= 6L).toSeq
    val ordered = keptA.sortBy(id => (m(id.toString), id))
    // exclusive 62-token cumsum under 100: ranks 0 (cw 0) and 1 (cw 62)
    val expectSel = ordered.take(2)
    assert(aSel == 2L && aSelToks == 124L, out.toString)
    assert(aMan == m(expectSel.sorted.mkString(",")), out.toString)
  }

  /** q126: every epoch must read the SAME selected manifest in a
    * DIFFERENT deterministic order. Replays the full permutation in
    * driver code from the selection frame: each epoch's reported head is
    * exactly the EpochTopK smallest md5("epoch:doc_id") keys over the
    * selected ids, the per-epoch counts all equal the selection size,
    * and the three heads are pairwise different (decorrelation). */
  test("q126 epoch heads replay the md5 permutation of the manifest") {
    def m(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    import org.apache.spark.sql.functions.col
    val sel = TextOps.manifestSelectionOf(
        graft.util.Tables(spark, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source"), col("text")),
        TextOps.ManifestTokenBudget)
      .collect().map(_.getLong(2)).toSeq
    val out = TextOps.q126EpochOrder(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byEpoch = out.groupBy(_._1)
    assert(byEpoch.keySet == (0 until TextOps.EpochCount).map(_.toLong).toSet)
    assert(out.forall(_._4 == sel.size.toLong),
      s"per-epoch count ≠ selection size ${sel.size}")
    val heads = byEpoch.map { case (e, rs) =>
      e -> rs.sortBy(_._2).map(_._3).toSeq }
    heads.foreach { case (e, h) =>
      val expect = sel.sortBy(id => (m(s"$e:$id"), id))
        .take(TextOps.EpochTopK)
      assert(h == expect, s"epoch $e head ≠ driver replay\n$h\n$expect")
    }
    assert(heads(0L) != heads(1L) && heads(1L) != heads(2L) &&
      heads(0L) != heads(2L), "epoch permutations are correlated")
  }

  /** VERDICT r11 top item: manifest-selection parallelism must not cap
    * at the CELL count. The two-pass md5-prefix-bucketed prefix sum must
    * (a) reproduce the naive per-cell single-window selection EXACTLY on
    * a one-cell corpus (the worst skew: every doc in one lang × source)
    * and (b) hash-partition the heavy window on (lang, source, rbucket)
    * — >1 task per cell. */
  test("q125 selection: two-pass prefix sum matches the single window") {
    import spark.implicits._
    def m(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    // ONE cell, 1000 kept docs, skewed word counts, ids with gaps — the
    // dominant-cell shape that funnels into one task under the old plan
    val pd = (0L until 1000L)
      .map(i => (i * 7 + 3, "en", "cc", i % 41 + 1, 1L))
      .toDF("doc_id", "lang", "source", "n_words", "kept")
    val budget = 5000L // binds mid-corpus: the straddle doc is included
    val sel = TextOps.manifestSelection(pd, budget, buckets = 8)
    val got = sel.collect().map(_.getLong(2)).sorted
    // driver replay of the single-window semantics: one cell means
    // alloc = budget exactly (w_scaled / total_w cancel)
    val byOrder = (0L until 1000L).map(i => (i * 7 + 3, i % 41 + 1))
      .sortBy { case (id, _) => (m(id.toString), id) }
    var cw = 0L
    val want = byOrder.takeWhile { case (_, n) =>
      val admit = cw < budget; cw += n; admit }.map(_._1).sorted
    assert(want.nonEmpty && want.length < 1000, "budget must bind")
    assert(got.toSeq == want.toSeq,
      s"two-pass ≠ single window: ${got.length} vs ${want.length}")
    // the heavy window exchanges on (lang, source, rbucket): one cell
    // splits into 8 ordered md5-range slices instead of one mega-task
    val plan = sel.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*hashpartitioning\\([^)]*rbucket.*"), plan)
  }

  /** ADVICE r11: the zero-weight corpus (every doc fails a quality gate
    * → every cell's kept_toks = 0 → total_w = 0) must not abort on
    * ANSI integer div-by-zero: q123 reports share 0.0 / alloc 0, q125
    * selects nothing (manifest md5('')), q126 has no rows. */
  test("q123/q125/q126 survive the all-junk corpus (total_w = 0)") {
    import spark.implicits._
    def m(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    // 3-word docs: fail_word_count fires on every one (min 50 words)
    val d = (1L to 9L).map(i =>
        (i, "en", if (i <= 5) "srcA" else "srcB", s"tiny doc $i"))
      .toDF("doc_id", "lang", "source", "text")
    val mix = TextOps.qualityMixtureOf(d).collect()
    assert(mix.length == 2)
    mix.foreach { r =>
      assert(r.getLong(4) == 0L, s"n_kept: $r")      // nothing kept
      assert(r.getDouble(7) == 0.0, s"share: $r")    // not NaN
      assert(r.getLong(8) == 0L, s"alloc: $r")       // not an abort
    }
    val man = TextOps.mixtureManifestOf(d, budget = 100L).collect()
    assert(man.length == 2)
    man.foreach { r =>
      assert(r.getLong(2) == 0L && r.getLong(5) == 0L, s"manifest: $r")
      assert(r.getString(7) == m(""), s"manifest md5: $r")
    }
    assert(TextOps.epochOrderOf(d, 100L).count() == 0L)
  }

  /** q124: the hybrid fusion must be EXACTLY the RRF of its two arms —
    * recomputed here from the independent q122 and q38-shaped outputs
    * and fused in driver code, including the ranked-by-one-arm-only
    * convention (missing rank contributes 0). */
  test("q124 equals a driver-side RRF of the q122 and cosine arms") {
    val text = TextOps.queries("q122_bm25")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(1)).toMap
    // the cosine arm at the hybrid's k, same queries
    import org.apache.spark.sql.functions.{broadcast, col}
    val qids = TextOps.Bm25Queries.map(_._1).distinct
    val base = graft.operators.Similarity.scaled(spark, dir)
    val qSide = base.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"), col("e").as("qe"),
        col("nrm").as("qn"))
    val vec = graft.operators.Similarity.cosineTopK(
        base.join(broadcast(qSide), col("vec_id") =!= col("qid")),
        TextOps.Bm25TopK).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    def rrf(rk: Option[Long]): Long =
      rk.map(r => 1000000L / (TextOps.RrfK + r)).getOrElse(0L)
    val expected = qids.flatMap { q =>
      val docs = (text.keySet ++ vec.keySet).collect {
        case (qq, d) if qq == q => d }
      docs.toSeq
        .map(d => (d, rrf(text.get((q, d))) + rrf(vec.get((q, d)))))
        .sortBy { case (d, s) => (-s, d) }
        .take(TextOps.Bm25TopK).zipWithIndex
        .map { case ((d, s), i) =>
          (q, (i + 1).toLong, d, s,
            text.getOrElse((q, d), 0L), vec.getOrElse((q, d), 0L)) }
    }.sortBy(x => (x._1, x._2))
    val out = TextOps.q124HybridRetrieval(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(out == expected, s"\nout=$out\nexp=$expected")
    // the fusion is non-degenerate: some doc is ranked by only one arm
    assert(out.exists(x => x._5 == 0L ^ x._6 == 0L),
      "no single-arm doc in the fused top-k — fusion untested")
  }

  /** q122: BM25 against a driver-side replay of the EXACT arithmetic —
    * raw-odds-ratio idf, integer-floor avgdl, the fixed-order IEEE double
    * chain, contributions floor-scaled to 1e6-longs before the per-query
    * sum. Every (qid, rank, doc, score) must match bit-for-bit. */
  test("q122 BM25 matches a driver-side replay on a planted corpus") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "spark join spark alpha beta"),
      (2L, "join window stream batch gamma delta epsilon"),
      (3L, "spark spark spark spark"),
      (4L, "zeta eta theta"),
      (5L, "vector hash fast merge sort query"),
      (6L, "merge merge sort fast fast fast iota"))
    val out = TextOps.bm25Of(corpus.toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    // driver replay
    val toks = corpus.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
    val nDocs = corpus.size.toLong
    val nToks = toks.values.map(_.size.toLong).sum
    val avgdl = nToks / nDocs
    val terms = TextOps.Bm25Queries.map(_._2).distinct
    val tf = for {
      (id, ts) <- toks.toSeq; t <- terms
      n = ts.count(_ == t).toLong if n > 0
    } yield (id, t, n)
    val df = tf.groupBy(_._2).map { case (t, xs) => t -> xs.size.toLong }
    def contrib(t: String, n: Long, dl: Long): Long = {
      val idf = (2L * nDocs - 2L * df(t) + 1L).toDouble /
        (2L * df(t) + 1L).toDouble
      math.floor(1000000.0 * (idf * ((n.toDouble * 2.2) /
        (n.toDouble + 1.2 * (0.25 + 0.75 *
          (dl.toDouble / avgdl.toDouble)))))).toLong
    }
    val expected = TextOps.Bm25Queries.groupBy(_._1).toSeq.flatMap {
      case (qid, qs) =>
        val qTerms = qs.map(_._2).toSet
        val scores = tf.filter(x => qTerms.contains(x._2))
          .groupBy(_._1)
          .map { case (id, xs) =>
            id -> xs.map(x => contrib(x._2, x._3, toks(id).size.toLong)).sum }
          .toSeq.sortBy { case (id, sc) => (-sc, id) }
          .take(TextOps.Bm25TopK)
        scores.zipWithIndex.map { case ((id, sc), i) =>
          (qid, (i + 1).toLong, id, sc) }
    }.sortBy(x => (x._1, x._2))
    assert(out == expected, s"\nout=$out\nexp=$expected")
  }
}
