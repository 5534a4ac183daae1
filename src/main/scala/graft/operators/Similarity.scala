package graft.operators
import graft.util.Mat.Ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{DotLongs, QuantizeVec, SubLongs}
import graft.util.Tables

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Determinism strategy: embeddings are quantized to 1e-6 fixed-point
  * longs once per row; dot products and squared norms are then **integer**
  * sums (≤2^46 — exactly representable even as doubles), so the cosine is
  * bit-identical in any engine and any partitioning/accumulation order.
  *
  * All vector arithmetic runs through the codegen'd kernels in
  * [[graft.functions.VectorOps]] (QuantizeVec / DotLongs) — array
  * higher-order functions are interpreted per element in Spark and were
  * both a 100 TB scale anti-pattern and this box's deopt trigger.
  *
  * Scale design: the query set is tiny → broadcast; the corpus side
  * streams map-side (brute force = one pass, no shuffle except the final
  * per-query top-k). The LSH variant buckets by random-hyperplane signs so
  * each query probes one bucket (candidates ≪ corpus); recall@k against
  * the exact top-k is reported as part of the query output. The exact
  * pairwise dedup (q45) is a grid-blocked theta-join — the scalable form
  * of all-pairs: O(n·G) shuffle, G(G+1)/2 bounded cells, no broadcast
  * limit and no nested-loop join.
  */
object Similarity {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")

  /** Scale a raw `(vec_id, embedding)` frame to (vec_id, e, nrm) — the
    * DF-level core of [[scaled]], reused by the index APPEND path where
    * the vectors are a new batch, not the dir corpus. */
  private[graft] def scaledOf(raw: DataFrame): DataFrame =
    raw
      // quantization must go through double: a float32*literal product
      // must not round in single precision (DuckDB's 1e6 literal is
      // DECIMAL and would — see the oracle's explicit CASTs)
      .withColumn("e", QuantizeVec(col("embedding")))
      .withColumn("nrm", sqrt(DotLongs(col("e"), col("e")).cast("double")))
      .select(col("vec_id"), col("e"), col("nrm"))

  /** vec_id, e (scaled longs), nrm (double sqrt of exact integer ssq). */
  private[graft] def scaled(s: SparkSession, dir: String): DataFrame =
    scaledOf(emb(s, dir))

  /** The 10-query probe side: (qid, qe, qn). */
  private def querySide(base: DataFrame): DataFrame =
    base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qn"))

  /** Cosine with the zero-vector convention cos := 0. A zero embedding
    * (a failed encoder is a fact of life in real corpora) gives norm 0,
    * and under ANSI mode (the Spark 4 default) even double division by
    * zero ABORTS the query — one bad row must not kill a similarity
    * sweep. Zero cosine keeps such rows below every ≥-threshold filter
    * and at the bottom of every top-k. */
  private[graft] def safeCos(dot: org.apache.spark.sql.Column,
      den: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(den === 0.0, lit(0.0)).otherwise(dot.cast("double") / den)

  /** Exact cosine top-k per query over pre-joined candidate rows
    * ((qid,qe,qn) × (vec_id,e,nrm)). ONE definition of ranking shared by
    * q38 (headline output) and the q39/q44 approximate arms + recall
    * denominators (VERDICT r2 #7) — the allow-listed brute-force shape
    * exists exactly once. */
  private[graft] def cosineTopK(joined: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id").asc)
    joined.withColumn("dot", DotLongs(col("qe"), col("e")))
      .withColumn("sim", safeCos(col("dot"), col("qn") * col("nrm")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("vec_id").as("nid"),
        col("rk").cast("long").as("rk"), col("sim"))
  }

  /** The exact brute-force arm: broadcast queries × full corpus. */
  private[graft] def exactTopK(base: DataFrame, k: Int = 5): DataFrame =
    cosineTopK(base.join(broadcast(querySide(base)),
      col("vec_id") =!= col("qid")), k)

  // ---------------------------------------------------------------- q38
  /** Brute-force cosine top-5 for the first 10 vectors as queries. */
  def q38AnnBrute(s: SparkSession, dir: String): DataFrame =
    exactTopK(scaled(s, dir), k = 5).orderBy(col("qid"), col("rk"))

  // --------------------------------------------------------------- q129
  /** MMR trade-off weight λ, candidate pool per query, selected count.
    * (1−λ) is its own explicit literal: `1.0 - 0.7` rounds to
    * 0.30000000000000004 while both engines parse "0.3" to a DIFFERENT
    * double — the twin must share the parsed literal, not the
    * arithmetic. */
  val MmrLambda = 0.7
  val MmrOneMinusLambda = 0.3
  val MmrPool = 10
  val MmrK = 5

  /** q129: MMR result DIVERSIFICATION — the published greedy
    * maximal-marginal-relevance re-rank (Carbonell & Goldstein '98, the
    * standard RAG-serving step after top-k retrieval): from each
    * query's top-[[MmrPool]] cosine candidates, greedily select
    * [[MmrK]] maximizing λ·sim(q,d) − (1−λ)·max_{s∈selected} sim(d,s),
    * so near-duplicate hits stop crowding the result page. Output
    * (qid, rk, nid, mmr) in selection order.
    *
    * Shape: the greedy is unrolled as K dataframe steps (the q88
    * unrolled-iteration convention) — each step one anti-join + one
    * bounded (qid-keyed) max + one WindowGroupLimit pick. Everything
    * downstream of the top-k is POOL-bounded per query (pool² pairwise
    * rows), partition-parallel across queries, zero further corpus
    * scans — exactly the work a serving tier pays per query batch.
    * Exactness: sims are integer dots < 2⁵³ through correctly-rounded
    * sqrt/div, the score one mul + one fused subtract of literals both
    * engines parse identically — the DuckDB twin replays the greedy
    * hash-exact. */
  def q129MmrDiversify(s: SparkSession, dir: String): DataFrame = {
    val base = scaled(s, dir)
    mmrDiversify(exactTopK(base, MmrPool), base, MmrK)
      .orderBy(col("qid"), col("rk"))
  }

  /** Greedy MMR over a (qid, nid, sim) candidate frame; `base`
    * supplies candidate vectors for the pairwise arm. Candidates and
    * pairwise sims are checkpointed once (pool-sized per query) and the
    * K steps run over them; `selected` re-checkpoints per step so the
    * growing plan stays flat (the labelPropagate discipline). */
  private[graft] def mmrDiversify(cand: DataFrame, base: DataFrame,
      k: Int): DataFrame = {
    val s = cand.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // the pool is broadcastable BY CONTRACT (one result page per
    // query), so the candidate-vector fetch is one corpus scan with a
    // broadcast join — never a corpus shuffle
    val c = base.select($"vec_id".as("nid"), $"e", $"nrm")
      .join(broadcast(cand.select($"qid", $"nid", $"sim")), "nid")
      .materialize() // pool-sized × #queries; feeds pairs + steps
    val pairs = c.as("a").join(c.as("b"),
        $"a.qid" === $"b.qid" && $"a.nid" =!= $"b.nid")
      .select($"a.qid".as("qid"), $"a.nid".as("i"), $"b.nid".as("j"),
        safeCos(DotLongs($"a.e", $"b.e"), $"a.nrm" * $"b.nrm").as("psim"))
      .materialize() // pool² × #queries
    val slim = c.select($"qid", $"nid", $"sim")
    val w = Window.partitionBy($"qid").orderBy($"mmr".desc, $"nid".asc)
    var selected = slim
      .withColumn("mmr", lit(MmrLambda) * $"sim") // nothing selected yet
      .withColumn("_rn", row_number().over(w))
      .filter($"_rn" === 1)
      .select($"qid", $"nid", lit(1L).as("rk"), $"mmr")
      .materialize()
    for (step <- 2 to k) {
      val rem = slim.join(selected.select($"qid", $"nid"),
        Seq("qid", "nid"), "left_anti")
      // every remaining candidate has a pairwise row to every selected
      // one (the pool self-join), so the inner joins lose nothing
      val maxPrev = pairs
        .join(selected.select($"qid", $"nid".as("j")), Seq("qid", "j"))
        .groupBy($"qid", $"i")
        .agg(max($"psim").as("maxprev"))
        .select($"qid", $"i".as("nid"), $"maxprev")
      val pick = rem.join(maxPrev, Seq("qid", "nid"))
        .withColumn("mmr",
          lit(MmrLambda) * $"sim" - lit(MmrOneMinusLambda) * $"maxprev")
        .withColumn("_rn", row_number().over(w))
        .filter($"_rn" === 1)
        .select($"qid", $"nid", lit(step.toLong).as("rk"), $"mmr")
      selected = selected.union(pick)
      // the growing frame feeds the NEXT step twice (anti-join +
      // penalty join) — checkpoint keeps the plan flat; the final
      // union has no further consumer and skips the barrier
      if (step < k) selected = selected.materialize()
    }
    selected
  }

  /** Deterministic Rademacher hyperplanes (md5-derived ±1 components),
    * computed once on the driver — literal constants in the plan, a
    * broadcast at scale, never per-row hash work. */
  private[operators] val hyperplanes: Seq[Seq[Long]] = (0 until 8).map { p =>
    (1 to 64).map { d =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$p,$d".getBytes("UTF-8"))
      if ((h(0) & 0x80) == 0) 1L else -1L
    }
  }

  // ---------------------------------------------------------------- q39
  /** Sign-LSH bucketed ANN + recall@5 vs the exact top-5.
    * Two hash tables of 4 hyperplanes each (16 buckets/table); a query's
    * candidates are vectors sharing a bucket in EITHER table — the
    * standard multi-table LSH recall/candidate trade-off. Bucket bits are
    * sign(plane·e) via codegen'd DotLongs against literal planes.
    *
    * HASH-EXACT oracle (was rows-only through r4): the hyperplanes are
    * driver-computed ±1 constants and every arithmetic step is exact —
    * integer dot products whose partial sums stay < 2⁵³ (64 terms of
    * ≤ 10¹² each), correctly-rounded IEEE sqrt/division — so the DuckDB
    * twin replays the ENTIRE pipeline (buckets, candidates, both top-5
    * arms, recall) with the same plane literals interpolated into the
    * SQL, and the full output row is checked, not an invariant flag. */
  def q39AnnLshRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // r16: one quantize pass — base feeds the bucketing, both candidate
    // sides, the exact arm and the re-rank join (4 full corpus scans in
    // the lazy shape; the q36 finding — runtime exchange reuse does not
    // dedupe map-side subtrees)
    val base = scaled(s, dir).materialize()
    def bucket(lo: Int, hi: Int) =
      (lo to hi).map { p =>
        when(DotLongs($"e", typedLit(hyperplanes(p))) >= 0,
          lit(1L << (p - lo))).otherwise(lit(0L))
      }.reduce(_ + _)
    val bucketed = base
      .withColumn("b1", bucket(0, 3))
      .withColumn("b2", bucket(4, 7))
    val tabs = bucketed.select($"vec_id",
        explode(expr("array(struct(1 as tb, b1 as bk), struct(2 as tb, b2 as bk))")).as("x"))
      .select($"vec_id", $"x.tb".as("tb"), $"x.bk".as("bk"))
    val qtabs = tabs.filter($"vec_id" < 10).withColumnRenamed("vec_id", "qid")
    val candIds = tabs.join(broadcast(qtabs), Seq("tb", "bk"))
      .filter($"vec_id" =!= $"qid")
      .select($"qid", $"vec_id").distinct()
    val q = querySide(base)
    val exact = exactTopK(base).select($"qid", $"nid")
    val ann = cosineTopK(candIds.join(base, "vec_id").join(broadcast(q), "qid"),
      k = 5).select($"qid", $"nid")
    val nCand = candIds.groupBy($"qid").agg(count(lit(1)).as("n_candidates"))
    val hits = exact.as("x").join(ann.as("a"), Seq("qid", "nid"), "left_semi")
      .groupBy($"qid").agg(count(lit(1)).as("n_hit"))
    q.select($"qid").join(nCand, Seq("qid"), "left")
      .join(hits, Seq("qid"), "left")
      .na.fill(0L, Seq("n_candidates", "n_hit"))
      .withColumn("recall", $"n_hit".cast("double") / 5.0)
      .select($"qid", $"n_candidates", $"n_hit", $"recall")
      .orderBy($"qid")
  }

  // ---------------------------------------------------------------- q43
  /** Embedding-cosine near-duplicate detection, brute-force oracle twin:
    * all pairs with cosine ≥ 0.45 — fixed-point-exact like q38, so the
    * full pairwise pipeline is oracle-checked. Intentionally a broadcast
    * nested-loop (PlanSpec allow-lists it); q45 is the scale path with
    * identical output. */
  def q43EmbeddingDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = scaled(s, dir)
    val a = base.select($"vec_id".as("i"), $"e".as("ea"), $"nrm".as("na"))
    val b = base.select($"vec_id".as("j"), $"e".as("eb"), $"nrm".as("nb"))
    a.join(b, $"i" < $"j")
      .withColumn("dot", DotLongs($"ea", $"eb"))
      .withColumn("cosine", safeCos($"dot", $"na" * $"nb"))
      .filter($"cosine" >= 0.45)
      .select($"i", $"j", $"cosine")
      .orderBy($"i", $"j")
  }

  // ---------------------------------------------------------------- q45
  /** Same pairs as q43 via a **grid-blocked theta-join** (Okcan &
    * Riedewald, SIGMOD'11) — the shape exact all-pairs takes at 100 TB:
    * rows are hashed into G blocks; each row is replicated to the G cells
    * of the upper-triangular G×G grid its block participates in (a-side
    * to cells (blk, y≥blk), b-side to cells (x≤blk, blk)); cells meet in
    * an ordinary shuffled **equi-join on the cell key**. Work stays
    * O(n²·d) — exactness demands it (this corpus is isotropic with pairs
    * planted AT the 0.45 threshold, where sign-LSH recall measures ~0.4
    * and IVF multiprobe needs ~50% candidate volume for ~0.9 — measured,
    * not guessed) — but it is evenly distributed over G(G+1)/2 bounded
    * cells with O(n·G) shuffle volume, no driver bottleneck, no broadcast
    * limit, no BroadcastNestedLoopJoin. G scales as √parallelism.
    *
    * A pair (i,j) with blocks (p,q) meets in exactly one cell
    * (min(p,q),max(p,q)); within a diagonal cell the `i<j` predicate
    * keeps one orientation, so no distinct is needed. Hash-exact vs the
    * same DuckDB oracle as q43. */
  def q45EmbeddingDedupBlocked(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    gridCosinePairs(scaled(s, dir), 0.45).orderBy($"i", $"j")
  }

  /** The grid-blocked all-pairs core of q45, parameterized so other
    * descriptor frames reuse the one audited shape (q117 routes the
    * multimodal decode descriptors through here): `base` is (vec_id, e,
    * nrm [, grpKeys...]); pairs are emitted only WITHIN matching
    * `grpKeys` values (descriptors from different decoder families are
    * not comparable) and only at cosine ≥ `thresh`. Output:
    * (grpKeys..., i, j, cosine) with i < j. */
  private[graft] def gridCosinePairs(base: DataFrame, thresh: Double,
      grpKeys: Seq[String] = Nil, G: Int = 8): DataFrame = {
    val s = base.sparkSession
    import s.implicits._
    gridPairs(base, grpKeys, Seq("e", "nrm"), G)
      .withColumn("dot", DotLongs($"e_a", $"e_b"))
      .withColumn("cosine", safeCos($"dot", $"nrm_a" * $"nrm_b"))
      .filter($"cosine" >= thresh)
      .select(grpKeys.map(col) ++ Seq(least($"ia", $"jb").as("i"),
        greatest($"ia", $"jb").as("j"), $"cosine"): _*)
  }

  /** The raw grid-replication + cell-join half of [[gridCosinePairs]],
    * factored so callers with a DIFFERENT pair metric (q117's packed
    * centered-histogram dot) reuse the audited all-pairs shape without
    * re-deriving the replication algebra. `base` is vec_id + `carry`
    * columns; output rows hold (grpKeys..., ia, jb, <carry>_a,
    * <carry>_b), each unordered pair exactly once. */
  private[graft] def gridPairs(base: DataFrame, grpKeys: Seq[String],
      carry: Seq[String], G: Int = 8): DataFrame = {
    val s = base.sparkSession
    import s.implicits._
    val blocked = base.withColumn("blk", pmod(hash($"vec_id"), lit(G)))
    val keyCols = grpKeys.map(col)
    val aSide = blocked
      .withColumn("cy", explode(expr(s"sequence(blk, ${G - 1})")))
      .select(keyCols ++ Seq($"blk".as("cx"), $"cy", $"vec_id".as("ia")) ++
        carry.map(c => col(c).as(c + "_a")): _*)
    val bSide = blocked
      .withColumn("cx", explode(expr("sequence(0, blk)")))
      .select(keyCols ++ Seq($"cx", $"blk".as("cy"), $"vec_id".as("jb")) ++
        carry.map(c => col(c).as(c + "_b")): _*)
    aSide.join(bSide, grpKeys ++ Seq("cx", "cy"))
      // off-diagonal cells hold each unordered pair once (sides have
      // different blocks); diagonal cells need the id order predicate
      .filter($"cx" < $"cy" || $"ia" < $"jb")
  }

  // --------------------------------------------------------------- q107
  /** q107: SemDeDup-style semantic deduplication (after Abbas et al.
    * 2023, "SemDeDup: Data-efficient learning at web-scale through
    * semantic deduplication") — the LEARNED-cluster variant of q43/q45:
    * embeddings are k-means-clustered (the exact deterministic IVF fit
    * q44 already oracles), pairwise cosine runs WITHIN clusters only,
    * and the keep-one rule removes every vector that duplicates a
    * lower-id member of its cluster. Where q45 bounds the exact
    * all-pairs cost by even grid blocking, SemDeDup bounds it
    * semantically: O(Σ|cell|²) with cells that shrink as k grows with
    * the corpus — the published web-scale trade (cross-cluster dups are
    * deliberately forfeited; the q43 brute twin measures exactly what
    * that forfeits on this corpus). Per-cell accounting output: vectors,
    * dup pairs, vectors the keep-one rule removes.
    *
    * Scale shape: assignment is the map-side codegen argmax against
    * literal centroids (no shuffle); the only data shuffle is the
    * within-cell self-join keyed on the cell id; the fit's driver
    * traffic is k×64 cells per Lloyd round. Hash-exact twin: the shared
    * unrolled-Lloyd CTEs end in the same `cellf` assignment. */
  /** The q44-fit cluster id per vector — q107's clustering, exposed for
    * the exactly-the-co-clustered-brute-pairs spec. */
  private[graft] def cellAssignments(s: SparkSession, dir: String): DataFrame = {
    val cents = fitCentroids(s, dir, k = 16, iters = 2)
    val base = scaled(s, dir)
    // empty corpus: zero centroids — the frame is empty, keep it typed
    if (cents.isEmpty) base.withColumn("cell", lit(0))
    else base.withColumn("cell", assignCell(cents))
  }

  def q107SemanticDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val asg = cellAssignments(s, dir).select($"cell", $"vec_id", $"e", $"nrm")
      .materialize()
    val a = asg.select($"cell", $"vec_id".as("i"), $"e".as("ea"), $"nrm".as("na"))
    val b = asg.select($"cell", $"vec_id".as("j"), $"e".as("eb"), $"nrm".as("nb"))
    val dup = a.join(b, Seq("cell")).filter($"i" < $"j")
      .withColumn("cosine", safeCos(DotLongs($"ea", $"eb"), $"na" * $"nb"))
      .filter($"cosine" >= 0.45)
    val pairStats = dup.groupBy($"cell")
      .agg(count(lit(1)).as("n_pairs"), countDistinct($"j").as("n_removed"))
    asg.groupBy($"cell").agg(count(lit(1)).as("n_vecs"))
      .join(pairStats, Seq("cell"), "left")
      .na.fill(0L, Seq("n_pairs", "n_removed"))
      .select($"cell".cast("long").as("cell"), $"n_vecs", $"n_pairs",
        $"n_removed")
      .orderBy($"cell")
  }

  // ---------------------------------------------------------------- q44
  /** Deterministic k-means centroids for the IVF index: seeds = the
    * first k vectors, then `iters` Lloyd iterations. Per-dimension sums
    * are exact integer aggregates (order-independent); the mean is one
    * double division quantized back to the 1e-6 long scale — so the fit
    * is bit-stable under any partitioning. Per iteration only k×64
    * (sum, count) cells come back to the driver — model fitting is
    * driver-coordinated, data never is. */
  private def fitCentroids(s: SparkSession, dir: String, k: Int,
      iters: Int): Seq[(Seq[Long], Double)] = {
    import s.implicits._
    val base = scaled(s, dir)
    def withNorm(c: Seq[Long]): (Seq[Long], Double) =
      (c, math.sqrt(c.foldLeft(0d)((a, x) => a + x.toDouble * x.toDouble)))
    var cents: Seq[(Seq[Long], Double)] = base.filter($"vec_id" < k)
      .orderBy($"vec_id").select($"e").as[Seq[Long]].collect().toSeq
      .map(withNorm)
    // an EMPTY corpus seeds zero centroids: skip the Lloyd iterations
    // (assignCell over zero centroids is an unresolvable empty argmax)
    // and return the empty model — the query paths guard on it
    if (cents.isEmpty) return cents
    for (_ <- 1 to iters) {
      val sums = base
        .withColumn("cell", assignCell(cents))
        .select($"cell", posexplode($"e").as(Seq("dim", "v")))
        .groupBy($"cell", $"dim")
        .agg(sum($"v").as("sv"), count(lit(1)).as("cnt"))
        .collect()
      val byCell = sums.groupBy(_.getInt(0))
      cents = cents.zipWithIndex.map { case (old, c) =>
        byCell.get(c) match {
          case Some(rows) => // quantized mean; empty cells keep their seed
            val dims = rows.map(r =>
              (r.getInt(1), math.floor(
                r.getLong(2).toDouble / r.getLong(3) + 0.5).toLong)).toMap
            withNorm((0 until 64).map(d => dims.getOrElse(d, 0L)))
          case None => old
        }
      }
    }
    cents
  }

  /** Map-side nearest-centroid assignment: k codegen'd integer dot
    * products against literal centroids, argmax via array_max over
    * (cosine, -cid) structs — no crossJoin, no shuffle, no window.
    * Ties pick the lowest cid. */
  private def assignCell(cents: Seq[(Seq[Long], Double)]): org.apache.spark.sql.Column = {
    val structs = cents.zipWithIndex.map { case ((ce, cn), c) =>
      struct(
        safeCos(DotLongs(col("e"), typedLit(ce)), col("nrm") * cn).as("s"),
        lit(-c).as("c"))
    }
    -array_max(array(structs: _*)).getField("c")
  }

  /** Explode each row of `df` (needs e, nrm) into its top-p nearest
    * centroids as `qcell` rows — the MULTIPROBE ranking. Iterated argmax:
    * selection j is [[assignCell]]'s array_max with the j already-chosen
    * cells masked below any real cosine (cosines are ≥ −1; the mask is
    * −2), so selections follow exactly (cos DESC, cid ASC) — the oracle's
    * rk ≤ p of one ROW_NUMBER ranking. Deliberately NOT an
    * array_sort/transform one-liner: array lambda HOFs are interpreted
    * per element in Spark (this box's deopt trigger, PlanSpec-banned on
    * similarity paths); this is p·k codegen'd when/array_max expressions
    * over k cosine columns computed once. Runs on the broadcast query
    * side only — never the corpus. */
  private[graft] def explodeProbeCells(df: DataFrame,
      cents: Seq[(Seq[Long], Double)], p: Int): DataFrame = {
    val (cur, pp) = withProbeCols(df, cents, p)
    cur.withColumn("qcell",
        explode(array((0 until pp).map(j => col(s"_p$j")): _*)))
      .drop(cents.indices.map(c => s"_s$c") ++ (0 until pp).map(j => s"_p$j"): _*)
  }

  /** [[explodeProbeCells]] keeping the selection RANK: (…, j, qcell) —
    * iterated-argmax selections are prefix-stable in p (selection j masks
    * only the j already-chosen cells, never looks at p), so cell j of the
    * p = max ranking IS cell j of every p > j ranking. The q115 curve
    * probes once at max(nprobes) and derives every smaller-nprobe arm as
    * the rank cut j < nprobe. */
  private[graft] def explodeProbeCellsRanked(df: DataFrame,
      cents: Seq[(Seq[Long], Double)], p: Int): DataFrame = {
    val (cur, pp) = withProbeCols(df, cents, p)
    cur.select(df.columns.map(col) :+
        posexplode(array((0 until pp).map(j => col(s"_p$j")): _*))
          .as(Seq("j", "qcell")): _*)
  }

  /** The shared iterated-argmax probe columns `_p0.._p(pp-1)` (plus the
    * k cosine columns `_s*` they select from); see [[explodeProbeCells]]
    * for why this is unrolled codegen rather than an array-HOF sort. */
  private def withProbeCols(df: DataFrame,
      cents: Seq[(Seq[Long], Double)], p: Int): (DataFrame, Int) = {
    val pp = math.min(p, cents.length)
    val simCols = cents.zipWithIndex.map { case ((ce, cn), c) =>
      safeCos(DotLongs(col("e"), typedLit(ce)), col("nrm") * cn).as(s"_s$c")
    }
    var cur = df.select(df.columns.map(col) ++ simCols: _*)
    for (j <- 0 until pp) {
      val structs = cents.indices.map { c =>
        val chosen = (0 until j).map(i => col(s"_p$i") === c)
          .foldLeft(lit(false))(_ || _)
        struct(when(chosen, lit(-2.0)).otherwise(col(s"_s$c")).as("s"),
          lit(-c).as("c"))
      }
      cur = cur.withColumn(s"_p$j", -array_max(array(structs: _*)).getField("c"))
    }
    (cur, pp)
  }

  /** IVF ANN: corpus assigned to its nearest of 16 k-means centroids
    * (deterministic 2-iteration Lloyd fit); each query probes only its
    * own cell. Recall@5 reported like q39.
    *
    * HASH-EXACT oracle (was rows-only through r4): the Lloyd fit is
    * deterministic fixed-point arithmetic end to end — seeds are the
    * first k vectors, per-cell sums are exact BIGINT aggregates, the
    * quantized mean is one correctly-rounded double division + floor
    * (the q52-centroid idiom DuckDB already matches bit-for-bit) — so
    * the DuckDB twin UNROLLS both iterations as CTEs (assign → sum →
    * mean → empty-cells-keep-previous) and replays the final assignment,
    * cell-probe candidates, both top-5 arms, and recall exactly. */
  def q44AnnIvfRecall(s: SparkSession, dir: String): DataFrame =
    ivfRecallWith(s, dir, fitCentroids(s, dir, k = 16, iters = 2))

  /** The cell-assigned corpus frame (vec_id, e, nrm, cell) — the static
    * side every IVF query path probes. Assignment is map-side codegen
    * against literal centroids. */
  private[graft] def assignedCorpus(s: SparkSession, dir: String,
      cents: Seq[(Seq[Long], Double)]): DataFrame =
    assignedOf(scaled(s, dir), cents)

  /** Assign an arbitrary scaled frame to its coarse cell — the DF-level
    * core of [[assignedCorpus]] (the append path encodes NEW batches). */
  private[graft] def assignedOf(base: DataFrame,
      cents: Seq[(Seq[Long], Double)]): DataFrame =
    base.withColumn("cell", assignCell(cents))
      .select(col("vec_id"), col("e"), col("nrm"), col("cell"))

  /** q44's ANN + recall report against an explicit centroid model.
    * `nprobe` > 1 is the MULTIPROBE audit arm (q96): each query's
    * candidates come from its nprobe nearest cells instead of only the
    * argmax cell — recall rises with candidate volume, same plan shape. */
  private[graft] def ivfRecallWith(s: SparkSession, dir: String,
      cents: Seq[(Seq[Long], Double)], nprobe: Int = 1): DataFrame = {
    import s.implicits._
    // empty-corpus fit ⇒ no centroids ⇒ no queries: empty report, same
    // schema (the q44 twin's empty corpus yields zero rows identically)
    if (cents.isEmpty)
      return Seq.empty[(Long, Long, Long, Double)]
        .toDF("qid", "n_candidates", "n_hit", "recall")
    // r16: one quantize pass (the q39 rule) — base feeds the assigned
    // corpus, the probe side, the exact arm and the report spine
    val base = scaled(s, dir).materialize()
    val assigned = assignedOf(base, cents)
    val q = explodeProbeCells(base.filter($"vec_id" < 10), cents, nprobe)
      .select($"vec_id".as("qid"), $"e".as("qe"), $"nrm".as("qn"), $"qcell")
    val exact = exactTopK(base).select($"qid", $"nid")
    val annCand = assigned.join(broadcast(q),
      $"vec_id" =!= $"qid" && $"cell" === $"qcell")
    val ann = cosineTopK(annCand, k = 5).select($"qid", $"nid")
    val nCand = annCand.groupBy($"qid").agg(count(lit(1)).as("n_candidates"))
    val hits = exact.as("x").join(ann.as("a"), Seq("qid", "nid"), "left_semi")
      .groupBy($"qid").agg(count(lit(1)).as("n_hit"))
    base.filter($"vec_id" < 10).select($"vec_id".as("qid"))
      .join(nCand, Seq("qid"), "left")
      .join(hits, Seq("qid"), "left")
      .na.fill(0L, Seq("n_candidates", "n_hit"))
      .withColumn("recall", $"n_hit".cast("double") / 5.0)
      .select($"qid", $"n_candidates", $"n_hit", $"recall")
      .orderBy($"qid")
  }

  /** IVF multiprobe nprobe for q96 — 6 of 16 cells (~35% expected
    * candidate volume). On this isotropic corpus sign-LSH measures ~0.4
    * recall and single-probe IVF 0.82–0.96 depending on SF; six probes
    * measures 0.96 mean recall at sf0.001 AND sf0.01 (4 probes dips to
    * 0.88 on the tiny corpus), comfortably over the 0.9 target with
    * margin (asserted by spec). */
  val MultiprobeNprobe = 6

  // ---------------------------------------------------------------- q96
  /** IVF multiprobe ANN + recall@5 (VERDICT r5 #2): q44's index, but
    * each query probes its [[MultiprobeNprobe]] nearest cells ranked by
    * query-to-centroid cosine. The ranking is the same exact arithmetic
    * as the assignment itself (integer dots < 2⁵³, IEEE divisions), so
    * the DuckDB twin replays it from the unrolled-CTE fit and the whole
    * report stays hash-exact. */
  def q96AnnIvfMultiprobe(s: SparkSession, dir: String): DataFrame =
    ivfRecallWith(s, dir, fitCentroids(s, dir, k = 16, iters = 2),
      nprobe = MultiprobeNprobe)

  // --------------------------------------------------------------- q111
  /** IVF-PQ geometry: 64 dims → [[PqSubspaces]] subspaces of
    * [[PqSubDim]], [[PqCodes]] codes per subspace codebook (8-byte code
    * per vector — a 64× compression of the 8×64-byte long vectors a
    * scan otherwise reads), ADC shortlist of [[PqShortlist]] re-ranked
    * exactly. */
  val PqSubspaces = 8
  val PqSubDim = 8
  val PqCodes = 16
  val PqIters = 2
  val PqShortlist = 60

  private def dotL(a: Seq[Long], b: Seq[Long]): Long =
    a.iterator.zip(b.iterator).map { case (x, y) => x * y }.sum
  private def ssqL(a: Seq[Long]): Long = dotL(a, a)

  private def subVec(v: Seq[Long], u: Int): Seq[Long] =
    v.slice(u * PqSubDim, (u + 1) * PqSubDim)
  private def subCol(u: Int): org.apache.spark.sql.Column =
    slice(col("e"), u * PqSubDim + 1, PqSubDim)

  /** Coarse-centroid subvector lookup per subspace, by cell — literal
    * model constants indexed map-side. */
  private def centSubs(cents: Seq[(Seq[Long], Double)]): Seq[Seq[Seq[Long]]] =
    (0 until PqSubspaces).map(u => cents.map(c => subVec(c._1, u)))

  /** The per-subspace RESIDUAL columns `_r0.._r7` (x − coarse centroid,
    * exact longs via the codegen [[SubLongs]] kernel) over an
    * [[assignedCorpus]] frame. */
  private def residualCols(asg: DataFrame,
      cents: Seq[(Seq[Long], Double)]): DataFrame = {
    val cs = centSubs(cents)
    asg.select(col("vec_id") +: col("cell") +:
      (0 until PqSubspaces).map(u => SubLongs(subCol(u),
        element_at(typedLit(cs(u)), col("cell") + 1)).as(s"_r$u")): _*)
  }

  /** Integer L2 code assignment for one subspace: argmin over codes of
    * ‖r − c‖² ⇔ argmax of 2·(r·c) − ‖c‖² — pure long arithmetic, no
    * doubles anywhere, ties to the LOWEST code (the assignCell
    * convention). k codegen'd [[DotLongs]] against literal codes. */
  private def pqCodeCol(r: org.apache.spark.sql.Column,
      book: Seq[Seq[Long]]): org.apache.spark.sql.Column = {
    val structs = book.zipWithIndex.map { case (c, ci) =>
      struct((DotLongs(r, typedLit(c)) * lit(2L) - lit(ssqL(c))).as("s"),
        lit(-ci).as("c"))
    }
    (-array_max(array(structs: _*)).getField("c")).cast("int")
  }

  /** Deterministic per-subspace PQ codebooks over the RESIDUALS of the
    * coarse assignment (classic IVF-PQ: quantize what the coarse cell
    * doesn't explain). Same driver-coordinated machinery as
    * [[fitCentroids]]: seeds = the first [[PqCodes]] vectors' residual
    * subvectors, per-iteration per-(subspace, code, dim) sums are exact
    * integer aggregates (one job fits ALL subspaces — m×ks×subdim =
    * 1024 cells to the driver per iteration), quantized means, empty
    * codes keep their previous vector. Assignment is all-integer L2, so
    * the fit is bit-stable under any partitioning and replayable in the
    * DuckDB twin. Returns codebooks(u)(code) = subdim longs. */
  /** With `samplePermille` set, the codebooks are fit on a
    * deterministic md5 hash-sample of the corpus (the q46 family) —
    * the 100 TB fit shape: codebook QUALITY converges with sample
    * size long before corpus size (classic PQ practice: train on
    * ~100k–1M vectors), so the iterated frame — and its checkpoint —
    * is sample-sized instead of a second copy of the corpus. Seeds are
    * the sample's lowest vec_ids. The ENCODE still covers every
    * vector; only the training set shrinks. */
  private[graft] def fitPqCodebooks(s: SparkSession, dir: String,
      cents: Seq[(Seq[Long], Double)],
      iters: Int = PqIters,
      samplePermille: Option[Long] = None): Seq[Seq[Seq[Long]]] = {
    import s.implicits._
    if (cents.isEmpty) return Seq.empty
    val fitSet = samplePermille match {
      case Some(r) => assignedCorpus(s, dir, cents)
        .filter(graft.util.Buckets.modN("vec_id", 1000) < r)
      case None => assignedCorpus(s, dir, cents)
    }
    // the fit re-scans per iteration: materialize the residual frame
    // once (the theilSen/q89 checkpoint discipline; sample-sized when
    // samplePermille is set)
    val resid = residualCols(fitSet, cents)
      .materialize()
    // seeds: full fit takes vec_id < PqCodes — the PREDICATE form, the
    // same convention as fitCentroids and the oracle twin's pbook0, so a
    // non-dense or offset id space diverges identically on both sides
    // instead of as an opaque hash mismatch (ADVICE r8). The sampled fit
    // has no oracle twin and keeps the sample's lowest ids.
    val seedRows = samplePermille match {
      case None => resid.filter($"vec_id" < PqCodes).orderBy($"vec_id").collect()
      case Some(_) => resid.orderBy($"vec_id").limit(PqCodes).collect()
    }
    if (seedRows.isEmpty) return Seq.empty
    var books: Seq[Seq[Seq[Long]]] = (0 until PqSubspaces).map { u =>
      seedRows.map(r => r.getSeq[Long](r.fieldIndex(s"_r$u")).toSeq).toSeq
    }
    for (_ <- 1 to iters) {
      val sums = resid.select(explode(array((0 until PqSubspaces).map(u =>
          struct(lit(u).as("u"), pqCodeCol(col(s"_r$u"), books(u)).as("code"),
            col(s"_r$u").as("r"))): _*)).as("x"))
        .select($"x.u".as("u"), $"x.code".as("code"),
          posexplode($"x.r").as(Seq("dim", "v")))
        .groupBy($"u", $"code", $"dim")
        .agg(sum($"v").as("sv"), count(lit(1)).as("cnt"))
        .collect()
      val byKey = sums.groupBy(r => (r.getInt(0), r.getInt(1)))
      books = books.zipWithIndex.map { case (book, u) =>
        book.zipWithIndex.map { case (old, c) =>
          byKey.get((u, c)) match {
            case Some(rows) =>
              val dims = rows.map(r => (r.getInt(2), math.floor(
                r.getLong(3).toDouble / r.getLong(4) + 0.5).toLong)).toMap
              (0 until PqSubDim).map(d => dims.getOrElse(d, 0L))
            case None => old
          }
        }
      }
    }
    books
  }

  /** PQ-encode an assigned corpus: (vec_id, cell, codes array<int>,
    * rnrm). `codes(u)` is the subspace-u residual code; `rnrm` is the
    * RECONSTRUCTION's exact norm — ‖cent + r̂‖² expands to
    * ssq(cent) + 2·Σᵤ cent_u·ĉ_u + Σᵤ ssq(ĉ_u), every term a literal
    * model constant looked up by (cell, code) map-side, summed as
    * longs, one sqrt. Encode once, serve many: the served scan reads 8
    * int codes + one double instead of 64 longs. */
  private[graft] def pqEncode(asg: DataFrame, cents: Seq[(Seq[Long], Double)],
      books: Seq[Seq[Seq[Long]]]): DataFrame = {
    val cs = centSubs(cents)
    val ssqCent: Seq[Long] = cents.map(c => ssqL(c._1))
    // cdot(u)(cell)(code) = cent-subvector · codebook vector
    val cdot: Seq[Seq[Seq[Long]]] = (0 until PqSubspaces).map(u =>
      cs(u).map(cu => books(u).map(b => dotL(cu, b))))
    val cssq: Seq[Seq[Long]] = books.map(_.map(ssqL))
    val withCodes = residualCols(asg, cents)
      .select(col("vec_id") +: col("cell") +:
        (0 until PqSubspaces).map(u =>
          pqCodeCol(col(s"_r$u"), books(u)).as(s"_c$u")): _*)
    val rnrm2 = (0 until PqSubspaces).map { u =>
      element_at(element_at(typedLit(cdot(u)), col("cell") + 1),
        col(s"_c$u") + 1) * lit(2L) +
        element_at(typedLit(cssq(u)), col(s"_c$u") + 1)
    }.reduce(_ + _) + element_at(typedLit(ssqCent), col("cell") + 1)
    withCodes
      .withColumn("codes",
        array((0 until PqSubspaces).map(u => col(s"_c$u")): _*))
      .withColumn("rnrm", sqrt(rnrm2.cast("double")))
      .select(col("vec_id"), col("cell"), col("codes"), col("rnrm"))
  }

  /** q111: IVF-PQ ANN + recall@5 — the compressed-index member of the
    * similarity family (the published scale move after IVF: at 100 TB
    * of embeddings the candidate scan must not read full vectors).
    * Pipeline: coarse probe ([[explodeProbeCells]], the q96 multiprobe
    * ranking) → ASYMMETRIC-DISTANCE shortlist over the encoded corpus
    * (approx dot = q·cent_cell + Σᵤ LUTᵤ[codeᵤ]; the LUT is 8×16
    * exact-integer dots per query, driver-built from the 10 query
    * vectors — model-sized — and broadcast, so each candidate row costs
    * 8 lookups + adds, ZERO multiplications) → top-[[PqShortlist]] per
    * query → exact re-rank of the shortlist's TRUE vectors via the one
    * allow-listed [[cosineTopK]]. Report schema = q44/q96
    * (n_candidates = the shortlist the exact arm re-ranked). Every step
    * is exact integer arithmetic + correctly-rounded sqrt/div, so the
    * DuckDB twin replays fit, encode, ADC and re-rank hash-exact. */
  def q111AnnIvfPq(s: SparkSession, dir: String): DataFrame = {
    val cents = fitCentroids(s, dir, k = 16, iters = 2)
    ivfPqRecall(s, dir, cents, fitPqCodebooks(s, dir, cents))
  }

  /** Persist the full compressed index: coarse centroids, per-subspace
    * codebooks, and the PQ-ENCODED corpus (vec_id, cell, 8 int codes,
    * rnrm — the 64×-smaller frame a serving scan reads instead of raw
    * vectors). Build once; [[pqServeQuery]] pays only load + ADC +
    * shortlist-sized true-vector fetch. */
  def savePqIndex(s: SparkSession, dir: String, indexPath: String): Unit = {
    import s.implicits._
    val cents = fitCentroids(s, dir, k = 16, iters = 2)
    val books = fitPqCodebooks(s, dir, cents)
    cents.zipWithIndex.map { case ((e, nrm), cid) => (cid, e, nrm) }
      .toDF("cid", "e", "nrm").coalesce(1)
      .write.mode("overwrite").parquet(s"$indexPath/cents")
    books.zipWithIndex
      .flatMap { case (book, u) => book.zipWithIndex.map { case (bv, c) => (u, c, bv) } }
      .toDF("u", "code", "bv").coalesce(1)
      .write.mode("overwrite").parquet(s"$indexPath/books")
    val enc =
      if (cents.isEmpty || books.isEmpty)
        Seq.empty[(Long, Int, Seq[Int], Double)]
          .toDF("vec_id", "cell", "codes", "rnrm")
      else pqEncode(assignedCorpus(s, dir, cents), cents, books)
    enc.write.mode("overwrite").parquet(s"$indexPath/enc")
  }

  def loadPqIndex(s: SparkSession, indexPath: String)
      : (Seq[(Seq[Long], Double)], Seq[Seq[Seq[Long]]]) = {
    import s.implicits._
    val cents = s.read.parquet(s"$indexPath/cents").orderBy($"cid")
      .select($"e", $"nrm").as[(Seq[Long], Double)].collect().toIndexedSeq
    val flat = s.read.parquet(s"$indexPath/books").orderBy($"u", $"code")
      .select($"u", $"code", $"bv").as[(Int, Int, Seq[Long])].collect()
    val books =
      if (flat.isEmpty) Seq.empty[Seq[Seq[Long]]]
      else (0 until PqSubspaces).map(u =>
        flat.filter(_._1 == u).sortBy(_._2).map(_._3).toSeq)
    (cents, books)
  }

  /** VERDICT r8 #3: first-class index APPEND — encode a NEW vector batch
    * (`(vec_id, embedding)` rows) against the FROZEN coarse centroids +
    * codebooks of a saved index and union it into the encoded frame.
    * This is the 100 TB refresh shape: daily arrivals pay scale-of-batch
    * encode work (map-side assign + argmax against broadcast literal
    * models, zero shuffles, one parquet append) while the corpus-sized
    * fit runs only when [[pqIndexDistortion]] says the frozen codebooks
    * stopped fitting the data. Encode is deterministic per row, so an
    * appended index is bit-identical to a full re-encode under the same
    * models (RangeJoinSpec pins this). */
  def appendPqIndex(s: SparkSession, indexPath: String,
      newVecs: DataFrame): Unit = {
    val (cents, books) = loadPqIndex(s, indexPath)
    require(cents.nonEmpty && books.nonEmpty,
      s"$indexPath has no fitted model — build with savePqIndex first")
    pqEncode(assignedOf(scaledOf(newVecs), cents), cents, books)
      .write.mode("append").parquet(s"$indexPath/enc")
  }

  /** The q112 distortion audit over a SAVED index's STORED codes (no
    * re-argmax): per subspace, exact ‖r − ĉ‖² stats joining the encoded
    * frame back to the true vectors of `rawDir`. This is the drift gate
    * an [[appendPqIndex]] is judged by — appended batches drawn from a
    * shifted distribution raise mse here (against the q112 baseline of
    * the fit-time corpus) long before recall visibly degrades, telling
    * the operator when the frozen codebooks need a re-fit. One
    * vec_id-equi-join + map-side integer expression work + an 8-row
    * aggregate. */
  def pqIndexDistortion(s: SparkSession, rawDir: String,
      indexPath: String): DataFrame = {
    import s.implicits._
    val (cents, books) = loadPqIndex(s, indexPath)
    if (cents.isEmpty || books.isEmpty)
      return Seq.empty[(Long, Long, Long, Double, Long)]
        .toDF("subspace", "n_vecs", "sse", "mse", "max_se")
    val cs = centSubs(cents)
    val cssq: Seq[Seq[Long]] = books.map(_.map(ssqL))
    val enc = s.read.parquet(s"$indexPath/enc")
      .select($"vec_id", $"cell", $"codes")
    val joined = scaled(s, rawDir).join(enc, "vec_id")
    // coverage gate (review finding r9): the equi-join silently DROPS
    // encoded vectors whose ids are absent from rawDir — which would be
    // exactly the appended batches this audit exists to judge. A gate
    // that can read clean while skipping the drifted rows is worse than
    // none: refuse instead.
    val nEnc = enc.count()
    val nCovered = joined.count()
    require(nCovered == nEnc,
      s"drift gate refused: $rawDir covers $nCovered of $nEnc encoded " +
        "vectors — pass a rawDir containing every appended batch's raw " +
        "vectors, or the audit would silently skip exactly the rows it judges")
    // the q112 discipline: materialize residual and code once per
    // subspace in their own projection before the error expression
    // references each twice
    val withR = joined.select(Seq($"vec_id") ++
      (0 until PqSubspaces).map(u => SubLongs(subCol(u),
        element_at(typedLit(cs(u)), $"cell" + 1)).as(s"_r$u")) ++
      (0 until PqSubspaces).map(u =>
        element_at($"codes", u + 1).as(s"_c$u")): _*)
    val seCols = (0 until PqSubspaces).map { u =>
      val r = col(s"_r$u")
      val code = col(s"_c$u")
      val bvec = element_at(typedLit(books(u)), code + 1)
      struct(lit(u.toLong).as("subspace"),
        (DotLongs(r, r) - DotLongs(r, bvec) * lit(2L) +
          element_at(typedLit(cssq(u)), code + 1)).as("se"))
    }
    withR.select(explode(array(seCols: _*)).as("x"))
      .select($"x.subspace".as("subspace"), $"x.se".as("se"))
      .groupBy($"subspace")
      .agg(count(lit(1)).as("n_vecs"), sum($"se").as("sse"),
        max($"se").as("max_se"))
      .withColumn("mse", $"sse".cast("double") / $"n_vecs")
      .select($"subspace", $"n_vecs", $"sse", $"mse", $"max_se")
      .orderBy($"subspace")
  }

  /** Freeze the FIT-TIME distortion audit as the index's drift
    * baseline (`<indexPath>/distortion0`, 8 rows) — the reference a
    * thresholded re-freeze gate compares later audits against
    * (VERDICT r12 #5). Written at build, when the fit corpus is
    * guaranteed to cover the index. */
  def savePqDistortionBaseline(s: SparkSession, dir: String,
      indexPath: String): Unit =
    pqIndexDistortion(s, dir, indexPath).coalesce(1)
      .write.mode("overwrite").parquet(s"$indexPath/distortion0")

  /** Worst per-subspace distortion drift of `now` (a
    * [[pqIndexDistortion]] frame) against the fit-time baseline, in
    * permille: max_u ⌊|mse_now(u) − mse_0(u)|·1000 / mse_0(u)⌋. Both
    * frames are 8 rows — driver arithmetic. Refuses when the baseline
    * is missing (an index built before baselines existed has nothing
    * to gate against — the pqIndexDistortion coverage rule). A zero
    * fit-time mse with nonzero drift reads as 1 000 000‰ — decisively
    * over any sane threshold rather than a division abort (the
    * avgdl_frozen = 0 convention). */
  def pqDistortionDrift(s: SparkSession, indexPath: String,
      now: DataFrame): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$indexPath/distortion0")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
      s"drift gate refused: $indexPath has no fit-time distortion " +
        "baseline (distortion0) — rebuild so there is a reference to " +
        "gate appends against")
    val base = s.read.parquet(s"$indexPath/distortion0")
      .select(col("subspace"), col("mse")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val cur = now.select(col("subspace"), col("mse")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    cur.map { case (u, m) =>
      val m0 = base.getOrElse(u, 0.0)
      if (m0 == 0.0) { if (m == 0.0) 0L else 1000000L }
      else math.floor(math.abs(m - m0) * 1000.0 / m0).toLong
    }.foldLeft(0L)(math.max)
  }

  /** The production IVF-PQ serving path: (qid, nid, rk, sim) top-k from
    * a SAVED index — candidate generation scans only the encoded frame
    * (codes + rnrm), true vectors are fetched for the shortlist alone. */
  def pqServeQuery(s: SparkSession, dir: String, indexPath: String,
      k: Int = 5, nprobe: Int = MultiprobeNprobe,
      shortlist: Int = PqShortlist,
      qids: Option[Seq[Long]] = None): DataFrame = {
    import s.implicits._
    val (cents, books) = loadPqIndex(s, indexPath)
    if (cents.isEmpty || books.isEmpty)
      return Seq.empty[(Long, Long, Long, Double)]
        .toDF("qid", "nid", "rk", "sim")
    val enc = s.read.parquet(s"$indexPath/enc")
    pqAnn(scaled(s, dir), enc, cents, books, nprobe, shortlist, k, qids)
      .orderBy($"qid", $"rk")
  }

  private[graft] def ivfPqRecall(s: SparkSession, dir: String,
      cents: Seq[(Seq[Long], Double)], books: Seq[Seq[Seq[Long]]],
      nprobe: Int = MultiprobeNprobe,
      shortlist: Int = PqShortlist): DataFrame = {
    import s.implicits._
    if (cents.isEmpty || books.isEmpty)
      return Seq.empty[(Long, Long, Long, Double)]
        .toDF("qid", "n_candidates", "n_hit", "recall")
    // r16: one quantize pass (the q39 rule) — base feeds the encode, the
    // shortlist fetch join, the exact arm and the report spine (3 full
    // corpus scans in the lazy shape)
    val base = scaled(s, dir).materialize()
    val enc = pqEncode(assignedOf(base, cents), cents, books)
    // ONE shortlist materialization (10×shortlist rows) feeds both the
    // re-rank and the candidate count — the ADC scan must not run twice
    val sl = pqShortlist(base, enc, cents, books, nprobe, shortlist)
      .materialize()
    val qs = querySide(base)
    val ann = cosineTopK(sl.join(base, "vec_id").join(broadcast(qs), "qid"),
        k = 5).select($"qid", $"nid")
    val nCand = sl.groupBy($"qid").agg(count(lit(1)).as("n_candidates"))
    val exact = exactTopK(base).select($"qid", $"nid")
    val hits = exact.as("x").join(ann.as("a"), Seq("qid", "nid"), "left_semi")
      .groupBy($"qid").agg(count(lit(1)).as("n_hit"))
    base.filter($"vec_id" < 10).select($"vec_id".as("qid"))
      .join(nCand, Seq("qid"), "left")
      .join(hits, Seq("qid"), "left")
      .na.fill(0L, Seq("n_candidates", "n_hit"))
      .withColumn("recall", $"n_hit".cast("double") / 5.0)
      .select($"qid", $"n_candidates", $"n_hit", $"recall")
      .orderBy($"qid")
  }

  // --------------------------------------------------------------- q112
  /** q112: PQ distortion audit — the q66 quantization-error story for
    * the compressed index: per subspace, the exact integer sum/max of
    * squared residual-quantization error ‖r − ĉ‖² (= r·r − 2·r·ĉ + ĉ·ĉ,
    * every term a codegen integer dot or a model constant) over the
    * whole corpus, plus the mean as one double division. The number
    * that tells an operator whether the codebooks fit THEIR data before
    * they trust the ADC shortlist — and the audit a re-fit is judged
    * by. One scan, one 8-way explode (subspace-keyed partial agg), no
    * joins. */
  def q112PqDistortion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cents = fitCentroids(s, dir, k = 16, iters = 2)
    val books = fitPqCodebooks(s, dir, cents)
    if (cents.isEmpty || books.isEmpty)
      return Seq.empty[(Long, Long, Long, Double, Long)]
        .toDF("subspace", "n_vecs", "sse", "mse", "max_se")
    val cssq: Seq[Seq[Long]] = books.map(_.map(ssqL))
    // materialize the 16-way argmax code ONCE per subspace in its own
    // projection (pqEncode's withCodes step) before the error expression
    // references it twice (bvec lookup + cssq lookup) — CollapseProject
    // declines to inline a non-cheap expression used more than once, so
    // the hottest scan does each argmax exactly once (ADVICE r8)
    val resid = residualCols(assignedCorpus(s, dir, cents), cents)
    val withCodes = resid.select(
      (0 until PqSubspaces).map(u => col(s"_r$u")) ++
        (0 until PqSubspaces).map(u =>
          pqCodeCol(col(s"_r$u"), books(u)).as(s"_c$u")): _*)
    val seCols = (0 until PqSubspaces).map { u =>
      val r = col(s"_r$u")
      val code = col(s"_c$u")
      val bvec = element_at(typedLit(books(u)), code + 1)
      struct(lit(u.toLong).as("subspace"),
        (DotLongs(r, r) - DotLongs(r, bvec) * lit(2L) +
          element_at(typedLit(cssq(u)), code + 1)).as("se"))
    }
    withCodes.select(explode(array(seCols: _*)).as("x"))
      .select($"x.subspace".as("subspace"), $"x.se".as("se"))
      .groupBy($"subspace")
      .agg(count(lit(1)).as("n_vecs"), sum($"se").as("sse"),
        max($"se").as("max_se"))
      .withColumn("mse", $"sse".cast("double") / $"n_vecs")
      .select($"subspace", $"n_vecs", $"sse", $"mse", $"max_se")
      .orderBy($"subspace")
  }

  // --------------------------------------------------------------- q115
  /** The q115 sweep grid: coarse-probe count × ADC shortlist size. Small
    * on purpose — each (nprobe, shortlist) cell is a full serve-path
    * evaluation; the grid brackets the knobs an operator actually turns
    * (probe 1 cell vs the q96 default 6; re-rank 20 vs the q111 default
    * 60). */
  val CurveNprobes = Seq(1, 3, 6)
  val CurveShortlists = Seq(20, 60)

  /** q115 (VERDICT r8 #5): the recall/cost CURVE for the PQ serve path —
    * per (nprobe, shortlist): ADC-scanned candidate rows, exactly
    * re-ranked rows, top-5 hits vs the exact arm, mean recall@5, and the
    * shortlist-monotonicity invariant. The operator tuning the 100 TB
    * index needs this curve (recall bought per row scanned), not the one
    * point q111 reports.
    *
    * mono_shortlist is a THEOREM for fixed nprobe (a larger shortlist is
    * a superset cut of the same ranked frame, and any global-top-5
    * member inside a shortlist always survives the exact re-rank — only
    * other global-top-5 members can outrank it); recall vs nprobe is
    * expected-but-not-guaranteed monotone (the ADC ranking is
    * approximate, so a new candidate can crowd a true neighbor out of a
    * FIXED-size shortlist), which is exactly why the curve reports it
    * rather than asserting it.
    *
    * Scale shape: fit once, encode once (checkpointed); ONE ADC scan per
    * nprobe (the ranked frame is checkpointed and every shortlist cut +
    * count reuses it); re-rank joins touch shortlist-sized row sets; the
    * output is 6 rows. Everything is the q111 exact-arithmetic pipeline,
    * so the DuckDB twin replays the whole sweep hash-exact. */
  def q115PqRecallCurve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cents = fitCentroids(s, dir, k = 16, iters = 2)
    val books = fitPqCodebooks(s, dir, cents)
    if (cents.isEmpty || books.isEmpty)
      return Seq.empty[(Long, Long, Long, Long, Long, Double, Boolean)]
        .toDF("nprobe", "shortlist", "n_scanned", "n_reranked", "n_hit",
          "recall", "mono_shortlist")
    // r16: one quantize pass (the q39 rule) — base feeds the encode,
    // the exact arm, the query side and the re-rank fetch join
    val base = scaled(s, dir).materialize()
    val enc = pqEncode(assignedOf(base, cents), cents, books)
      .materialize()
    curveDf(s, curveCells(base, enc, cents, books))
  }

  /** The sweep core shared by q115 (inline fit) and the saved-index curve
    * ([[pqIndexCurve]]): per (nprobe, shortlist) cell — scanned rows,
    * re-ranked rows, exact-arm hits, mean recall@5. Every cell statistic
    * is a SCALAR aggregate — they come to the driver as counts (the
    * model-sized-collect rule), not as 1-row frames cross-joined back
    * into the plan (that shape plans as a chain of
    * BroadcastNestedLoopJoin Cross, which PlanSpec bans engine-wide
    * outside the brute-force twins). recall's division is the same one
    * IEEE op as the twin's CAST(...)/(5.0 * nq). ONE checkpointed ADC
    * scan per nprobe serves every shortlist cut. */
  private def curveCells(base: DataFrame, enc: DataFrame,
      cents: Seq[(Seq[Long], Double)], books: Seq[Seq[Seq[Long]]])
      : Seq[(Long, Long, Long, Long, Long, Double)] = {
    val s = base.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val exact = exactTopK(base).select($"qid", $"nid").materialize()
    val qs = querySide(base)
    val nq = base.filter($"vec_id" < 10).count()
    // r16 (guide §2.4/§2.6): ONE ADC scan + ONE window pass serves every
    // (nprobe, shortlist) cell. The old shape ran pqAdcRanked per nprobe
    // (3 scans of the encoded corpus, 3 checkpoints) and then 2 counts +
    // 1 re-rank + 1 semi-count per cell — ~21 sequential driver-blocked
    // jobs whose per-job latency dominated the query. Now: the probe side
    // is exploded once at max(nprobe) keeping the selection rank
    // (prefix-stable, see explodeProbeCellsRanked), the encoded corpus is
    // joined ONCE, per-cell ranks ride one Window over (np, qid), and the
    // cell statistics come back in two aggregate collects. Every number
    // is bit-identical to the per-arm formulation: each np slice of the
    // ranked frame has exactly the rows + ranks the per-np pipeline
    // produced, the tagged re-rank partitions on (np, sl, qid) so each
    // cell's top-5 is ranked within its own candidate set, and
    // |ann ∩ exact| is symmetric in join direction (both sides unique).
    val ranked = pqAdcRankedMulti(base, enc, cents, books, CurveNprobes)
      .materialize()
    val cntAggs = count(lit(1)).as("n_scanned") +:
      CurveShortlists.map(sl =>
        sum(when($"rk" <= sl, 1L).otherwise(0L)).as(s"rr_$sl"))
    val cnts = ranked.groupBy($"np").agg(cntAggs.head, cntAggs.tail: _*)
      .collect().map(r => r.getInt(0) -> r).toMap
    val cand = ranked
      .withColumn("sl", explode(typedLit(CurveShortlists)))
      .filter($"rk" <= $"sl")
      .select($"np", $"sl", $"qid", $"vec_id")
    val w = Window.partitionBy($"np", $"sl", $"qid")
      .orderBy($"sim".desc, $"vec_id".asc)
    val ann = cand.join(base, "vec_id").join(broadcast(qs), "qid")
      .withColumn("dot", DotLongs($"qe", $"e"))
      .withColumn("sim", safeCos($"dot", $"qn" * $"nrm"))
      .withColumn("rk2", row_number().over(w))
      .filter($"rk2" <= 5)
      .select($"np", $"sl", $"qid", $"vec_id".as("nid"))
    val hits = ann.join(exact, Seq("qid", "nid"), "left_semi")
      .groupBy($"np", $"sl").agg(count(lit(1)).as("n_hit"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    CurveNprobes.flatMap { np =>
      CurveShortlists.map { sl =>
        val c = cnts.get(np)
        val nScanned = c.fold(0L)(_.getAs[Long]("n_scanned"))
        val nReranked = c.fold(0L)(_.getAs[Long](s"rr_$sl"))
        val nHit = hits.getOrElse((np, sl), 0L)
        (np.toLong, sl.toLong, nScanned, nReranked, nHit,
          nHit.toDouble / (5.0 * nq))
      }
    }
  }

  private def curveDf(s: SparkSession,
      cells: Seq[(Long, Long, Long, Long, Long, Double)]): DataFrame = {
    import s.implicits._
    cells.map { case (np, sl, sc, rr, hit, rec) =>
      val prev = cells.filter(c => c._1 == np && c._2 < sl)
        .sortBy(_._2).lastOption
      (np, sl, sc, rr, hit, rec, prev.forall(rec >= _._6))
    }.toDF("nprobe", "shortlist", "n_scanned", "n_reranked", "n_hit",
        "recall", "mono_shortlist")
      .orderBy($"nprobe", $"shortlist")
  }

  /** The q115 sweep evaluated against a SAVED index — frozen models,
    * STORED codes (the frame serving actually scans, appends included) —
    * so the persisted curve prices the index as it will serve, not a
    * fresh re-fit. */
  def pqIndexCurve(s: SparkSession, dir: String, indexPath: String)
      : DataFrame = {
    import s.implicits._
    val (cents, books) = loadPqIndex(s, indexPath)
    if (cents.isEmpty || books.isEmpty)
      return Seq.empty[(Long, Long, Long, Long, Long, Double, Boolean)]
        .toDF("nprobe", "shortlist", "n_scanned", "n_reranked", "n_hit",
          "recall", "mono_shortlist")
    val base = scaled(s, dir).materialize() // the q39 rule
    val enc = s.read.parquet(s"$indexPath/enc")
    curveDf(s, curveCells(base, enc, cents, books))
  }

  /** VERDICT r9 #3: persist the measured recall/cost curve WITH the
    * index, so serving can be driven by a recall target instead of
    * hand-copied knobs. Written at build and refreshed at audit — the
    * two moments the operator is already paying a corpus-sized read. */
  def savePqIndexCurve(s: SparkSession, dir: String,
      indexPath: String): Unit =
    pqIndexCurve(s, dir, indexPath).coalesce(1)
      .write.mode("overwrite").parquet(s"$indexPath/curve")

  /** Pick the CHEAPEST (nprobe, shortlist) cell of the persisted curve
    * meeting `recallTarget` — cost ordered by ADC-scanned rows, then
    * re-ranked rows, then probes (the serving-time cost components in
    * the order they dominate at scale). Returns (nprobe, shortlist,
    * n_scanned). Refuses when the curve is missing (build/audit first)
    * or when NO cell meets the target — serving below a stated recall
    * target silently is the one thing this mode must never do. */
  def chooseServeKnobs(s: SparkSession, indexPath: String,
      recallTarget: Double): (Int, Int, Long) = {
    val p = new org.apache.hadoop.fs.Path(s"$indexPath/curve")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
      s"$indexPath has no persisted recall/cost curve — run build or audit first")
    val rows = s.read.parquet(s"$indexPath/curve")
      .select("nprobe", "shortlist", "n_scanned", "n_reranked", "recall")
      .collect() // grid-sized: |CurveNprobes| × |CurveShortlists| rows
    val ok = rows.filter(_.getDouble(4) >= recallTarget)
    require(ok.nonEmpty,
      f"no (nprobe, shortlist) cell of the measured curve reaches recall ≥ " +
        f"$recallTarget%.3f (best available ${rows.map(_.getDouble(4)).max}%.3f) — " +
        "lower the target or re-fit/re-audit the index")
    val cell = ok.minBy(r => (r.getLong(2), r.getLong(3), r.getLong(0)))
    (cell.getLong(0).toInt, cell.getLong(1).toInt, cell.getLong(2))
  }

  /** The full ADC-ranked candidate frame for one nprobe: (qid, vec_id,
    * rk) where rk ranks by approximate cosine from the 8-lookup LUT sum.
    * The rank is SHORTLIST-INDEPENDENT — [[pqShortlist]] is a rank cut,
    * and the q115 curve audit reuses one ranked frame across every
    * shortlist knob (n_scanned = this frame's size). The corpus side
    * reads ONLY the encoded frame. */
  /** The query-side artifacts both ADC rankers share (ADVICE r16: the
    * q115 rank-cut equivalence requires the two to stay bit-identical,
    * so the shared pieces live ONCE): the restricted query frame and the
    * per-query LUT table. Restricting BEFORE candidate generation is the
    * VERDICT r12 #2 rule — a batch asking for a subset of the standing
    * queries must not pay ADC + re-rank for the rest. LUTs: ≤10 query
    * vectors → driver (query-side, model-sized), exact integer dots
    * against every codebook vector and every coarse centroid. */
  private def pqQueryArtifacts(base: DataFrame,
      cents: Seq[(Seq[Long], Double)], books: Seq[Seq[Seq[Long]]],
      qids: Option[Seq[Long]]): (DataFrame, DataFrame) = {
    val s = base.sparkSession
    import s.implicits._
    val qside = qids.fold(base.filter($"vec_id" < 10))(ids =>
      base.filter($"vec_id" < 10 && $"vec_id".isin(ids: _*)))
    val qrows = qside.orderBy($"vec_id")
      .select($"vec_id", $"e", $"nrm").collect()
      .map { r =>
        val qe = r.getSeq[Long](1).toSeq
        (r.getLong(0),
          (0 until PqSubspaces).map(u =>
            books(u).map(b => dotL(subVec(qe, u), b))),
          cents.map(c => dotL(qe, c._1)),
          r.getDouble(2))
      }.toSeq
    (qside, qrows.toDF("qid", "lut", "qcent", "qn"))
  }

  /** The ADC approximate dot — LUT sum + coarse-centroid term — over the
    * joined (codes, cell, lut, qcent) columns. One definition for both
    * rankers (the other half of the ADVICE r16 item). */
  private def pqAdcDot: Column =
    element_at(col("qcent"), (col("cell") + 1).cast("int")) +
      (0 until PqSubspaces).map(u =>
        element_at(element_at(col("lut"), u + 1),
          element_at(col("codes"), u + 1) + 1)).reduce(_ + _)

  private[graft] def pqAdcRanked(base: DataFrame, enc: DataFrame,
      cents: Seq[(Seq[Long], Double)], books: Seq[Seq[Seq[Long]]],
      nprobe: Int, qids: Option[Seq[Long]] = None): DataFrame = {
    val s = base.sparkSession
    import s.implicits._
    val (qside, lut) = pqQueryArtifacts(base, cents, books, qids)
    val qprobe = explodeProbeCells(qside, cents, nprobe)
      .select($"vec_id".as("qid"), $"qcell")
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"qid")
      .orderBy($"asim".desc, $"vec_id".asc)
    enc.join(broadcast(qprobe),
        enc("cell") === qprobe("qcell") && enc("vec_id") =!= qprobe("qid"))
      .join(broadcast(lut), "qid")
      .withColumn("asim", safeCos(pqAdcDot, $"qn" * $"rnrm"))
      .withColumn("rk", row_number().over(w))
      .select($"qid", $"vec_id", $"rk")
  }

  /** [[pqAdcRanked]] for SEVERAL nprobe knobs in one pass (the q115
    * curve): (np, qid, vec_id, rk) where each np slice carries exactly
    * the rows and ranks pqAdcRanked(…, np) produces. The probe side is
    * exploded ONCE at max(nprobes) keeping the selection rank j
    * ([[explodeProbeCellsRanked]] — prefix-stable), the encoded corpus is
    * joined ONCE (≤ max(nprobes) probed cells per query instead of
    * Σ nprobes), each joined row is replicated to the nps that probe at
    * least j+1 cells via a literal j→{np > j} lookup (no array-HOF
    * filter — the similarity-path codegen rule), asim is computed once
    * per joined row BEFORE the replication, and one Window over
    * (np, qid) ranks every arm. */
  private[graft] def pqAdcRankedMulti(base: DataFrame, enc: DataFrame,
      cents: Seq[(Seq[Long], Double)], books: Seq[Seq[Seq[Long]]],
      nprobes: Seq[Int], qids: Option[Seq[Long]] = None): DataFrame = {
    val s = base.sparkSession
    import s.implicits._
    val (qside, lut) = pqQueryArtifacts(base, cents, books, qids)
    val pmax = nprobes.max
    val qprobe = explodeProbeCellsRanked(qside, cents, pmax)
      .select($"vec_id".as("qid"), $"j", $"qcell")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"np", $"qid").orderBy($"asim".desc, $"vec_id".asc)
    // j → the nprobe knobs whose arm probes cell j (np > j), as a
    // literal lookup table (pmax entries)
    val jToNps: Seq[Seq[Int]] =
      (0 until math.min(pmax, cents.length)).map(j => nprobes.filter(_ > j))
    enc.join(broadcast(qprobe),
        enc("cell") === qprobe("qcell") && enc("vec_id") =!= qprobe("qid"))
      .join(broadcast(lut), "qid")
      .withColumn("asim", safeCos(pqAdcDot, $"qn" * $"rnrm"))
      .withColumn("np", explode(element_at(typedLit(jToNps), $"j" + 1)))
      .withColumn("rk", row_number().over(w))
      .select($"np", $"qid", $"vec_id", $"rk")
  }

  /** The ADC shortlist: (qid, vec_id) of the top-`shortlist` encoded
    * candidates per query by approximate cosine — a rank cut of
    * [[pqAdcRanked]] (still plans as WindowGroupLimit: the filter sits
    * directly on the rank attribute). */
  private def pqShortlist(base: DataFrame, enc: DataFrame,
      cents: Seq[(Seq[Long], Double)], books: Seq[Seq[Seq[Long]]],
      nprobe: Int, shortlist: Int,
      qids: Option[Seq[Long]] = None): DataFrame =
    pqAdcRanked(base, enc, cents, books, nprobe, qids)
      .filter(col("rk") <= shortlist)
      .select(col("qid"), col("vec_id"))

  /** Shortlist → exact re-rank: fetch the TRUE vectors of shortlisted
    * ids only (a shortlist-sized semi-join against the full corpus —
    * the fetch a compressed index pays instead of scanning vectors). */
  private[graft] def pqAnn(base: DataFrame, enc: DataFrame,
      cents: Seq[(Seq[Long], Double)], books: Seq[Seq[Seq[Long]]],
      nprobe: Int, shortlist: Int, k: Int,
      qids: Option[Seq[Long]] = None): DataFrame = {
    val s = base.sparkSession
    import s.implicits._
    val sl = pqShortlist(base, enc, cents, books, nprobe, shortlist, qids)
    // the shortlist already carries only the requested qids; the
    // 10-row query broadcast needs no further restriction
    val qs = querySide(base)
    cosineTopK(sl.join(base, "vec_id").join(broadcast(qs), "qid"), k)
  }

  // ---------------------------------------------------------------- q47
  /** The dedup DECISION step: connected components over the ≥0.45-cosine
    * pair graph, canonical representative = min vec_id per component —
    * i.e. which documents a pipeline actually keeps/drops once near-dup
    * pairs are known. Iterative min-label propagation: each round is one
    * distributed join + partial-agg min, labels localCheckpoint'ed so
    * lineage stays flat; rounds ≤ graph diameter (driver loops until a
    * fixpoint, the standard shape for iterative graph algorithms on
    * Spark). Edges come from the grid-blocked q45 join. Hash-exact vs a
    * DuckDB recursive-CTE transitive closure. */
  def q47DedupComponents(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = q45EmbeddingDedupBlocked(s, dir).select($"i", $"j")
    labelPropagate(pairs)._1
      .select($"lbl".as("cluster_rep"), $"id".as("member"))
      .orderBy($"cluster_rep", $"member")
  }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** One telemetry line per propagation round — a 100×-scale operator
    * watches these to see divergence coming (VERDICT r3 #8). `moved` must
    * fall geometrically for a healthy graph; `edges` is round-invariant
    * context. The spec asserts these exact strings via the hook. */
  private[graft] def renderRound(round: Int, moved: Long, edges: Long): String =
    s"labelPropagate round=$round moved=$moved edges=$edges"

  /** Min-label propagation with pointer jumping over an undirected pair
    * list; returns (labels (id, lbl), rounds). Each round: (1) l(i) :=
    * min(l(i), min over neighbors j of l(j)) — one join + partial-agg min;
    * (2) path compression l(i) := l(l(i)) — one self-join that halves the
    * label-tree depth, so chain-shaped components converge in O(log n)
    * rounds instead of O(diameter) (ADVICE r2: a >50-diameter component
    * would otherwise silently split). Labels always name a node of the
    * same component (initial l=id; both steps move to another member's
    * id), so the fixpoint is the component minimum. Refusing to converge
    * inside `maxRounds` now throws — a silently wrong answer is the one
    * unacceptable outcome.
    *
    * Driver-job budget (VERDICT r3 #3): the jump frame is checkpointed
    * LAZILY and materialized by the convergence count itself — one Spark
    * job per round instead of two (plus the prop checkpoint, which must
    * stay eager: it feeds both sides of the jump self-join, and a lazy
    * checkpoint would compute it twice inside the same job). */
  /** Edge-count ceiling for the driver-side union-find short-circuit —
    * the broadcast-join-threshold analog for iterative graph work: a
    * pair graph this small is MODEL-sized (collecting it costs less than
    * one distributed round), so spending 2 Spark jobs × O(log n) rounds
    * on it is pure fixed cost. 1M undirected pairs ≈ 16 MB on the
    * driver; a 100 TB near-dup graph blows past this and takes the
    * distributed path unchanged. */
  val DriverUnionFindMaxEdges = 1000000L

  private[graft] def labelPropagate(pairs: DataFrame,
      maxRounds: Int = 50,
      onRound: (Int, Long, Long) => Unit =
        (r, m, e) => log.info(renderRound(r, m, e)),
      driverMaxEdges: Long = DriverUnionFindMaxEdges): (DataFrame, Int) = {
    val s = pairs.sparkSession
    import s.implicits._
    val edges = pairs
      .union(pairs.select($"j".as("i"), $"i".as("j")))
      .materialize() // materialize once; reused every round
    val nEdges = edges.count() // over the checkpointed blocks — cheap
    if (nEdges <= driverMaxEdges * 2) { // doubled edge list
      log.info(s"labelPropagate: $nEdges directed edges <= threshold, " +
        "driver union-find (0 distributed rounds)")
      return (driverUnionFind(edges), 0)
    }
    var labels = edges.select($"i".as("id")).distinct()
      .withColumn("lbl", $"id")
      .materialize()
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < maxRounds) {
      rounds += 1
      val nbrMin = edges.join(labels, edges("j") === labels("id"))
        .groupBy(edges("i").as("nid")).agg(min($"lbl").as("nlbl"))
      val prop = labels.join(nbrMin, labels("id") === nbrMin("nid"), "left")
        .select($"id", least($"lbl", coalesce($"nlbl", $"lbl")).as("lbl"),
          $"lbl".as("old"))
        .materialize() // feeds both sides of the jump self-join
      val jump = prop.as("a").join(
          prop.select($"id".as("lid"), $"lbl".as("llbl")).as("b"),
          col("a.lbl") === col("lid"), "left")
        .select(col("a.id").as("id"),
          coalesce($"llbl", col("a.lbl")).as("lbl"), $"old")
        .lazyMaterialize() // lazy: the count below materializes it
      changed = jump.filter($"lbl" =!= $"old").count()
      onRound(rounds, changed, nEdges)
      labels = jump.select($"id", $"lbl")
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"connected components did not converge in $maxRounds rounds " +
          s"($changed labels still moving) — refusing to emit split components")
    log.info(s"labelPropagate converged in $rounds rounds over $nEdges edges")
    (labels, rounds)
  }

  /** Exact union-find over a collected (model-sized) directed edge list;
    * labels = component-minimum id, identical to the propagation
    * fixpoint. Union-by-min + path compression (iterative find — no
    * stack-depth hazard on chain graphs). */
  private def driverUnionFind(edges: DataFrame): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val es = edges.select($"i", $"j").as[(Long, Long)].collect()
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrDefault(x, x) != x) x = parent.getOrDefault(x, x)
      var y = x0 // path compression
      while (parent.getOrDefault(y, y) != y) {
        val n = parent.get(y); parent.put(y, x); y = n
      }
      x
    }
    es.foreach { case (i, j) =>
      val (ri, rj) = (find(i), find(j))
      if (ri != rj) { // attach the larger root under the smaller: the
        if (ri < rj) parent.put(rj, ri) else parent.put(ri, rj)
      } // root of every tree stays the component minimum
    }
    val ids = es.iterator.flatMap(e => Iterator(e._1, e._2)).toArray.distinct
    s.createDataset(ids.toIndexedSeq.map(id => (id, find(id))))
      .toDF("id", "lbl")
  }

  // ---------------------------------------------------------------- q52
  /** Embedding cluster diagnostics over the `label` column: per-label
    * quantized centroid (exact integer per-dim sums → one rounded mean),
    * then cosine of every member to its own centroid — count, scaled-exact
    * average, min, max per label. The purity report an embedding pipeline
    * runs to sanity-check labels/clusters before using them for sampling.
    * Scale shape: only k×64 (sum, count) cells reach the driver
    * (model-to-driver, the q44 pattern); the cosine pass is map-side
    * against a broadcast centroid table; one final partial agg on label. */
  def q52LabelCentroids(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = emb(s, dir)
      .withColumn("e", QuantizeVec($"embedding"))
      .withColumn("nrm", sqrt(DotLongs($"e", $"e").cast("double")))
      .select($"vec_id", $"label", $"e", $"nrm")
    val cells = base.select($"label", posexplode($"e").as(Seq("dim", "v")))
      .groupBy($"label", $"dim")
      .agg(sum($"v").as("sv"), count(lit(1)).as("cnt"))
      .collect() // k×64 aggregate cells only — never vector rows
    val cents = cells.groupBy(_.getInt(0)).toSeq.map { case (lbl, rows) =>
      val dims = rows.map(r => (r.getInt(1),
        math.floor(r.getLong(2).toDouble / r.getLong(3) + 0.5).toLong)).toMap
      val ce = (0 until 64).map(d => dims.getOrElse(d, 0L))
      val cn = math.sqrt(ce.foldLeft(0d)((a, x) => a + x.toDouble * x.toDouble))
      (lbl, ce, cn)
    }
    val centDf = broadcast(cents.toDF("label", "ce", "cn"))
    base.join(centDf, "label")
      .withColumn("cos", safeCos(DotLongs($"e", $"ce"), $"nrm" * $"cn"))
      .groupBy($"label")
      .agg(count(lit(1)).as("n_vecs"),
        graft.util.OracleSafe.davg($"cos").as("avg_cos"),
        min($"cos").as("min_cos"), max($"cos").as("max_cos"))
      .orderBy($"label")
  }

  // ---------------------------------------------------------------- q90
  /** Source-centroid embedding drift: pairwise cosine between per-SOURCE
    * mean embeddings — the "has feed X drifted away from feed Y"
    * monitoring matrix a corpus pipeline tracks across crawls. All
    * heavy work is distributed and exact: quantized longs sum per
    * (source, dim) cell (|sources|×64 cells total), centroid components
    * round once (`floor(sv/cnt + 0.5)` — one correctly-rounded division
    * each), and the pairwise pass is a self-join of the |sources|-row
    * centroid frame (broadcast, DotLongs codegen) — never vector rows.
    * Cosine = exact integer dot / (sqrt · sqrt): products ≤ ~6.4e13 per
    * pair stay exact in doubles, sqrt/mult/div are correctly-rounded
    * IEEE, so the DuckDB twin matches bit-for-bit. safeCos keeps a
    * degenerate all-zero centroid at drift 0 instead of an ANSI abort. */
  def q90SourceDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = emb(s, dir)
      .join(Tables(s, dir, "documents")
        .select($"doc_id".as("vec_id"), $"source"), "vec_id")
      .withColumn("e", QuantizeVec($"embedding"))
    val cents = base
      .select($"source", posexplode($"e").as(Seq("dim", "v")))
      .groupBy($"source", $"dim")
      .agg(sum($"v").as("sv"), count(lit(1)).as("cnt"))
      .withColumn("c",
        expr("CAST(floor(CAST(sv AS DOUBLE) / cnt + 0.5) AS BIGINT)"))
      .groupBy($"source")
      .agg(expr("transform(sort_array(collect_list(struct(dim, c))), x -> x.c)")
          .as("ce"),
        max($"cnt").as("n"))
    val a = cents.select($"source".as("source_a"), $"ce".as("cea"), $"n".as("n_a"))
    val b = cents.select($"source".as("source_b"), $"ce".as("ceb"), $"n".as("n_b"))
    a.join(broadcast(b), $"source_a" < $"source_b")
      .withColumn("cos_drift",
        safeCos(DotLongs($"cea", $"ceb"),
          sqrt(DotLongs($"cea", $"cea").cast("double")) *
            sqrt(DotLongs($"ceb", $"ceb").cast("double"))))
      .select($"source_a", $"source_b", $"n_a", $"n_b", $"cos_drift")
      .orderBy($"source_a", $"source_b")
  }

  // ---------------------------------------------------------------- q66
  /** Scalar-quantization audit: per-label reconstruction error of the
    * 1e-6 fixed-point quantization every similarity query here runs on —
    * the "is the compressed index faithful enough" check an embedding
    * pipeline materializes before swapping quantized vectors in. err_d =
    * |x_d − q_d/1e6| per dimension; avg is exact scaled-integer
    * arithmetic at 1e-12 (the error's own magnitude — OracleSafe's davg
    * pattern, finer scale), max is a plain double max. Map-side explode +
    * one partial agg on label; nothing but k aggregate rows leaves an
    * executor. */
  def q66QuantizeError(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    emb(s, dir)
      .withColumn("q", QuantizeVec($"embedding"))
      // zip before exploding: each output row carries ONE (x, q_d) pair,
      // not the full 64-long quantized array 64 times over
      .select($"label",
        posexplode(arrays_zip($"embedding", $"q")).as(Seq("d", "z")))
      .withColumn("err",
        abs($"z.embedding".cast("double") -
          $"z.q".cast("double") / lit(1000000.0)))
      .groupBy($"label")
      .agg(count(lit(1)).as("n_vals"),
        (sum(floor($"err" * lit(1.0e12) + lit(0.5)).cast("long"))
          .cast("double") / lit(1.0e12) / count(lit(1)).cast("double"))
          .as("avg_err"),
        max($"err").as("max_err"))
      .orderBy($"label")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q38_ann_brute" -> (q38AnnBrute _),
    "q129_mmr_diversify" -> (q129MmrDiversify _),
    "q39_ann_lsh_recall" -> (q39AnnLshRecall _),
    "q43_embedding_dedup" -> (q43EmbeddingDedup _),
    "q44_ann_ivf_recall" -> (q44AnnIvfRecall _),
    "q96_ann_ivf_multiprobe" -> (q96AnnIvfMultiprobe _),
    "q111_ann_ivf_pq" -> (q111AnnIvfPq _),
    "q112_pq_distortion" -> (q112PqDistortion _),
    "q115_pq_recall_curve" -> (q115PqRecallCurve _),
    "q45_embedding_dedup_blocked" -> (q45EmbeddingDedupBlocked _),
    "q107_semantic_dedup" -> (q107SemanticDedup _),
    "q47_dedup_components" -> (q47DedupComponents _),
    "q52_label_centroids" -> (q52LabelCentroids _),
    "q66_quantize_error" -> (q66QuantizeError _),
    "q90_source_drift" -> (q90SourceDrift _),
  )

  /** [[scaledCte]] without the WITH keyword — composable into another
    * oracle's CTE list (q124's hybrid-retrieval twin). */
  private[operators] def scaledCtesBody: String =
    scaledCte.stripPrefix("WITH ")

  private val scaledCte =
    """WITH s AS (SELECT vec_id,
      |  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) e
      |  FROM embeddings),
      |n AS (SELECT vec_id, e,
      |  sqrt(CAST(list_inner_product(list_transform(e, x -> CAST(x AS DOUBLE)),
      |                               list_transform(e, x -> CAST(x AS DOUBLE))) AS DOUBLE)) nrm
      |  FROM s)""".stripMargin

  private val pairwiseDedupSql =
    s"""$scaledCte
      |SELECT a.vec_id i, b.vec_id j,
      |  list_inner_product(list_transform(a.e, x -> CAST(x AS DOUBLE)),
      |                     list_transform(b.e, x -> CAST(x AS DOUBLE)))
      |    / (a.nrm * b.nrm) AS cosine
      |FROM n a JOIN n b ON a.vec_id < b.vec_id
      |WHERE list_inner_product(list_transform(a.e, x -> CAST(x AS DOUBLE)),
      |                         list_transform(b.e, x -> CAST(x AS DOUBLE)))
      |    / (a.nrm * b.nrm) >= 0.45
      |ORDER BY i, j""".stripMargin

  /** One ±1 hyperplane as a DuckDB DOUBLE-list literal — the SAME
    * driver-computed constants the engine plans as literals, interpolated
    * here so oracle and engine share the hash family by construction. */
  private def planeLit(p: Int): String =
    hyperplanes(p).map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")

  /** Sign-LSH bucket id over planes [lo..hi] as SQL (bit p set when
    * plane·e ≥ 0) — mirrors q39's `bucket`. `ev` is the DOUBLE-cast
    * embedding list; every product/sum is integer-valued and < 2⁵³, so
    * the sign test is exact in both engines. */
  private def sqlBucket(lo: Int, hi: Int): String =
    (lo to hi).map { p =>
      s"(CASE WHEN list_inner_product(ev, ${planeLit(p)}) >= 0 THEN ${1L << (p - lo)} ELSE 0 END)"
    }.mkString(" + ")

  /** Shared oracle scaffolding for the two ANN-recall twins: the scaled
    * vectors with a DOUBLE shadow list, the exact top-5 arm (safeCos
    * convention spelled out), and the final (qid, n_candidates, n_hit,
    * recall) report over CTEs named `cand` (qid, nid) and `ann`
    * (qid, nid). */
  private val vCte =
    s"""$scaledCte,
      |v AS (SELECT vec_id, e, nrm,
      |        list_transform(e, x -> CAST(x AS DOUBLE)) ev FROM n)""".stripMargin

  private val exactArmCte =
    """exactp AS (SELECT q.vec_id qid, c.vec_id nid,
      |    CASE WHEN q.nrm * c.nrm = 0 THEN 0.0
      |         ELSE list_inner_product(q.ev, c.ev) / (q.nrm * c.nrm) END sim
      |  FROM v q JOIN v c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
      |exact AS (SELECT qid, nid FROM (
      |    SELECT qid, nid,
      |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid ASC) rk
      |    FROM exactp) WHERE rk <= 5)""".stripMargin

  private val recallReportSql =
    """nc AS (SELECT qid, COUNT(*) n_candidates FROM cand GROUP BY 1),
      |hits AS (SELECT x.qid, COUNT(*) n_hit FROM exact x
      |         JOIN ann a ON a.qid = x.qid AND a.nid = x.nid GROUP BY 1)
      |SELECT q.qid,
      |  CAST(COALESCE(nc.n_candidates, 0) AS BIGINT) AS n_candidates,
      |  CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
      |  CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / 5.0 AS recall
      |FROM (SELECT vec_id qid FROM v WHERE vec_id < 10) q
      |LEFT JOIN nc USING (qid) LEFT JOIN hits h USING (qid)
      |ORDER BY qid""".stripMargin

  /** Full q39 twin: buckets → two-table candidate union → ANN top-5 →
    * recall vs the exact arm. See q39AnnLshRecall's doc for why every
    * step is engine-portable exact arithmetic. */
  private def q39OracleSql: String =
    s"""$vCte,
      |b AS (SELECT vec_id, ev, nrm,
      |        ${sqlBucket(0, 3)} b1,
      |        ${sqlBucket(4, 7)} b2
      |      FROM v),
      |tabs AS (SELECT vec_id, 1 tb, b1 bk FROM b
      |         UNION ALL SELECT vec_id, 2 tb, b2 bk FROM b),
      |cand AS (SELECT DISTINCT q.vec_id qid, t.vec_id nid
      |         FROM tabs t JOIN tabs q
      |           ON q.vec_id < 10 AND t.tb = q.tb AND t.bk = q.bk
      |              AND t.vec_id <> q.vec_id),
      |qs AS (SELECT vec_id qid, ev qe, nrm qn FROM v WHERE vec_id < 10),
      |annp AS (SELECT c.qid, c.nid,
      |    CASE WHEN q.qn * x.nrm = 0 THEN 0.0
      |         ELSE list_inner_product(q.qe, x.ev) / (q.qn * x.nrm) END sim
      |  FROM cand c JOIN v x ON x.vec_id = c.nid JOIN qs q ON q.qid = c.qid),
      |ann AS (SELECT qid, nid FROM (
      |    SELECT qid, nid,
      |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid ASC) rk
      |    FROM annp) WHERE rk <= 5),
      |$exactArmCte,
      |$recallReportSql""".stripMargin

  /** One Lloyd assignment pass as SQL: rank the k centroids per vector by
    * safeCos (zero-norm → 0) descending, cid ascending — `assignCell`'s
    * argmax/tie-break exactly. `centSrc` must expose (cid, cv, cn). */
  private def sqlAssign(aName: String, cellName: String, centSrc: String): String =
    s"""$aName AS (SELECT v.vec_id, c.cid,
      |    ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
      |      CASE WHEN v.nrm * c.cn = 0 THEN 0.0
      |           ELSE list_inner_product(v.ev, c.cv) / (v.nrm * c.cn) END DESC,
      |      c.cid ASC) rk
      |  FROM v CROSS JOIN $centSrc c),
      |$cellName AS (SELECT vec_id, cid FROM $aName WHERE rk = 1)""".stripMargin

  /** One Lloyd update pass as SQL: exact per-(cell, dim) BIGINT sums, the
    * floor(sum/cnt + 0.5) quantized mean, empty cells keep the PREVIOUS
    * centroid (`fitCentroids`' `case None => old`). */
  private def sqlLloydStep(i: Int, cellSrc: String, prevCent: String,
      outCent: String): String =
    s"""s$i AS (SELECT cid, r.d, SUM(e[CAST(r.d AS INTEGER)+1]) sv, COUNT(*) cnt
      |  FROM v JOIN $cellSrc USING (vec_id), range(64) AS r(d) GROUP BY 1, 2),
      |m$i AS (SELECT cid,
      |    list(CAST(floor(CAST(sv AS DOUBLE)/cnt + 0.5) AS BIGINT) ORDER BY d) ce
      |  FROM s$i GROUP BY cid),
      |$outCent AS (SELECT p.cid, COALESCE(m$i.ce, p.ce) ce
      |  FROM $prevCent p LEFT JOIN m$i USING (cid))""".stripMargin

  /** Add the DOUBLE shadow + norm to a raw (cid, ce) centroid CTE —
    * `withNorm`'s exact-integer-sum + IEEE sqrt. */
  private def sqlCentNorm(name: String, src: String): String =
    s"""$name AS (SELECT cid, ce,
      |    list_transform(ce, x -> CAST(x AS DOUBLE)) cv,
      |    sqrt(CAST(list_inner_product(list_transform(ce, x -> CAST(x AS DOUBLE)),
      |                                 list_transform(ce, x -> CAST(x AS DOUBLE))) AS DOUBLE)) cn
      |  FROM $src)""".stripMargin

  /** Full q44 twin: seeds = first 16 vectors (cid = vec_id — ids are
    * dense from 0 in the fixtures, matching `fitCentroids`' index-order
    * seeding), two unrolled Lloyd iterations, final cell assignment,
    * same-cell candidates, ANN top-5, recall vs the exact arm.
    * `nprobe` > 1 is the q96 twin: the probe set is rk ≤ nprobe of the
    * SAME final ranking CTE the assignment takes rk = 1 from. */
  private def q44OracleSql: String = ivfOracleSql(nprobe = 1)

  /** The deterministic 2-iteration Lloyd fit as CTEs, ending in the
    * final assignment `cellf (vec_id, cid)` — shared by the q44/q96
    * twins and q107's within-cluster dedup. */
  private def ivfFitCtes: String =
    s"""seed AS (SELECT vec_id cid, e ce FROM v WHERE vec_id < 16),
      |${sqlCentNorm("c0", "seed")},
      |${sqlAssign("a0", "cell0", "c0")},
      |${sqlLloydStep(1, "cell0", "c0", "r1")},
      |${sqlCentNorm("c1", "r1")},
      |${sqlAssign("a1", "cell1", "c1")},
      |${sqlLloydStep(2, "cell1", "c1", "r2")},
      |${sqlCentNorm("c2", "r2")},
      |${sqlAssign("a2", "cellf", "c2")}""".stripMargin

  // ---- q111 twin scaffolding ------------------------------------------
  /** One PQ code assignment as SQL: per (vec_id, u), rank codebook rows
    * by the integer L2 score 2·(r·c) − ‖c‖² DESC, code ASC —
    * `pqCodeCol`'s argmax/tie-break exactly (every product < 2⁵³, so the
    * DOUBLE list_inner_product is exact). */
  private def pqAssignSql(aName: String, cName: String, book: String): String =
    s"""$aName AS (SELECT ru.vec_id, ru.u, b.code,
      |    ROW_NUMBER() OVER (PARTITION BY ru.vec_id, ru.u ORDER BY
      |      2*list_inner_product(list_transform(ru.rv, x -> CAST(x AS DOUBLE)),
      |                           list_transform(b.bv, x -> CAST(x AS DOUBLE)))
      |      - list_inner_product(list_transform(b.bv, x -> CAST(x AS DOUBLE)),
      |                           list_transform(b.bv, x -> CAST(x AS DOUBLE))) DESC,
      |      b.code ASC) rk
      |  FROM ru JOIN $book b USING (u)),
      |$cName AS (SELECT vec_id, u, code FROM $aName WHERE rk = 1)""".stripMargin

  /** One PQ Lloyd update as SQL: exact per-(subspace, code, dim) BIGINT
    * sums over the residuals, quantized mean, empty codes keep the
    * previous vector — `fitPqCodebooks`' update exactly. */
  private def pqUpdateSql(i: Int, cellSrc: String, prev: String,
      out: String): String =
    s"""ps$i AS (SELECT u, code, CAST(r.d AS INTEGER) AS d,
      |    SUM(rv[CAST(r.d AS INTEGER)+1]) sv, COUNT(*) cnt
      |  FROM ru JOIN $cellSrc USING (vec_id, u), range($PqSubDim) AS r(d)
      |  GROUP BY 1, 2, 3),
      |pm$i AS (SELECT u, code,
      |    list(CAST(floor(CAST(sv AS DOUBLE)/cnt + 0.5) AS BIGINT) ORDER BY d) bv
      |  FROM ps$i GROUP BY 1, 2),
      |$out AS (SELECT p.u, p.code, COALESCE(pm$i.bv, p.bv) bv
      |  FROM $prev p LEFT JOIN pm$i USING (u, code))""".stripMargin

  /** Full q111 twin: the coarse fit (`ivfFitCtes`, shared with
    * q44/q96/q107), per-(vector, subspace) integer residuals, the
    * 2-iteration per-subspace codebook fit unrolled, final codes, the
    * reconstruction x̂ = cent + ĉ per subspace (its ssq and q·x̂ are the
    * same exact integers as the engine's (cell, code) lookup-table
    * expansion), ADC shortlist of rk ≤ [[PqShortlist]], exact re-rank
    * of the shortlist, recall vs the exact arm. */
  /** The residual frame + 2-iteration codebook fit + final codes as
    * CTEs — shared by the q111 and q112 twins (requires `v`, `cellf`,
    * `c2` from `ivfFitCtes`). Ends in `pcodes (vec_id, u, code)` and
    * `pbook2 (u, code, bv)`. */
  private def pqFitCtes: String =
    s"""ru AS (SELECT v.vec_id, CAST(r.u AS INTEGER) AS u,
      |    list_transform(range($PqSubDim), d ->
      |      v.e[CAST(r.u AS INTEGER)*$PqSubDim + CAST(d AS INTEGER) + 1]
      |      - c2.ce[CAST(r.u AS INTEGER)*$PqSubDim + CAST(d AS INTEGER) + 1]) AS rv
      |  FROM v JOIN cellf cf USING (vec_id) JOIN c2 ON c2.cid = cf.cid,
      |       range($PqSubspaces) AS r(u)),
      |pbook0 AS (SELECT u, vec_id AS code, rv AS bv FROM ru
      |           WHERE vec_id < $PqCodes),
      |${pqAssignSql("pa1", "pcell1", "pbook0")},
      |${pqUpdateSql(1, "pcell1", "pbook0", "pbook1")},
      |${pqAssignSql("pa2", "pcell2", "pbook1")},
      |${pqUpdateSql(2, "pcell2", "pbook1", "pbook2")},
      |${pqAssignSql("paf", "pcodes", "pbook2")}""".stripMargin

  /** The PQ reconstruction CTEs — x̂ = cent + ĉ per (vector, subspace)
    * and its exact norm — shared by the q111 twin and the q115 curve
    * twin (requires `pcodes`, `pbook2`, `cellf`, `c2`). */
  private def pqReconCtes: String =
    s"""pxh AS (SELECT pc.vec_id, pc.u,
      |    list_transform(range($PqSubDim), d ->
      |      c2.ce[pc.u*$PqSubDim + CAST(d AS INTEGER) + 1]
      |      + b.bv[CAST(d AS INTEGER)+1]) AS xh
      |  FROM pcodes pc JOIN cellf cf USING (vec_id)
      |       JOIN c2 ON c2.cid = cf.cid
      |       JOIN pbook2 b ON b.u = pc.u AND b.code = pc.code),
      |prn AS (SELECT vec_id, sqrt(CAST(SUM(list_inner_product(
      |      list_transform(xh, x -> CAST(x AS DOUBLE)),
      |      list_transform(xh, x -> CAST(x AS DOUBLE)))) AS DOUBLE)) rnrm
      |  FROM pxh GROUP BY vec_id)""".stripMargin

  /** One nprobe's probe/candidate/ADC/rank CTE chain (qp/pc/pd/rkN) —
    * the parameterized core the q111 twin instantiates once and the
    * q115 curve instantiates per [[CurveNprobes]] knob. */
  private def pqArmCtes(np: Int): String =
    s"""qp$np AS (SELECT vec_id qid, cid qcell FROM a2
      |           WHERE vec_id < 10 AND rk <= $np),
      |pc$np AS (SELECT qp.qid, cf.vec_id AS nid
      |  FROM cellf cf JOIN qp$np qp
      |    ON cf.cid = qp.qcell AND cf.vec_id <> qp.qid),
      |pd$np AS (SELECT pc.qid, pc.nid,
      |    SUM(list_inner_product(
      |      list_transform(list_transform(range($PqSubDim), d ->
      |        q.e[xh.u*$PqSubDim + CAST(d AS INTEGER) + 1]), x -> CAST(x AS DOUBLE)),
      |      list_transform(xh.xh, x -> CAST(x AS DOUBLE)))) adot
      |  FROM pc$np pc JOIN pxh xh ON xh.vec_id = pc.nid
      |       JOIN v q ON q.vec_id = pc.qid
      |  GROUP BY 1, 2),
      |rkd$np AS (SELECT pd.qid, pd.nid,
      |    ROW_NUMBER() OVER (PARTITION BY pd.qid ORDER BY
      |      CASE WHEN q.nrm * rn.rnrm = 0 THEN 0.0
      |           ELSE pd.adot / (q.nrm * rn.rnrm) END DESC,
      |      pd.nid ASC) rk
      |  FROM pd$np pd JOIN prn rn ON rn.vec_id = pd.nid
      |       JOIN v q ON q.vec_id = pd.qid)""".stripMargin

  private def ivfPqOracleSql: String =
    s"""$vCte,
      |$ivfFitCtes,
      |$pqFitCtes,
      |$pqReconCtes,
      |${pqArmCtes(MultiprobeNprobe)},
      |cand AS (SELECT qid, nid FROM rkd$MultiprobeNprobe
      |         WHERE rk <= $PqShortlist),
      |annp AS (SELECT c.qid, c.nid,
      |    CASE WHEN q.nrm * x.nrm = 0 THEN 0.0
      |         ELSE list_inner_product(q.ev, x.ev) / (q.nrm * x.nrm) END sim
      |  FROM cand c JOIN v x ON x.vec_id = c.nid JOIN v q ON q.vec_id = c.qid),
      |ann AS (SELECT qid, nid FROM (
      |    SELECT qid, nid,
      |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid ASC) rk
      |    FROM annp) WHERE rk <= 5),
      |$exactArmCte,
      |$recallReportSql""".stripMargin

  /** Full q115 twin: the shared fit/encode/reconstruction CTEs, one
    * [[pqArmCtes]] chain per nprobe knob, a shortlist cut + exact
    * re-rank per grid cell, and the 6-row curve with the same recall
    * division and lag-window monotonicity flag as the engine. */
  private def pqCurveOracleSql: String = {
    val cells = for { np <- CurveNprobes; sl <- CurveShortlists } yield
      s"""cd${np}x$sl AS (SELECT qid, nid FROM rkd$np WHERE rk <= $sl),
        |ap${np}x$sl AS (SELECT c.qid, c.nid,
        |    CASE WHEN q.nrm * x.nrm = 0 THEN 0.0
        |         ELSE list_inner_product(q.ev, x.ev) / (q.nrm * x.nrm) END sim
        |  FROM cd${np}x$sl c JOIN v x ON x.vec_id = c.nid
        |       JOIN v q ON q.vec_id = c.qid),
        |an${np}x$sl AS (SELECT qid, nid FROM (
        |    SELECT qid, nid,
        |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid ASC) rk
        |    FROM ap${np}x$sl) WHERE rk <= 5)""".stripMargin
    val rowSelects = (for { np <- CurveNprobes; sl <- CurveShortlists } yield
      s"""SELECT CAST($np AS BIGINT) nprobe, CAST($sl AS BIGINT) shortlist,
        |  (SELECT COUNT(*) FROM pc$np) n_scanned,
        |  (SELECT COUNT(*) FROM cd${np}x$sl) n_reranked,
        |  (SELECT COUNT(*) FROM exact x JOIN an${np}x$sl a
        |     ON a.qid = x.qid AND a.nid = x.nid) n_hit""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""$vCte,
      |$ivfFitCtes,
      |$pqFitCtes,
      |$pqReconCtes,
      |${CurveNprobes.map(pqArmCtes).mkString(",\n")},
      |${cells.mkString(",\n")},
      |$exactArmCte,
      |nq AS (SELECT COUNT(*) c FROM v WHERE vec_id < 10),
      |curve AS ($rowSelects)
      |SELECT c.nprobe, c.shortlist, c.n_scanned, c.n_reranked, c.n_hit,
      |  CAST(c.n_hit AS DOUBLE) / (5.0 * nq.c) AS recall,
      |  (CAST(c.n_hit AS DOUBLE) / (5.0 * nq.c) >= COALESCE(
      |     lag(CAST(c.n_hit AS DOUBLE) / (5.0 * nq.c))
      |       OVER (PARTITION BY c.nprobe ORDER BY c.shortlist),
      |     CAST(c.n_hit AS DOUBLE) / (5.0 * nq.c))) AS mono_shortlist
      |FROM curve c CROSS JOIN nq
      |ORDER BY c.nprobe, c.shortlist""".stripMargin
  }

  private def ivfOracleSql(nprobe: Int): String =
    s"""$vCte,
      |$ivfFitCtes,
      |qs AS (SELECT v.vec_id qid, v.ev qe, v.nrm qn
      |       FROM v WHERE v.vec_id < 10),
      |qprobe AS (SELECT vec_id qid, cid qcell FROM a2
      |           WHERE vec_id < 10 AND rk <= $nprobe),
      |cand AS (SELECT q.qid, x.vec_id nid
      |         FROM v x JOIN cellf cf ON cf.vec_id = x.vec_id
      |                  JOIN qprobe q ON cf.cid = q.qcell AND x.vec_id <> q.qid),
      |annp AS (SELECT c.qid, c.nid,
      |    CASE WHEN q.qn * x.nrm = 0 THEN 0.0
      |         ELSE list_inner_product(q.qe, x.ev) / (q.qn * x.nrm) END sim
      |  FROM cand c JOIN v x ON x.vec_id = c.nid JOIN qs q ON q.qid = c.qid),
      |ann AS (SELECT qid, nid FROM (
      |    SELECT qid, nid,
      |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid ASC) rk
      |    FROM annp) WHERE rk <= 5),
      |$exactArmCte,
      |$recallReportSql""".stripMargin

  /** Pin the expensive shared CTEs as MATERIALIZED: DuckDB 1.0 inlines
    * CTE references, re-running the whole Lloyd/PQ fit chain once PER
    * REFERENCE — measured 57 s for the un-hinted q111 twin at sf0.001
    * vs 0.7 s materialized (and the q115 curve references each shared
    * frame up to 6×). Semantics-free: identical rows, only evaluation
    * strategy. Lookbehind keeps `v` from matching inside other names. */
  private def materialized(sql: String): String =
    Seq("v", "a2", "cellf", "c2", "ru", "pbook2", "pcodes", "pxh", "prn",
      "exactp", "exact")
      .foldLeft(sql)((q, n) =>
        q.replaceAll(s"(?<![A-Za-z0-9_])$n AS \\(", s"$n AS MATERIALIZED ("))

  val oracle: Map[String, String] = Map(
    "q39_ann_lsh_recall" -> materialized(q39OracleSql),
    "q44_ann_ivf_recall" -> materialized(q44OracleSql),
    "q96_ann_ivf_multiprobe" -> materialized(ivfOracleSql(MultiprobeNprobe)),
    "q111_ann_ivf_pq" -> materialized(ivfPqOracleSql),
    "q115_pq_recall_curve" -> materialized(pqCurveOracleSql),
    "q112_pq_distortion" ->
      // ‖r − ĉ‖² expanded (r·r − 2·r·ĉ + ĉ·ĉ) — the engine's exact
      // integers; the HUGEINT SUM casts back to BIGINT (< 2⁶³), the
      // mean is the same one division of the same exact integer
      materialized(s"""$vCte,
        |$ivfFitCtes,
        |$pqFitCtes,
        |perr AS (SELECT ru.u,
        |    CAST(list_inner_product(list_transform(ru.rv, x -> CAST(x AS DOUBLE)),
        |                            list_transform(ru.rv, x -> CAST(x AS DOUBLE)))
        |      - 2*list_inner_product(list_transform(ru.rv, x -> CAST(x AS DOUBLE)),
        |                             list_transform(b.bv, x -> CAST(x AS DOUBLE)))
        |      + list_inner_product(list_transform(b.bv, x -> CAST(x AS DOUBLE)),
        |                           list_transform(b.bv, x -> CAST(x AS DOUBLE))) AS BIGINT) se
        |  FROM ru JOIN pcodes pc USING (vec_id, u)
        |       JOIN pbook2 b ON b.u = ru.u AND b.code = pc.code)
        |SELECT CAST(u AS BIGINT) AS subspace, COUNT(*) AS n_vecs,
        |  CAST(SUM(se) AS BIGINT) AS sse,
        |  CAST(CAST(SUM(se) AS BIGINT) AS DOUBLE) / COUNT(*) AS mse,
        |  CAST(MAX(se) AS BIGINT) AS max_se
        |FROM perr GROUP BY u ORDER BY subspace""".stripMargin),
    "q38_ann_brute" ->
      s"""$scaledCte,
        |p AS (SELECT q.vec_id qid, c.vec_id nid,
        |        list_inner_product(list_transform(q.e, x -> CAST(x AS DOUBLE)),
        |                           list_transform(c.e, x -> CAST(x AS DOUBLE)))
        |          / (q.nrm * c.nrm) sim
        |      FROM n q JOIN n c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
        |r AS (SELECT qid, nid, sim,
        |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid ASC) rk
        |      FROM p)
        |SELECT qid, nid, CAST(rk AS BIGINT) AS rk, sim FROM r
        |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,
    "q129_mmr_diversify" -> {
      // the greedy unrolled as CTE steps, mirroring the engine's k
      // dataframe steps: u{k} = selections so far, m{k} = remaining
      // candidates with their max pairwise sim against u{k-1}, s{k} =
      // that step's argmax pick (λ·sim − (1−λ)·max, ties → min nid).
      // λ and (1−λ) are the SAME parsed literals as the engine's
      // (0.7 / 0.3 — never computed as 1.0−0.7, which rounds
      // differently than parse("0.3")).
      val steps = (2 to MmrK).map { k =>
        s"""m$k AS (SELECT c.qid, c.nid, c.sim, MAX(pr.psim) mp
           |  FROM cand c
           |  JOIN pr ON pr.qid = c.qid AND pr.i = c.nid
           |  JOIN u${k - 1} u ON u.qid = pr.qid AND u.nid = pr.j
           |  WHERE NOT EXISTS (SELECT 1 FROM u${k - 1} x
           |                    WHERE x.qid = c.qid AND x.nid = c.nid)
           |  GROUP BY c.qid, c.nid, c.sim),
           |s$k AS (SELECT qid, nid, CAST($k AS BIGINT) rk, mmr FROM (
           |    SELECT qid, nid, $MmrLambda * sim - $MmrOneMinusLambda * mp mmr,
           |      ROW_NUMBER() OVER (PARTITION BY qid
           |        ORDER BY $MmrLambda * sim - $MmrOneMinusLambda * mp DESC,
           |          nid ASC) rn
           |    FROM m$k) WHERE rn = 1),
           |u$k AS (SELECT * FROM u${k - 1} UNION ALL SELECT * FROM s$k)"""
          .stripMargin
      }.mkString(",\n")
      s"""$scaledCte,
        |p AS (SELECT q.vec_id qid, c.vec_id nid,
        |        CASE WHEN q.nrm * c.nrm = 0 THEN 0.0
        |          ELSE list_inner_product(list_transform(q.e, x -> CAST(x AS DOUBLE)),
        |                                  list_transform(c.e, x -> CAST(x AS DOUBLE)))
        |            / (q.nrm * c.nrm) END sim
        |      FROM n q JOIN n c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
        |cand AS (SELECT qid, nid, sim FROM (
        |    SELECT qid, nid, sim,
        |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid ASC) rn
        |    FROM p) WHERE rn <= $MmrPool),
        |pr AS (SELECT a.qid, a.nid i, b.nid j,
        |        CASE WHEN na.nrm * nb.nrm = 0 THEN 0.0
        |          ELSE list_inner_product(list_transform(na.e, x -> CAST(x AS DOUBLE)),
        |                                  list_transform(nb.e, x -> CAST(x AS DOUBLE)))
        |            / (na.nrm * nb.nrm) END psim
        |      FROM cand a JOIN cand b ON a.qid = b.qid AND a.nid <> b.nid
        |      JOIN n na ON na.vec_id = a.nid
        |      JOIN n nb ON nb.vec_id = b.nid),
        |s1 AS (SELECT qid, nid, CAST(1 AS BIGINT) rk, $MmrLambda * sim mmr FROM (
        |    SELECT qid, nid, sim,
        |      ROW_NUMBER() OVER (PARTITION BY qid
        |        ORDER BY $MmrLambda * sim DESC, nid ASC) rn
        |    FROM cand) WHERE rn = 1),
        |u1 AS (SELECT * FROM s1),
        |$steps
        |SELECT qid, rk, nid, mmr FROM u$MmrK ORDER BY qid, rk""".stripMargin
    },
    "q43_embedding_dedup" -> pairwiseDedupSql,
    "q45_embedding_dedup_blocked" -> pairwiseDedupSql,
    "q107_semantic_dedup" ->
      materialized(s"""$vCte,
        |$ivfFitCtes,
        |asg AS (SELECT v.vec_id, v.ev, v.nrm, cf.cid AS cell
        |  FROM v JOIN cellf cf ON cf.vec_id = v.vec_id),
        |dup AS (SELECT a.cell, a.vec_id AS i, b.vec_id AS j
        |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE (CASE WHEN a.nrm * b.nrm = 0 THEN 0.0
        |         ELSE list_inner_product(a.ev, b.ev) / (a.nrm * b.nrm) END)
        |    >= 0.45),
        |ps AS (SELECT cell, COUNT(*) AS n_pairs,
        |    COUNT(DISTINCT j) AS n_removed FROM dup GROUP BY cell),
        |vs AS (SELECT cell, COUNT(*) AS n_vecs FROM asg GROUP BY cell)
        |SELECT CAST(vs.cell AS BIGINT) AS cell, vs.n_vecs,
        |  COALESCE(ps.n_pairs, CAST(0 AS BIGINT)) AS n_pairs,
        |  COALESCE(ps.n_removed, CAST(0 AS BIGINT)) AS n_removed
        |FROM vs LEFT JOIN ps USING (cell)
        |ORDER BY cell""".stripMargin),
    "q52_label_centroids" ->
      """WITH s AS (SELECT vec_id, label,
        |  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) e
        |  FROM embeddings),
        |n AS (SELECT vec_id, label, e,
        |  sqrt(CAST(list_inner_product(list_transform(e, x -> CAST(x AS DOUBLE)),
        |                               list_transform(e, x -> CAST(x AS DOUBLE))) AS DOUBLE)) nrm
        |  FROM s),
        |sums AS (SELECT label, r.d, SUM(e[CAST(r.d AS INTEGER)+1]) sv, COUNT(*) cnt
        |         FROM n, range(64) AS r(d) GROUP BY 1, 2),
        |cent AS (SELECT label,
        |           list(CAST(floor(CAST(sv AS DOUBLE)/cnt + 0.5) AS BIGINT) ORDER BY d) ce
        |         FROM sums GROUP BY label),
        |cn AS (SELECT label, ce,
        |  sqrt(CAST(list_inner_product(list_transform(ce, x -> CAST(x AS DOUBLE)),
        |                               list_transform(ce, x -> CAST(x AS DOUBLE))) AS DOUBLE)) cnorm
        |  FROM cent),
        |cosv AS (SELECT n.label,
        |  list_inner_product(list_transform(n.e, x -> CAST(x AS DOUBLE)),
        |                     list_transform(c.ce, x -> CAST(x AS DOUBLE)))
        |    / (n.nrm * c.cnorm) cos
        |  FROM n JOIN cn c ON c.label = n.label)
        |SELECT label, COUNT(*) AS n_vecs,
        |  CAST(SUM(CAST(FLOOR(cos*10000 + 0.5) AS BIGINT)) AS DOUBLE)/10000.0/COUNT(cos) AS avg_cos,
        |  MIN(cos) AS min_cos, MAX(cos) AS max_cos
        |FROM cosv GROUP BY label ORDER BY label""".stripMargin,
    "q66_quantize_error" ->
      """WITH s AS (SELECT label, embedding,
        |  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) q
        |  FROM embeddings),
        |e AS (SELECT label,
        |        abs(CAST(embedding[CAST(r.d AS INTEGER)+1] AS DOUBLE)
        |            - CAST(q[CAST(r.d AS INTEGER)+1] AS DOUBLE)/1000000.0) err
        |      FROM s, range(64) AS r(d))
        |SELECT label, COUNT(*) AS n_vals,
        |  CAST(SUM(CAST(floor(err*1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |    /1000000000000.0/CAST(COUNT(*) AS DOUBLE) AS avg_err,
        |  MAX(err) AS max_err
        |FROM e GROUP BY label ORDER BY label""".stripMargin,
    "q47_dedup_components" ->
      s"""$scaledCte,
        |p AS (SELECT a.vec_id i, b.vec_id j
        |      FROM n a JOIN n b ON a.vec_id < b.vec_id
        |      WHERE list_inner_product(list_transform(a.e, x -> CAST(x AS DOUBLE)),
        |                               list_transform(b.e, x -> CAST(x AS DOUBLE)))
        |          / (a.nrm * b.nrm) >= 0.45),
        |e AS (SELECT i, j FROM p UNION ALL SELECT j, i FROM p),
        |reach AS (
        |  WITH RECURSIVE r(id, lbl) AS (
        |    SELECT DISTINCT i, i FROM e
        |    UNION
        |    SELECT e.i, r.lbl FROM e JOIN r ON r.id = e.j)
        |  SELECT id, lbl FROM r)
        |SELECT MIN(lbl) AS cluster_rep, id AS member
        |FROM reach GROUP BY id ORDER BY cluster_rep, member""".stripMargin,
    "q90_source_drift" ->
      """WITH s AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) e
        |  FROM embeddings),
        |j AS (SELECT d.source, s.e FROM s JOIN documents d ON s.vec_id = d.doc_id),
        |cell AS (SELECT source, unnest(range(len(e))) AS dim, unnest(e) AS v FROM j),
        |cent AS (SELECT source, dim,
        |           CAST(FLOOR(CAST(SUM(v) AS DOUBLE) / COUNT(*) + 0.5) AS DOUBLE) c,
        |           CAST(COUNT(*) AS BIGINT) cnt
        |         FROM cell GROUP BY source, dim),
        |ca AS (SELECT source, list(c ORDER BY dim) ce, MAX(cnt) n
        |       FROM cent GROUP BY source)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  a.n AS n_a, b.n AS n_b,
        |  CASE WHEN sqrt(list_inner_product(a.ce, a.ce))
        |         * sqrt(list_inner_product(b.ce, b.ce)) = 0 THEN 0.0
        |       ELSE list_inner_product(a.ce, b.ce)
        |         / (sqrt(list_inner_product(a.ce, a.ce))
        |            * sqrt(list_inner_product(b.ce, b.ce)))
        |  END AS cos_drift
        |FROM ca a JOIN ca b ON a.source < b.source
        |ORDER BY source_a, source_b""".stripMargin,
  )
}
