package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.AprsSchema
import graft.streaming.TelemetryProcessor
import graft.transform.AprsLineProtocol

/** Structured Streaming specs. The APRS one: fixture packets arrive as a
  * file stream in two micro-batches (the telemetry-message calibration for
  * KB1LQD arrives in batch 1; later telemetry for that station arrives in
  * batch 2) → keyed state → line protocol. Output must match the same
  * goldens as the batch path, proving state carries across micro-batches
  * (and a checkpoint restart) like the reference's long-lived dictionary. */
class StreamingSpec extends AnyFunSuite {

  lazy val spark = SparkTest.session
  import spark.implicits._

  /** VERDICT r13 #6: the keyed-state operators must DEMONSTRABLY run on
    * the RocksDB store (the session conf alone could be silently ignored
    * by a future provider-selection change) — the proof is the store's
    * own telemetry: only RocksDBStateStoreProvider reports rocksdb*
    * custom metrics in the state-operator progress. At 100× ingest the
    * provider is load-bearing: off-heap + disk-spillable state, no
    * per-version on-heap map. (The daemon turns changelog checkpointing
    * on: each batch writes one changelog per state partition.) */
  private def assertRocksDbState(
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val keys = q.recentProgress.flatMap(_.stateOperators)
      .flatMap(_.customMetrics.keySet().asScala)
    assert(keys.exists(_.startsWith("rocksdb")),
      s"state op reported no rocksdb* metrics — store is not RocksDB " +
        s"(saw ${keys.distinct.take(8).mkString(", ")})")
  }

  /** §2.9 watermark semantics: event-time windows finalize when the
    * watermark passes their end, and rows older than the watermark are
    * DROPPED, not retro-added — the contract that bounds streaming agg
    * state at scale. */
  test("watermarked windowed aggregation drops late data") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("wm_stream")
    val outName = "wm_out"
    def ev(ts: String, user: String) = s"""{"ts":"$ts","user":"$user"}"""
    // batch 1: two rows in window [0,10), one at :25 (watermark -> 15)
    Files.write(dir.resolve("b1.json"), Seq(
      ev("1970-01-01 00:00:05", "a"), ev("1970-01-01 00:00:08", "b"),
      ev("1970-01-01 00:00:25", "c")).mkString("\n").getBytes)
    val schema = StructType(Seq(StructField("ts", TimestampType),
      StructField("user", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(dir.toString)
    val agg = stream
      .withWatermark("ts", "10 seconds")
      .groupBy(window($"ts", "10 seconds"))
      .count()
      .select($"window.start".cast("long").as("w"), $"count")
    val q = agg.writeStream.format("memory").queryName(outName)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // batch 2: a LATE row for [0,10) (ts 3 < watermark 15 -> dropped)
      // plus :45, advancing the watermark to 35 so [0,10) and [20,30)
      // finalize without the late row
      Files.write(dir.resolve("b2.json"), Seq(
        ev("1970-01-01 00:00:03", "late"), ev("1970-01-01 00:00:45", "d"))
        .mkString("\n").getBytes)
      q.processAllAvailable()
      // batch 3: advance the watermark past [40,50) so everything emits
      Files.write(dir.resolve("b3.json"),
        Seq(ev("1970-01-01 00:01:10", "e")).mkString("\n").getBytes)
      q.processAllAvailable()
      val got = spark.table(outName).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got(0L) == 2L, s"late row must NOT count: $got")
      assert(got(20L) == 1L && got(40L) == 1L, got)
    } finally {
      q.stop()
      spark.catalog.dropTempView(outName)
    }
  }

  private lazy val aprsFixtures = scala.io.Source
    .fromURL(getClass.getResource("/aprs_fixtures.jsonl")).getLines().toSeq
  private lazy val aprsGolden = scala.io.Source
    .fromURL(getClass.getResource("/aprs_golden.txt")).getLines()
    .map(l => if (l == "\\N") None else Some(l)).toSeq

  /** The daemon's calibration chain over a JSON file stream in `dir`, one
    * file per micro-batch, collecting (`_idx`, line) into `got`. */
  private def startCalibration(session: org.apache.spark.sql.SparkSession,
      dir: java.nio.file.Path, ckpt: java.nio.file.Path,
      got: java.util.Queue[(Long, Option[String])]) = {
    val stream = session.readStream.schema(AprsSchema.schema.add("_idx", "long"))
      .option("maxFilesPerTrigger", 1).json(dir.toString)
    AprsLineProtocol.toLines(TelemetryProcessor.attach(stream, "_idx"),
        col(TelemetryProcessor.CalCol))
      .select($"_idx", $"line")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.collect().foreach(r => got.add(r.getLong(0) -> Option(r.getString(1))))
      }
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
  }

  /** Writes `rows` as one file and runs the batch it makes. */
  private def feedBatch(q: org.apache.spark.sql.streaming.StreamingQuery,
      dir: java.nio.file.Path, name: String, rows: Seq[String]): Unit = {
    Files.write(dir.resolve(name), rows.mkString("\n").getBytes)
    q.processAllAvailable()
    assertRocksDbState(q)
  }

  private def assertGoldens(got: java.util.Queue[(Long, Option[String])],
      label: String): Unit = {
    val rows = got.toArray(Array.empty[(Long, Option[String])])
    assert(rows.length == aprsFixtures.size, s"$label: each row once")
    val byIdx = rows.toMap
    aprsGolden.zipWithIndex.foreach { case (expected, i) =>
      assert(byIdx(i.toLong) == expected,
        s"\n$label fixture #$i\n  expected: $expected\n  got: ${byIdx(i.toLong)}")
    }
  }

  /** The daemon's calibration operator over two micro-batches: batch 1
    * ends with KB1LQD's EQNS telemetry-message, batch 2 holds that
    * station's later telemetry, so the goldens only match if the keyed
    * state carries the equations from one batch to the next. Run twice:
    * back to back in one query, and with a stop + restart on the same
    * checkpoint between the batches (checkpointed state is the upgrade
    * over the reference's lost-on-restart dictionary). Both runs must
    * use the RocksDB store the daemon configures. */
  test("two-microbatch replay matches goldens, state crosses batches") {
    val (b1, b2) = aprsFixtures.splitAt(16)
    assert(b1.last.contains("\"tEQNS\"") && b1.last.contains("KB1LQD"),
      "batch 1 must end with KB1LQD's telemetry-message")

    for (restart <- Seq(false, true)) {
      val dir = Files.createTempDirectory("aprs_stream")
      val ckpt = Files.createTempDirectory("aprs_stream_ckpt")
      val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Option[String])]()
      val q1 = startCalibration(spark, dir, ckpt, got)
      val q2 = try {
        feedBatch(q1, dir, "batch1.json", b1)
        assert(got.size == b1.size, s"restart=$restart: batch 1 rows all processed")
        if (restart) { q1.stop(); startCalibration(spark, dir, ckpt, got) } else q1
      } catch { case e: Throwable => q1.stop(); throw e }
      try feedBatch(q2, dir, "batch2.json", b2) finally q2.stop()
      assertGoldens(got, s"restart=$restart")
    }
  }

  /** A checkpoint written before `Main.sessionConf` (snapshot checkpoints,
    * FileContext manager) resumes under it, and one it wrote resumes under
    * the old settings again. Batch 1 ends with KB1LQD's first EQNS, batch
    * 2 holds the telemetry that needs it and the station's second EQNS,
    * batch 3 the telemetry that needs that one: state crosses both
    * switches. */
  test("old checkpoint, new settings: resumes both ways, goldens match") {
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
    val (b1, rest) = aprsFixtures.splitAt(16)
    val (b2, b3) = rest.splitAt(2)
    assert(b1.last.contains("\"tEQNS\"") && b2.last.contains("\"tEQNS\"") &&
      b2.last.contains("KB1LQD") && b3.head.contains("KB1LQD"),
      "each switch must fall between an EQNS and the telemetry it calibrates")
    val before = spark.newSession()
    before.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "false")
    before.conf.set("spark.sql.streaming.checkpointFileManagerClass",
      classOf[FileContextBasedCheckpointFileManager].getName)
    val dir = Files.createTempDirectory("aprs_switch")
    val ckpt = Files.createTempDirectory("aprs_switch_ckpt")
    assert(CheckpointFileManager.create(new org.apache.hadoop.fs.Path(ckpt.toUri),
      before.sessionState.newHadoopConf()).isInstanceOf[FileContextBasedCheckpointFileManager])
    def stateFiles(suffix: String): Int =
      if (!Files.exists(ckpt.resolve("state"))) 0
      else {
        val files = Files.walk(ckpt.resolve("state"))
        try files.filter(_.toString.endsWith(suffix)).count().toInt finally files.close()
      }
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Option[String])]()
    for ((session, name, rows) <- Seq((before, "batch1.json", b1),
        (spark, "batch2.json", b2), (before, "batch3.json", b3))) {
      val q = startCalibration(session, dir, ckpt, got)
      val zips = stateFiles(".zip")
      try feedBatch(q, dir, name, rows) finally q.stop()
      if (session eq spark) assert(stateFiles(".changelog") > 0, "no changelog written")
      else {
        assert(stateFiles(".zip") > zips, s"$name: no snapshot under the old settings")
        if (name == "batch1.json") assert(stateFiles(".changelog") == 0)
      }
    }
    assertGoldens(got, "settings switched")
  }

  /** StreamingNearDup: MinHash band-bucket state survives a restart, an
    * exact copy arriving after the bounce collides in ALL four bands
    * against the pre-restart owner, and every streamed candidate pair is
    * a pair the batch LSH pipeline banded together (soundness against
    * q36's candidate space — same signatures, parity spec-pinned). */
  test("streaming near-dup flags band collisions across a restart") {
    val a = "the quick brown fox jumps over the lazy dog while the " +
      "patient crane watches from a tall pine tree near the river bank today"
    val b = "completely unrelated legal boilerplate about contracts and " +
      "parties and obligations thereof with no overlap whatsoever at all"
    val aNear = a.replace("today", "tonight")
    val dir = Files.createTempDirectory("neardup_stream")
    val ckpt = Files.createTempDirectory("neardup_ckpt")
    def doc(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val alerts = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Int)]()
    def startQuery() = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(dir.toString)
      graft.streaming.StreamingNearDup.candidateAlerts(stream)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          batch.collect().foreach(r =>
            alerts.add((r.getLong(0), r.getLong(1), r.getInt(2))))
        }
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
    }
    Files.write(dir.resolve("b1.json"),
      Seq(doc(1, a), doc(2, b)).mkString("\n").getBytes)
    val q1 = startQuery()
    try {
      q1.processAllAvailable()
      assertRocksDbState(q1) // the band-bucket store runs on RocksDB
    } finally q1.stop()
    assert(alerts.isEmpty, s"unrelated docs must not collide: $alerts")
    // restart on the same checkpoint: an exact copy and a near-copy arrive
    Files.write(dir.resolve("b2.json"),
      Seq(doc(3, aNear), doc(4, a)).mkString("\n").getBytes)
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      assertRocksDbState(q2) // ...and reloads RocksDB state post-restart
      val got = alerts.toArray(Array.empty[(Long, Long, Int)]).toSeq
      // the exact copy shares every band with the PRE-restart owner
      assert(got.filter(x => x._1 == 4L && x._2 == 1L).map(_._3).toSet
        == Set(0, 1, 2, 3),
        s"exact copy must collide in all 4 bands against doc 1: $got")
      assert(!got.exists(x => x._1 == 2L || x._2 == 2L),
        s"the unrelated doc must never alert: $got")
      // soundness: every streamed pair is banded together by the batch
      // pipeline over the same four documents
      import spark.implicits._
      val docsDf = Seq((1L, a), (2L, b), (3L, aNear), (4L, a)).toDF("doc_id", "text")
      val banded = graft.operators.Dedup.bandedOf(
        graft.operators.Dedup.minhashSignatures(docsDf))
      val batchPairs = banded.as("x").join(banded.as("y"),
          $"x.band" === $"y.band" && $"x.bkey" === $"y.bkey" &&
            $"x.doc_id" < $"y.doc_id")
        .select($"x.doc_id", $"y.doc_id").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      got.foreach { case (i, o, _) =>
        assert(batchPairs.contains((math.min(i, o), math.max(i, o))),
          s"streamed pair ($i,$o) is not in the batch candidate space $batchPairs")
      }
    } finally q2.stop()
  }

  /** VERDICT r7 #5: the (band, bkey) bucket store must be boundable on
    * infinite ingest — with the opt-in TTL an idle bucket's owner
    * expires, and the bucket's next member is silently re-admitted as a
    * NEW owner (the documented recall trade). Mirrors the calibration
    * TTL test: processing-time timeouts self-trigger no-data batches,
    * so the sink is POLLED rather than processAllAvailable()-gated. */
  test("idle near-dup bucket state expires under TTL") {
    val a = "the quick brown fox jumps over the lazy dog while the " +
      "patient crane watches from a tall pine tree near the river bank today"
    val dir = Files.createTempDirectory("neardup_ttl")
    val ckpt = Files.createTempDirectory("neardup_ttl_ckpt")
    def doc(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val alerts = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(dir.toString)
    Files.write(dir.resolve("b1.json"), doc(1, a).getBytes)
    // every progress event, not q.recentProgress: that keeps only the
    // last 100, and the no-data batches that drive expiry run back to
    // back, so doc 1's batch can leave the window before doc 2's arrives
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.streaming.StreamingQueryProgress]()
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e.progress)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    // TTL long enough that doc 3 (written right after doc 2's batch is
    // confirmed) lands WITHIN doc 2's window — only doc 1's idle gap
    // may expire
    val q = graft.streaming.StreamingNearDup
      .candidateAlerts(stream, ttl = Some(java.time.Duration.ofSeconds(8)))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.collect().foreach(r => alerts.add((r.getLong(0), r.getLong(1))))
      }
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    try {
      def awaitAlerts(n: Int): Seq[(Long, Long)] = {
        val deadline = System.currentTimeMillis() + 90000
        while (alerts.size < n && System.currentTimeMillis() < deadline)
          Thread.sleep(200)
        val got = alerts.toArray(Array.empty[(Long, Long)]).toSeq
        assert(got.size >= n, s"expected >= $n alerts, got $got")
        got
      }
      // poll query progress rather than fixed sleeps (review finding:
      // wall-clock margins race a loaded box) — doc 3 must land within
      // doc 2's TTL window, so act the moment doc 2's batch commits
      def awaitProcessed(n: Long): Unit = {
        val deadline = System.currentTimeMillis() + 90000
        def total = progress.asScala.filter(_.id == q.id).map(_.numInputRows).sum
        while (total < n && System.currentTimeMillis() < deadline)
          Thread.sleep(100)
        assert(total >= n, s"only $total input rows processed, want $n")
      }
      awaitProcessed(1)
      // ADVICE r8: don't assume a fixed sleep outlasted both the TTL and
      // the box's no-data-batch scheduling — the eviction is observable
      // as the state operator's numRowsRemoved. Doc 1 owns one bucket per
      // band (4): wait until all four are reported removed, so doc 2
      // cannot race a half-expired store and alert against owner 1.
      locally {
        val deadline = System.currentTimeMillis() + 90000
        def removed = progress.asScala.filter(_.id == q.id)
          .map(_.stateOperators.map(_.numRowsRemoved).sum).sum
        while (removed < 4 && System.currentTimeMillis() < deadline)
          Thread.sleep(200)
        assert(removed >= 4,
          s"doc 1's 4 band buckets were not evicted within the deadline " +
            s"(numRowsRemoved total $removed)")
      }
      // doc 2 (same text) arrives AFTER expiry: re-admitted as the new
      // owner — no alert against the forgotten doc 1
      Files.write(dir.resolve("b2.json"), doc(2, a).getBytes)
      awaitProcessed(2)
      assert(alerts.isEmpty,
        s"doc 2 must be re-admitted silently after expiry: $alerts")
      // doc 3 (same text) arrives within TTL of doc 2: alerts against
      // the NEW owner in all four bands — proof the bucket was evicted
      // and re-owned, not merely silent
      Files.write(dir.resolve("b3.json"), doc(3, a).getBytes)
      val got = awaitAlerts(4)
      assert(got.toSet == Set((3L, 2L)) && got.size == 4,
        s"doc 3 must alert against the NEW owner 2 in all 4 bands: $got")
    } finally { q.stop(); spark.streams.removeListener(listener) }
  }

  /** StreamingBm25: queries served against the SAVED postings index must
    * produce, query for query, exactly the batch q122 rows — the shared
    * bm25Rank makes the arithmetic identical, this proves the persisted
    * df/dl/stats are too. Serving is stateless (stream-static join), so
    * the only restart state is the source offset log: a bounced stream
    * re-serves exactly the unserved query batch, never the served one. */
  test("streaming BM25 serve matches batch q122 across a restart") {
    val sfDir = "/root/testdata/sf0.001"
    val table = "bm25_spec_idx"
    Seq(table, table + "_df", table + "_stats", table + "_frozen_stats",
      table + "_frozen_df").foreach(cleanTableLocationS)
    graft.streaming.StreamingBm25.saveBm25Index(
      graft.util.Tables(spark, sfDir, "documents").select($"doc_id", $"text"),
      table)
    val postings = graft.streaming.StreamingBm25.loadPostings(spark, table)
    val dfT = graft.streaming.StreamingBm25.loadDf(spark, table)
    val stats = graft.streaming.StreamingBm25.loadStats(spark, table)
    val streamDir = Files.createTempDirectory("bm25_in")
    val ckpt = Files.createTempDirectory("bm25_ckpt")
    def writeBatch(qids: Set[Long]): Unit =
      graft.operators.TextOps.Bm25Queries.filter(q => qids(q._1))
        .toDF("qid", "term")
        .write.mode("append").parquet(streamDir.toString)
    val served =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Long)]()
    def startQuery() = spark.readStream.schema("qid LONG, term STRING")
      .parquet(streamDir.toString)
      .writeStream
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          graft.streaming.StreamingBm25.topKBatch(b, postings, dfT, stats)
            .collect().foreach(r => served.add(
              (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))))
      }
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    writeBatch(Set(1L, 2L))
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    val afterB1 = served.toArray(Array.empty[(Long, Long, Long, Long)]).toSeq
    assert(afterB1.nonEmpty && afterB1.forall(_._1 <= 2L),
      s"pre-restart batch must serve only qids 1-2: ${afterB1.map(_._1).distinct}")
    writeBatch(Set(3L, 4L))
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      val all = served.toArray(Array.empty[(Long, Long, Long, Long)]).toSeq
      val afterRestart = all.diff(afterB1)
      assert(afterRestart.nonEmpty && afterRestart.forall(_._1 >= 3L),
        s"restart re-served pre-restart qids: ${afterRestart.map(_._1).distinct}")
      val batchArm = graft.operators.TextOps.q122Bm25(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
      assert(all.sortBy(x => (x._1, x._2)) == batchArm.sortBy(x => (x._1, x._2)),
        s"served ≠ batch q122\nserved=${all.sortBy(x => (x._1, x._2))}\nbatch=$batchArm")
    } finally q2.stop()
  }

  /** appendBm25Index: appending a disjoint batch must leave the index
    * IDENTICAL to a fresh rebuild over the union — posting rows, the
    * vocab df table (including vocabulary the batch introduces), the
    * stats row, and therefore every served ranking. The batch-cost
    * refresh is only sound if this equivalence is exact. */
  test("BM25 index append equals a fresh rebuild over the union") {
    val sfDir = "/root/testdata/sf0.001"
    val apT = "bm25_append_idx"
    val fullT = "bm25_full_idx"
    Seq(apT, apT + "_df", apT + "_stats", apT + "_frozen_stats",
      apT + "_frozen_df", fullT, fullT + "_df", fullT + "_stats",
      fullT + "_frozen_stats", fullT + "_frozen_df")
      .foreach(cleanTableLocationS)
    val d = graft.util.Tables(spark, sfDir, "documents")
      .select($"doc_id", $"text")
    // the batch side gets new vocabulary so the full-outer df path and a
    // brand-new term's posting lookup are both exercised
    val base = d.filter($"doc_id" < 300)
    val batch = d.filter($"doc_id" >= 300)
      .withColumn("text", concat($"text", lit(" nvocab nvocab")))
    graft.streaming.StreamingBm25.saveBm25Index(base, apT)
    graft.streaming.StreamingBm25.appendBm25Index(batch, apT)
    graft.streaming.StreamingBm25.saveBm25Index(base.union(batch), fullT)
    def rows(t: String) = spark.table(t).collect()
      .map(r => (0 until r.length).map(r.get)).toSet
    assert(rows(apT) == rows(fullT), "posting rows diverge")
    assert(rows(apT + "_df") == rows(fullT + "_df"), "df table diverges")
    assert(rows(apT + "_stats") == rows(fullT + "_stats"), "stats diverge")
    // served ranking equality follows, including for the new term
    val q = Seq((9L, "nvocab"), (9L, "spark")).toDF("qid", "term")
    def serve(t: String) = graft.streaming.StreamingBm25.topKBatch(q,
        graft.streaming.StreamingBm25.loadPostings(spark, t),
        graft.streaming.StreamingBm25.loadDf(spark, t),
        graft.streaming.StreamingBm25.loadStats(spark, t))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    val (a, f) = (serve(apT), serve(fullT))
    assert(a.nonEmpty && a == f, s"served rankings diverge\n$a\n$f")
  }

  /** STALENESS GATES for the frozen text artifacts (VERDICT r11 #4 —
    * the pqIndexDistortion analog): a fresh build audits at zero drift;
    * a planted DRIFTED append/batch raises every signal; and both gates
    * REFUSE rather than silently read clean when they cannot judge
    * (missing freeze snapshot; batch language with no frozen cut). */
  test("text staleness gates rise on planted drift and refuse blind audits") {
    val sfDir = "/root/testdata/sf0.001"
    val table = "drift_spec_bm25"
    val lmT = "drift_spec_lm"
    Seq(table, table + "_df", table + "_stats", table + "_frozen_stats",
      table + "_frozen_df").foreach(cleanTableLocationS)
    Seq(lmT + "_cells", lmT + "_ctx", lmT + "_cuts", lmT + "_rates")
      .foreach(cleanTableLocationS)
    val d = graft.util.Tables(spark, sfDir, "documents")
    graft.streaming.StreamingBm25.saveBm25Index(
      d.select($"doc_id", $"text"), table)
    graft.streaming.StreamingLmGate.saveLmModel(
      d.select($"doc_id", $"lang", $"text"), lmT)
    def bmRow = graft.streaming.StreamingBm25
      .bm25IndexDrift(spark, table).head
    // fresh build: every drift signal is exactly zero
    val fresh = bmRow
    assert(fresh.getLong(4) == 0L && fresh.getLong(5) == 0L &&
      fresh.getLong(6) == 0L, s"fresh index must audit clean: $fresh")
    // drifted append: 50 long docs of entirely new vocabulary
    val drifted = spark.range(50)
      .select(($"id" + 900000L).as("doc_id"),
        expr("concat_ws(' ', transform(sequence(1, 200), " +
          "i -> concat('nvdrift', id, 'x', i)))").as("text"))
    graft.streaming.StreamingBm25.appendBm25Index(drifted, table)
    val after = bmRow
    assert(after.getLong(1) == after.getLong(0) + 50L, after.toString)
    assert(after.getLong(4) > 0L,
      s"avgdl drift must register 200-token appends: $after")
    assert(after.getLong(5) > 0L,
      s"df TV must register the new vocabulary: $after")
    assert(after.getLong(6) >= 10000L, // 50 docs x 200 unique terms
      s"new-term count missing: $after")
    // missing snapshot: refuse, not a vacuous zero
    cleanTableLocationS(table + "_frozen_stats")
    val e0 = intercept[IllegalArgumentException] { bmRow }
    assert(e0.getMessage.contains("snapshot"), e0.getMessage)
    // ---- LM gate drift ----
    val (cells, ctx, cuts) =
      graft.streaming.StreamingLmGate.loadModel(spark, lmT)
    val rates = spark.table(lmT + "_rates")
    // replaying the frozen reference corpus reads ~frozen rate (no
    // boundary ties on this corpus — the LM-gate spec asserts that)
    val replay = graft.streaming.StreamingLmGate.lmGateDrift(
        d.select($"doc_id", $"lang", $"text"), cells, ctx, cuts, rates)
      .collect()
    assert(replay.nonEmpty)
    replay.foreach(r => assert(r.getLong(4) == 0L,
      s"frozen-corpus replay must read zero drift: $r"))
    // a gibberish batch (unseen bigrams -> floor scores) craters the
    // admit rate; drift ~ the frozen ~667 permille
    val junk = spark.range(30)
      .select(($"id" + 950000L).as("doc_id"), lit("en").as("lang"),
        expr("concat_ws(' ', transform(sequence(1, 40), " +
          "i -> concat('qzx', id, 'j', i)))").as("text"))
    val jd = graft.streaming.StreamingLmGate.lmGateDrift(
        junk, cells, ctx, cuts, rates)
      .collect()
    assert(jd.length == 1 && jd(0).getLong(4) >= 300L,
      s"gibberish batch must raise admit-rate drift: ${jd.toSeq}")
    // unknown language: refuse — it would pass the door un-gated and
    // read as zero drift on exactly the traffic the audit cannot judge
    val e1 = intercept[IllegalArgumentException] {
      graft.streaming.StreamingLmGate.lmGateDrift(
        junk.withColumn("lang", lit("xx")), cells, ctx, cuts, rates)
        .collect()
    }
    assert(e1.getMessage.contains("no frozen cut"), e1.getMessage)
  }

  /** Review finding r12: integer lm_scores can TIE exactly at the
    * frozen cut, and the door admits ties — so the freeze-time admit
    * rate must be counted with the gate's own score predicate, or a
    * frozen-corpus replay reads spurious drift. Planted: two docs with
    * IDENTICAL text (guaranteed score tie); the tercile puts the cut at
    * the rank-2 doc's score, the rank-3 twin ties it, the gate admits
    * all three — and the replay must read exactly zero drift. */
  test("LM drift reads zero on a frozen-corpus replay with boundary ties") {
    val table = "lmtie_spec_model"
    Seq(table + "_cells", table + "_ctx", table + "_cuts", table + "_rates")
      .foreach(cleanTableLocationS)
    val twin = "alpha beta gamma delta epsilon zeta eta theta"
    val d = Seq(
      (1L, "en", "one two three four five six seven eight nine ten"),
      (2L, "en", twin),
      (3L, "en", twin)).toDF("doc_id", "lang", "text")
    graft.streaming.StreamingLmGate.saveLmModel(d, table)
    val (cells, ctx, cuts) =
      graft.streaming.StreamingLmGate.loadModel(spark, table)
    // the tie is real: both twins score identically, and the recorded
    // rate counts all score >= cut docs (not the rank-truncated 2/3)
    val scores = graft.streaming.StreamingLmGate
      .scoredBatch(d, cells, ctx).collect()
      .map(r => r.getLong(r.fieldIndex("doc_id")) ->
        r.getLong(r.fieldIndex("lm_score"))).toMap
    assert(scores(2L) == scores(3L), s"twins must tie: $scores")
    val drift = graft.streaming.StreamingLmGate.lmGateDrift(
        d, cells, ctx, cuts, spark.table(table + "_rates"))
      .collect()
    assert(drift.length == 1 && drift(0).getLong(4) == 0L,
      s"boundary-tie replay must read zero drift: ${drift.toSeq}")
  }

  /** ADVICE r12: a null cut has two causes and only one is refusable.
    * A language frozen with n = 1 (3rk ≤ 2n never holds, so no tail
    * cut exists) still has a `_rates` row; a frozen-corpus replay must
    * be AUDITABLE — reported as un-gated with its recorded rate — not
    * permanently refused with a remedy (re-freeze) that cannot help.
    * A language absent from the frozen model entirely still refuses. */
  test("LM drift reports frozen-without-cut languages instead of refusing") {
    val table = "lmnocut_spec_model"
    Seq(table + "_cells", table + "_ctx", table + "_cuts", table + "_rates")
      .foreach(cleanTableLocationS)
    val d = Seq(
      (1L, "en", "one two three four five six seven eight nine ten"),
      (2L, "en", "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "en", "red green blue yellow orange purple brown black"),
      (4L, "fr", "bonjour le monde")).toDF("doc_id", "lang", "text")
    graft.streaming.StreamingLmGate.saveLmModel(d, table)
    val (cells, ctx, cuts) =
      graft.streaming.StreamingLmGate.loadModel(spark, table)
    // the planted fact: fr froze WITHOUT a cut but WITH a rates row
    assert(cuts.filter($"lang" === "fr").isEmpty, "fr must have no cut")
    val frRate = spark.table(table + "_rates").filter($"lang" === "fr")
      .select($"admit_permille").head.getLong(0)
    assert(frRate == 1000L, s"n=1 language freezes at 1000 permille: $frRate")
    val drift = graft.streaming.StreamingLmGate.lmGateDrift(
        d, cells, ctx, cuts, spark.table(table + "_rates"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(drift.keySet == Set("en", "fr"), drift.keySet.toString)
    assert(drift("fr").getBoolean(5) && drift("fr").getLong(4) == 0L,
      s"fr must be reported un-gated at zero drift: ${drift("fr")}")
    assert(!drift("en").getBoolean(5),
      s"en is gated and must not read un-gated: ${drift("en")}")
    // absent-from-model languages still refuse, naming the real cause
    val e = intercept[IllegalArgumentException] {
      graft.streaming.StreamingLmGate.lmGateDrift(
        d.withColumn("lang", lit("xx")), cells, ctx, cuts,
        spark.table(table + "_rates")).collect()
    }
    assert(e.getMessage.contains("absent from the frozen model"),
      e.getMessage)
  }

  /** ADVICE r12: a degenerate frozen baseline (avgdl null/zero from an
    * empty save-time corpus, empty frozen vocabulary) must REFUSE the
    * BM25 drift audit, not abort on ANSI division or emit a null row. */
  test("BM25 drift refuses a degenerate freeze-time baseline") {
    val table = "bmdegen_spec_bm25"
    Seq(table, table + "_df", table + "_stats", table + "_frozen_stats",
      table + "_frozen_df").foreach(cleanTableLocationS)
    graft.streaming.StreamingBm25.saveBm25Index(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), table)
    val e = intercept[IllegalArgumentException] {
      graft.streaming.StreamingBm25.bm25IndexDrift(spark, table).collect()
    }
    assert(e.getMessage.contains("degenerate"), e.getMessage)
  }

  /** hybridServe (VERDICT r11 #2): the loaded-index hybrid must be
    * EXACTLY the RRF of its two served arms — replayed driver-side from
    * the independent topKBatch and pqServeQuery outputs with the fusion
    * arithmetic inlined — and must overlap the brute q124 heavily (the
    * text arm is bit-identical by the shared bm25Rank; only the vector
    * arm is approximate, and the ADC-shortlist + exact-re-rank path
    * recalls nearly all of the brute cosine top-k at this SF). */
  test("hybrid serve equals driver-side RRF of the served arms; overlaps q124") {
    val sfDir = "/root/testdata/sf0.001"
    val table = "hybrid_spec_bm25"
    Seq(table, table + "_df", table + "_stats", table + "_frozen_stats",
      table + "_frozen_df").foreach(cleanTableLocationS)
    val pqPath = Files.createTempDirectory("hybrid_pq").toString
    graft.streaming.StreamingBm25.saveBm25Index(
      graft.util.Tables(spark, sfDir, "documents").select($"doc_id", $"text"),
      table)
    graft.operators.Similarity.savePqIndex(spark, sfDir, pqPath)
    val queries = graft.operators.TextOps.Bm25Queries.toDF("qid", "term")
    val k = graft.operators.TextOps.Bm25TopK
    val got = graft.streaming.StreamingBm25
      .hybridServe(spark, sfDir, table, pqPath, queries)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    // driver replay: each arm served independently, fused in scala
    val text = graft.streaming.StreamingBm25.topKBatch(queries,
        graft.streaming.StreamingBm25.loadPostings(spark, table),
        graft.streaming.StreamingBm25.loadDf(spark, table),
        graft.streaming.StreamingBm25.loadStats(spark, table))
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(1)).toMap
    val qids = graft.operators.TextOps.Bm25Queries.map(_._1).distinct
    val vec = graft.operators.Similarity.pqServeQuery(spark, sfDir, pqPath, k)
      .collect().filter(r => qids.contains(r.getLong(0)))
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    def rrf(rk: Option[Long]): Long =
      rk.map(r => 1000000L / (graft.operators.TextOps.RrfK + r)).getOrElse(0L)
    val expected = qids.flatMap { q =>
      val ds = (text.keySet ++ vec.keySet).collect { case (qq, d) if qq == q => d }
      ds.toSeq
        .map(d => (d, rrf(text.get((q, d))) + rrf(vec.get((q, d)))))
        .sortBy { case (d, s) => (-s, d) }
        .take(k).zipWithIndex
        .map { case ((d, s), i) => (q, (i + 1).toLong, d, s,
          text.getOrElse((q, d), 0L), vec.getOrElse((q, d), 0L)) }
    }.sortBy(x => (x._1, x._2))
    assert(got == expected, s"\ngot=$got\nexp=$expected")
    // overlap/recall vs the brute q124 (inline arms, exact cosine):
    // identical text arm, approximate vector arm — the served hybrid
    // must recover the overwhelming share of the brute fused top-k
    val brute = graft.operators.TextOps
      .q124HybridRetrieval(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val served = got.map(x => (x._1, x._3)).toSet
    val overlap = (brute & served).size.toDouble / brute.size
    assert(overlap >= 0.8,
      f"served hybrid recalls only $overlap%.2f of brute q124 rows " +
        s"(${(brute & served).size}/${brute.size})")
  }

  /** VERDICT r12 #2: when the batch asks for a SUBSET of the standing
    * queries, the hybrid's vector arm must restrict candidate
    * generation itself — not serve the full standing set and
    * post-filter. Two assertions: (1) the sub-batch hybrid output is
    * row-identical to the full-batch output filtered to its qids
    * (per-qid fusion is independent, so the restriction is free), and
    * (2) the ADC-ranked candidate frame under the restriction is
    * strictly smaller and carries ONLY the batch's qids — the scanned
    * work the old post-filter shape wasted on unrequested queries. */
  test("hybrid serve restricts the vector arm to the batch's queries") {
    val sfDir = "/root/testdata/sf0.001"
    val table = "hybridsub_spec_bm25"
    Seq(table, table + "_df", table + "_stats", table + "_frozen_stats",
      table + "_frozen_df").foreach(cleanTableLocationS)
    val pqPath = Files.createTempDirectory("hybridsub_pq").toString
    graft.streaming.StreamingBm25.saveBm25Index(
      graft.util.Tables(spark, sfDir, "documents").select($"doc_id", $"text"),
      table)
    graft.operators.Similarity.savePqIndex(spark, sfDir, pqPath)
    val subQids = Set(2L, 4L) // batch ⊂ standing {1,2,3,4}
    val subQueries = graft.operators.TextOps.Bm25Queries
      .filter(q => subQids(q._1)).toDF("qid", "term")
    val allQueries = graft.operators.TextOps.Bm25Queries.toDF("qid", "term")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    val sub = rows(graft.streaming.StreamingBm25
      .hybridServe(spark, sfDir, table, pqPath, subQueries))
    val full = rows(graft.streaming.StreamingBm25
      .hybridServe(spark, sfDir, table, pqPath, allQueries))
      .filter(x => subQids(x._1))
    assert(sub == full,
      s"sub-batch hybrid must equal the filtered full serve:\n$sub\n$full")
    // the candidate frame itself shrank: the restricted ADC scan ranks
    // rows for the batch's qids only
    val (cents, books) = graft.operators.Similarity.loadPqIndex(spark, pqPath)
    val enc = spark.read.parquet(s"$pqPath/enc")
    val base = graft.operators.Similarity.scaled(spark, sfDir)
    val fullCand = graft.operators.Similarity
      .pqAdcRanked(base, enc, cents, books,
        graft.operators.Similarity.MultiprobeNprobe)
      .localCheckpoint(true)
    val subCand = graft.operators.Similarity
      .pqAdcRanked(base, enc, cents, books,
        graft.operators.Similarity.MultiprobeNprobe,
        qids = Some(subQids.toSeq))
      .localCheckpoint(true)
    val (nFull, nSub) = (fullCand.count(), subCand.count())
    assert(nSub < nFull,
      s"restricted ADC scan must rank fewer candidates: $nSub vs $nFull")
    val candQids = subCand.select($"qid").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(candQids == subQids,
      s"restricted scan must carry only the batch's qids: $candQids")
  }

  /** StreamingLmGate: the frozen-model door gate must (1) score a
    * frozen-corpus document EXACTLY what the batch q118 scored it (the
    * shared formula against the persisted model), (2) admit exactly the
    * batch head+middle set when the frozen corpus itself is replayed
    * through the door (no boundary ties on this corpus — asserted, so
    * the documented admit-on-tie divergence stays dormant), and (3) at
    * the door, drop planted gibberish and admit planted natural text
    * across two micro-batches and a checkpoint bounce (stateless gate —
    * the only restart state is the source offset log). */
  test("streaming LM gate matches the frozen q118 buckets and survives a restart") {
    val sfDir = "/root/testdata/sf0.001"
    val table = "lmgate_spec_model"
    Seq(table + "_cells", table + "_ctx", table + "_cuts",
      table + "_rates")
      .foreach(cleanTableLocationS)
    val d = graft.util.Tables(spark, sfDir, "documents")
      .select($"doc_id", $"lang", $"text")
    graft.streaming.StreamingLmGate.saveLmModel(d, table)
    val (cells, ctx, cuts) =
      graft.streaming.StreamingLmGate.loadModel(spark, table)
    // (1)+(2): replay the frozen corpus through the gate as one batch
    val batchQ118 = graft.operators.TextOps.lmQualityOf(d).collect()
      .map(r => r.getLong(1) -> ((r.getLong(3), r.getString(4)))).toMap
    val gated = graft.streaming.StreamingLmGate
      .gatedBatch(d, cells, ctx, cuts).collect()
      .map(r => r.getLong(r.fieldIndex("doc_id")) ->
        ((r.getLong(r.fieldIndex("lm_score")),
          r.getBoolean(r.fieldIndex("admitted"))))).toMap
    assert(gated.keySet == batchQ118.keySet)
    gated.foreach { case (id, (score, _)) =>
      assert(score == batchQ118(id)._1, s"doc $id: door $score vs batch")
    }
    // no score ties across the cut boundary on this corpus: equality of
    // the admit set is then EXACT, not modulo the documented divergence
    gated.foreach { case (id, (_, admitted)) =>
      assert(admitted == (batchQ118(id)._2 != "tail"),
        s"doc $id: admitted=$admitted but batch bucket ${batchQ118(id)._2}")
    }
    // (3): planted docs at the door, two micro-batches, bounce between
    val sentences = Array(
      "the quick brown fox jumps over the lazy dog",
      "a watched pot never boils on the old stove",
      "the rain in spain stays mainly on the plain")
    def natural(k: Long): String =
      (0 until 6).map(i => sentences(((k + i) % 3).toInt)).mkString(" ")
    // a model trained on natural English: plant it as the corpus so the
    // cut reflects it, then gate arrivals against that frozen model
    val planted = (0L until 40L).map(i => (i, "en", natural(i)))
    val pt = "lmgate_spec_planted"
    Seq(pt + "_cells", pt + "_ctx", pt + "_cuts", pt + "_rates")
      .foreach(cleanTableLocationS)
    graft.streaming.StreamingLmGate.saveLmModel(
      planted.toDF("doc_id", "lang", "text"), pt)
    val (pc, px, pu) = graft.streaming.StreamingLmGate.loadModel(spark, pt)
    val in = Files.createTempDirectory("lmgate_in")
    val ckpt = Files.createTempDirectory("lmgate_ckpt")
    val admitted = new java.util.concurrent.ConcurrentHashMap[Long, Boolean]()
    def startGate() = spark.readStream
      .schema("doc_id LONG, lang STRING, text STRING")
      .parquet(in.toString)
      .writeStream
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          graft.streaming.StreamingLmGate.gatedBatch(b, pc, px, pu)
            .collect().foreach(r => admitted.put(
              r.getLong(r.fieldIndex("doc_id")),
              r.getBoolean(r.fieldIndex("admitted")))): Unit
      }
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    Seq((100L, "en", natural(100L))).toDF("doc_id", "lang", "text")
      .write.mode("append").parquet(in.toString)
    val q1 = startGate()
    try q1.processAllAvailable() finally q1.stop()
    assert(admitted.get(100L) == true, s"natural arrival rejected: $admitted")
    val gib = new scala.util.Random(7)
      .shuffle(natural(101L).split(" ").toList).mkString(" ")
    Seq((101L, "en", gib), (102L, "en", natural(102L)),
        (103L, "zz", "ungated language passes")) // no cut row for zz
      .toDF("doc_id", "lang", "text")
      .write.mode("append").parquet(in.toString)
    val q2 = startGate()
    try q2.processAllAvailable() finally q2.stop()
    assert(admitted.get(101L) == false, s"gibberish admitted: $admitted")
    assert(admitted.get(102L) == true && admitted.get(103L) == true,
      s"natural/ungated-language arrival rejected: $admitted")
  }

  /** StreamingSpec's own copy of PublishSpec's table cleaner (the
    * in-memory catalog is per-JVM, the warehouse dir is not). */
  private def cleanTableLocationS(table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath,
      table)
    if (loc.exists()) graft.util.Fs.rmTree(loc)
  }
}
