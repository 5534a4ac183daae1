package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.AprsSchema
import graft.streaming.TelemetryProcessor

/** Structured Streaming specs. The APRS one: fixture packets arrive as a
  * file stream in two micro-batches (the telemetry-message calibration for
  * KB1LQD arrives in batch 1; later telemetry for that station arrives in
  * batch 2) → keyed state → line protocol. Output must match the same
  * goldens as the batch path, proving state carries across micro-batches
  * (and a checkpoint restart) like the reference's long-lived dictionary. */
class StreamingSpec extends AnyFunSuite {

  lazy val spark = SparkTest.session
  import spark.implicits._

  /** VERDICT r13 #6: the heavy keyed-state twins must DEMONSTRABLY run on
    * the RocksDB store (the session conf alone could be silently ignored
    * by a future provider-selection change) — the proof is the store's
    * own telemetry: only RocksDBStateStoreProvider reports rocksdb*
    * custom metrics in the state-operator progress. At 100× ingest the
    * provider is load-bearing: off-heap + disk-spillable state,
    * incremental checkpoints, no per-version on-heap map. */
  private def assertRocksDbState(
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    import scala.jdk.CollectionConverters._
    val keys = q.recentProgress.flatMap(_.stateOperators)
      .flatMap(_.customMetrics.keySet().asScala)
    assert(keys.exists(_.startsWith("rocksdb")),
      s"state op reported no rocksdb* metrics — store is not RocksDB " +
        s"(saw ${keys.distinct.take(8).mkString(", ")})")
  }

  /** The q54 cleaning cascade running as a STREAM: dedup state + stateless
    * repetition/quality/sampling stages over micro-batches. doc_ids chosen
    * for their md5 buckets (3,4,5,7 < 500 = sampled in; 0 = sampled out). */
  test("streaming ingest cleaning applies all four stages across batches") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("clean_stream")
    val outName = "clean_stream_out"
    val good = "the big cat of a dog and one to go" // quality .75, no repeats
    def doc(idx: Int, text: String) =
      s"""{"doc_id":$idx,"text":"$text","_idx":$idx}"""
    // b1: keeper(3) + repetitive(4) + low-quality(5)
    Files.write(dir.resolve("b1.json"), Seq(
      doc(3, good),
      doc(4, "x y z x y z x y z x y z"), // rep_frac 0.7
      doc(5, "zebra quark plasma")) // quality 0.5 < 0.52
      .mkString("\n").getBytes)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("_idx", LongType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(dir.toString)
    val cleaned = graft.streaming.IngestClean(stream, "text", "_idx")
    val q = cleaned.writeStream.format("memory").queryName(outName)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // b2: dup of the keeper (7, dedup-dropped despite good bucket) +
      // sampled-out keeper-quality text (0, bucket 916) + new keeper (9)
      Files.write(dir.resolve("b2.json"), Seq(
        doc(7, good),
        doc(0, good + " now"),
        doc(9, good + " again")).mkString("\n").getBytes)
      q.processAllAvailable()
      val kept = spark.table(outName).collect().map(_.getLong(0)).toSet
      assert(kept == Set(3L, 9L), s"kept $kept")
    } finally {
      q.stop()
      spark.catalog.dropTempView(outName)
    }
  }

  /** The dedup keep-set must survive a query restart: state checkpoints
    * with the query, so content first seen before the restart still
    * drops after it — the property that makes ingestion-time dedup
    * trustworthy in a daemon that gets bounced. */
  test("streaming exact dedup state survives a checkpoint restart") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("dedup_restart")
    val ckpt = Files.createTempDirectory("dedup_restart_ckpt")
    def doc(idx: Int, text: String) =
      s"""{"doc_id":$idx,"text":"$text","_idx":$idx}"""
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("_idx", LongType)))
    val kept = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    def startQuery() = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(dir.toString)
      graft.streaming.StreamingDedup.firstPerContent(stream, "text", "_idx")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          batch.collect().foreach(r => kept.add(r.getLong(0)))
        }
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
    }
    Files.write(dir.resolve("b1.json"),
      Seq(doc(0, "alpha beta"), doc(1, "gamma delta")).mkString("\n").getBytes)
    val q1 = startQuery()
    try { q1.processAllAvailable() } finally { q1.stop() }
    assert(kept.contains(0L) && kept.contains(1L), s"batch-1 kept: $kept")
    // restart on the same checkpoint; dup of pre-restart content must drop
    Files.write(dir.resolve("b2.json"),
      Seq(doc(2, "alpha beta"), doc(3, "epsilon zeta")).mkString("\n").getBytes)
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      val ids = kept.toArray(Array.empty[java.lang.Long]).map(_.longValue).toSet
      assert(ids.contains(3L) && !ids.contains(2L),
        s"pre-restart content must stay deduplicated, got $ids")
    } finally {
      q2.stop()
    }
  }

  /** StreamingSpanStrip: incoming docs are rewritten with corpus-known
    * spans removed, with EXACTLY q99's strip arithmetic (shared rebuild),
    * across a checkpoint restart — a quoting doc strips to its novel
    * tokens, a fully-known doc strips to the empty string, a novel or
    * sub-width doc passes through untouched. */
  test("streaming span strip rewrites quoted spans at ingestion") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val dir = Files.createTempDirectory("spanstrip")
    val ckpt = Files.createTempDirectory("spanstrip_ckpt")
    def toks(p: String, n: Int) = (1 to n).map(i => f"$p$i%02d").mkString(" ")
    val span = toks("a", 20)
    val grams = graft.streaming.StreamingSpanStrip.corpusGrams(
      Seq((100L, span + " " + toks("x", 5))).toDF("doc_id", "text"))
    def doc(idx: Int, text: String) = s"""{"doc_id":$idx,"text":"$text"}"""
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    def m(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val out = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long, String)]()
    def startQuery() = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(dir.toString)
      stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          graft.streaming.StreamingSpanStrip.strippedBatch(batch.toDF(), grams)
            .collect().foreach(r => out.put(r.getLong(0),
              (r.getLong(1), r.getLong(2), r.getString(3))))
          ()
        }
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
    }
    // batch 1: a quote of the corpus span inside novel text + a novel doc
    Files.write(dir.resolve("b1.json"), Seq(
      doc(1, toks("w", 3) + " " + span + " " + toks("v", 4)),
      doc(2, toks("q", 25))).mkString("\n").getBytes)
    val q1 = startQuery()
    try { q1.processAllAvailable() } finally { q1.stop() }
    assert(out.get(1L) == ((27L, 20L, m(toks("w", 3) + " " + toks("v", 4)))),
      s"quoting doc: ${out.get(1L)}")
    assert(out.get(2L) == ((25L, 0L, m(toks("q", 25)))),
      s"novel doc must pass untouched: ${out.get(2L)}")
    // restart on the same checkpoint: a fully-known doc strips to "",
    // a sub-width doc passes through
    Files.write(dir.resolve("b2.json"), Seq(
      doc(3, span), doc(4, toks("z", 4))).mkString("\n").getBytes)
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      assert(out.get(3L) == ((20L, 20L, m(""))), s"known doc: ${out.get(3L)}")
      assert(out.get(4L) == ((4L, 0L, m(toks("z", 4)))), s"sub-width: ${out.get(4L)}")
    } finally q2.stop()
  }

  /** The q116 threshold rule at the door: a short quote of corpus text
    * survives (below MinStripSpan), a long copied block is removed, and
    * a wholesale re-send strips to the empty string — the ExactSubstr
    * ingestion policy, sharing the batch interval-merge/strip code. */
  test("streaming long-span strip keeps short quotes, removes long blocks") {
    import spark.implicits._
    def toks(p: String, n: Int) = (1 to n).map(i => f"$p$i%03d").mkString(" ")
    def m(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val block = toks("blk", 60)
    val quote = toks("qte", 20)
    val grams = graft.streaming.StreamingSpanStrip.corpusGrams(
      Seq((100L, block + " " + quote)).toDF("doc_id", "text"))
    val in = Seq(
      (1L, toks("w", 5) + " " + quote + " " + toks("v", 5)), // short quote: kept
      (2L, toks("u", 5) + " " + block + " " + toks("z", 5)), // long block: stripped
      (3L, block),                                           // wholesale re-send
      (4L, toks("n", 8)))                                    // novel: untouched
      .toDF("doc_id", "text")
    val got = graft.streaming.StreamingSpanStrip
      .longStrippedBatch(in, grams).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got(1L) == ((30L, 0L,
      m(toks("w", 5) + " " + quote + " " + toks("v", 5)))), s"doc1 ${got(1L)}")
    assert(got(2L) == ((70L, 60L, m(toks("u", 5) + " " + toks("z", 5)))),
      s"doc2 ${got(2L)}")
    assert(got(3L) == ((60L, 60L, m(""))), s"doc3 ${got(3L)}")
    assert(got(4L) == ((8L, 0L, m(toks("n", 8)))), s"doc4 ${got(4L)}")
    // and the un-thresholded strip WOULD have removed doc 1's quote —
    // the threshold is what keeps it
    val plain = graft.streaming.StreamingSpanStrip.strippedBatch(in, grams)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(plain(1L) == 20L, s"plain strip must remove the quote: $plain")
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

  /** StreamingDownsample + the SHARED gap-fill (q103's lambda pair —
    * InfluxDB's continuous query + fill() workflow): hour buckets
    * finalized by the watermark, fed through gapfillFromBuckets, must
    * equal the batch q103 on the same events BIT-FOR-BIT; the
    * not-yet-finalized bucket is absent until the watermark passes. */
  test("streaming downsample + shared gap-fill equals the batch q103") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val dir = Files.createTempDirectory("downsample_stream")
    val outName = "downsample_out"
    val hUs = graft.operators.Relational.GapfillHourUs
    def ev(h: Long, frac: Double, tag: String, v: Double) =
      s"""{"us":${(h * hUs + (frac * hUs).toLong)},"event_type":"$tag","value":$v}"""
    // the q103 planted shape: tag a at hours 100 (twice) and 103, tag b
    // at hour 102 — plus a later flush event whose watermark finalizes
    // every real bucket
    Files.write(dir.resolve("b1.json"), Seq(
      ev(100, 0.1, "a", 2.5), ev(100, 0.6, "a", 3.5),
      ev(103, 0.2, "a", 10.0), ev(102, 0.4, "b", 7.0))
      .mkString("\n").getBytes)
    val schema = StructType(Seq(StructField("us", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(dir.toString)
      .withColumn("ts", timestamp_micros(col("us")))
    val q = graft.streaming.StreamingDownsample.buckets(stream)
      .writeStream.format("memory").queryName(outName)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // watermark after b1 = max ts − 10 s ≈ hour 103.2: the hour-100
      // and hour-102 buckets finalize, the hour-103 bucket stays OPEN
      assert(spark.table(outName).count() == 2)
      assert(spark.table(outName).filter(col("h") === 103L).count() == 0,
        "the open hour-103 bucket must not emit before the watermark passes")
      Files.write(dir.resolve("b2.json"),
        Seq(ev(200, 0.5, "zz", 1.0)).mkString("\n").getBytes)
      q.processAllAvailable()
      val rollup = spark.table(outName).filter(col("event_type") =!= "zz")
      assert(rollup.count() == 3, "all three real buckets must finalize")
      val got = graft.operators.Relational.gapfillFromBuckets(rollup)
        .collect().map(_.toString).toSeq
      val batchEv = Seq(
        (100L * hUs + (0.1 * hUs).toLong, "a", 2.5),
        (100L * hUs + (0.6 * hUs).toLong, "a", 3.5),
        (103L * hUs + (0.2 * hUs).toLong, "a", 10.0),
        (102L * hUs + (0.4 * hUs).toLong, "b", 7.0))
        .toDF("us", "event_type", "value")
        .withColumn("ts", timestamp_micros(col("us")))
      val want = graft.operators.Relational.gapfillOf(batchEv)
        .collect().map(_.toString).toSeq
      assert(got == want, s"\n got=$got\n want=$want")
    } finally {
      q.stop()
      spark.catalog.dropTempView(outName)
    }
  }

  /** StreamingDownsample across a checkpoint restart: buckets finalized
    * before the bounce are not re-emitted after it (offset log + window
    * state checkpoint together), and post-restart data lands in new
    * buckets — the rollup table stays append-exact. */
  test("streaming downsample state survives a restart without re-emission") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("downsample_restart")
    val ckpt = Files.createTempDirectory("downsample_restart_ckpt")
    val hUs = graft.operators.Relational.GapfillHourUs
    def ev(h: Long, i: Int) =
      s"""{"us":${h * hUs + i * 1000L},"event_type":"a","value":1.0}"""
    val schema = StructType(Seq(StructField("us", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    def startQuery() = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(dir.toString)
        .withColumn("ts", timestamp_micros(col("us")))
      graft.streaming.StreamingDownsample.buckets(stream)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.collect().foreach(r => out.add((r.getLong(0), r.getLong(2))))
        }
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
    }
    // b1: hour 100 (3 events); b2: hour 102 — watermark finalizes 100
    Files.write(dir.resolve("b1.json"),
      (0 until 3).map(ev(100L, _)).mkString("\n").getBytes)
    Files.write(dir.resolve("b2.json"), ev(102L, 0).getBytes)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    assert(out.toArray(Array.empty[(Long, Long)]).toSeq == Seq((100L, 3L)),
      s"pre-restart rollup: $out")
    // restart on the same checkpoint; b3 finalizes hour 102 — hour 100
    // must NOT re-emit
    Files.write(dir.resolve("b3.json"), ev(200L, 0).getBytes)
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      assertRocksDbState(q2) // window state reloads from RocksDB
      val got = out.toArray(Array.empty[(Long, Long)]).toSeq
      assert(got == Seq((100L, 3L), (102L, 1L)),
        s"post-restart rollup must append exactly hour 102: $got")
    } finally q2.stop()
  }

  /** Ingestion-time exact dedup: the first copy of each distinct text is
    * kept, later copies (same batch or later batches) drop via keyed
    * state. Batch execution of the same operator must agree. */
  test("streaming exact dedup keeps first copy across micro-batches") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("dedup_stream")
    val outName = "dedup_stream_out"
    def doc(idx: Int, text: String) =
      s"""{"doc_id":$idx,"text":"$text","_idx":$idx}"""
    // batch 1: A, B, dup-of-A (same batch); batch 2: dup-of-A, C
    Files.write(dir.resolve("b1.json"),
      Seq(doc(0, "alpha beta"), doc(1, "gamma delta"), doc(2, "alpha beta"))
        .mkString("\n").getBytes)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("_idx", LongType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(dir.toString)
    val deduped = graft.streaming.StreamingDedup.firstPerContent(stream, "text", "_idx")
    val q = deduped.writeStream.format("memory").queryName(outName)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      Files.write(dir.resolve("b2.json"),
        Seq(doc(3, "alpha beta"), doc(4, "epsilon zeta")).mkString("\n").getBytes)
      q.processAllAvailable()
      val kept = spark.table(outName).collect().map(_.getLong(0)).toSet
      assert(kept == Set(0L, 1L, 4L), s"kept $kept")
      // batch twin agrees: same operator over the full data in one pass
      val batch = spark.read.schema(schema).json(dir.toString)
      val batchKept = graft.streaming.StreamingDedup
        .firstPerContent(batch, "text", "_idx")
        .collect().map(_.getLong(0)).toSet
      assert(batchKept == Set(0L, 1L, 4L), s"batch kept $batchKept")
    } finally {
      q.stop()
      spark.catalog.dropTempView(outName)
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
    val fixtures = scala.io.Source
      .fromURL(getClass.getResource("/aprs_fixtures.jsonl")).getLines().toSeq
    val golden = scala.io.Source
      .fromURL(getClass.getResource("/aprs_golden.txt")).getLines()
      .map(l => if (l == "\\N") None else Some(l)).toSeq
    val (b1, b2) = fixtures.splitAt(16)
    assert(b1.last.contains("\"tEQNS\"") && b1.last.contains("KB1LQD"),
      "batch 1 must end with KB1LQD's telemetry-message")
    val schema = AprsSchema.schema.add("_idx", "long")

    for (restart <- Seq(false, true)) {
      val dir = Files.createTempDirectory("aprs_stream")
      val ckpt = Files.createTempDirectory("aprs_stream_ckpt")
      val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Option[String])]()
      def startQuery() = {
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).json(dir.toString)
        TelemetryProcessor.toLines(stream, "_idx").select($"_idx", $"line")
          .writeStream
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            batch.collect().foreach(r => got.add(r.getLong(0) -> Option(r.getString(1))))
          }
          .option("checkpointLocation", ckpt.toString)
          .outputMode("append").start()
      }
      def feed(q: org.apache.spark.sql.streaming.StreamingQuery,
          name: String, rows: Seq[String]): Unit = {
        Files.write(dir.resolve(name), rows.mkString("\n").getBytes)
        q.processAllAvailable()
        assertRocksDbState(q)
      }
      val q1 = startQuery()
      val q2 = try {
        feed(q1, "batch1.json", b1)
        assert(got.size == b1.size, s"restart=$restart: batch 1 rows all processed")
        if (restart) { q1.stop(); startQuery() } else q1
      } catch { case e: Throwable => q1.stop(); throw e }
      try feed(q2, "batch2.json", b2) finally q2.stop()

      val rows = got.toArray(Array.empty[(Long, Option[String])])
      assert(rows.length == fixtures.size, s"restart=$restart: each row once")
      val byIdx = rows.toMap
      golden.zipWithIndex.foreach { case (expected, i) =>
        assert(byIdx(i.toLong) == expected,
          s"\nrestart=$restart fixture #$i\n  expected: $expected\n  got: ${byIdx(i.toLong)}")
      }
    }
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
        def total = q.recentProgress.map(_.numInputRows).sum
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
        def removed = q.recentProgress
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
    } finally q.stop()
  }

  /** StreamingAnnServe (VERDICT r6 #8): a stream of query vectors served
    * against the LOADED IVF index must produce, query for query, the
    * exact rows the batch q96 arm (ivfQuery at MultiprobeNprobe)
    * computes — and a bounced query must resume from the offset log,
    * re-serving exactly the unserved queries, never the served ones. */
  test("streaming ANN serve matches the batch multiprobe arm across a restart") {
    val sfDir = "/root/testdata/sf0.001"
    val idxPath = Files.createTempDirectory("ann_serve_idx").toString + "/ivf"
    graft.operators.Similarity.saveIvfIndex(spark, sfDir, idxPath)
    val cents = graft.operators.Similarity.loadIvfIndex(spark, idxPath)
    val corpus = graft.streaming.StreamingAnnServe.assignedCorpus(spark, sfDir, cents)
    val streamDir = Files.createTempDirectory("ann_serve_in")
    val ckpt = Files.createTempDirectory("ann_serve_ckpt")
    val emb = graft.util.Tables(spark, sfDir, "embeddings")
    def writeBatch(lo: Long, hi: Long): Unit = emb
      .filter($"vec_id" >= lo && $"vec_id" < hi)
      .select($"vec_id".as("qid"), $"embedding")
      .write.mode("append").parquet(streamDir.toString)
    val served = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Double)]()
    def startQuery() = {
      val stream = spark.readStream
        .schema("qid LONG, embedding ARRAY<FLOAT>")
        .parquet(streamDir.toString)
      graft.streaming.StreamingAnnServe.candidates(stream, corpus, cents)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          graft.streaming.StreamingAnnServe.topK(batch).collect().foreach(r =>
            served.add((r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))))
        }
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
    }
    writeBatch(0L, 5L)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    val afterB1 = served.toArray(Array.empty[(Long, Long, Long, Double)]).toSeq
    assert(afterB1.nonEmpty && afterB1.forall(_._1 < 5L),
      s"pre-restart batch must serve only qids 0-4: ${afterB1.map(_._1).distinct}")
    // restart on the same checkpoint: the already-served queries must NOT
    // re-serve (their files are in the offset log); the new ones must
    writeBatch(5L, 10L)
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      val all = served.toArray(Array.empty[(Long, Long, Long, Double)]).toSeq
      val afterRestart = all.diff(afterB1)
      assert(afterRestart.nonEmpty && afterRestart.forall(_._1 >= 5L),
        s"restart re-served pre-restart qids: ${afterRestart.map(_._1).distinct}")
      // the full served set must equal the batch multiprobe arm exactly
      val batchArm = graft.operators.Similarity.ivfQuery(spark, sfDir, cents,
          nprobe = graft.operators.Similarity.MultiprobeNprobe)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(all.toSet == batchArm,
        s"streaming serve diverges from the batch q96 arm: " +
          s"missing=${(batchArm -- all.toSet).take(3)} extra=${(all.toSet -- batchArm).take(3)}")
      assert(all.size == all.toSet.size, "a query was served twice")
    } finally q2.stop()
  }

  /** StreamingPqServe — q111's continuous twin: queries streamed against
    * the SAVED compressed index (encoded corpus + codebooks) must serve,
    * query for query, exactly the batch pqServeQuery rows — the codegen
    * reconstruction dots are the same integers as the batch LUT
    * expansion — and a bounce must re-serve only the unserved ones. */
  test("streaming PQ serve matches the batch compressed arm across a restart") {
    val sfDir = "/root/testdata/sf0.001"
    val idxPath = Files.createTempDirectory("pq_serve_idx").toString + "/pq"
    graft.operators.Similarity.savePqIndex(spark, sfDir, idxPath)
    val (cents, books) = graft.operators.Similarity.loadPqIndex(spark, idxPath)
    val enc = graft.streaming.StreamingPqServe.encodedCorpus(spark, idxPath)
    val base = graft.operators.Similarity.scaled(spark, sfDir)
    val streamDir = Files.createTempDirectory("pq_serve_in")
    val ckpt = Files.createTempDirectory("pq_serve_ckpt")
    val emb = graft.util.Tables(spark, sfDir, "embeddings")
    def writeBatch(lo: Long, hi: Long): Unit = emb
      .filter($"vec_id" >= lo && $"vec_id" < hi)
      .select($"vec_id".as("qid"), $"embedding")
      .write.mode("append").parquet(streamDir.toString)
    val served = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Double)]()
    def startQuery() = {
      val stream = spark.readStream
        .schema("qid LONG, embedding ARRAY<FLOAT>")
        .parquet(streamDir.toString)
      graft.streaming.StreamingPqServe.adcCandidates(stream, enc, cents, books)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          graft.streaming.StreamingPqServe.serveBatch(batch.toDF(), base)
            .collect().foreach(r =>
              served.add((r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))))
        }
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
    }
    writeBatch(0L, 5L)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    val afterB1 = served.toArray(Array.empty[(Long, Long, Long, Double)]).toSeq
    assert(afterB1.nonEmpty && afterB1.forall(_._1 < 5L),
      s"pre-restart batch must serve only qids 0-4: ${afterB1.map(_._1).distinct}")
    writeBatch(5L, 10L)
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      val all = served.toArray(Array.empty[(Long, Long, Long, Double)]).toSeq
      val afterRestart = all.diff(afterB1)
      assert(afterRestart.nonEmpty && afterRestart.forall(_._1 >= 5L),
        s"restart re-served pre-restart qids: ${afterRestart.map(_._1).distinct}")
      val batchArm = graft.operators.Similarity.pqServeQuery(spark, sfDir, idxPath)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(all.toSet == batchArm,
        s"streaming PQ serve diverges from the batch q111 arm: " +
          s"missing=${(batchArm -- all.toSet).take(3)} extra=${(all.toSet -- batchArm).take(3)}")
      assert(all.size == all.toSet.size, "a query was served twice")
    } finally {
      q2.stop()
      enc.unpersist()
    }
  }

  /** StreamingMMR serve — q129's continuous twin: streamed queries
    * diversified per micro-batch against the saved compressed index
    * must produce, query for query, exactly the batch mmrServeQuery
    * rows (per-qid greedy ⇒ batches compose), and a bounce re-serves
    * only the unserved queries. */
  test("streaming diversified serve matches the batch MMR arm across a restart") {
    val sfDir = "/root/testdata/sf0.001"
    val idxPath = Files.createTempDirectory("mmr_serve_idx").toString + "/pq"
    graft.operators.Similarity.savePqIndex(spark, sfDir, idxPath)
    val (cents, books) = graft.operators.Similarity.loadPqIndex(spark, idxPath)
    val enc = graft.streaming.StreamingPqServe.encodedCorpus(spark, idxPath)
    val base = graft.operators.Similarity.scaled(spark, sfDir)
    val streamDir = Files.createTempDirectory("mmr_serve_in")
    val ckpt = Files.createTempDirectory("mmr_serve_ckpt")
    val emb = graft.util.Tables(spark, sfDir, "embeddings")
    def writeBatch(lo: Long, hi: Long): Unit = emb
      .filter($"vec_id" >= lo && $"vec_id" < hi)
      .select($"vec_id".as("qid"), $"embedding")
      .write.mode("append").parquet(streamDir.toString)
    val served = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Double)]()
    def startQuery() = {
      val stream = spark.readStream
        .schema("qid LONG, embedding ARRAY<FLOAT>")
        .parquet(streamDir.toString)
      graft.streaming.StreamingPqServe.adcCandidates(stream, enc, cents, books)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          graft.streaming.StreamingPqServe
            .serveBatchDiversified(batch.toDF(), base)
            .collect().foreach(r =>
              served.add((r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))))
        }
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
    }
    writeBatch(0L, 5L)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    val afterB1 = served.toArray(Array.empty[(Long, Long, Long, Double)]).toSeq
    assert(afterB1.nonEmpty && afterB1.forall(_._1 < 5L),
      s"pre-restart batch must serve only qids 0-4: ${afterB1.map(_._1).distinct}")
    writeBatch(5L, 10L)
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      val all = served.toArray(Array.empty[(Long, Long, Long, Double)]).toSeq
      val afterRestart = all.diff(afterB1)
      assert(afterRestart.nonEmpty && afterRestart.forall(_._1 >= 5L),
        s"restart re-served pre-restart qids: ${afterRestart.map(_._1).distinct}")
      val batchArm = graft.operators.Similarity
        .mmrServeQuery(spark, sfDir, idxPath)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(all.toSet == batchArm,
        s"streaming MMR serve diverges from the batch arm: " +
          s"missing=${(batchArm -- all.toSet).take(3)} extra=${(all.toSet -- batchArm).take(3)}")
      assert(all.size == all.toSet.size, "a query was served twice")
    } finally {
      q2.stop()
      enc.unpersist()
    }
  }

  /** VERDICT r9 #7, the composed curate DOOR: the at-the-door twins
    * (clean → stream near-dup → dup-existing → vs-base near-dup →
    * decontam → q116 strip → redact) wired into ONE ingest pipeline,
    * proven against the batch refresh: a planted batch replayed through
    * the door in TWO micro-batches admits exactly the rows
    * `CleanPipeline.runIncremental` appends for the same batch — same
    * kept set, same stripped+redacted bytes (md5), same accounting
    * columns. One planted case per stage, including cross-micro-batch
    * exact and near duplicates (the door's checkpointed stream state)
    * and a de-lang sample case that a flat 500‰ door rate would admit
    * (pinning the per-lang `IngestClean.withRates` wiring). Planted
    * texts share no novel grams ACROSS kept docs, because the door
    * strips per micro-batch against base state only — gram-level
    * duplication between two door batches is documented as the next
    * batch refresh's job. */
  test("composed curate door admits exactly the incremental refresh's rows") {
    import org.apache.spark.sql.types._
    val tmp = Files.createTempDirectory("curate_door")
    def seg(tag: String, stop: String, n: Int): Seq[String] =
      (0 until n).map(i => if (i % 4 == 3) stop else s"$tag$i")
    def pick(from: Long, n: Int)(pred: org.apache.spark.sql.Column): Seq[Long] =
      spark.range(from, from + 60000).select(col("id").as("doc_id"))
        .withColumn("b", graft.util.Buckets.mod1000("doc_id"))
        .withColumn("sb", graft.app.CleanPipeline.splitBucket)
        .filter(pred).orderBy(col("doc_id")).limit(n)
        .collect().map(_.getLong(0)).toSeq
    val train = col("sb") < 980
    // ---- base corpus: two en keepers, one de keeper, one eval doc ----
    val Seq(b0, b1) = pick(5000, 2)(col("b") < 500 && train)
    val Seq(d0) = pick(6000, 1)(col("b") < 200 && train)
    val Seq(e0) = pick(7000, 1)(col("sb") >= 980)
    val b0Text = seg("dbsA", "the", 80).mkString(" ")
    val b1Text = seg("dbsB", "of", 80).mkString(" ")
    val evalText = seg("evq", "the", 12).mkString(" ")
    val evalGram = evalText.split(" ").slice(0, 5).mkString(" ")
    def asDocs(rows: Seq[(Long, String, String)]) = rows
      .map { case (id, t, l) => (id, t, "planted", t.length.toLong, l) }
      .toDF("doc_id", "text", "source", "n_chars", "lang")
    val baseRows = Seq((b0, b0Text, "en"), (b1, b1Text, "en"),
      (d0, seg("dbsC", "the", 60).mkString(" "), "de"),
      (e0, evalText, "en"))
    asDocs(baseRows).repartition(2)
      .write.mode("overwrite").parquet(s"$tmp/prev/documents.parquet")
    // ---- batch: file 1 ----
    val Seq(n0, n1, n2, c0, r0, q0) = pick(10000, 6)(col("b") < 500 && train)
    val Seq(s0) = pick(10000, 1)(col("b") >= 500 && train)
    val Seq(d1) = pick(11000, 1)(col("b") < 200 && train)
    val Seq(d2) = pick(11000, 1)(col("b") >= 200 && col("b") < 500 && train)
    val n0Text = (seg("nvA", "and", 60) :+ "reach" :+ "nvAowner@example.com")
      .mkString(" ")
    val file1 = Seq(
      (n0, n0Text, "en"), // novel keeper, one email redaction
      (n1, b0Text, "en"), // exact dup of base -> dup_existing
      // near-dup of base b1, one mid token swapped SHORTER -> base keeper
      (n2, b1Text.split(" ").updated(40, "x").mkString(" "), "en"),
      (c0, (seg("ctA", "the", 32) :+ evalGram).mkString(" "), "en"),
      (r0, "x y z x y z x y z x y z", "en"), // repetition stage
      (q0, "zebra quark plasma", "en"), // quality stage
      (s0, seg("smA", "to", 40).mkString(" "), "en"), // en sample-out
      (d1, seg("nvD", "the", 40).mkString(" "), "de"), // de keeper
      // de bucket in [200,500): a flat 500-per-mille door would ADMIT it
      (d2, seg("smD", "to", 40).mkString(" "), "de"))
    // ---- batch: file 2 (cross-micro-batch state cases) ----
    val Seq(n4, n5, st0, sh0) = pick(20000, 4)(col("b") < 500 && train)
    val b0Toks = b0Text.split(" ").toSeq
    val file2 = Seq(
      // internal near-dup of n0, SHORTER (no email tail) -> n0 keeper in
      // both modes (batch: q65 longest; door: band owner from batch 1)
      (n4, seg("nvA", "and", 60).updated(30, "y").mkString(" "), "en"),
      (n5, n0Text, "en"), // exact dup ACROSS micro-batches -> dedup state
      // 40 base tokens (>= minSpan 25 -> stripped) + 20 (< 25 -> spared)
      (st0, (seg("stA", "a", 32) ++ b0Toks.slice(0, 40) ++
        seg("stB", "a", 32) ++ b0Toks.slice(56, 76) ++
        seg("stC", "a", 32)).mkString(" "), "en"),
      (sh0, "the of", "en")) // <3 tokens: no signature, sentinel band
    // ---- the union dir the batch refresh consumes ----
    asDocs(file1 ++ file2).unionByName(asDocs(baseRows)).repartition(2)
      .write.mode("overwrite").parquet(s"$tmp/new/documents.parquet")
    // ---- base refresh publishes the state the door probes ----
    cleanTableLocationS("door_base")
    val span = 25L
    graft.app.CleanPipeline.runFull(spark, s"$tmp/prev", "door_base",
      buckets = 4, minStripSpan = span, statePath = Some(s"$tmp/state"))
    // ---- door: replay the batch as a 2-micro-batch file stream ----
    def json(r: (Long, String, String)) =
      s"""{"doc_id":${r._1},"text":"${r._2}","lang":"${r._3}","source":"planted"}"""
    val streamDir = Files.createTempDirectory("curate_door_in")
    Files.write(streamDir.resolve("b1.json"),
      file1.map(json).mkString("\n").getBytes)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(streamDir.toString)
    val q = graft.streaming.CurateDoor.open(stream, s"$tmp/state",
      s"$tmp/out", s"$tmp/ckpt",
      isEval = graft.app.CleanPipeline.splitBucket >= 980,
      minStripSpan = span)
    try {
      q.processAllAvailable()
      Files.write(streamDir.resolve("b2.json"),
        file2.map(json).mkString("\n").getBytes)
      q.processAllAvailable()
    } finally q.stop()
    // ---- the batch refresh over the same batch (mutates state; after
    // the door, which reads it pristine) ----
    val (acctI, _) = graft.app.CleanPipeline.runIncremental(spark,
      s"$tmp/prev", s"$tmp/new", "door_base", s"$tmp/state",
      buckets = 4, minStripSpan = span)
    assert(acctI.count() > 0)
    // ---- door-admitted ≡ incrementally-appended, column for column ----
    val doorRows = spark.read.parquet(s"$tmp/out")
      .select(col("doc_id"), col("lang"), col("source"),
        md5(col("text").cast("binary")).as("m"), col("n_pii"),
        col("n_tok"), col("n_kept"), col("n_dup_kept"))
      .collect().map(_.toString).sorted.toSeq
    val batchIds = (file1 ++ file2).map(_._1)
    val incRows = spark.table("door_base")
      .filter(col("doc_id").isin(batchIds: _*))
      .select(col("doc_id"), col("lang"), col("source"),
        md5(col("text").cast("binary")).as("m"), col("n_pii"),
        col("n_tok"), col("n_kept"), col("n_dup_kept"))
      .collect().map(_.toString).sorted.toSeq
    assert(doorRows == incRows,
      s"door-admitted diverges from the incremental refresh:\n" +
        s"door=${doorRows.mkString("\n")}\ninc=${incRows.mkString("\n")}")
    // ---- each planted decision landed where designed ----
    val admitted = spark.read.parquet(s"$tmp/out")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted == Set(n0, d1, st0, sh0), s"admitted $admitted")
    val st = spark.read.parquet(s"$tmp/out")
      .filter(col("doc_id") === st0)
      .select("n_tok", "n_kept", "n_dup_kept").head
    assert(st.getLong(0) - st.getLong(1) == 40L, s"stripped ${st.getLong(0) - st.getLong(1)}")
    assert(st.getLong(2) == 20L, s"spared ${st.getLong(2)}")
    val pii = spark.read.parquet(s"$tmp/out")
      .filter(col("doc_id") === n0).select("n_pii").head.getLong(0)
    assert(pii == 1L, s"n_pii $pii")
  }

  /** The door's cross-batch memory must survive a query restart: both
    * keyed state ops (content-hash dedup, band-bucket ownership)
    * checkpoint with the query, so a near-copy or re-send of content
    * admitted BEFORE the bounce is still rejected after it — the
    * property that makes an at-the-door dedup trustworthy in a daemon
    * that gets restarted. State is persisted directly via
    * [[graft.operators.Dedup.saveCurateState]] (no runFull needed):
    * the door probes the same artifacts either way. */
  test("curate door dedup + band-owner state survive a checkpoint restart") {
    import org.apache.spark.sql.types._
    val tmp = Files.createTempDirectory("curate_door_restart")
    def seg(tag: String, stop: String, n: Int): Seq[String] =
      (0 until n).map(i => if (i % 4 == 3) stop else s"$tag$i")
    def pick(from: Long, n: Int): Seq[Long] =
      spark.range(from, from + 60000).select(col("id").as("doc_id"))
        .withColumn("b", graft.util.Buckets.mod1000("doc_id"))
        .withColumn("sb", graft.app.CleanPipeline.splitBucket)
        .filter(col("b") < 500 && col("sb") < 980)
        .orderBy(col("doc_id")).limit(n)
        .collect().map(_.getLong(0)).toSeq
    val Seq(base0) = pick(5000, 1)
    val Seq(a0) = pick(10000, 1)
    val Seq(bNear, bDup, bNew) = pick(20000, 3)
    val baseDf = Seq((base0, seg("rbs", "the", 40).mkString(" ")))
      .toDF("doc_id", "text")
    graft.operators.Dedup.saveCurateState(baseDf, baseDf,
      s"$tmp/state", lit(false))
    val aText = seg("rstA", "and", 60).mkString(" ")
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType)))
    def json(id: Long, t: String) =
      s"""{"doc_id":$id,"text":"$t","lang":"en","source":"planted"}"""
    val in = Files.createTempDirectory("curate_door_restart_in")
    def startDoor() = graft.streaming.CurateDoor.open(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .json(in.toString),
      s"$tmp/state", s"$tmp/out", s"$tmp/ckpt",
      isEval = graft.app.CleanPipeline.splitBucket >= 980)
    Files.write(in.resolve("b1.json"), json(a0, aText).getBytes)
    val q1 = startDoor()
    try q1.processAllAvailable() finally q1.stop()
    // after the bounce: a near-copy of a0 (band state), an exact re-send
    // of a0's text (dedup state), and a genuinely new doc (the control)
    Files.write(in.resolve("b2.json"), Seq(
      json(bNear, aText.split(" ").updated(30, "z").mkString(" ")),
      json(bDup, aText),
      json(bNew, seg("rstB", "of", 60).mkString(" "))).mkString("\n").getBytes)
    val q2 = startDoor()
    try q2.processAllAvailable() finally q2.stop()
    val admitted = spark.read.parquet(s"$tmp/out")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted == Set(a0, bNew),
      s"admitted $admitted — state lost across the restart?")
  }

  /** VERDICT r11 #3 — the door's gram-state catch-up: with
    * `gramCatchupEvery = 1`, a long token block admitted in door batch 1
    * must be STRIPPED from a batch-2 arrival that repeats it (the
    * cross-door-batch substring-dup window the default door documents as
    * the next batch refresh's job), across a checkpoint restart between
    * the two batches (the spool + appended stripgrams live outside the
    * streaming state, so the bounce must not lose them). The no-knob
    * default stays unchanged (pinned by the composed-door equivalence
    * spec, which runs knobless). */
  test("curate door gram catch-up strips cross-batch spans after a restart") {
    import org.apache.spark.sql.types._
    val tmp = Files.createTempDirectory("curate_door_grams")
    def seg(tag: String, stop: String, n: Int): Seq[String] =
      (0 until n).map(i => if (i % 4 == 3) stop else s"$tag$i")
    def pick(from: Long, n: Int): Seq[Long] =
      spark.range(from, from + 60000).select(col("id").as("doc_id"))
        .withColumn("b", graft.util.Buckets.mod1000("doc_id"))
        .withColumn("sb", graft.app.CleanPipeline.splitBucket)
        .filter(col("b") < 500 && col("sb") < 980)
        .orderBy(col("doc_id")).limit(n)
        .collect().map(_.getLong(0)).toSeq
    val Seq(base0) = pick(5000, 1)
    val Seq(a0) = pick(10000, 1)
    val Seq(c0) = pick(20000, 1)
    val baseDf = Seq((base0, seg("gbs", "the", 40).mkString(" ")))
      .toDF("doc_id", "text")
    graft.operators.Dedup.saveCurateState(baseDf, baseDf,
      s"$tmp/state", lit(false))
    // the shared block: 60 tokens (> MinStripSpan 50), embedded in two
    // otherwise-unrelated docs so neither the doc-dedup nor the near-dup
    // stage catches the pair — only the gram state can
    val block = seg("blk", "and", 60)
    val aText = (seg("gdA", "of", 60) ++ block).mkString(" ")
    val cText = (seg("gdC", "the", 60) ++ block ++ seg("gdD", "a", 40))
      .mkString(" ")
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType)))
    def json(id: Long, t: String) =
      s"""{"doc_id":$id,"text":"$t","lang":"en","source":"planted"}"""
    val in = Files.createTempDirectory("curate_door_grams_in")
    def startDoor() = graft.streaming.CurateDoor.open(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .json(in.toString),
      s"$tmp/state", s"$tmp/out", s"$tmp/ckpt",
      isEval = graft.app.CleanPipeline.splitBucket >= 980,
      gramCatchupEvery = 1)
    Files.write(in.resolve("b1.json"), json(a0, aText).getBytes)
    val q1 = startDoor()
    try q1.processAllAvailable() finally q1.stop()
    // the catch-up appended a0's grams; the spool was cleared
    assert(!new java.io.File(s"$tmp/out/_gramspool").exists(),
      "spool not cleared after the catch-up append")
    Files.write(in.resolve("b2.json"), json(c0, cText).getBytes)
    val q2 = startDoor()
    try q2.processAllAvailable() finally q2.stop()
    val out = spark.read.parquet(s"$tmp/out")
    val a = out.filter(col("doc_id") === a0)
      .select("n_tok", "n_kept").head
    assert(a.getLong(0) == a.getLong(1),
      s"batch-1 doc must be untouched: $a") // first occurrence keeps all
    val c = out.filter(col("doc_id") === c0)
      .select("n_tok", "n_kept", "n_dup_kept").head
    // exactly the 60-token block strips; nothing is spared (one span)
    assert(c.getLong(0) - c.getLong(1) == 60L,
      s"batch-2 stripped ${c.getLong(0) - c.getLong(1)} tokens, want 60")
    assert(c.getLong(2) == 0L, s"spared ${c.getLong(2)}")
    // byte check: the stripped text is cText minus the block
    val cOut = out.filter(col("doc_id") === c0).select("text").head.getString(0)
    val want = (seg("gdC", "the", 60) ++ seg("gdD", "a", 40)).mkString(" ")
    assert(cOut == want, s"stripped text diverges:\n$cOut\n$want")
  }

  /** The N > 1 catch-up boundary semantics: with gramCatchupEvery = 2,
    * a span admitted in batch 0 is NOT yet in the state when batch 1
    * arrives (its repeat passes through intact — the documented window),
    * the boundary fires after batch 1 (spool folds + clears), and a
    * batch-2 repeat IS stripped. Pins that the spool accumulates across
    * the un-folded batches instead of only folding the boundary batch. */
  test("curate door gram catch-up N=2: window open before the boundary, closed after") {
    import org.apache.spark.sql.types._
    val tmp = Files.createTempDirectory("curate_door_grams2")
    def seg(tag: String, stop: String, n: Int): Seq[String] =
      (0 until n).map(i => if (i % 4 == 3) stop else s"$tag$i")
    def pick(from: Long, n: Int): Seq[Long] =
      spark.range(from, from + 60000).select(col("id").as("doc_id"))
        .withColumn("b", graft.util.Buckets.mod1000("doc_id"))
        .withColumn("sb", graft.app.CleanPipeline.splitBucket)
        .filter(col("b") < 500 && col("sb") < 980)
        .orderBy(col("doc_id")).limit(n)
        .collect().map(_.getLong(0)).toSeq
    val Seq(base0) = pick(5000, 1)
    val Seq(a0) = pick(10000, 1)
    val Seq(b0) = pick(20000, 1)
    val Seq(c0) = pick(30000, 1)
    val baseDf = Seq((base0, seg("g2b", "the", 40).mkString(" ")))
      .toDF("doc_id", "text")
    graft.operators.Dedup.saveCurateState(baseDf, baseDf,
      s"$tmp/state", lit(false))
    val block = seg("b2k", "and", 60)
    val aText = (seg("g2A", "of", 60) ++ block).mkString(" ")
    val bText = (seg("g2B", "the", 60) ++ block).mkString(" ")
    val cText = (seg("g2C", "a", 60) ++ block).mkString(" ")
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType)))
    def json(id: Long, t: String) =
      s"""{"doc_id":$id,"text":"$t","lang":"en","source":"planted"}"""
    val in = Files.createTempDirectory("curate_door_grams2_in")
    def startDoor() = graft.streaming.CurateDoor.open(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .json(in.toString),
      s"$tmp/state", s"$tmp/out", s"$tmp/ckpt",
      isEval = graft.app.CleanPipeline.splitBucket >= 980,
      gramCatchupEvery = 2)
    // batch 0 (a0) then batch 1 (b0) — two micro-batches, one query run
    Files.write(in.resolve("b0.json"), json(a0, aText).getBytes)
    val q1 = startDoor()
    try q1.processAllAvailable() finally q1.stop()
    assert(new java.io.File(s"$tmp/out/_gramspool").exists(),
      "spool must persist before the boundary")
    Files.write(in.resolve("b1.json"), json(b0, bText).getBytes)
    val q2 = startDoor()
    try q2.processAllAvailable() finally q2.stop()
    assert(!new java.io.File(s"$tmp/out/_gramspool").exists(),
      "boundary after batch 1 must fold + clear the spool")
    Files.write(in.resolve("b2.json"), json(c0, cText).getBytes)
    val q3 = startDoor()
    try q3.processAllAvailable() finally q3.stop()
    val out = spark.read.parquet(s"$tmp/out")
      .select(col("doc_id"), col("n_tok"), col("n_kept"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // batch 0: first occurrence — untouched
    assert(out(a0)._1 == out(a0)._2, s"a0 must keep all: ${out(a0)}")
    // batch 1: BEFORE the boundary — the window is open by design, the
    // repeat passes intact (this is the documented N-batch lag)
    assert(out(b0)._1 == out(b0)._2, s"b0 must pass intact: ${out(b0)}")
    // batch 2: after the boundary — the block (present in the folded
    // spool from BOTH a0 and b0) strips
    assert(out(c0)._1 - out(c0)._2 == 60L,
      s"c0 must lose the 60-token block: ${out(c0)}")
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

  /** StreamingDecodeAudit (q139's ingestion-time twin): a clean batch
    * stays quiet; a batch where a sniffable family's decode fails (the
    * codec-video shape) alerts with the exact per-batch permille vs the
    * frozen q139 baseline; a family the BASELINE already marks fully
    * stubbed (opaque text) never alerts; the census sink carries the
    * same rows q139's audit computes per batch (one definition). */
  test("streaming decode audit alerts on stub-share breaches vs the frozen baseline") {
    import java.awt.image.BufferedImage
    val img = new BufferedImage(2, 2, BufferedImage.TYPE_INT_RGB)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val png = baos.toByteArray
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val wb = new java.io.ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(
      new java.io.ByteArrayInputStream(Array[Byte](0, 1, 0, -1)), fmt, 2L),
      AudioFileFormat.Type.WAVE, wb)
    val wav = wb.toByteArray
    val codec = "GIF89a-truncated".getBytes("ISO-8859-1") // sniffs video, decode fails
    val txt = "plain text".getBytes("UTF-8")
    def assetsDf(rows: (Long, Array[Byte])*) = rows.toDF("doc_id", "payload")
      .withColumn("n_bytes", octet_length(col("payload")).cast("long"))
    // frozen baseline: image 0permille, wav 0permille, opaque 1000permille
    val base = graft.streaming.StreamingDecodeAudit.baseline(
      assetsDf(1L -> png, 2L -> wav, 3L -> txt))
    assert(base == Map("image" -> 0L, "wav" -> 0L, "opaque" -> 1000L), base)
    val dir = Files.createTempDirectory("decode_audit")
    val ckpt = Files.createTempDirectory("decode_audit_ckpt")
    val sink = Files.createTempDirectory("decode_audit_sink").resolve("census")
    val alerts = new java.util.concurrent.ConcurrentLinkedQueue[
      graft.streaming.StreamingDecodeAudit.Alert]()
    // each planted batch lands as ONE flat parquet file in the watched dir
    def writeBatch(name: String, rows: (Long, Array[Byte])*): Unit = {
      val tmp = Files.createTempDirectory("decode_audit_tmp").resolve("p")
      assetsDf(rows: _*).coalesce(1).write.parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, dir.resolve(name))
    }
    // batch 1 (clean): real image + real wav
    writeBatch("b1.parquet", 10L -> png, 11L -> wav)
    val stream = spark.readStream
      .schema("doc_id LONG, payload BINARY, n_bytes LONG")
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    val q = graft.streaming.StreamingDecodeAudit.start(stream,
      ckpt.toString, sink.toString, base, marginPermille = 100L,
      a => { alerts.add(a); () })
    try {
      q.processAllAvailable()
      assert(alerts.isEmpty, s"clean batch must not alert: $alerts")
      // batch 2: an image, a codec-video payload (sniffs video, decode
      // fails -> stub, baseline share 0), and a text payload (opaque --
      // baseline already 1000permille, must stay quiet)
      writeBatch("b2.parquet", 20L -> png, 21L -> codec, 22L -> txt)
      q.processAllAvailable()
      val got = alerts.toArray(
        Array.empty[graft.streaming.StreamingDecodeAudit.Alert]).toSeq
      assert(got.map(a => (a.family, a.stubPermille, a.baselinePermille))
        == Seq(("video", 1000L, 0L)), s"alerts: $got")
      // census sink parity: the batch-2 rows ARE q139's audit over that batch
      val census = spark.read.parquet(sink.toString)
        .filter(col("batch_id") === got.head.batchId).drop("batch_id")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
      val want = graft.operators.Multimodal.decoderAuditOf(spark,
          assetsDf(20L -> png, 21L -> codec, 22L -> txt)).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
      assert(census == want, s"\ncensus: $census\nwant:   $want")
    } finally q.stop()
  }

  /** The live cascade (q148's streaming half): hourly AND daily tiers
    * chained in ONE streaming query — a daily row emits when the
    * watermark passes its day end, carries the EXACT scaled-long value
    * sum through both tiers, and equals the batch q148 tier over the
    * same closed days bit for bit (one definition). */
  test("streaming daily cascade: chained window tiers match batch q148 exactly") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("daily_cascade")
    val hUs = graft.operators.Relational.GapfillHourUs
    val H0 = 600000L // = 24 * 25000: hour 0 of epoch-day 25000
    // day 25000: hours 22 (2 events), 23 (3); day 25001: hour 25 (4) —
    // per-event value 0.25; the flush at hour 49 (day 25002) closes
    // BOTH days (watermark 49 h − 10 s ≥ 48 h = day 25001's end)
    def ev(i: Long, k: Int) = (0 until k).map(n =>
      s"""{"us":${(H0 + i) * hUs + n * 1000L},"event_type":"a","value":0.25}""")
    Files.write(dir.resolve("b1.json"),
      (ev(22L, 2) ++ ev(23L, 3) ++ ev(25L, 4) ++ ev(49L, 1))
        .mkString("\n").getBytes)
    val schema = StructType(Seq(StructField("us", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(dir.toString)
      .withColumn("ts", timestamp_micros(col("us")))
    val q = graft.streaming.StreamingDownsample.dailyBuckets(stream)
      .writeStream.format("memory").queryName("daily_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val live = spark.table("daily_out").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4), r.getLong(5), r.getLong(6),
          r.getLong(7))).sortBy(_._2).toSeq
      // hand-computed: day 25000 = (5 events, 1.25, 0.25/event, 2 active
      // hours, burst 3/2); day 25001 = (4, 1.0, 0.25, 1, 4/4)
      def dayStr(d: Long) = java.time.Instant.ofEpochSecond(d * 86400L)
        .toString.replace("T", " ").replace("Z", "")
      assert(live == Seq(
        ("a", dayStr(25000L), 5L, 1.25, 0.25, 2L, 3L, 2L),
        ("a", dayStr(25001L), 4L, 1.0, 0.25, 1L, 4L, 4L)), live)
      // one definition: the batch tier over the same closed days
      import spark.implicits._
      val batchEv = (Seq((22L, 2), (23L, 3), (25L, 4)).flatMap {
        case (i, k) => (0 until k).map(n =>
          ((H0 + i) * 500 + n, (H0 + i) * hUs + n * 1000L, 1L, "a", 0.25,
            "{}"))
      }).toDF("event_id", "us", "user_id", "event_type", "value", "props")
        .select($"event_id", timestamp_micros($"us").as("ts"), $"user_id",
          $"event_type", $"value", $"props")
      val batch = graft.operators.Relational
        .dailyFromHourly(graft.operators.Relational.hourBuckets(batchEv))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4), r.getLong(5), r.getLong(6),
          r.getLong(7))).sortBy(_._2).toSeq
      assert(live == batch, s"\nlive:  $live\nbatch: $batch")
    } finally {
      q.stop()
      spark.catalog.dropTempView("daily_out")
    }
  }
}
