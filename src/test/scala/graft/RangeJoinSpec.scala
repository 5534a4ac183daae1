package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Relational, Similarity}

/** Boundary semantics of the bucketed range join (q67) — the cases the
  * oracle's random corpus may not exercise — plus the q66 quantization
  * error bound. */
class RangeJoinSpec extends AnyFunSuite {

  lazy val spark = SparkTest.session
  private val dir = "/root/testdata/sf0.001"

  private def mkEvents(rows: Seq[(Long, Long, Long, String)]) = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    rows.toDF("event_id", "us", "user_id", "event_type")
      .withColumn("ts", timestamp_micros(col("us")))
      .select("event_id", "ts", "user_id", "event_type")
  }

  test("q67 honors [start, start+1h) bounds across bucket boundaries") {
    val h = Relational.RangeJoinWindowUs // 1 h in µs
    val base = 1000L * h + 7L // mid-bucket click, window crosses into next
    val rows = Seq(
      (1L, base, 42L, "click"),
      (10L, base, 42L, "purchase"), // same instant: included
      (11L, base + h - 1, 42L, "purchase"), // last µs in window (next bucket)
      (12L, base + h, 42L, "purchase"), // exactly +1h: excluded
      (13L, base - 1, 42L, "purchase"), // before click: excluded
      (14L, base + 5, 99L, "purchase"), // other user: excluded
      // a click exactly ON a bucket boundary must not emit duplicate pairs
      (2L, 2000L * h, 7L, "click"),
      (20L, 2000L * h + 3, 7L, "purchase"))
    val got = Relational.rangeJoinOf(mkEvents(rows)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 10L, 0L), (1L, 11L, 3599L), (2L, 20L, 0L)),
      got.toSeq.toString)
  }

  test("q67 matches a driver-side nested loop on the real corpus") {
    val ev = graft.util.Tables(spark, dir, "events")
      .selectExpr("event_id", "unix_micros(ts) us", "user_id", "event_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val h = Relational.RangeJoinWindowUs
    val want = (for {
      c <- ev if c._4 == "click"
      p <- ev if p._4 == "purchase" && p._3 == c._3 &&
        p._2 >= c._2 && p._2 < c._2 + h
    } yield (c._1, p._1, c._3, (p._2 - c._2) / 1000000L)).sortBy(x => (x._1, x._2))
    val got = Relational.q67RangeJoin(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want.toSeq)
  }

  /** Two independent formulations of 30-minute-gap sessions — q15's
    * lag + running-sum construction and Spark's session_window builtin —
    * must produce identical per-user session counts. The formulations
    * disagree ONLY at a gap of exactly 30:00.000000 (q15's `> gap` keeps
    * it in-session, session_window's half-open windows split), so the
    * test first PROVES no such gap exists in the corpus — the
    * equivalence claim is checked, not assumed. */
  test("q15 lag-based sessions agree with the session_window builtin") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val wu = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    val boundaryGaps = graft.util.Tables(spark, dir, "events")
      .withColumn("gap", unix_micros($"ts") - lag(unix_micros($"ts"), 1).over(wu))
      .filter($"gap" === 1800L * 1000000L).count()
    assert(boundaryGaps == 0L,
      "corpus has an exactly-30-minute gap; the two formulations diverge there by design")
    val viaBuiltin = graft.util.Tables(spark, dir, "events")
      .groupBy($"user_id", session_window($"ts", "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_sessions"), sum($"n_events").as("n_events"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val viaLag = graft.operators.Relational.q15Sessionize(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(viaLag.nonEmpty && viaBuiltin.size == viaLag.size)
    viaLag.foreach { case (u, v) =>
      assert(viaBuiltin(u) == v, s"user $u: builtin ${viaBuiltin(u)} vs lag $v")
    }
  }

  /** A corpus with an empty funnel step must report conv 0, not die on
    * a 0/0 division (the empty-doc ANSI lesson, applied to q73). */
  /** q103 planted: a two-tag corpus with interior gaps and a late-
    * starting tag — every fill mode's defining case: fill(0) on counts,
    * LOCF carry-through on the mean, NULL before a tag's first
    * observation, and the grid spanning the GLOBAL hour range for every
    * tag. */
  test("q103 gap-fill: fill(0), LOCF, and pre-first-observation NULLs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val hUs = Relational.GapfillHourUs
    // tag a: hours 100 (two events) and 103; tag b: hour 102 only
    val rows = Seq(
      (100L, "a", 2.5), (100L, "a", 3.5), (103L, "a", 10.0),
      (102L, "b", 7.0))
    val ev = rows.toDF("h", "event_type", "value")
      .withColumn("ts", timestamp_micros(col("h") * hUs)).drop("h")
    val got = Relational.gapfillOf(ev).collect()
      .map(r => (r.getString(0).substring(11, 13).toLong, r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3),
          if (r.isNullAt(4)) null else r.getDouble(4)))).toMap
    assert(got.size == 8, s"grid must be 4 hours x 2 tags: $got")
    assert(got((4L, "a")) == ((2L, 6.0, 3.0))) // 100 h = 04:00 day 5
    assert(got((5L, "a")) == ((0L, 0.0, 3.0))) // gap: fill(0) + LOCF
    assert(got((6L, "a")) == ((0L, 0.0, 3.0)))
    assert(got((7L, "a")) == ((1L, 10.0, 10.0)))
    assert(got((4L, "b")) == ((0L, 0.0, null))) // before first obs: NULL
    assert(got((5L, "b")) == ((0L, 0.0, null)))
    assert(got((6L, "b")) == ((1L, 7.0, 7.0)))
    assert(got((7L, "b")) == ((0L, 0.0, 7.0))) // trailing LOCF
    // empty input: schema-stable empty output, no NPE on the bounds agg
    val empty = Relational.gapfillOf(ev.limit(0))
    assert(empty.collect().isEmpty && empty.columns.toSeq ==
      Seq("wstart", "event_type", "n", "sum_value", "mean_prev"))
  }

  /** q105 planted: a steady feed with one SPIKE hour and one silent
    * DROPOUT hour — the dropout only exists on the dense grid (n = 0
    * has no event rows), which is the reason q105 runs over the q103
    * fill. MAD 0 on the otherwise-constant feed means any deviation
    * flags; the constant tag must not flag at all. */
  test("q105 flags spike and dropout hours against median/MAD") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val hUs = Relational.GapfillHourUs
    // tag a: 2 events/hour for hours 100..119, except hour 110 has 9
    // (spike) and hour 115 has none (dropout); tag b: constant 1/hour
    val rows =
      (100L to 119L).filter(_ != 115L).flatMap { h =>
        val k = if (h == 110L) 9 else 2
        (0 until k).map(i => (h * hUs + i * 1000L, "a", 1.0))
      } ++ (100L to 119L).map(h => (h * hUs, "b", 1.0))
    val ev = rows.toDF("us", "event_type", "value")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
    val got = Relational.anomalyHoursOf(ev).collect()
      .map(r => (r.getString(0), r.getString(1).substring(11, 13),
        r.getLong(2), r.getLong(3), r.getLong(4)))
    // hour 110 = 14:00 of day 5, hour 115 = 19:00; med 2, mad 0
    assert(got.toSeq == Seq(
      ("a", "14", 9L, 2L, 0L), ("a", "19", 0L, 2L, 0L)), got.toSeq)
  }

  /** q106 planted: difference / non-negative-derivative / 3-hour moving
    * average over a series with a spike, a dropout hour and a flat
    * tail — first-row NULL diff, NULL nnd on the negative edge, and the
    * windowed average ramping through partial frames. */
  test("q106 transforms: diff, nnd and moving average on the dense grid") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val hUs = Relational.GapfillHourUs
    // counts per hour 100..104: 2, 5, 0 (dropout), 3, 3; value 1.0 each
    val counts = Seq(100L -> 2, 101L -> 5, 103L -> 3, 104L -> 3)
    val rows = counts.flatMap { case (h, k) =>
      (0 until k).map(i => (h * hUs + i * 1000L, "a", 1.0)) }
    val ev = rows.toDF("us", "event_type", "value")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
    val got = Relational.seriesTransformsOf(ev).collect().map { r =>
      (r.getString(1).substring(11, 13),
        r.getLong(2),
        if (r.isNullAt(3)) null else r.getLong(3),
        if (r.isNullAt(4)) null else r.getLong(4),
        r.getDouble(5))
    }.toSeq
    assert(got == Seq(
      ("04", 2L, null, null, 2.0),
      ("05", 5L, 3L, 3L, 3.5),
      ("06", 0L, -5L, null, 7.0 / 3),
      ("07", 3L, 3L, 3L, 8.0 / 3),
      ("08", 3L, 0L, 0L, 2.0)), got)
  }

  /** q106 property: seeded random sparse series (random holes, random
    * per-hour event counts and 2-decimal values) must match a driver
    * model of the same grid + lag + scaled-long window arithmetic. */
  test("q106 property: random sparse series match the driver model") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val hUs = Relational.GapfillHourUs
    val rnd = new scala.util.Random(909L)
    for (trial <- 1 to 3) {
      val tags = Seq("a", "b", "c")
      val hours = 100L to (105L + rnd.nextInt(6))
      val data: Seq[(String, Long, Seq[Double])] = for {
        t <- tags; h <- hours if rnd.nextInt(3) > 0 // ~1/3 dropout holes
      } yield (t, h, Seq.fill(1 + rnd.nextInt(4))(rnd.nextInt(1000) / 100.0))
      val ev = data.flatMap { case (t, h, vs) =>
        vs.zipWithIndex.map { case (v, i) => (h * hUs + i * 1000L, t, v) } }
        .toDF("us", "event_type", "value")
        .withColumn("ts", timestamp_micros(col("us"))).drop("us")
      val present = data.map(d => (d._1, d._2) -> d._3).toMap
      val lo = data.map(_._2).min
      val hi = data.map(_._2).max
      val want = data.map(_._1).distinct.sorted.flatMap { t =>
        val rows = (lo to hi).map { h =>
          val vs = present.getOrElse((t, h), Seq.empty)
          (h, vs.size.toLong,
            vs.map(v => math.floor(v * 10000.0 + 0.5).toLong).sum)
        }
        rows.zipWithIndex.map { case ((_, n, _), i) =>
          val diff = if (i == 0) None else Some(n - rows(i - 1)._2)
          val win = rows.slice(math.max(0, i - 2), i + 1)
          (t, n, diff, diff.filter(_ >= 0),
            win.map(_._3).sum.toDouble / 10000.0 / win.size)
        }
      }
      val got = Relational.seriesTransformsOf(ev).collect().map { r =>
        (r.getString(0), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4)),
          r.getDouble(5))
      }.toSeq
      assert(got == want, s"trial $trial:\n got=$got\n want=$want")
    }
  }

  /** q110 property: random sparse series must match a driver model that
    * replays the WHOLE sampled pipeline — the dense grid, the md5 pair
    * keep-set (same hash family as the engine's sqlModN), the slope
    * division, and the (slope, ha, hb) lower-median selection. */
  test("q110 property: random series match the driver sampled-median model") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val hUs = Relational.GapfillHourUs
    def mod1000(sx: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(sx.getBytes("UTF-8"))
      val hex = d.take(4).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex, 16) % 1000
    }
    val rnd = new scala.util.Random(4242L)
    for (trial <- 1 to 3) {
      val tags = Seq("a", "b", "c")
      val hours = 100L to (130L + rnd.nextInt(20))
      val data = for { t <- tags; h <- hours if rnd.nextInt(4) > 0 }
        yield (t, h, 1 + rnd.nextInt(5))
      val ev = data.flatMap { case (t, h, k) =>
        (0 until k).map(i => (h * hUs + i * 1000L, t, 1.0)) }
        .toDF("us", "event_type", "value")
        .withColumn("ts", timestamp_micros(col("us"))).drop("us")
      val lo = data.map(_._2).min
      val hi = data.map(_._2).max
      val byTH = data.map(d => (d._1, d._2) -> d._3.toLong).toMap
      val want = data.map(_._1).distinct.sorted.flatMap { t =>
        val pairs = for {
          ha <- lo to hi; hb <- (ha + 1) to hi
          if mod1000(s"$t:$ha:$hb") < Relational.TheilSenSampleRate
        } yield (ha, hb,
          (byTH.getOrElse((t, hb), 0L) - byTH.getOrElse((t, ha), 0L)).toDouble /
            (hb - ha).toDouble)
        if (pairs.isEmpty) None
        else {
          val sorted = pairs.sortBy(p => (p._3, p._1, p._2))
          val med = sorted((pairs.size + 1) / 2 - 1)
          val tr = if (med._3 > 0) "rising"
            else if (med._3 < 0) "falling" else "flat"
          Some((t, pairs.size.toLong, med._3, tr))
        }
      }
      val got = Relational.theilSenSampledOf(ev).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getString(3))).toSeq
      assert(got == want, s"trial $trial:\n got=$got\n want=$want")
    }
  }

  /** q108 planted: overlap dedup across hours inside the window, the
    * 24-hour boundary falling off exactly, a dead zone reporting 0, and
    * an isolated revival hour. */
  test("q108 rolling distinct users: window boundary and dead-zone exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val hUs = Relational.GapfillHourUs
    val rows = Seq( // (hour, user)
      (100L, 1L), (100L, 1L), (100L, 2L), // dup event: still 2 distinct
      (110L, 2L), (110L, 3L), // user 2 overlaps hour 100's set
      (140L, 4L))
    val ev = rows.zipWithIndex.map { case ((h, u), i) =>
      (h * hUs + i * 1000L, u) }
      .toDF("us", "user_id")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
    val got = Relational.rollingUsersOf(ev).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.length == 41, s"grid must span 100..140: ${got.length}")
    val byHour = got.zipWithIndex.map { case (r, i) => (100L + i) -> r }.toMap
    def n(h: Long) = (byHour(h)._2, byHour(h)._3)
    assert(n(100L) == ((2L, 2L)))  // {1,2}
    assert(n(109L) == ((0L, 2L)))  // still {1,2}
    assert(n(110L) == ((2L, 3L)))  // {1,2,3} — user 2 deduplicates
    assert(n(123L) == ((0L, 3L)))  // hour 100 still inside the window
    assert(n(124L) == ((0L, 2L)))  // hour 100 just fell off: {2,3}
    assert(n(133L) == ((0L, 2L)))  // hour 110 last covered here
    assert(n(134L) == ((0L, 0L)))  // dead zone
    assert(n(140L) == ((1L, 1L)))  // revival
  }

  /** q105 property: random sparse series with planted spikes must
    * match a driver model of the same dense-grid + lower-median/MAD
    * integer arithmetic — flags, medians and MADs all exact. */
  test("q105 property: random series match the driver median/MAD model") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val hUs = Relational.GapfillHourUs
    val rnd = new scala.util.Random(313L)
    for (trial <- 1 to 3) {
      val tags = Seq("a", "b")
      val hours = 100L to (110L + rnd.nextInt(8))
      val data = for { t <- tags; h <- hours if rnd.nextInt(4) > 0 }
        yield (t, h, 1 + (if (rnd.nextInt(6) == 0) 5 + rnd.nextInt(20)
          else rnd.nextInt(3)))
      val ev = data.flatMap { case (t, h, k) =>
        (0 until k).map(i => (h * hUs + i * 1000L, t, 1.0)) }
        .toDF("us", "event_type", "value")
        .withColumn("ts", timestamp_micros(col("us"))).drop("us")
      // driver model
      val present = data.map(d => (d._1, d._2) -> d._3.toLong).toMap
      val lo = data.map(_._2).min
      val hi = data.map(_._2).max
      def lowerMedian(xs: Seq[Long]): Long = xs.sorted.apply((xs.size - 1) / 2)
      val want = data.map(_._1).distinct.sorted.flatMap { t =>
        val ns = (lo to hi).map(h => h -> present.getOrElse((t, h), 0L))
        val med = lowerMedian(ns.map(_._2))
        val mad = lowerMedian(ns.map(n => math.abs(n._2 - med)))
        ns.collect { case (h, n) if math.abs(n - med) > 3 * mad =>
          (t, h, n, med, mad) }
      }
      val got = Relational.anomalyHoursOf(ev).collect().map { r =>
        val h = java.time.LocalDateTime.parse(r.getString(1).replace(' ', 'T'))
          .toEpochSecond(java.time.ZoneOffset.UTC) / 3600L
        (r.getString(0), h, r.getLong(2), r.getLong(3), r.getLong(4))
      }.toSeq
      assert(got == want, s"trial $trial:\n got=$got\n want=$want")
    }
  }

  /** q108 property: random (hour, user) activity must match a driver
    * model of the dedup + cover-set rolling distinct, including window
    * clipping at the grid's high end. */
  test("q108 property: random activity matches the driver rolling model") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val hUs = Relational.GapfillHourUs
    val rnd = new scala.util.Random(515L)
    for (trial <- 1 to 3) {
      val hours = 100L to (100L + 30 + rnd.nextInt(20))
      val data = for { h <- hours; _ <- 0 until rnd.nextInt(4) }
        yield (h, rnd.nextInt(8).toLong)
      if (data.nonEmpty) {
        val ev = data.zipWithIndex.map { case ((h, u), i) =>
          (h * hUs + i * 1000L, u) }
          .toDF("us", "user_id")
          .withColumn("ts", timestamp_micros(col("us"))).drop("us")
        val lo = data.map(_._1).min
        val hi = data.map(_._1).max
        val byHour = data.groupBy(_._1).map { case (h, xs) =>
          h -> xs.map(_._2).toSet }
        val want = (lo to hi).map { w =>
          val n1 = byHour.getOrElse(w, Set.empty).size.toLong
          val n24 = (math.max(lo, w - (Relational.RollingHours - 1)) to w)
            .flatMap(h => byHour.getOrElse(h, Set.empty)).toSet.size.toLong
          (n1, n24)
        }
        val got = Relational.rollingUsersOf(ev).collect()
          .map(r => (r.getLong(1), r.getLong(2))).toSeq
        assert(got == want, s"trial $trial:\n got=$got\n want=$want")
      }
    }
  }

  /** q135 planted: four series over four hours whose correlation
    * structure is hand-computed — a perfect positive pair (B = 2A,
    * corr² = +1 exactly: cov 40, vars 20/80), two perfect ANTI pairs
    * (C reverses A: −1 exactly), and a CONSTANT series D whose variance
    * is 0 and whose pairs must report 0.0 (the zero-denominator guard),
    * never NaN/Inf. Ranks break ties on (type_a, type_b). Alignment on
    * the DENSE grid matters: the counts are event multiplicities per
    * hour, not values. */
  test("q135 planted: exact corr² ranking with anti and constant series") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val counts = Map("a" -> Seq(1, 2, 3, 4), "b" -> Seq(2, 4, 6, 8),
      "c" -> Seq(4, 3, 2, 1), "d" -> Seq(5, 5, 5, 5))
    val rows = for {
      (tpe, ns) <- counts.toSeq; (n, h) <- ns.zipWithIndex
      i <- 0 until n
    } yield (tpe.hashCode.toLong * 100 + h * 10 + i,
      (500000L + h) * 3600000000L, 1L, tpe, 0.0, "{}")
    val ev = rows.toDF("event_id", "us", "user_id", "event_type", "value",
        "props")
      .select($"event_id", timestamp_micros($"us").as("ts"), $"user_id",
        $"event_type", $"value", $"props")
    val got = Relational.seriesCorrelationOf(ev).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(4), r.getDouble(7)))
    val want = Seq(
      (1L, "a", "b", 40L, 1.0),
      (2L, "a", "d", 0L, 0.0), (3L, "b", "d", 0L, 0.0),
      (4L, "c", "d", 0L, 0.0),
      (5L, "a", "c", -20L, -1.0), (6L, "b", "c", -40L, -1.0))
    assert(got.toSeq == want, got.toSeq.mkString("\n"))
  }

  /** q138 (VERDICT r13 #3): the sign-LSH candidate arm must (a) report
    * every row BIT-IDENTICALLY to exact q135 for the same pair (the
    * re-check is q135's moment arithmetic verbatim — the road trades
    * recall of weak pairs, never the correctness of a reported
    * statistic) and (b) RECALL every strongly-correlated pair: an exact
    * positive scaling preserves every centered sign (identical
    * signatures, direct collision in all bands), a reversal flips every
    * sign (complement collision). Fixture: the q135 quartet + six
    * deterministic noise series. */
  test("q138 LSH road: rows ≡ q135 per pair; strong pairs all recalled") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val counts: Map[String, Seq[Int]] = Map(
      "a" -> Seq(1, 2, 3, 4, 2, 5, 1, 3),
      "b" -> Seq(2, 4, 6, 8, 4, 10, 2, 6), // 2·a: same centered direction
      "c" -> Seq(5, 4, 3, 2, 4, 1, 5, 3),  // 6−a: centered = −centered(a)
      "d" -> Seq(5, 5, 5, 5, 5, 5, 5, 5)   // constant: variance 0
    ) ++ (0 until 6).map(i =>
      s"n$i" -> (0 until 8).map(h => (h * 7 + i * 3 + i * h) % 5 + 1))
    val rows = for {
      (tpe, ns) <- counts.toSeq; (n, h) <- ns.zipWithIndex
      i <- 0 until n
    } yield (tpe.hashCode.toLong * 1000 + h * 100 + i,
      (600000L + h) * 3600000000L, 1L, tpe, 0.0, "{}")
    val ev = rows.toDF("event_id", "us", "user_id", "event_type", "value",
        "props")
      .select($"event_id", timestamp_micros($"us").as("ts"), $"user_id",
        $"event_type", $"value", $"props")
    def byPair(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(1), r.getString(2)) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
          r.getDouble(7)))).toMap
    val exact = byPair(Relational.seriesCorrelationOf(ev))
    val lsh = byPair(Relational.seriesCorrLshOf(ev))
    // (a) every reported candidate row is exact-q135's row, bit for bit
    lsh.foreach { case (pair, st) =>
      assert(exact(pair) == st, s"$pair: LSH row ≠ exact row")
    }
    // (b) candidates ⊇ strong pairs (both tails: |corr²| ≥ 0.9)
    val strong = exact.collect {
      case (pair, (_, _, _, _, c2)) if math.abs(c2) >= 0.9 => pair
    }.toSet
    assert(strong.nonEmpty && strong.subsetOf(lsh.keySet),
      s"missed strong pairs: ${strong -- lsh.keySet}")
    // the scaling pair and the reversal pair are recalled by name
    assert(lsh.contains(("a", "b")) && lsh.contains(("a", "c")))
    // and the top-1 exact pair is rank 1 in the candidate ranking too
    val top1 = Relational.seriesCorrLshOf(ev)
      .orderBy($"rank").limit(1).collect()(0)
    assert((top1.getString(1), top1.getString(2)) == (("a", "b")))
  }

  /** q109 planted: the defining Theil–Sen property — a clean unit
    * slope with ONE massive spike hour still reports slope exactly 1.0
    * (the 19 outlier pairs sit in the tails, the median lands in the
    * 171-pair run of exact 1.0 slopes), where least squares would be
    * dragged far off; a constant tag reports 0.0/flat. */
  test("q109 Theil-Sen: one spike hour cannot move the median slope") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val hUs = Relational.GapfillHourUs
    val rows =
      (100L to 119L).flatMap { h =>
        val k = if (h == 110L) 1000 else (h - 95L).toInt // unit trend + spike
        (0 until k).map(i => (h * hUs + i * 1000L, "a", 1.0))
      } ++ (100L to 119L).flatMap(h =>
        (0 until 3).map(i => (h * hUs + i * 1000L, "b", 1.0)))
    val ev = rows.toDF("us", "event_type", "value")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
    val got = Relational.theilSenOf(ev).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getString(3)))).toMap
    assert(got("a") == ((190L, 1.0, "rising")), got)
    assert(got("b") == ((190L, 0.0, "flat")), got)
    // the nH<2 degenerate branch: a single-hour corpus has no pairs —
    // empty result, schema identical to the main path (review finding:
    // the oracle corpora always span many hours, so only a spec can
    // pin this branch)
    val one = Relational.theilSenOf(
      Seq((100L * hUs, "a", 1.0)).toDF("us", "event_type", "value")
        .withColumn("ts", timestamp_micros(col("us"))).drop("us"))
    assert(one.collect().isEmpty && one.columns.toSeq ==
      Seq("event_type", "n_pairs", "trend_slope", "trend"))
  }

  /** q109 scale pin (the r7 verdict's one weak): the quadratic pair
    * GENERATION must fan out past the event-type count — the bucketed
    * (type, ba, bb) equi-join spreads the hours² work over
    * #types × B(B+1)/2 keys, where the old type-keyed join capped at
    * #types tasks. Pinned: >#types partitions carry pair data, AND the
    * bucketed generation emits exactly the naive pair set. */
  test("q109 pair generation parallelizes past the type count") {
    import spark.implicits._
    val hours = 100L to 199L
    val grid = (for { t <- Seq("a", "b"); h <- hours }
      yield (t, h, h * 2 + h % 7)).toDF("event_type", "h", "n")
    // PATHOLOGICAL input partitioning: the real grid arrives through a
    // shuffle AQE may have coalesced to one partition — the fan-out
    // must not inherit it whichever join side the planner streams
    // (review finding)
    val pairs = Relational.theilSenPairs(grid.coalesce(1),
      hours.head, hours.last)
    val withData = pairs.rdd
      .mapPartitions(it => Iterator(if (it.hasNext) 1 else 0)).collect().sum
    assert(withData > 2, s"pair stage carried data in only $withData partitions")
    val got = pairs.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val want = (for {
      t <- Seq("a", "b"); ha <- hours; hb <- hours if ha < hb
      na = ha * 2 + ha % 7; nb = hb * 2 + hb % 7
    } yield (t, ha, hb, (nb - na).toDouble / (hb - ha).toDouble)).toSet
    assert(got == want,
      s"pair set mismatch: ${got.size} generated vs ${want.size} expected")
  }

  /** q110 planted: the sampled arm is a median over a deterministic
    * ~rate‰ hash-subset of the pair space — on a near-linear series its
    * estimate must land within the pairwise-slope spread of the exact
    * q109 median, and the keep-set size must be rate-scaled. */
  test("q110 sampled Theil-Sen tracks the exact median") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val hUs = Relational.GapfillHourUs
    // n(h) = h - 99 events in hour h: slopes cluster tightly around 1
    val rows = (100L to 159L).flatMap { h =>
      (0 until (h - 99L).toInt).map(i => (h * hUs + i * 1000L, "a", 1.0))
    }
    val ev = rows.toDF("us", "event_type", "value")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
    val exact = Relational.theilSenOf(ev).collect().head
    val sampled = Relational.theilSenSampledOf(ev).collect().head
    val nAll = exact.getLong(1)
    val nSub = sampled.getLong(1)
    // deterministic hash keep-set: rate-scaled within a loose 2x band
    val expect = nAll * Relational.TheilSenSampleRate / 1000
    assert(nSub > expect / 2 && nSub < expect * 2,
      s"sampled $nSub of $nAll pairs, expected ~$expect")
    assert(math.abs(sampled.getDouble(2) - exact.getDouble(2)) <= 0.5,
      s"sampled median ${sampled.getDouble(2)} vs exact ${exact.getDouble(2)}")
    assert(sampled.getString(3) == exact.getString(3))
  }

  test("q73 funnel with no signups yields zero counts, no division error") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val ev = Seq((1L, 10L, "click"), (2L, 10L, "purchase"))
      .toDF("event_id", "user_id", "event_type")
      .withColumn("ts", timestamp_micros(lit(1000000L) * col("event_id")))
    val rows = Relational.funnelOf(ev).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(rows.toSeq == Seq(("1_signup", 0L, 0.0), ("2_click", 0L, 0.0),
      ("3_purchase", 0L, 0.0)), rows.toSeq.toString)
  }

  /** Malformed JSON payloads must group under bucket null, not abort
    * the query under ANSI's strict casts. */
  test("q16 survives malformed and missing JSON payloads") {
    import spark.implicits._
    val rows = Seq(
      (1L, "view", 1.0, """{"k":"7"}"""),
      (2L, "view", 1.0, """{"k":"not-a-number"}"""),
      (3L, "view", 1.0, """{"other":1}"""),
      (4L, "view", 1.0, "not json at all"))
    val out = Relational.qJsonOf(
        rows.toDF("event_id", "event_type", "value", "props"))
      .collect().map(r => (if (r.isNullAt(1)) -1L else r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(out(7L) == 1L, out.toString)
    assert(out(-1L) == 3L, out.toString) // the three malformed/missing rows
  }

  /** A zero embedding (failed encoder) gives norm 0; under ANSI even
    * double division by zero aborts the query. safeCos's cos := 0
    * convention must keep the similarity family alive AND keep the bad
    * row out of every thresholded result. */
  test("similarity family survives a zero vector") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("zv").toString
    val vecs = Seq(
      (0L, Array.fill(64)(0.0f), 1), // the zero vector, as a query too
      (1L, Array.tabulate(64)(i => if (i == 0) 1.0f else 0.0f), 1),
      (2L, Array.tabulate(64)(i => if (i == 0) 0.9f else 0.01f), 2),
      (3L, Array.tabulate(64)(i => if (i == 1) 1.0f else 0.0f), 2))
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    // brute-force pairs: must run, and no pair may involve the zero vector
    val pairs = graft.operators.Similarity.q43EmbeddingDedup(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!pairs.exists(p => p._1 == 0L || p._2 == 0L), pairs.toSeq.toString)
    assert(pairs.contains((1L, 2L))) // the genuine near-dup still found
    // blocked path agrees
    val blocked = graft.operators.Similarity
      .q45EmbeddingDedupBlocked(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(blocked.sorted.toSeq == pairs.sorted.toSeq)
    // top-k with the zero vector AS A QUERY: all sims 0, ranked by id
    val topk = graft.operators.Similarity.q38AnnBrute(spark, tmp)
      .filter(col("qid") === 0L).collect()
    assert(topk.length == 3 && topk.forall(_.getDouble(3) == 0.0))
  }

  test("q66 max reconstruction error stays under the quantization step/2") {
    val rows = Similarity.q66QuantizeError(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(3) <= 5.0e-7, s"label ${r.getInt(0)}: ${r.getDouble(3)}")
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= r.getDouble(3))
    }
  }

  /** VERDICT r5 #2: multiprobe closes IVF's recall gap. Probing the
    * nprobe nearest cells yields a candidate SUPERSET of the single-probe
    * arm, and top-5-of-a-superset can only gain exact-top-5 members
    * (any exact-top-5 candidate beaten by <5 vectors globally is beaten
    * by <5 candidates too) — so n_hit is provably monotone per query,
    * and the measured mean recall must clear the 0.9 target. */
  test("q96 multiprobe recall >= 0.9 and per-query n_hit >= q44's") {
    val single = Similarity.q44AnnIvfRecall(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val multi = Similarity.q96AnnIvfMultiprobe(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(multi.keySet == single.keySet)
    multi.foreach { case (qid, (nCand, nHit)) =>
      val (sCand, sHit) = single(qid)
      assert(nCand >= sCand, s"q$qid candidates shrank: $nCand < $sCand")
      assert(nHit >= sHit, s"q$qid hits shrank: $nHit < $sHit")
    }
    val meanRecall = multi.values.map(_._2).sum / (5.0 * multi.size)
    assert(meanRecall >= 0.9, s"mean recall $meanRecall < 0.9")
  }

  /** q111 (VERDICT r7 #4): the compressed IVF-PQ arm must clear the
    * same 0.9 recall target as q96 — the ADC shortlist only has to
    * keep the true top-5 inside approx-top-[[Similarity.PqShortlist]],
    * then the exact re-rank recovers them — and the SAVED index
    * (centroids + codebooks + encoded corpus) must serve bit-identical
    * top-k to the inline-fit pipeline. */
  test("q111 IVF-PQ recall >= 0.9 and the saved index serves identically") {
    val report = Similarity.q111AnnIvfPq(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(report.size == 10)
    report.foreach { case (qid, (nCand, _)) =>
      assert(nCand <= Similarity.PqShortlist,
        s"q$qid re-ranked $nCand > shortlist cap")
    }
    val meanRecall = report.values.map(_._2).sum / (5.0 * report.size)
    assert(meanRecall >= 0.9, s"IVF-PQ mean recall $meanRecall < 0.9")
    val tmp = java.nio.file.Files.createTempDirectory("pqidx").toString
    Similarity.savePqIndex(spark, dir, s"$tmp/pq")
    val (cents, books) = Similarity.loadPqIndex(spark, s"$tmp/pq")
    assert(cents.length == 16 &&
      books.length == Similarity.PqSubspaces &&
      books.forall(b => b.length == Similarity.PqCodes &&
        b.forall(_.length == Similarity.PqSubDim)))
    val servedRows = Similarity.pqServeQuery(spark, dir, s"$tmp/pq")
      .collect().map(_.toString).toSeq
    // inline twin: encode the corpus fresh from the loaded models and
    // run the same ADC + re-rank — the parquet-round-tripped encoded
    // frame must not change a single row
    val base = Similarity.scaled(spark, dir)
    val encInline = Similarity.pqEncode(
      Similarity.assignedCorpus(spark, dir, cents), cents, books)
    val inlineRows = Similarity.pqAnn(base, encInline, cents, books,
        Similarity.MultiprobeNprobe, Similarity.PqShortlist, k = 5)
      .orderBy("qid", "rk").collect().map(_.toString).toSeq
    assert(servedRows == inlineRows,
      "saved-index serving diverged from the inline-encoded pipeline")
    assert(servedRows.nonEmpty && servedRows.size <= 10 * 5,
      s"served ${servedRows.size} rows")
    // the 100 TB fit shape: codebooks trained on a deterministic
    // hash-SAMPLE of the corpus (the iterated frame is sample-sized,
    // not a second corpus copy) must still clear the recall target —
    // codebook quality converges with sample size, not corpus size
    val sampledBooks = Similarity.fitPqCodebooks(spark, dir, cents,
      samplePermille = Some(500L))
    val sampledReport = Similarity.ivfPqRecall(spark, dir, cents, sampledBooks)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val sampledRecall = sampledReport.values.sum / (5.0 * sampledReport.size)
    assert(sampledRecall >= 0.9,
      s"sampled-fit (500 permille) recall $sampledRecall < 0.9")
  }

  /** ADVICE r16: the q115 equivalence claim — each np slice of
    * [[Similarity.pqAdcRankedMulti]] reproduces pqAdcRanked(np)
    * row-for-row — was only exercised end-to-end via the oracle at the
    * curve knobs; pin it directly, INCLUDING an exact cosine tie: two
    * clones of a query vector under fresh ids carry identical
    * cell/codes → identical asim for that query's guaranteed-probed top
    * cell, so both rankers must break the tie by vec_id asc
    * identically. A regression in the iterated-argmax masking would
    * surface here by name instead of as an opaque q115 hash mismatch. */
  test("pqAdcRankedMulti per-np slices equal pqAdcRanked, ties included") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("pqmulti").toString
    Similarity.savePqIndex(spark, dir, s"$tmp/pq")
    val (cents, books) = Similarity.loadPqIndex(spark, s"$tmp/pq")
    val base0 = Similarity.scaled(spark, dir)
    // plant the tie: query vector 0 cloned twice as corpus rows — its
    // own cell is the top probe of qid 0, so both clones are candidates
    // at every np ≥ 1 and tie exactly on asim
    val clones = base0.filter(col("vec_id") === 0L)
      .withColumn("vec_id", col("vec_id") + lit(990000L))
      .unionByName(base0.filter(col("vec_id") === 0L)
        .withColumn("vec_id", col("vec_id") + lit(990001L)))
    val base = base0.unionByName(clones)
    val enc = Similarity.pqEncode(
      Similarity.assignedOf(base, cents), cents, books)
    val multi = Similarity
      .pqAdcRankedMulti(base, enc, cents, books, Similarity.CurveNprobes)
      .collect()
      .map(r => (r.getInt(0), (r.getLong(1), r.getLong(2), r.getInt(3))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    Similarity.CurveNprobes.foreach { np =>
      val single = Similarity.pqAdcRanked(base, enc, cents, books, np)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .sorted.toSeq
      assert(single.nonEmpty, s"np=$np produced no candidates")
      assert(multi.getOrElse(np, Nil) == single,
        s"np=$np slice of pqAdcRankedMulti diverges from pqAdcRanked")
    }
    // the planted tie is actually exercised: both clones rank for qid 0,
    // adjacently (identical asim ⇒ consecutive ranks, lower id first)
    val q0 = multi(Similarity.CurveNprobes.min)
      .filter(t => t._1 == 0L && t._2 >= 990000L).sortBy(_._2)
    assert(q0.map(_._2) == Seq(990000L, 990001L),
      s"planted tie pair missing from qid 0 candidates: $q0")
    assert(q0(1)._3 == q0(0)._3 + 1,
      s"tie not broken adjacently by vec_id: $q0")
  }

  /** q112 planted-free exactness: the per-subspace distortion report
    * must equal a brute-force driver recomputation (argmin over ALL
    * codes per residual — an independent evaluation path from the
    * engine's codegen argmax-of-negated-score). */
  test("q112 distortion equals a driver-computed argmin reference") {
    val got = Similarity.q112PqDistortion(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))).toMap
    val tmp = java.nio.file.Files.createTempDirectory("pqdist").toString
    Similarity.savePqIndex(spark, dir, s"$tmp/pq")
    val (cents, books) = Similarity.loadPqIndex(spark, s"$tmp/pq")
    val rows = Similarity.assignedCorpus(spark, dir, cents).collect()
    def ssq(a: Seq[Long]) = a.map(x => x * x).sum
    val acc = Array.fill(Similarity.PqSubspaces)((0L, 0L, 0L)) // n, sse, max
    rows.foreach { r =>
      val e = r.getSeq[Long](1)
      val cell = r.getInt(3)
      for (u <- 0 until Similarity.PqSubspaces) {
        val lo = u * Similarity.PqSubDim
        val res = (0 until Similarity.PqSubDim).map(d =>
          e(lo + d) - cents(cell)._1(lo + d))
        val se = books(u).map(c =>
          ssq(res.zip(c).map { case (x, y) => x - y })).min
        val (n, s, m) = acc(u)
        acc(u) = (n + 1, s + se, math.max(m, se))
      }
    }
    assert(got.keySet == acc.indices.map(_.toLong).toSet)
    acc.zipWithIndex.foreach { case ((n, sse, mx), u) =>
      val (gn, gsse, gmse, gmax) = got(u.toLong)
      assert(gn == n && gsse == sse && gmax == mx,
        s"subspace $u: got ($gn,$gsse,$gmax) want ($n,$sse,$mx)")
      assert(math.abs(gmse - sse.toDouble / n) <= 1e-9 * math.max(1.0, gmse))
    }
  }

  /** q115 (VERDICT r8 #5): the recall/cost curve's structural
    * invariants — shortlist monotonicity (a theorem: a larger shortlist
    * is a superset cut of the same ranked frame), ADC scan volume
    * strictly growing with nprobe and shared across shortlist cells,
    * and the (6, 60) cell reproducing the q111 arm's hit total (same
    * knobs ⇒ same pipeline). nprobe-monotonicity of recall is
    * deliberately NOT asserted — at sf0.1 the measured curve shows the
    * crowding-out effect (0.90 → 0.86 at shortlist 60). */
  test("q115 curve invariants hold and the (6,60) cell matches q111") {
    val curve = Similarity.q115PqRecallCurve(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5),
          r.getBoolean(6))))).toMap
    assert(curve.size == 6, s"want 6 grid cells, got ${curve.size}")
    assert(curve.values.forall(_._5), s"shortlist monotonicity violated: $curve")
    val scans = Similarity.CurveNprobes.map(np => curve((np.toLong, 20L))._1)
    assert(scans == scans.sorted && scans.distinct == scans,
      s"n_scanned must strictly grow with nprobe: $scans")
    Similarity.CurveNprobes.foreach { np =>
      assert(curve((np.toLong, 20L))._1 == curve((np.toLong, 60L))._1,
        s"nprobe $np: n_scanned must be shortlist-independent")
    }
    val q111Hits = Similarity.q111AnnIvfPq(spark, dir).collect()
      .map(_.getLong(2)).sum
    assert(curve((6L, 60L))._3 == q111Hits,
      s"curve (6,60) n_hit ${curve((6L, 60L))._3} != q111 total $q111Hits")
  }

  /** appendPqIndex (VERDICT r8 #3): appending a batch encoded against
    * the FROZEN saved models must reproduce the full re-encode
    * bit-for-bit (encode is deterministic per row, and the model
    * parquet round-trip is lossless), the drift gate over the appended
    * index must equal q112's inline audit code-for-code, and a batch
    * drawn from a SHIFTED distribution must measurably raise the mse —
    * the signal that tells an operator the codebooks need a re-fit. */
  test("PQ index append equals full re-encode and the drift gate detects shift") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("pqappend").toString
    Similarity.savePqIndex(spark, dir, s"$tmp/full")
    val fullEnc = spark.read.parquet(s"$tmp/full/enc")
    val n = fullEnc.count()
    val cut = fullEnc.agg(org.apache.spark.sql.functions
      .percentile_approx($"vec_id", org.apache.spark.sql.functions.lit(0.5),
        org.apache.spark.sql.functions.lit(10000))).head.getLong(0)
    // a second index with the same frozen models but only the first
    // half of the corpus encoded
    Similarity.savePqIndex(spark, dir, s"$tmp/half")
    val lower = spark.read.parquet(s"$tmp/full/enc").filter($"vec_id" <= cut)
      .localCheckpoint(true)
    lower.write.mode("overwrite").parquet(s"$tmp/half/enc")
    // append the second half as a NEW batch of raw vectors
    val late = graft.util.Tables(spark, dir, "embeddings")
      .filter($"vec_id" > cut).select($"vec_id", $"embedding")
    Similarity.appendPqIndex(spark, s"$tmp/half", late)
    val appended = spark.read.parquet(s"$tmp/half/enc")
    assert(appended.count() == n, s"appended ${appended.count()} != full $n")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"vec_id", $"cell", $"codes".cast("string"), $"rnrm")
      .collect().map(_.toString).sorted.toSeq
    assert(rows(appended) == rows(fullEnc),
      "appended index diverged from the full re-encode")
    // drift gate over the appended index == the inline q112 audit
    // (same frozen models, same codes)
    val gate = Similarity.pqIndexDistortion(spark, dir, s"$tmp/half")
      .collect().map(_.toString).toSeq
    val inline = Similarity.q112PqDistortion(spark, dir)
      .collect().map(_.toString).toSeq
    assert(gate == inline, s"drift gate diverged:\n $gate\n vs $inline")
    val baseMse = Similarity.pqIndexDistortion(spark, dir, s"$tmp/half")
      .collect().map(r => r.getDouble(r.fieldIndex("mse")))
    // shifted batch: 3x-scaled vectors under fresh ids — residuals the
    // frozen codebooks never trained on; the per-subspace mean distortion
    // must rise
    val shifted = graft.util.Tables(spark, dir, "embeddings")
      .filter($"vec_id" < 200)
      .select(($"vec_id" + 1000000L).as("vec_id"),
        org.apache.spark.sql.functions.expr(
          "transform(embedding, x -> x * cast(3.0 as float))").as("embedding"))
    Similarity.appendPqIndex(spark, s"$tmp/half", shifted)
    // coverage refusal (review finding r9): auditing against the ORIGINAL
    // corpus would silently skip the appended rows — exactly what the
    // gate judges — so it must refuse, not read clean
    val refused = intercept[IllegalArgumentException] {
      Similarity.pqIndexDistortion(spark, dir, s"$tmp/half").collect()
    }
    assert(refused.getMessage.contains("drift gate refused"), refused.getMessage)
    // the shifted ids have no rawDir twin under the original ids — feed
    // the gate a rawDir via the same shifted frame written as a corpus
    val driftDir = s"$tmp/driftraw"
    graft.util.Tables(spark, dir, "embeddings")
      .select($"vec_id", $"embedding", $"label")
      .union(shifted.withColumn("label", org.apache.spark.sql.functions.lit(99)))
      .write.mode("overwrite").parquet(s"$driftDir/embeddings.parquet")
    val after = Similarity.pqIndexDistortion(spark, driftDir, s"$tmp/half")
      .collect().map(r => r.getDouble(r.fieldIndex("mse")))
    assert(after.zip(baseMse).count { case (a, b) => a > b } >= 6 &&
      after.sum > baseMse.sum,
      s"shifted batch did not raise distortion: before=${baseMse.toSeq} after=${after.toSeq}")
  }

  /** The PqIndexCli lifecycle drives the same spec-proven calls the
    * library exposes — pin the wiring itself: build encodes the corpus,
    * append grows the index against frozen models, audit refuses an
    * uncovered corpus, and serve answers with curve knobs. */
  test("PqIndexCli: build, append, serve, and the audit refusal wire correctly") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("pqcli").toString
    graft.app.PqIndexCli.run(spark, Seq("build", dir, s"$tmp/idx"))
    val n0 = spark.read.parquet(s"$tmp/idx/enc").count()
    assert(n0 > 0)
    graft.util.Tables(spark, dir, "embeddings")
      .filter($"vec_id" < 50)
      .select(($"vec_id" + 5000L).as("vec_id"), $"embedding")
      .write.mode("overwrite").parquet(s"$tmp/batch")
    graft.app.PqIndexCli.run(spark, Seq("append", s"$tmp/idx", s"$tmp/batch"))
    assert(spark.read.parquet(s"$tmp/idx/enc").count() == n0 + 50)
    // audit against the un-appended corpus must refuse, not read clean
    val refused = intercept[IllegalArgumentException] {
      graft.app.PqIndexCli.run(spark, Seq("audit", dir, s"$tmp/idx"))
    }
    assert(refused.getMessage.contains("drift gate refused"))
    // serve with the q115 cheapest->=0.9 knobs answers every query
    val served = Similarity.pqServeQuery(spark, dir, s"$tmp/idx",
      nprobe = 1, shortlist = 60)
    assert(served.select("qid").distinct().count() == 10)
    // build persisted the measured curve with the index (VERDICT r9 #3)
    assert(spark.read.parquet(s"$tmp/idx/curve").count() ==
      (Similarity.CurveNprobes.size * Similarity.CurveShortlists.size).toLong)
  }

  /** q129 MMR diversification: the greedy must actually TRADE relevance
    * for diversity — planted: the query's top-2 candidates are
    * near-duplicates of each other (1° apart), a third sits on the
    * OTHER side of the query (52° from the pair) with slightly lower
    * relevance. Plain top-k orders (10, 11, 12); MMR must pick the
    * diverse 12 at rank 2 and demote the redundant twin 11 to rank 3.
    * Plus the monotonicity theorem on the real corpus: per query, mmr
    * scores are non-increasing in rank (remaining shrinks and penalties
    * grow, so each step's max can only fall). */
  test("q129 MMR demotes the redundant twin and scores non-increasing") {
    import spark.implicits._
    def v(deg: Double) = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    val emb = Seq(
      (0L, v(0.0)),   // the query
      (10L, v(25.0)), // most relevant
      (11L, v(26.0)), // near-duplicate of 10 (1 degree apart)
      (12L, v(-27.0)) // diverse: 52 degrees from the 10/11 pair
    ).toDF("vec_id", "embedding")
    val base = Similarity.scaledOf(emb)
    val got = Similarity
      .mmrDiversify(Similarity.exactTopK(base, Similarity.MmrPool),
        base, Similarity.MmrK)
      .orderBy($"qid", $"rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))) // (qid, nid, mmr)
    assert(got.map(_._2).toSeq == Seq(10L, 12L, 11L),
      s"MMR must order (relevant, diverse, twin): ${got.toSeq}")
    // top-k WITHOUT the diversity term orders the twin second
    val plain = Similarity.exactTopK(base, 3).orderBy($"qid", $"rk")
      .collect().map(_.getLong(1))
    assert(plain.toSeq == Seq(10L, 11L, 12L), plain.toSeq.toString)
    // monotonicity on the real corpus
    val real = Similarity.q129MmrDiversify(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))) // (qid, rk, mmr)
      .groupBy(_._1)
    real.foreach { case (q, rows) =>
      val scores = rows.sortBy(_._2).map(_._3)
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"qid $q mmr not non-increasing: ${scores.toSeq}")
    }
    assert(real.forall(_._2.length == Similarity.MmrK))
  }

  /** Drift-gate AUTOMATION (VERDICT r12 #5): `audit --fail-over <p>`
    * turns the distortion report into a cron-consumable verdict. Exit
    * contract: 0 = within threshold, 3 = drifted (re-freeze), 2 = usage,
    * refusals keep their own channel (IllegalArgumentException → JVM 1).
    * Planted: a fresh build audits 0; a 3×-scaled appended batch (the
    * residuals the frozen codebooks never saw) audits 3. */
  test("PqIndexCli audit --fail-over: fresh exits 0, planted drift exits 3") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{expr, lit}
    val tmp = java.nio.file.Files.createTempDirectory("pqgate").toString
    assert(graft.app.PqIndexCli.run(spark, Seq("build", dir, s"$tmp/idx")) == 0)
    // fresh index vs its own fit-time baseline: exactly zero drift
    assert(graft.app.PqIndexCli.run(spark,
      Seq("audit", dir, s"$tmp/idx", "--fail-over", "50")) == 0)
    // plant drift: 3x-scaled vectors under fresh ids, appended against
    // the frozen models (the RangeJoinSpec shift shape)
    val shifted = graft.util.Tables(spark, dir, "embeddings")
      .filter($"vec_id" < 200)
      .select(($"vec_id" + 1000000L).as("vec_id"),
        expr("transform(embedding, x -> x * cast(3.0 as float))")
          .as("embedding"))
    shifted.write.mode("overwrite").parquet(s"$tmp/batch")
    assert(graft.app.PqIndexCli.run(spark,
      Seq("append", s"$tmp/idx", s"$tmp/batch")) == 0)
    // coverage refusal unchanged: auditing against the un-appended
    // corpus keeps ITS channel (throw), not exit 3
    intercept[IllegalArgumentException] {
      graft.app.PqIndexCli.run(spark,
        Seq("audit", dir, s"$tmp/idx", "--fail-over", "50"))
    }
    val covDir = s"$tmp/covraw"
    graft.util.Tables(spark, dir, "embeddings")
      .select($"vec_id", $"embedding", $"label")
      .union(shifted.withColumn("label", lit(99)))
      .write.mode("overwrite").parquet(s"$covDir/embeddings.parquet")
    assert(graft.app.PqIndexCli.run(spark,
      Seq("audit", covDir, s"$tmp/idx", "--fail-over", "50")) == 3,
      "3x-scaled appended batch must trip the 50-permille gate")
    // baseline-missing refusal: a library-built index (no CLI build)
    // has no distortion0 — refuse, don't report vacuous zero drift
    Similarity.savePqIndex(spark, dir, s"$tmp/bare")
    val e = intercept[IllegalArgumentException] {
      graft.app.PqIndexCli.run(spark,
        Seq("audit", dir, s"$tmp/bare", "--fail-over", "50"))
    }
    assert(e.getMessage.contains("no fit-time distortion baseline"),
      e.getMessage)
    // usage error is its own distinct code
    assert(graft.app.PqIndexCli.run(spark,
      Seq("audit", dir, s"$tmp/idx", "--bogus")) == 2)
  }

  /** The text-stack twin of the PQ gate: `TextIndexCli audit
    * --fail-over` trips on ANY of the three drift signals (avgdl, df
    * total-variation, worst per-language admit drift). */
  test("TextIndexCli audit --fail-over: fresh exits 0, planted drift exits 3") {
    import spark.implicits._
    import org.apache.spark.sql.functions.expr
    def clean(t: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(new java.net.URI(
        spark.conf.get("spark.sql.warehouse.dir")).getPath, t)
      if (loc.exists()) graft.util.Fs.rmTree(loc)
    }
    val name = "txtgate"
    Seq("_bm25", "_bm25_df", "_bm25_stats", "_bm25_frozen_stats",
      "_bm25_frozen_df", "_lm_cells", "_lm_ctx", "_lm_rates",
      "_lm_cuts", "_q_w", "_q_theta", "_q_rates")
      .foreach(sfx => clean(name + sfx))
    assert(graft.app.TextIndexCli.run(spark, Seq("build", dir, name)) == 0)
    // FULL frozen-corpus replay batch: every signal exactly zero (a
    // subset's per-language admit rates would legitimately differ from
    // the corpus-wide frozen rates — that would be real drift, not a
    // clean baseline)
    graft.util.Tables(spark, dir, "documents")
      .select($"doc_id", $"lang", $"text")
      .write.mode("overwrite").parquet("/tmp/txtgate_replay")
    assert(graft.app.TextIndexCli.run(spark,
      Seq("audit", name, "/tmp/txtgate_replay", "--fail-over", "50")) == 0)
    // plant index drift: 50 long new-vocabulary docs (the StreamingSpec
    // planted-drift shape) — avgdl + df TV move, the replay batch's LM
    // arm stays zero, the gate must still trip on the index signals
    spark.range(50)
      .select(($"id" + 900000L).as("doc_id"),
        expr("concat_ws(' ', transform(sequence(1, 200), " +
          "i -> concat('gatedrift', id, 'x', i)))").as("text"))
      .write.mode("overwrite").parquet("/tmp/txtgate_batch")
    assert(graft.app.TextIndexCli.run(spark,
      Seq("append", name, "/tmp/txtgate_batch")) == 0)
    assert(graft.app.TextIndexCli.run(spark,
      Seq("audit", name, "/tmp/txtgate_replay", "--fail-over", "50")) == 3,
      "new-vocabulary append must trip the 50-permille gate")
    // refusal keeps its channel: no freeze-time rates baseline — the
    // classifier side first (the LM check passes, the quality check
    // throws), then the LM side (checked before quality)
    clean(name + "_q_rates")
    intercept[IllegalArgumentException] {
      graft.app.TextIndexCli.run(spark,
        Seq("audit", name, "/tmp/txtgate_replay", "--fail-over", "50"))
    }
    clean(name + "_lm_rates")
    intercept[IllegalArgumentException] {
      graft.app.TextIndexCli.run(spark,
        Seq("audit", name, "/tmp/txtgate_replay", "--fail-over", "50"))
    }
    // usage error is its own distinct code
    assert(graft.app.TextIndexCli.run(spark,
      Seq("audit", name, "/tmp/txtgate_replay", "--wat")) == 2)
  }

  /** TextIndexCli mirrors PqIndexCli for the text stack — pin the
    * wiring: build persists postings + LM model, append grows the
    * postings at batch cost (df/stats absorbed), serve answers the
    * standing queries against the saved index with q122's exact rows,
    * and gate scores a batch against the frozen cuts. */
  test("TextIndexCli: build, append, serve, and gate wire correctly") {
    import spark.implicits._
    def clean(t: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(new java.net.URI(
        spark.conf.get("spark.sql.warehouse.dir")).getPath, t)
      if (loc.exists()) graft.util.Fs.rmTree(loc)
    }
    val name = "txtcli"
    Seq("_bm25", "_bm25_df", "_bm25_stats", "_bm25_frozen_stats",
      "_bm25_frozen_df", "_lm_cells", "_lm_ctx", "_lm_rates",
      "_lm_cuts", "_q_w", "_q_theta", "_q_rates")
      .foreach(sfx => clean(name + sfx))
    graft.app.TextIndexCli.run(spark, Seq("build", dir, name))
    val n0 = spark.table(s"${name}_bm25").count()
    assert(n0 > 0 && spark.table(s"${name}_lm_cuts").count() > 0)
    // served rankings off the CLI-built index = the inline q122 arm
    val served = graft.streaming.StreamingBm25.topKBatch(
        graft.operators.TextOps.Bm25Queries.toDF("qid", "term"),
        graft.streaming.StreamingBm25.loadPostings(spark, s"${name}_bm25"),
        graft.streaming.StreamingBm25.loadDf(spark, s"${name}_bm25"),
        graft.streaming.StreamingBm25.loadStats(spark, s"${name}_bm25"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    val inline = graft.operators.TextOps.q122Bm25(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(served == inline, s"CLI-served ≠ q122\n$served\n$inline")
    // append a shifted batch through the CLI: postings grow, stats absorb
    graft.util.Tables(spark, dir, "documents").filter($"doc_id" < 50)
      .select(($"doc_id" + 90000L).as("doc_id"), $"text")
      .write.mode("overwrite").parquet("/tmp/txtcli_batch")
    graft.app.TextIndexCli.run(spark,
      Seq("append", name, "/tmp/txtcli_batch"))
    assert(spark.table(s"${name}_bm25").count() > n0)
    assert(spark.table(s"${name}_bm25_stats")
      .select("n_docs").head.getLong(0) ==
      graft.util.Tables(spark, dir, "documents").count() + 50L)
    // gate wiring: frozen-corpus docs gate to the q118 non-tail set
    graft.util.Tables(spark, dir, "documents").filter($"doc_id" < 30)
      .select($"doc_id", $"lang", $"text")
      .write.mode("overwrite").parquet("/tmp/txtcli_gate")
    val (cells, ctx, cuts) =
      graft.streaming.StreamingLmGate.loadModel(spark, s"${name}_lm")
    val gated = graft.streaming.StreamingLmGate.gatedBatch(
        spark.read.parquet("/tmp/txtcli_gate"), cells, ctx, cuts)
      .collect()
    assert(gated.nonEmpty &&
      gated.exists(r => r.getBoolean(r.fieldIndex("admitted"))),
      "gate admitted nothing from the frozen corpus")
    // quality-gate wiring (r13): the frozen classifier gates the same
    // batch through the CLI path; the gate semantics themselves are
    // spec-pinned in ClassifierSpec
    assert(graft.app.TextIndexCli.run(spark,
      Seq("gate", name, "/tmp/txtcli_gate", "--quality")) == 0)
    assert(spark.table(s"${name}_q_w").count() ==
      graft.operators.Classifier.PerceptronBuckets + 1L)
    // audit wiring (r12; r13 adds the classifier admit-drift signal):
    // the staleness verb drives all drift gates against the CLI-built
    // artifacts (the signals themselves are spec-pinned in
    // StreamingSpec/ClassifierSpec) — must not throw on a frozen-corpus
    // replay batch
    graft.app.TextIndexCli.run(spark,
      Seq("audit", name, "/tmp/txtcli_gate"))
    // hybrid wiring (r12): serve --hybrid fuses the CLI-built postings
    // with a saved PQ index — the fused rows themselves are spec-proven
    // in StreamingSpec; here pin that the CLI path drives hybridServe
    // without error (it prints the fused top-k)
    val pqTmp = java.nio.file.Files.createTempDirectory("txtcli_pq").toString
    Similarity.savePqIndex(spark, dir, pqTmp)
    graft.app.TextIndexCli.run(spark,
      Seq("serve", name, "--hybrid", pqTmp, dir))
  }

  /** Curve-informed serving (VERDICT r9 #3): the persisted q115 curve —
    * measured at sf0.1, where ADC crowding-out makes MORE probes read
    * MORE rows for LESS recall — must drive `--recall-target` to the
    * cheapest measured cell instead of the fixed q111 defaults. At this
    * SF target 0.9 selects (nprobe=1, shortlist=60): ~6x fewer ADC rows
    * scanned than the default (6, 60) cell. And the mode must REFUSE
    * rather than silently under-serve: an unreachable target and a
    * missing curve both throw. */
  test("recall-target serving picks the cheapest measured curve cell") {
    val sf01 = "/root/testdata/sf0.1"
    val tmp = java.nio.file.Files.createTempDirectory("pqcurve").toString
    Similarity.savePqIndex(spark, sf01, s"$tmp/idx")
    Similarity.savePqIndexCurve(spark, sf01, s"$tmp/idx")
    val curve = spark.read.parquet(s"$tmp/idx/curve").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(5)))).toMap
    val (np, sl, scanned) = Similarity.chooseServeKnobs(spark, s"$tmp/idx", 0.9)
    assert((np, sl) == (1, 60),
      s"target 0.9 chose ($np, $sl); curve was $curve")
    assert(curve((np.toLong, sl.toLong))._2 >= 0.9)
    // the chosen cell must actually be the cheap one: the q111 default
    // (6, 60) scans ~6x more ADC rows at this SF
    val defaultScanned = curve((6L, 60L))._1
    assert(defaultScanned >= 5 * scanned,
      s"default scans $defaultScanned vs chosen $scanned — expected ~6x")
    // refusal: no measured cell reaches 0.999
    val over = intercept[IllegalArgumentException] {
      Similarity.chooseServeKnobs(spark, s"$tmp/idx", 0.999)
    }
    assert(over.getMessage.contains("no (nprobe, shortlist) cell"))
    // refusal: an index without a persisted curve names the fix
    val missing = intercept[IllegalArgumentException] {
      Similarity.chooseServeKnobs(spark, s"$tmp/nocurve", 0.5)
    }
    assert(missing.getMessage.contains("no persisted recall/cost curve"))
    // hybrid composition (r12): serve --hybrid honors --recall-target —
    // the curve-chosen knobs drive the vector arm (wiring; the fused
    // output itself is spec-pinned in StreamingSpec) and the inherited
    // refusal fires through the CLI path
    def cleanT(t: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(new java.net.URI(
        spark.conf.get("spark.sql.warehouse.dir")).getPath, t)
      if (loc.exists()) graft.util.Fs.rmTree(loc)
    }
    Seq("_bm25", "_bm25_df", "_bm25_stats", "_bm25_frozen_stats",
      "_bm25_frozen_df").foreach(sfx => cleanT("hytgt" + sfx))
    graft.streaming.StreamingBm25.saveBm25Index(
      graft.util.Tables(spark, sf01, "documents")
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text")), "hytgt_bm25")
    graft.app.TextIndexCli.run(spark, Seq("serve", "hytgt",
      "--hybrid", s"$tmp/idx", sf01, "--recall-target", "0.9"))
    val overCli = intercept[IllegalArgumentException] {
      graft.app.TextIndexCli.run(spark, Seq("serve", "hytgt",
        "--hybrid", s"$tmp/idx", sf01, "--recall-target", "0.999"))
    }
    assert(overCli.getMessage.contains("no (nprobe, shortlist) cell"))
  }

  /** q92: planted orphans and a NULL child key over a minimal star
    * schema — NULL counts as an orphan ROW (it can never match a
    * parent) but not as an orphan KEY. Real testdata has zero orphans,
    * so these semantics only get exercised here. */
  /** q107 semantics, exactly: the within-cluster dedup must find
    * PRECISELY the q43 brute pairs whose endpoints share a k-means
    * cell — no more (exact cosine on the survivors), no fewer (the
    * within-cell join is exhaustive) — with n_removed = the distinct
    * higher ids per cell and the vector counts partitioning the corpus. */
  test("q107 finds exactly the co-clustered brute pairs") {
    val brute = Similarity.q43EmbeddingDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val cellOf = Similarity.cellAssignments(spark, dir).collect()
      .map(r => r.getLong(r.fieldIndex("vec_id")) ->
        r.getInt(r.fieldIndex("cell"))).toMap
    val coClustered = brute.filter { case (i, j) => cellOf(i) == cellOf(j) }
    val wantPairs = coClustered.groupBy(p => cellOf(p._1).toLong)
      .map { case (c, ps) => c -> ((ps.length.toLong, ps.map(_._2).distinct.length.toLong)) }
    val got = Similarity.q107SemanticDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._2).sum == cellOf.size, "vector counts must partition the corpus")
    got.foreach { case (cell, _, nPairs, nRemoved) =>
      val (wp, wr) = wantPairs.getOrElse(cell, (0L, 0L))
      assert(nPairs == wp && nRemoved == wr,
        s"cell $cell: got ($nPairs, $nRemoved) want ($wp, $wr)")
    }
    assert(got.map(_._3).sum == coClustered.length.toLong)
    // the forfeited cross-cluster pairs are the documented trade; on
    // this at-threshold isotropic corpus some dup pairs must still
    // co-cluster, or the operator would be vacuous here
    assert(coClustered.nonEmpty && brute.length >= coClustered.length)
  }

  test("q92 planted: orphan rows and keys counted with NULL-as-orphan-row") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("fkaudit").toString
    def w(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$tmp/$name.parquet")
    w("nation", Seq(1L, 2L).toDF("n_nationkey"))
    w("customer", Seq(
      (10L, Some(1L)), (11L, Some(2L)), (12L, Some(3L)), // 3 = orphan
      (13L, Some(3L)),                                   // same orphan key
      (14L, None))                                       // NULL: orphan row only
      .toDF("c_custkey", "c_nationkey"))
    w("supplier", Seq((20L, 1L)).toDF("s_suppkey", "s_nationkey"))
    w("orders", Seq((30L, 10L), (31L, 99L)).toDF("o_orderkey", "o_custkey"))
    w("lineitem", Seq((30L, 40L, 20L), (32L, 41L, 21L))
      .toDF("l_orderkey", "l_partkey", "l_suppkey"))
    w("part", Seq(40L).toDF("p_partkey"))
    w("documents", Seq(0L).toDF("doc_id"))
    w("embeddings", Seq(0L, 5L).toDF("vec_id"))
    val got = Relational.q92FkAudit(spark, tmp).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // (n_child, n_keys, n_orphan_rows, n_orphan_keys)
    assert(got("customer.c_nationkey->nation") == ((5L, 3L, 3L, 1L)), got)
    assert(got("orders.o_custkey->customer") == ((2L, 2L, 1L, 1L)), got)
    assert(got("lineitem.l_orderkey->orders") == ((2L, 2L, 1L, 1L)), got)
    assert(got("lineitem.l_partkey->part") == ((2L, 2L, 1L, 1L)), got)
    assert(got("lineitem.l_suppkey->supplier") == ((2L, 2L, 1L, 1L)), got)
    assert(got("embeddings.vec_id->documents") == ((2L, 2L, 1L, 1L)), got)
    assert(got("supplier.s_nationkey->nation") == ((1L, 1L, 0L, 0L)), got)
  }

  /** q140 planted: hand-computed cumulative / trapezoid-integral /
    * elapsed over a 5-hour grid with gaps, two types (the dense grid
    * fills type b's silent hours with true zeros that integrate and
    * accumulate like any other value). */
  test("q140 planted: cumulative sum, trapezoid integral and elapsed exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // type a: hours 0,2,4 carry 2x/3x/1x value 1.5; type b: hour 2 one 2.0
    val rows =
      (0 until 2).map(i => ("a", 0, 1.5, i)) ++
      (0 until 3).map(i => ("a", 2, 1.5, i)) ++
      (0 until 1).map(i => ("a", 4, 1.5, i)) ++
      Seq(("b", 2, 2.0, 0))
    val ev = rows.zipWithIndex.map { case ((tpe, h, v, _), k) =>
      (k.toLong, (600000L + h) * 3600000000L, 1L, tpe, v, "{}")
    }.toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select($"event_id", timestamp_micros($"us").as("ts"), $"user_id",
        $"event_type", $"value", $"props")
    val got = Relational.seriesAccumulateOf(ev).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getDouble(3),
        if (r.isNullAt(4)) -1L else r.getLong(4)))
    // integral steps (1e4-scaled): a = 0,30000,45000,45000,15000 ->
    // cum 0,30000,75000,120000,135000 -> /2e4 = 0,1.5,3.75,6.0,6.75
    val want = Seq(
      ("a", 2L, 0.0, -1L), ("a", 2L, 1.5, -1L), ("a", 5L, 3.75, 2L),
      ("a", 5L, 6.0, -1L), ("a", 6L, 6.75, 2L),
      ("b", 0L, 0.0, -1L), ("b", 0L, 0.0, -1L), ("b", 1L, 1.0, -1L),
      ("b", 1L, 2.0, -1L), ("b", 1L, 2.0, -1L))
    assert(got.toSeq == want, got.toSeq.mkString("\n"))
  }

  /** q141: the engine's 9-candidate Holt fit + forecast must match a
    * driver-side fold running the SAME recurrence in the SAME IEEE op
    * order, bit for bit (the q106/q110 driver-model convention); a
    * perfectly linear series must fit with in-sample SSE exactly 0 and
    * forecast the continuation exactly; a single-hour span emits
    * nothing (no trend estimate). */
  test("q141 Holt forecast matches the driver fold; linear series exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val counts = Map("a" -> (1 to 8), "c" -> Seq(5, 1, 4, 2, 6, 3, 7, 2))
    val rows = for {
      (tpe, ns) <- counts.toSeq; (n, h) <- ns.zipWithIndex
      i <- 0 until n
    } yield (tpe.hashCode.toLong * 1000 + h * 100 + i,
      (600000L + h) * 3600000000L, 1L, tpe, 0.0, "{}")
    val ev = rows.toDF("event_id", "us", "user_id", "event_type", "value",
        "props")
      .select($"event_id", timestamp_micros($"us").as("ts"), $"user_id",
        $"event_type", $"value", $"props")
    // the driver model: same recurrence, same candidate grid, same
    // lexicographic (sse, alpha, beta) argmin
    def holtDriver(xs: Seq[Double]): (Double, Double, Double, Double, Double) = {
      val grid = Seq(0.2, 0.5, 0.8)
      (for (a <- grid; b <- grid) yield {
        var l = 0.0; var bb = 0.0; var sse = 0.0; var i = 0
        for (x <- xs) {
          if (i == 0) { l = x; bb = 0.0 }
          else if (i == 1) { bb = x - l; l = x }
          else {
            val pred = l + bb
            sse += (x - pred) * (x - pred)
            val l2 = a * x + (1.0 - a) * (l + bb)
            bb = b * (l2 - l) + (1.0 - b) * bb
            l = l2
          }
          i += 1
        }
        (sse, a, b, l, bb)
      }).min
    }
    val got = Relational.holtForecastOf(ev).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))))
      .toMap
    assert(got.size == 12) // 2 types x 6 horizons
    for ((tpe, ns) <- counts; m <- 1 to 6) {
      val (sse, a, b, l, bb) = holtDriver(ns.map(_.toDouble).toSeq)
      val wantF = l + m.toDouble * bb
      assert(got((tpe, m.toLong)) == ((wantF, a, b, sse)),
        s"$tpe m=$m: got ${got((tpe, m.toLong))} want ($wantF, $a, $b, $sse)")
    }
    // the linear series property the operator exists for
    val (sseA, _, _, _, _) = holtDriver((1 to 8).map(_.toDouble))
    assert(sseA == 0.0, s"linear series must fit exactly, sse $sseA")
    assert(got(("a", 1L))._1 == 9.0 && got(("a", 6L))._1 == 14.0,
      "linear series must forecast the continuation exactly")
    // single-hour span: no trend estimate, nothing to forecast
    val one = Seq((1L, 600000L * 3600000000L, 1L, "z", 0.0, "{}"))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select($"event_id", timestamp_micros($"us").as("ts"), $"user_id",
        $"event_type", $"value", $"props")
    assert(Relational.holtForecastOf(one).count() == 0L)
  }

  /** q145 planted: hand-computed spread / mode / stddev over a 5-hour
    * grid — the mode tie-break (highest frequency, then SMALLEST value),
    * the dense grid's true zeros entering all three aggregates, and the
    * exact-moment stddev (one int64-exact division then one sqrt)
    * checked against driver arithmetic bit for bit; a single-hour
    * corpus reports NULL stddev (T = 1). */
  test("q145 planted: spread, mode tie-break and exact-moment stddev") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def evOf(counts: Map[String, Seq[Int]]) = {
      val rows = for {
        (tpe, ns) <- counts.toSeq; (n, h) <- ns.zipWithIndex
        i <- 0 until n
      } yield (tpe.hashCode.toLong * 100000 + h * 500 + i,
        (600000L + h) * 3600000000L, 1L, tpe, 0.0, "{}")
      rows.toDF("event_id", "us", "user_id", "event_type", "value", "props")
        .select($"event_id", timestamp_micros($"us").as("ts"), $"user_id",
          $"event_type", $"value", $"props")
    }
    // a: counts [2,2,7,7,1] — 2 and 7 tie at frequency 2, mode must be
    //    the SMALLER (2); spread 6; moments T=5 sx=19 sx2=107 ->
    //    (5*107-361)/20 = 174/20, stddev = sqrt(8.7)
    // b: constant [1,1,1,1,1] — spread 0, mode 1, stddev exactly 0
    // c: hours 0 and 4 only (count 3) — the grid's zeros DOMINATE:
    //    mode 0 (freq 3), spread 3, (5*18-36)/20 = 54/20
    val got = Relational.seriesStatsOf(evOf(Map(
        "a" -> Seq(2, 2, 7, 7, 1),
        "b" -> Seq(1, 1, 1, 1, 1),
        "c" -> Seq(3, 0, 0, 0, 3))))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))).toMap
    assert(got("a") == ((6L, 2L, math.sqrt(174.0 / 20.0))), got("a"))
    assert(got("b") == ((0L, 1L, 0.0)), got("b"))
    assert(got("c") == ((3L, 0L, math.sqrt(54.0 / 20.0))), got("c"))
    // a one-hour corpus has T = 1: spread/mode degenerate, stddev NULL
    val one = Relational.seriesStatsOf(evOf(Map("z" -> Seq(4)))).collect()
    assert(one.length == 1 && one(0).getLong(1) == 0L &&
      one(0).getLong(2) == 4L && one(0).isNullAt(3), one.toSeq)
  }

  /** q145 overflow (ADVICE r15 #3): moment PRODUCTS past 2⁶³ stay exact
    * on the decimal(38,0) path — planted through the grid-frame entry
    * (no real corpus reaches these counts at test scale): 10,000 hours
    * alternating n = 3·10⁷ / 3·10⁷+2 puts tt·sx2 ≈ 9·10²² and
    * sx² ≈ 9·10²² far past the old int64 ceiling while the SUMS sx/sx2
    * stay in range; expected stddev from driver-side BigInt arithmetic
    * (the same correctly-rounded to-double cast then one sqrt). */
  test("q145 overflow: moment products past 2^63 stay exact (decimal path)") {
    import spark.implicits._
    val t = 10000
    val ns = (0 until t).map(h => if (h % 2 == 0) 30000000L else 30000002L)
    val j = ns.zipWithIndex.map { case (n, h) => ("big", h.toLong, n) }
      .toDF("event_type", "h", "n")
    val got = Relational.seriesStatsFromGrid(j).collect()
    assert(got.length == 1)
    val tt = BigInt(t)
    val sx = ns.map(BigInt(_)).sum
    val sx2 = ns.map(n => BigInt(n) * n).sum
    val num = tt * sx2 - sx * sx
    // the point: BOTH products tower past 2⁶³ (the old int64 path dies
    // here) while their difference is tiny — the catastrophic
    // cancellation only exact wide arithmetic survives
    assert(tt * sx2 > BigInt(Long.MaxValue) && sx * sx > BigInt(Long.MaxValue),
      s"plant too small: ${tt * sx2}")
    val expected = math.sqrt(num.toDouble / (tt * (tt - 1)).toDouble)
    assert(got(0).getLong(1) == 2L && got(0).getLong(2) == 30000000L &&
      got(0).getDouble(3) == expected, got.toSeq)
  }

  /** q146 planted: the selectors run on ACTUAL points (silent hours
    * never enter — InfluxQL's own selector semantics, unlike q145's
    * fill(0) aggregates): hand-computed first/last by hour, odd and
    * even (half-integer) medians, and InfluxDB's rounded-rank 95th
    * percentile — 1-based rank floor(0.95T + 0.5) = (95T+50) div 100
    * (ADVICE r15 #1), including a T = 11 series where the rounded rank
    * (10) DIFFERS from the previous ceiling rank (11). */
  test("q146 planted: first/last/median/percentile selector semantics") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // a: all five hours active [5,3,8,1,9] — first 5, last 9, sorted
    //    [1,3,5,8,9] (T=5 odd) -> median 5.0, p95 rank (475+50)//100=5 -> 9
    // b: hours 1 and 3 ONLY (gaps absent from the point set): first 4,
    //    last 3, sorted [3,4] (T=2 even) -> median 3.5, p95 rank 2 -> 4
    // c: hours 0..10 with counts 1..11 — T=11, rank (1045+50)//100=10
    //    -> 10, where ceil(10.45)=11 would have picked the max (11)
    val rows = (Seq(5, 3, 8, 1, 9).zipWithIndex.map { case (n, h) =>
        ("a", h, n) } ++ Seq(("b", 1, 4), ("b", 3, 3)) ++
        (0 to 10).map(h => ("c", h, h + 1))).flatMap {
      case (tpe, h, n) => (0 until n).map(i =>
        (tpe.hashCode.toLong * 100000 + h * 500 + i,
          (600000L + h) * 3600000000L, 1L, tpe, 0.0, "{}"))
    }
    val ev = rows.toDF("event_id", "us", "user_id", "event_type", "value",
        "props")
      .select($"event_id", timestamp_micros($"us").as("ts"), $"user_id",
        $"event_type", $"value", $"props")
    val got = Relational.seriesSelectorsOf(ev).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4)))).toMap
    assert(got == Map(
      "a" -> ((5L, 9L, 5.0, 9L)),
      "b" -> ((4L, 3L, 3.5, 4L)),
      "c" -> ((1L, 11L, 6.0, 10L))), got)
  }

  /** q147 planted: InfluxDB's ranked-selector tie rule — equal values
    * resolve to the EARLIER timestamp — plus both arms' ordering over a
    * hand-built series. */
  test("q147 planted: top/bottom ranks with the earlier-timestamp tie rule") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // counts by hour: [7, 2, 7, 5, 2] — top: 7@h0, 7@h2 (tie -> earlier
    // first), 5@h3; bottom: 2@h1, 2@h4 (tie -> earlier), 5@h3
    val rows = Seq(7, 2, 7, 5, 2).zipWithIndex.flatMap { case (n, h) =>
      (0 until n).map(i => (h * 500L + i,
        (600000L + h) * 3600000000L, 1L, "a", 0.0, "{}"))
    }
    val ev = rows.toDF("event_id", "us", "user_id", "event_type", "value",
        "props")
      .select($"event_id", timestamp_micros($"us").as("ts"), $"user_id",
        $"event_type", $"value", $"props")
    def hourStr(h: Long) = java.time.Instant
      .ofEpochSecond((600000L + h) * 3600L).toString
      .replace("T", " ").replace("Z", "")
    val got = Relational.topBottomOf(ev).collect()
      .map(r => (r.getString(1), r.getInt(2), r.getString(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      ("bottom", 1, hourStr(1), 2L), ("bottom", 2, hourStr(4), 2L),
      ("bottom", 3, hourStr(3), 5L),
      ("top", 1, hourStr(0), 7L), ("top", 2, hourStr(2), 7L),
      ("top", 3, hourStr(3), 5L)), got.toSeq)
  }

  /** q148 planted: the daily tier from a hand-built hourly rollup —
    * exact scaled-long daily sums (one division per output double),
    * the per-event mean, day-boundary splitting, and the active-hours
    * burst envelope over actual points. */
  test("q148 planted: daily cascade from hourly buckets is exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // hours 22, 23 (day 0) and 25 (day 1): counts 2, 3, 4 with per-event
    // value 0.25 -> day 0: n=5, sum=1.25, mean=0.25, 2 active hours,
    // max 3 min 2; day 1: n=4, sum=1.0, mean=0.25, 1 active hour
    val rows = Seq((22, 2), (23, 3), (25, 4)).flatMap { case (h, n) =>
      (0 until n).map(i => (h * 500L + i, h.toLong * 3600000000L, 1L,
        "a", 0.25, "{}"))
    }
    val ev = rows.toDF("event_id", "us", "user_id", "event_type", "value",
        "props")
      .select($"event_id", timestamp_micros($"us").as("ts"), $"user_id",
        $"event_type", $"value", $"props")
    val got = Relational.dailyFromHourly(Relational.hourBuckets(ev))
      .collect()
      .map(r => r.getString(1) -> ((r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getLong(5), r.getLong(6), r.getLong(7))))
      .toMap
    assert(got == Map(
      "1970-01-01 00:00:00" -> ((5L, 1.25, 0.25, 2L, 3L, 2L)),
      "1970-01-02 00:00:00" -> ((4L, 1.0, 0.25, 1L, 4L, 4L))), got)
  }

  /** q149 planted: EMA recurrence driver-exact (same IEEE op order),
    * CMO gain/loss window hand-computed, warm-up and zero-change NULLs. */
  test("q149 planted: EMA fold and CMO window with warm-up semantics") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val counts = Map("a" -> Seq(4, 2, 6, 1, 1, 9), "b" -> Seq.fill(6)(3))
    val rows = for {
      (tpe, ns) <- counts.toSeq; (n, h) <- ns.zipWithIndex
      i <- 0 until n
    } yield (tpe.hashCode.toLong * 100000 + h * 500 + i,
      (600000L + h) * 3600000000L, 1L, tpe, 0.0, "{}")
    val ev = rows.toDF("event_id", "us", "user_id", "event_type", "value",
        "props")
      .select($"event_id", timestamp_micros($"us").as("ts"), $"user_id",
        $"event_type", $"value", $"props")
    val got = Relational.techIndicatorsOf(ev).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3),
          if (r.isNullAt(4)) Double.NaN else r.getDouble(4))))
      .toMap
    assert(got.size == 12)
    // driver EMA: the same fold, same op order
    def emaOf(ns: Seq[Int]): Seq[Double] =
      ns.map(_.toDouble).tail.scanLeft(ns.head.toDouble)(
        (e, x) => x * 0.2 + e * 0.8)
    val wstarts = (0 to 5).map(h => java.time.Instant
      .ofEpochSecond((600000L + h) * 3600L).toString
      .replace("T", " ").replace("Z", ""))
    for ((tpe, ns) <- counts; (w, i) <- wstarts.zipWithIndex) {
      val (n, e, _) = got((tpe, w))
      assert(n == ns(i).toLong && e == emaOf(ns)(i), s"$tpe h$i: ${got((tpe, w))}")
    }
    // CMO: diffs of a = [-2,4,-5,0,8]; t4 windows are full from hour 4:
    // h4 (-2,4,-5,0): G=4 L=7 -> -300/11; h5 (4,-5,0,8): G=12 L=5 -> 700/17
    val aCmo = wstarts.map(w => got(("a", w))._3)
    assert(aCmo.take(4).forall(_.isNaN), s"warm-up must be NULL: $aCmo")
    assert(aCmo(4) == -3.0 * 100.0 / 11.0 && aCmo(5) == 7.0 * 100.0 / 17.0,
      aCmo)
    // constant series: every window has G+L=0 -> CMO NULL forever (the
    // EMA is covered by the driver-fold loop above — note x·0.2 + e·0.8
    // of a constant 3 reads 3.0000000000000004, NOT 3.0: 0.6 + 2.4
    // rounds up, on BOTH engines identically)
    assert(wstarts.forall(w => got(("b", w))._3.isNaN), got)
  }

  /** q152 planted: fill(linear) semantics on hand-built gaps — interior
    * gaps interpolate between the NEIGHBORING ACTUAL points (exact
    * fractions, driver-checked bit for bit), actual hours keep their own
    * mean untouched, and leading/trailing gaps stay NULL (InfluxDB's
    * edge rule — no extrapolation). */
  test("q152 fill(linear): interior interpolation, NULL edges") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // type a: actual at h=2 (mean 1.0), h=5 (mean 2.5), h=6 (mean 2.0)
    //   -> h=3: 1.0 + 1.5*(1/3) = 1.5, h=4: 1.0 + 1.5*(2/3) = 2.0
    // type b: actual at h=5 (mean 4.0) ONLY -> h=2..4 leading NULL,
    //   h=6 trailing NULL (the global grid spans h=2..6)
    val pts = Seq(("a", 2, 1.0), ("a", 5, 2.5), ("a", 6, 2.0),
      ("b", 5, 4.0))
    val ev = pts.zipWithIndex.map { case ((tpe, h, v), i) =>
        (i.toLong, (600000L + h) * 3600000000L, 1L, tpe, v, "{}")
      }.toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select($"event_id", timestamp_micros($"us").as("ts"), $"user_id",
        $"event_type", $"value", $"props")
    def wstart(h: Int) = java.time.Instant
      .ofEpochSecond((600000L + h) * 3600L).toString
      .replace("T", " ").replace("Z", "")
    val got = Relational.gapfillLinearOf(ev).collect()
      .map(r => (r.getString(1), r.getString(0)) -> ((r.getLong(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))).toMap
    assert(got.size == 10, got.size) // 2 types x hours 2..6
    // interior interpolation: the driver computes the same parse tree
    def lerp(pv: Double, nv: Double, dh: Long, dH: Long) =
      pv + (nv - pv) * dh.toDouble / dH.toDouble
    assert(got(("a", wstart(2))) == ((1L, 1.0)))
    assert(got(("a", wstart(3))) == ((0L, lerp(1.0, 2.5, 1, 3))))
    assert(got(("a", wstart(4))) == ((0L, lerp(1.0, 2.5, 2, 3))))
    assert(got(("a", wstart(5))) == ((1L, 2.5)))
    assert(got(("a", wstart(6))) == ((1L, 2.0)))
    assert(got(("a", wstart(3)))._2 == 1.5 && got(("a", wstart(4)))._2 == 2.0)
    // edges: leading and trailing gaps never extrapolate
    assert(got(("b", wstart(5))) == ((1L, 4.0)))
    for (h <- Seq(2, 3, 4, 6))
      assert(got(("b", wstart(h)))._1 == 0L &&
        got(("b", wstart(h)))._2.isNaN, s"b h=$h: ${got(("b", wstart(h)))}")
  }

  /** q153 planted: the deterministic sample IS the md5("type:hour")
    * order (driver-replayed), a series with fewer than N points returns
    * all of them, and the draw is REPLAYABLE — the whole divergence
    * from InfluxDB's RNG sample, asserted as two identical runs. */
  test("q153 sample: md5-order draw, short series, replayable") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val counts = Map(
      "a" -> (0 until 12).map(h => (h, h + 1)), // 12 points, sample 5
      "b" -> Seq((2, 7), (5, 9))) // 2 points < N: both kept
    val rows = for {
      (tpe, hs) <- counts.toSeq; (h, n) <- hs; i <- 0 until n
    } yield (tpe.hashCode.toLong * 100000 + h * 500 + i,
      (600000L + h) * 3600000000L, 1L, tpe, 0.0, "{}")
    val ev = rows.toDF("event_id", "us", "user_id", "event_type", "value",
        "props")
      .select($"event_id", timestamp_micros($"us").as("ts"), $"user_id",
        $"event_type", $"value", $"props")
    def md5Hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def wstart(h: Int) = java.time.Instant
      .ofEpochSecond((600000L + h) * 3600L).toString
      .replace("T", " ").replace("Z", "")
    // the driver draw: hours ordered by md5("type:epochHour"), first N
    def draw(tpe: String, hs: Seq[(Int, Int)]) = hs
      .sortBy { case (h, _) => (md5Hex(s"$tpe:${600000L + h}"), h) }
      .take(Relational.SampleN)
      .zipWithIndex
      .map { case ((h, n), i) =>
        (tpe, (i + 1).toLong, wstart(h), n.toLong) }
    val want = counts.toSeq.flatMap { case (t, hs) => draw(t, hs) }
      .sortBy(r => (r._1, r._2))
    val run1 = Relational.sampleSeriesOf(ev).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3))).toSeq
    assert(run1 == want, s"got $run1\nwant $want")
    assert(run1.count(_._1 == "b") == 2) // short series: all points
    val run2 = Relational.sampleSeriesOf(ev).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3))).toSeq
    assert(run2 == run1, "the draw must be replayable")
  }

  /** q154 planted: the two-tag product splits one event_type into
    * per-user-bucket series, the dense grid makes EMPTY days real rows
    * (n_day 0, NULL envelope, NULL per-event mean, silent_hours = the
    * day's span coverage), and the daily sums/means are the exact
    * scaled-long arithmetic — all hand-computed. */
  test("q154 two-tag rollup: tag product, silent days, exact daily math") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // base hour 600000 = 25000 days exactly (clean day boundary).
    // user 1 (bucket 1): day 0 -> h0: 2 events @1.0, h1: 1 event @0.5
    // user 2 (bucket 2): day 1 -> h25: 3 events @0.25
    // span = hours 0..25 -> day 0 has 24 grid hours, day 1 has 2
    val rows = Seq(
      (1L, 0, 1L, 1.0), (2L, 0, 1L, 1.0), (3L, 1, 1L, 0.5),
      (4L, 25, 2L, 0.25), (5L, 25, 2L, 0.25), (6L, 25, 2L, 0.25))
    val ev = rows.map { case (id, h, u, v) =>
        (id, (600000L + h) * 3600000000L, u, "a", v, "{}")
      }.toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select($"event_id", timestamp_micros($"us").as("ts"), $"user_id",
        $"event_type", $"value", $"props")
    def dstart(day: Long) = java.time.Instant
      .ofEpochSecond((25000L + day) * 86400L).toString
      .replace("T", " ").replace("Z", "")
    val got = Relational.twoTagRollupOf(ev).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)) ->
        ((r.getLong(3),
          r.getDouble(4),
          if (r.isNullAt(5)) Double.NaN else r.getDouble(5),
          r.getLong(6), r.getLong(7),
          if (r.isNullAt(8)) -1L else r.getLong(8),
          if (r.isNullAt(9)) -1L else r.getLong(9)))).toMap
    assert(got.size == 4, got.keys) // 2 buckets x 2 days
    assert(got(("a", 1L, dstart(0))) ==
      ((3L, 2.5, 25000.0 / (10000.0 * 3.0), 2L, 22L, 2L, 1L)))
    val silent = got(("a", 1L, dstart(1)))
    assert(silent._1 == 0L && silent._2 == 0.0 && silent._3.isNaN &&
      silent._4 == 0L && silent._5 == 2L && silent._6 == -1L &&
      silent._7 == -1L, silent)
    assert(got(("a", 2L, dstart(0)))._4 == 0L &&
      got(("a", 2L, dstart(0)))._5 == 24L &&
      got(("a", 2L, dstart(0)))._3.isNaN)
    assert(got(("a", 2L, dstart(1))) ==
      ((3L, 0.75, 7500.0 / (10000.0 * 3.0), 1L, 1L, 3L, 3L)))
  }

  /** q155 planted: the inventory is the tag-set census — a gapless
    * series reads density 1000, a singleton spans one hour, and the
    * sparse stray tag (the cardinality-explosion shape: wide span, few
    * points) reads the floor-division permille — all hand-computed,
    * first/last hour strings included. */
  test("q155 inventory: tag-set census, density permille, stray series") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = Seq(
      // a|u1: hours 0 (2 events) + 5 (1) -> n 3, active 2, span 6
      (1L, 0, 1L, "a"), (2L, 0, 1L, "a"), (3L, 5, 1L, "a"),
      // a|u2: singleton at hour 7 -> span 1, density 1000
      (4L, 7, 2L, "a"),
      // b|u3: the stray — hours 0 and 100 -> span 101, density 19
      (5L, 0, 3L, "b"), (6L, 100, 3L, "b"))
    val ev = rows.map { case (id, h, u, t) =>
        (id, (600000L + h) * 3600000000L, u, t, 1.0, "{}")
      }.toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select($"event_id", timestamp_micros($"us").as("ts"), $"user_id",
        $"event_type", $"value", $"props")
    def wstart(h: Int) = java.time.Instant
      .ofEpochSecond((600000L + h) * 3600L).toString
      .replace("T", " ").replace("Z", "")
    val got = Relational.seriesInventoryOf(ev).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getString(6), r.getString(7)))).toMap
    assert(got.size == 3, got.keys) // series cardinality = the row count
    assert(got(("a", 1L)) ==
      ((3L, 2L, 6L, (2L * 1000) / 6, wstart(0), wstart(5))))
    assert(got(("a", 1L))._4 == 333L)
    assert(got(("a", 2L)) == ((1L, 1L, 1L, 1000L, wstart(7), wstart(7))))
    assert(got(("b", 3L)) ==
      ((2L, 2L, 101L, 19L, wstart(0), wstart(100))))
  }

  /** q151 planted (VERDICT r15 #1, the measured contrast): a strong
    * daily cycle inflates q105's MAD so far that an off-cycle dip
    * INSIDE the historical range never breaches the median/3-MAD band —
    * and the dip sits in the PAST, where q142/q144 (newest-hour-only)
    * never look. q151's fitted-residual arm catches exactly this. The
    * planted feed: counts 10+4·(h%24) over 4 days (median 54, MAD 24 →
    * threshold 72, max deviation 48 → q105 provably silent), with day
    * 2's peak hour (normally 102) dipped to 14 — deviation 40, still
    * inside the band. Engine rows must match a driver-side 27-candidate
    * argmin + winner re-scan bit for bit; the pure periodic twin type
    * pins the rmse = 0 quiet side. */
  test("q151 fitted: off-cycle dip inside the median band pages q151, not q105") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val P = Relational.HoltSeasonPeriod
    def cyc(h: Int) = 10 + 4 * (h % 24)
    val dipHour = 71 // day 2, cycle peak: 102 -> 14
    val counts = Map(
      "d" -> (0 to 95).map(h => if (h == dipHour) 14 else cyc(h)),
      "p" -> (0 to 95).map(cyc))
    val rows = for {
      (tpe, ns) <- counts.toSeq; (n, h) <- ns.zipWithIndex
      i <- 0 until n
    } yield (tpe.hashCode.toLong * 1000000 + h * 500 + i,
      (600000L + h) * 3600000000L, 1L, tpe, 0.0, "{}")
    val ev = rows.toDF("event_id", "us", "user_id", "event_type", "value",
        "props")
      .select($"event_id", timestamp_micros($"us").as("ts"), $"user_id",
        $"event_type", $"value", $"props")
    // the season-blind arm stays SILENT on both types — the dip included
    val q105 = Relational.anomalyHoursOf(ev).collect()
    assert(q105.isEmpty, q105.toSeq)
    // driver model: the q143 argmin fold, re-scanned emitting every pred
    def holtSeaFit(xs: Seq[Double]): (Double, Seq[Double]) = {
      val grid = Seq(0.2, 0.5, 0.8)
      val l0 = xs.take(P).foldLeft(0.0)(_ + _) / P.toDouble
      val s0 = xs.take(P).map(_ - l0)
      val fits = for (a <- grid; b <- grid; g <- grid) yield {
        var l = l0; var bb = 0.0; var seas = s0; var sse = 0.0
        val preds = Seq.newBuilder[Double]
        for (x <- xs.drop(P)) {
          val sold = seas.head
          val pred = l + bb + sold
          preds += pred
          sse += (x - pred) * (x - pred)
          val l2 = a * (x - sold) + (1.0 - a) * (l + bb)
          bb = b * (l2 - l) + (1.0 - b) * bb
          seas = seas.tail :+ (g * (x - l2) + (1.0 - g) * sold)
          l = l2
        }
        (sse, a, b, g, preds.result())
      }
      val best = fits.minBy(c => (c._1, c._2, c._3, c._4))
      (best._1, best._5)
    }
    def wstart(h: Int) = java.time.Instant
      .ofEpochSecond((600000L + h) * 3600L).toString
      .replace("T", " ").replace("Z", "")
    val got = Relational.holtWintersFittedOf(ev).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getBoolean(6))))
      .toMap
    assert(got.size == 2 * (96 - P), got.size)
    for ((tpe, ns) <- counts) {
      val (sse, preds) = holtSeaFit(ns.map(_.toDouble))
      val rmse = math.sqrt(sse / (ns.size - P).toDouble)
      for (h <- P until 96) {
        val x = ns(h).toDouble
        val pred = preds(h - P)
        assert(got((tpe, wstart(h))) == ((ns(h).toLong, pred, x - pred,
          rmse, math.abs(x - pred) > 3.0 * rmse)), s"$tpe h=$h")
      }
    }
    // the pure periodic type fits EXACTLY: rmse = 0 and the 0 > 3·0
    // quiet side of the any-deviation convention holds every hour
    assert(got(("p", wstart(P)))._4 == 0.0)
    assert((P until 96).forall(h => !got(("p", wstart(h)))._5))
    // THE CONTRAST: the in-band dip pages q151; every pre-dip hour is
    // an exact fit and stays quiet
    assert(got(("d", wstart(dipHour)))._5, got(("d", wstart(dipHour))))
    assert((P until dipHour).forall(h => !got(("d", wstart(h)))._5))
  }

  /** q142 planted: a clean linear type backtests with zero error and no
    * alert; a type whose newest hour spikes off its linear trend alerts
    * with forecast/RMSE/abs_err matching the driver fold bit-for-bit
    * (same holtDriver recurrence as the q141 spec, run on the TRAIN
    * prefix — the newest hour held out). */
  test("q142 backtest: clean trend quiet, broken trend alerts, driver-exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // hours 0..8; a: n = h+1 throughout; s: n = h+2 for h<8, 100 at h=8
    val counts = Map(
      "a" -> (0 to 8).map(_ + 1),
      "s" -> ((0 to 7).map(_ + 2) :+ 100))
    val rows = for {
      (tpe, ns) <- counts.toSeq; (n, h) <- ns.zipWithIndex
      i <- 0 until n
    } yield (tpe.hashCode.toLong * 10000 + h * 200 + i,
      (600000L + h) * 3600000000L, 1L, tpe, 0.0, "{}")
    val ev = rows.toDF("event_id", "us", "user_id", "event_type", "value",
        "props")
      .select($"event_id", timestamp_micros($"us").as("ts"), $"user_id",
        $"event_type", $"value", $"props")
    def holtDriver(xs: Seq[Double]): (Double, Double, Double, Double, Double) = {
      val grid = Seq(0.2, 0.5, 0.8)
      (for (a <- grid; b <- grid) yield {
        var l = 0.0; var bb = 0.0; var sse = 0.0; var i = 0
        for (x <- xs) {
          if (i == 0) { l = x; bb = 0.0 }
          else if (i == 1) { bb = x - l; l = x }
          else {
            val pred = l + bb
            sse += (x - pred) * (x - pred)
            val l2 = a * x + (1.0 - a) * (l + bb)
            bb = b * (l2 - l) + (1.0 - b) * bb
            l = l2
          }
          i += 1
        }
        (sse, a, b, l, bb)
      }).min
    }
    val got = Relational.forecastBacktestOf(ev).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getDouble(3),
        r.getDouble(6), r.getDouble(7), r.getBoolean(8)))).toMap
    assert(got.size == 2)
    val tn = 8 // train hours 0..7
    for ((tpe, ns) <- counts) {
      val (sse, _, _, l, b) = holtDriver(ns.dropRight(1).map(_.toDouble))
      val forecast = l + b
      val rmse = math.sqrt(sse / (tn - 2).toDouble)
      val absErr = math.abs(ns.last.toDouble - forecast)
      val alert = absErr > 3.0 * rmse
      assert(got(tpe) == ((ns.last.toLong, forecast, rmse, absErr, alert)),
        s"$tpe: got ${got(tpe)}")
    }
    // the planted semantics in plain terms: the clean trend forecasts
    // its own continuation (error 0, quiet) and the broken one pages
    assert(got("a") == ((9L, 9.0, 0.0, 0.0, false)))
    assert(got("s")._5 && got("s")._2 == 10.0 && got("s")._4 == 90.0)
  }

  /** q143/q144 planted (VERDICT r14 #1): a 24 h-periodic spike feed
    * defeats the linear model — q142 pages the peak hour every cycle —
    * while the seasonal fit explains it: the model-select backtest
    * picks 'seasonal' by per-step in-sample MSE, forecasts the spike,
    * and STOPS paging. Engine doubles must match a driver-side fold
    * running the same recurrences in the same IEEE op order bit for
    * bit. Type `p` (pure periodic) fits EXACTLY — sse and the holdout
    * error are both exactly 0.0, pinning the rmse = 0
    * any-deviation-alerts convention on its quiet side; type `q` adds
    * a period-7 jitter so the seasonal fit is non-degenerate (rmse > 0)
    * and still wins and stays quiet. */
  test("q143/q144 seasonal: periodic feed stops paging, driver-exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val counts = Map(
      "p" -> (0 to 36).map(h => if (h % 24 == 12) 100 else 1),
      "q" -> (0 to 36).map(h => (if (h % 24 == 12) 100 else 1) + (h * 5) % 7))
    val rows = for {
      (tpe, ns) <- counts.toSeq; (n, h) <- ns.zipWithIndex
      i <- 0 until n
    } yield (tpe.hashCode.toLong * 100000 + h * 500 + i,
      (600000L + h) * 3600000000L, 1L, tpe, 0.0, "{}")
    val ev = rows.toDF("event_id", "us", "user_id", "event_type", "value",
        "props")
      .select($"event_id", timestamp_micros($"us").as("ts"), $"user_id",
        $"event_type", $"value", $"props")
    // the driver model: same init, same recurrence, same rotating
    // P-array, same lexicographic (sse, alpha, beta, gamma) argmin
    val P = Relational.HoltSeasonPeriod
    def holtSea(xs: Seq[Double])
        : (Double, Double, Double, Double, Double, Double, Seq[Double]) = {
      val grid = Seq(0.2, 0.5, 0.8)
      val l0 = xs.take(P).foldLeft(0.0)(_ + _) / P.toDouble
      val s0 = xs.take(P).map(_ - l0)
      (for (a <- grid; b <- grid; g <- grid) yield {
        var l = l0; var bb = 0.0; var seas = s0; var sse = 0.0
        for (x <- xs.drop(P)) {
          val sold = seas.head
          val pred = l + bb + sold
          sse += (x - pred) * (x - pred)
          val l2 = a * (x - sold) + (1.0 - a) * (l + bb)
          bb = b * (l2 - l) + (1.0 - b) * bb
          seas = seas.tail :+ (g * (x - l2) + (1.0 - g) * sold)
          l = l2
        }
        (sse, a, b, g, l, bb, seas)
      }).minBy(c => (c._1, c._2, c._3, c._4))
    }
    // q142 (linear-only) pages both types' newest (spike) hour
    val page = Relational.forecastBacktestOf(ev).collect()
      .map(r => r.getString(0) -> r.getBoolean(8)).toMap
    assert(page == Map("p" -> true, "q" -> true),
      s"linear must page the peak: $page")
    // q144 picks seasonal, matches the driver fold bits, stays quiet
    val got = Relational.forecastModelSelectOf(ev).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getString(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getBoolean(7))))
      .toMap
    assert(got.size == 2)
    for ((tpe, ns) <- counts) {
      val train = ns.dropRight(1).map(_.toDouble)
      val (sse, _, _, _, l, bb, seas) = holtSea(train)
      val rmse = math.sqrt(sse / (train.size - P).toDouble)
      val fc = l + bb + seas.head
      val err = math.abs(ns.last.toDouble - fc)
      assert(got(tpe) == ((ns.last.toLong, "seasonal", fc, rmse, err, false)),
        s"$tpe: got ${got(tpe)} want ($fc, $rmse, $err)")
    }
    // the exact-fit type: sse and holdout error are EXACTLY zero, so
    // the rmse = 0 convention's quiet side holds (0 > 3·0 is false)
    assert(got("p")._4 == 0.0 && got("p")._5 == 0.0)
    assert(got("q")._4 > 0.0)
    // q143 over the full span: per-(type, m) forecast matches the
    // driver fold bit for bit and tracks the cycle — the six hours
    // after the spike are quiet, so `p` forecasts exactly 1.0
    val f143 = Relational.holtWintersSeasonalOf(ev).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(f143.size == 12)
    for ((tpe, ns) <- counts; m <- 1 to 6) {
      val (_, _, _, _, l, bb, seas) = holtSea(ns.map(_.toDouble))
      val want = l + m.toDouble * bb + seas((m - 1) % P)
      assert(f143((tpe, m.toLong)) == want, s"$tpe m=$m")
    }
    for (m <- 1 to 6) assert(f143(("p", m.toLong)) == 1.0,
      "pure periodic must forecast its own continuation exactly")
    // short span (< P+1 train hours): no seasonal candidate — q144
    // falls back to linear and reproduces q142's verdict verbatim
    val shortCounts = Map(
      "a" -> (0 to 8).map(_ + 1),
      "s" -> ((0 to 7).map(_ + 2) :+ 100))
    val shortRows = for {
      (tpe, ns) <- shortCounts.toSeq; (n, h) <- ns.zipWithIndex
      i <- 0 until n
    } yield (tpe.hashCode.toLong * 10000 + h * 200 + i,
      (600000L + h) * 3600000000L, 1L, tpe, 0.0, "{}")
    val shortEv = shortRows.toDF("event_id", "us", "user_id", "event_type",
        "value", "props")
      .select($"event_id", timestamp_micros($"us").as("ts"), $"user_id",
        $"event_type", $"value", $"props")
    val q142Rows = Relational.forecastBacktestOf(shortEv).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getDouble(3),
        r.getDouble(6), r.getDouble(7), r.getBoolean(8)))).toMap
    val q144Rows = Relational.forecastModelSelectOf(shortEv).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getString(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getBoolean(7))))
      .toMap
    for (tpe <- shortCounts.keys) {
      val (actual, fc, rmse, err, alert) = q142Rows(tpe)
      assert(q144Rows(tpe) == ((actual, "linear", fc, rmse, err, alert)),
        s"$tpe: q144 short-span row must equal q142's")
    }
    // q150 forecast road: the periodic feed's road IS q143's (model
    // 'seasonal', forecasts equal bit for bit)...
    val road = Relational.forecastRoadOf(ev).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getString(3), r.getDouble(4)))).toMap
    assert(road.size == 12)
    for ((tpe, _) <- counts; m <- 1 to 6)
      assert(road((tpe, m.toLong)) ==
        (("seasonal", f143((tpe, m.toLong)))), s"$tpe m=$m: road != q143")
    // ...and the short-span feed's road IS q141's (model 'linear')
    val roadS = Relational.forecastRoadOf(shortEv).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getString(3), r.getDouble(4)))).toMap
    val q141S = Relational.holtForecastOf(shortEv).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(roadS.size == 12 && q141S.size == 12)
    for ((tpe, m) <- q141S.keys)
      assert(roadS((tpe, m)) == (("linear", q141S((tpe, m)))),
        s"$tpe m=$m: road != q141")
  }

  /** SeriesAuditCli: the three batch verdicts behind the streaming
    * watchers wire to the shared exit-code convention — 0 quiet,
    * 3 alerts, 2 usage, refusals (too little history to judge) throw
    * and exit 1 — so a cron can branch on the verdict. */
  test("SeriesAuditCli: quiet 0, alerts 3, usage 2, refusal throws") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def writeEvents(dir: String, counts: Map[String, Seq[Int]]): Unit = {
      val rows = for {
        (tpe, ns) <- counts.toSeq; (n, h) <- ns.zipWithIndex
        i <- 0 until n
      } yield (tpe.hashCode.toLong * 100000 + h * 500 + i,
        (600000L + h) * 3600000000L, 1L, tpe, 0.0, "{}")
      rows.toDF("event_id", "us", "user_id", "event_type", "value", "props")
        .select($"event_id", timestamp_micros($"us").as("ts"), $"user_id",
          $"event_type", $"value", $"props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    }
    val clean = java.nio.file.Files.createTempDirectory("sacli_clean").toString
    // two linear types over 20 hours: within the median/MAD band, both
    // present at the newest hour, both on-trend
    writeEvents(clean, Map("a" -> (1 to 20), "b" -> (2 to 21)))
    assert(graft.app.SeriesAuditCli.run(spark, Seq("anomaly", clean)) == 0)
    assert(graft.app.SeriesAuditCli.run(spark, Seq("dropout", clean)) == 0)
    assert(graft.app.SeriesAuditCli.run(spark, Seq("trend", clean)) == 0)
    val broken = java.nio.file.Files.createTempDirectory("sacli_bad").toString
    // type a spikes to 100 at the newest hour (trips anomaly AND trend);
    // type b goes silent there (trips dropout)
    writeEvents(broken, Map("a" -> ((1 to 20) :+ 100),
      "b" -> ((2 to 21) :+ 0)))
    assert(graft.app.SeriesAuditCli.run(spark, Seq("anomaly", broken)) == 3)
    assert(graft.app.SeriesAuditCli.run(spark, Seq("dropout", broken)) == 3)
    assert(graft.app.SeriesAuditCli.run(spark, Seq("trend", broken)) == 3)
    // usage errors
    assert(graft.app.SeriesAuditCli.run(spark, Seq("bogus")) == 2)
    assert(graft.app.SeriesAuditCli.run(spark,
      Seq("trend", clean, "--wat", "1")) == 2)
    // a malformed flag VALUE is a usage error too (2, before any
    // corpus work), not a NumberFormatException riding the refusal
    // channel out at 1 (r14 verdict #3)
    assert(graft.app.SeriesAuditCli.run(spark,
      Seq("trend", clean, "--min-train", "XYZ")) == 2)
    // the forecast verb: informational 0 on enough history, usage 2 on
    // a malformed flag, refusal on a short span
    assert(graft.app.SeriesAuditCli.run(spark, Seq("forecast", clean)) == 0)
    assert(graft.app.SeriesAuditCli.run(spark,
      Seq("forecast", clean, "--min-train", "XYZ")) == 2)
    intercept[IllegalArgumentException] {
      graft.app.SeriesAuditCli.run(spark,
        Seq("forecast", clean, "--min-train", "50"))
    }
    // refusal: a span too short to judge a trend throws (exit-1 channel)
    intercept[IllegalArgumentException] {
      graft.app.SeriesAuditCli.run(spark,
        Seq("trend", clean, "--min-train", "50"))
    }
    val empty = java.nio.file.Files.createTempDirectory("sacli_empty").toString
    writeEvents(empty, Map.empty)
    intercept[IllegalArgumentException] {
      graft.app.SeriesAuditCli.run(spark, Seq("dropout", empty))
    }
    // the fitted verb (q151): a 48 h pure-periodic history fits exactly
    // (rmse = 0, the any-deviation convention's quiet side) -> 0; the
    // same history with an in-band off-cycle dip at a PAST hour -> 3
    // (q105 and trend both stay quiet on it — the planted-contrast
    // spec proves that; here the verdict channel is what's pinned);
    // the 20 h corpus is shorter than one season + 1 -> refusal
    def cyc(h: Int) = 10 + 4 * (h % 24)
    val periodic = java.nio.file.Files
      .createTempDirectory("sacli_per").toString
    writeEvents(periodic, Map("d" -> (0 to 47).map(cyc)))
    assert(graft.app.SeriesAuditCli.run(spark, Seq("fitted", periodic)) == 0)
    val dipped = java.nio.file.Files
      .createTempDirectory("sacli_dip").toString
    writeEvents(dipped,
      Map("d" -> (0 to 47).map(h => if (h == 40) 14 else cyc(h))))
    assert(graft.app.SeriesAuditCli.run(spark, Seq("fitted", dipped)) == 3)
    intercept[IllegalArgumentException] {
      graft.app.SeriesAuditCli.run(spark, Seq("fitted", clean))
    }
    intercept[IllegalArgumentException] {
      graft.app.SeriesAuditCli.run(spark, Seq("fitted", empty))
    }
  }

  /** SeriesAuditCli cardinality (the q155 lifecycle): freeze the
    * tag-set census, page when NEW series outgrow the margin — the
    * cardinality-explosion cron. All four channels: 0 within margin,
    * 3 breach, 2 usage (flag validates before any corpus work),
    * refusals throw (missing/empty baseline, empty corpus). */
  test("SeriesAuditCli cardinality: freeze/audit, growth margin, channels") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def writeEvents(dir: String, rows: Seq[(Long, Int, Long, String)]): Unit =
      rows.map { case (id, h, u, t) =>
          (id, (600000L + h) * 3600000000L, u, t, 0.0, "{}")
        }.toDF("event_id", "us", "user_id", "event_type", "value", "props")
        .select($"event_id", timestamp_micros($"us").as("ts"), $"user_id",
          $"event_type", $"value", $"props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString
    val refDir = tmp("card_ref")
    // the reference census: 4 series — a|u1, a|u2, b|u1, b|u3
    val ref = Seq((1L, 0, 1L, "a"), (2L, 1, 2L, "a"), (3L, 0, 1L, "b"),
      (4L, 2, 3L, "b"))
    writeEvents(refDir, ref)
    val baseDir = tmp("card_base") + "/baseline"
    assert(graft.app.SeriesAuditCli.run(spark,
      Seq("cardinality", "freeze", refDir, baseDir)) == 0)
    // the same corpus audits quiet (zero new series)
    assert(graft.app.SeriesAuditCli.run(spark,
      Seq("cardinality", "audit", refDir, baseDir)) == 0)
    // two new series (z|u1, a|u0) vs 4 frozen = 500‰ > default 100‰
    val grown = tmp("card_grown")
    writeEvents(grown, ref ++ Seq((5L, 3, 1L, "z"), (6L, 3, 4L, "a")))
    assert(graft.app.SeriesAuditCli.run(spark,
      Seq("cardinality", "audit", grown, baseDir)) == 3)
    // a margin that absorbs the growth reads quiet; floor-division
    // boundary: growth == margin does NOT breach
    assert(graft.app.SeriesAuditCli.run(spark,
      Seq("cardinality", "audit", grown, baseDir,
        "--margin-permille", "500")) == 0)
    // usage: malformed margin validates before any corpus work
    assert(graft.app.SeriesAuditCli.run(spark,
      Seq("cardinality", "audit", grown, baseDir,
        "--margin-permille", "XYZ")) == 2)
    assert(graft.app.SeriesAuditCli.run(spark,
      Seq("cardinality", "freeze", refDir)) == 2)
    // refusals: missing baseline, empty corpus (either arm)
    intercept[IllegalArgumentException] {
      graft.app.SeriesAuditCli.run(spark,
        Seq("cardinality", "audit", refDir, tmp("card_none") + "/nope"))
    }
    val empty = tmp("card_empty")
    writeEvents(empty, Seq.empty)
    intercept[IllegalArgumentException] {
      graft.app.SeriesAuditCli.run(spark,
        Seq("cardinality", "freeze", empty, baseDir))
    }
    intercept[IllegalArgumentException] {
      graft.app.SeriesAuditCli.run(spark,
        Seq("cardinality", "audit", empty, baseDir))
    }
  }

  /** MediaAuditCli (VERDICT r14 #2): the decode-audit lifecycle's
    * cron-runnable verdict on the four shared channels — 0 within
    * margin, 3 breach (incl. the unseen-family-vs-share-0 convention),
    * 2 usage (flags validated before any decode), refusal throws
    * (missing/empty baseline, empty candidate corpus — "no verdict"
    * must never read as "quiet"). */
  test("MediaAuditCli: freeze + audit verdicts on all four channels") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, octet_length}
    import java.nio.file.Files
    val img = new java.awt.image.BufferedImage(2, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val png = baos.toByteArray
    val codec = "GIF89a-truncated".getBytes("ISO-8859-1") // sniffs video, decode fails
    val txt = "plain text".getBytes("UTF-8")
    def writeAssets(path: String, rows: (Long, Array[Byte])*): Unit =
      rows.toDF("doc_id", "payload")
        .withColumn("n_bytes", octet_length(col("payload")).cast("long"))
        .write.mode("overwrite").parquet(path)
    val cli = graft.app.MediaAuditCli
    val root = Files.createTempDirectory("macli").toString
    val ref = s"$root/ref"; val baseDir = s"$root/baseline"
    writeAssets(ref, 1L -> png, 2L -> png, 3L -> png, 4L -> txt)
    // freeze over the reference corpus: image 0permille, opaque 1000permille
    assert(cli.run(spark, Seq("freeze", ref, baseDir)) == 0)
    val frozen = spark.read.parquet(baseDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(frozen == Map("image" -> 0L, "opaque" -> 1000L), frozen)
    // quiet: same family mix, shares within margin (opaque is ALREADY
    // fully stubbed in the baseline, so it never pages)
    val clean = s"$root/clean"
    writeAssets(clean, 10L -> png, 11L -> txt)
    assert(cli.run(spark, Seq("audit", clean, baseDir)) == 0)
    // breach: a codec-video payload sniffs as a family the baseline
    // never saw (judged against share 0) and decodes to the stub
    val bad = s"$root/bad"
    writeAssets(bad, 20L -> png, 21L -> codec, 22L -> txt)
    assert(cli.run(spark, Seq("audit", bad, baseDir)) == 3)
    // ...but a wide-open margin keeps it quiet (the knob reaches the gate)
    assert(cli.run(spark,
      Seq("audit", bad, baseDir, "--margin-permille", "1000")) == 0)
    // usage: unknown verb / unknown flag / non-numeric margin VALUE —
    // all exit 2 with no decode work
    assert(cli.run(spark, Seq("bogus")) == 2)
    assert(cli.run(spark, Seq("audit", bad, baseDir, "--wat", "1")) == 2)
    assert(cli.run(spark,
      Seq("audit", bad, baseDir, "--margin-permille", "XYZ")) == 2)
    // refusals: a missing baseline, an empty frozen baseline, an empty
    // candidate corpus, an empty freeze corpus
    intercept[IllegalArgumentException] {
      cli.run(spark, Seq("audit", clean, s"$root/nowhere"))
    }
    val emptyAssets = s"$root/empty"
    writeAssets(emptyAssets)
    intercept[IllegalArgumentException] {
      cli.run(spark, Seq("audit", emptyAssets, baseDir))
    }
    intercept[IllegalArgumentException] {
      cli.run(spark, Seq("freeze", emptyAssets, s"$root/baseline2"))
    }
  }
}
