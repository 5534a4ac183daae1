package graft.app
import graft.util.Mat.Ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.operators.Relational

/** The time-series monitoring family as one cron-runnable entry — the
  * BATCH anomaly, dropout and trend verdicts, over any events
  * parquet (the table the reference's daemon feeds InfluxDB with):
  *
  *   anomaly <sfDir>                 q105: hours breaching the per-type
  *                                   median/3-MAD band (spikes AND
  *                                   silent-hour dropouts on the dense
  *                                   grid)
  *   dropout <sfDir>                 q130: expected types with ZERO
  *                                   events at the newest closed hour
  *   trend   <sfDir> [--min-train h] q144: types whose newest closed
  *                                   hour deviates > 3 in-sample RMSEs
  *                                   from the 1-step forecast of the
  *                                   better-MSE model — Holt linear or
  *                                   additive-seasonal Holt–Winters, so
  *                                   a diurnal feed's peak hours don't
  *                                   page (a level shift INSIDE the
  *                                   q105 band still trips this one)
  *   forecast <sfDir> [--min-train h] q150: the forward road — the
  *                                   MSE-winning model's (linear or
  *                                   seasonal) next-6-hour forecasts
  *                                   per series; informational, exit 0
  *   fitted  <sfDir>                 q151: season-aware anomaly over
  *                                   HISTORY — hours whose residual
  *                                   against the seasonal fit's
  *                                   per-hour fitted value breaches
  *                                   3·rmse (the off-cycle in-band dip
  *                                   q105 can't see, at past hours
  *                                   `trend` never judges)
  *   cardinality freeze <sfDir> <baselineDir>
  *                                   freeze the q155 series inventory's
  *                                   tag-set census as the baseline the
  *                                   audit arm judges against
  *   cardinality audit <sfDir> <baselineDir> [--margin-permille m]
  *                                   the CARDINALITY-EXPLOSION cron —
  *                                   the resource an InfluxDB instance
  *                                   dies of: series in the candidate
  *                                   corpus absent from the frozen
  *                                   baseline page once their count
  *                                   exceeds margin (default 100‰) of
  *                                   the frozen cardinality
  *
  * Exit codes (the TextIndexCli/PqIndexCli convention): 0 = quiet,
  * 2 = usage error, 3 = alerts exist — a cron branches on the verdict.
  * Refusals — too little history to JUDGE (an empty corpus; a trend
  * span shorter than max(3, --min-train) hours) — keep their own
  * channel: an IllegalArgumentException that exits the JVM at 1,
  * because "no verdict" must never read as "quiet".
  *
  * The nightly shape: all three verbs per retention window; page on
  * exit 3, investigate the refusal 1s (a refusing feed is itself news).
  */
object SeriesAuditCli {

  def main(args: Array[String]): Unit = {
    val spark = graft.util.GraftSession.local("graft-series-audit")
    val code = try run(spark, args.toSeq) finally spark.stop()
    if (code != 0) sys.exit(code)
  }

  private def eventsOf(spark: SparkSession, sfDir: String) =
    graft.util.Tables(spark, sfDir, "events")

  private[graft] def run(spark: SparkSession, args: Seq[String]): Int =
    args match {
      case Seq("anomaly", sfDir) =>
        val ev = eventsOf(spark, sfDir)
        require(!ev.isEmpty, "empty corpus: no hours to judge")
        val rows = Relational.anomalyHoursOf(ev).collect()
        rows.foreach(r => println(s"ANOMALY ${r.getString(0)} " +
          s"${r.getString(1)} n=${r.getLong(2)} med=${r.getLong(3)} " +
          s"mad=${r.getLong(4)}"))
        println(s"anomaly: ${rows.length} breaching hours")
        if (rows.nonEmpty) 3 else 0
      case Seq("dropout", sfDir) =>
        val ev = eventsOf(spark, sfDir)
        val presence = Relational
          .lastHourPresenceOf(Relational.hourBuckets(ev),
            ev.select(col("event_type")))
          .collect()
        require(presence.nonEmpty, "no closed hour yet: nothing to judge")
        val silent = presence.filter(_.getLong(2) == 0L)
        silent.foreach(r =>
          println(s"DROPOUT ${r.getString(0)} h=${r.getLong(1)}"))
        println(s"dropout: ${silent.length} silent of ${presence.length} " +
          s"expected types at h=${presence.head.getLong(1)}")
        if (silent.nonEmpty) 3 else 0
      case Seq("trend", sfDir, rest @ _*) =>
        // flags validate BEFORE the corpus-sized work (the TextIndexCli
        // convention): a non-numeric --min-train is a USAGE error (2),
        // never a refusal — NumberFormatException would ride the
        // IllegalArgumentException refusal channel out at 1 (r14 #3)
        val minTrain = rest match {
          case Seq() => Some(12L)
          case Seq("--min-train", h) => h.toLongOption
          case _ => None
        }
        if (minTrain.isEmpty) {
          System.err.println("usage: trend <sfDir> [--min-train <hours>]")
          return 2
        }
        val ev = eventsOf(spark, sfDir)
        val buckets = Relational.hourBuckets(ev).materialize()
        val b = buckets.agg(
          org.apache.spark.sql.functions.min(col("h")),
          org.apache.spark.sql.functions.max(col("h"))).collect()(0)
        require(!b.isNullAt(0), "empty corpus: no hours to judge")
        val span = b.getLong(1) - b.getLong(0) // train hours
        require(span >= math.max(3L, minTrain.get),
          s"train span $span h is under max(3, --min-train " +
            s"${minTrain.get}): refusing to judge a trend")
        val rows = Relational.forecastModelSelectFromBuckets(buckets)
          .filter(col("alert")).collect()
        rows.foreach(r => println(s"TREND ${r.getString(0)} " +
          s"${r.getString(1)} actual=${r.getLong(2)} " +
          s"model=${r.getString(3)} forecast=${r.getDouble(4)} " +
          s"rmse=${r.getDouble(5)}"))
        println(s"trend: ${rows.length} deviating types")
        if (rows.nonEmpty) 3 else 0
      case Seq("fitted", sfDir) =>
        // q151: season-aware anomaly over HISTORY — every hour's
        // residual against the winning seasonal fit's one-step-ahead
        // fitted value. This is the arm for the case the other verbs
        // can't see: an off-cycle dip INSIDE the median band (q105
        // blind) at a PAST hour (trend judges only the newest).
        // Refusal: a history shorter than one season + 1 hour has no
        // seasonal fit to judge against.
        val ev = eventsOf(spark, sfDir)
        val buckets = Relational.hourBuckets(ev).materialize()
        val b = buckets.agg(
          org.apache.spark.sql.functions.min(col("h")),
          org.apache.spark.sql.functions.max(col("h"))).collect()(0)
        require(!b.isNullAt(0), "empty corpus: no hours to judge")
        val span = b.getLong(1) - b.getLong(0)
        require(span >= Relational.HoltSeasonPeriod,
          s"history span ${span + 1} h is under one season + 1 " +
            s"(${Relational.HoltSeasonPeriod + 1} h): refusing — no " +
            "seasonal fit to judge against")
        val rows = Relational.holtWintersFittedFromBuckets(buckets)
          .filter(col("anom")).collect()
        rows.foreach(r => println(s"FITTED ${r.getString(0)} " +
          s"${r.getString(1)} n=${r.getLong(2)} " +
          s"fitted=${r.getDouble(3)} residual=${r.getDouble(4)} " +
          s"rmse=${r.getDouble(5)}"))
        println(s"fitted: ${rows.length} off-fit hours")
        if (rows.nonEmpty) 3 else 0
      case Seq("cardinality", "freeze", sfDir, baselineDir) =>
        // the q155 inventory IS the baseline definition (one
        // definition with the query the oracle hash-checks); the
        // frozen frame is #series-sized by construction
        val inv = Relational.seriesInventoryOf(eventsOf(spark, sfDir))
          .collect()
        require(inv.nonEmpty,
          "empty corpus: refusing to freeze a baseline with no series")
        import spark.implicits._
        inv.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
          .toDF("event_type", "ubucket", "n_points")
          .coalesce(1).write.mode("overwrite").parquet(baselineDir)
        inv.foreach(r => println(s"FROZE ${r.getString(0)}|u" +
          s"${r.getLong(1)} n_points=${r.getLong(2)}"))
        println(s"cardinality: froze ${inv.length} series")
        0
      case Seq("cardinality", "audit", sfDir, baselineDir, rest @ _*) =>
        // flags validate BEFORE any corpus-sized work (the shared
        // convention): a non-numeric margin is a usage error, never a
        // refusal or a corpus scan
        val margin = rest match {
          case Seq() => Some(100L)
          case Seq("--margin-permille", m) => m.toLongOption
          case _ => None
        }
        if (margin.isEmpty) {
          System.err.println("usage: cardinality audit <sfDir> " +
            "<baselineDir> [--margin-permille <m>]")
          return 2
        }
        val base = try {
            spark.read.parquet(baselineDir).collect()
              .map(r => (r.getString(0), r.getLong(1))).toSet
          } catch {
            case e: org.apache.spark.sql.AnalysisException =>
              throw new IllegalArgumentException(
                s"no frozen baseline at $baselineDir — run `cardinality " +
                  s"freeze` over the reference corpus first " +
                  s"(${e.getMessage})")
          }
        require(base.nonEmpty,
          s"frozen baseline at $baselineDir is empty: no series to " +
            "judge against — re-freeze over a non-empty corpus")
        val inv = Relational.seriesInventoryOf(eventsOf(spark, sfDir))
          .collect()
        require(inv.nonEmpty, "empty corpus: no series to judge")
        val fresh = inv.filter(r =>
          !base.contains((r.getString(0), r.getLong(1))))
        // growth in permille of the FROZEN cardinality — floor div, so
        // a breach needs strictly more new series than margin allows
        val growth = fresh.length.toLong * 1000L / base.size
        fresh.foreach(r => println(s"NEW ${r.getString(0)}|u" +
          s"${r.getLong(1)} n_points=${r.getLong(2)} " +
          s"span_hours=${r.getLong(4)} " +
          s"density_permille=${r.getLong(5)}"))
        println(s"cardinality: ${inv.length} series, ${fresh.length} new " +
          s"vs ${base.size} frozen (growth ${growth}‰, margin " +
          s"${margin.get}‰)")
        if (growth > margin.get) 3 else 0
      case Seq("forecast", sfDir, rest @ _*) =>
        // the forward road (q150): not a verdict — exit 0 after
        // printing the chosen model's next hours per series. Flags
        // validate first (usage 2); too little history refuses at 1
        // like `trend` (a forecast from under 3 hours is noise).
        val minTrain = rest match {
          case Seq() => Some(12L)
          case Seq("--min-train", h) => h.toLongOption
          case _ => None
        }
        if (minTrain.isEmpty) {
          System.err.println("usage: forecast <sfDir> [--min-train <hours>]")
          return 2
        }
        val ev = eventsOf(spark, sfDir)
        val buckets = Relational.hourBuckets(ev).materialize()
        val b = buckets.agg(
          org.apache.spark.sql.functions.min(col("h")),
          org.apache.spark.sql.functions.max(col("h"))).collect()(0)
        require(!b.isNullAt(0), "empty corpus: no hours to forecast from")
        val span = b.getLong(1) - b.getLong(0)
        require(span >= math.max(3L, minTrain.get),
          s"history span $span h is under max(3, --min-train " +
            s"${minTrain.get}): refusing to forecast")
        Relational.forecastRoadFromBuckets(buckets).collect()
          .foreach(r => println(s"FORECAST ${r.getString(0)} " +
            s"${r.getString(2)} model=${r.getString(3)} " +
            s"forecast=${r.getDouble(4)}"))
        0
      case _ =>
        System.err.println(
          "usage: graft.app.SeriesAuditCli " +
            "anomaly|dropout|trend|forecast|fitted|cardinality <sfDir> ...")
        2
    }
}
