package graft.app

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, octet_length}

import graft.operators.Multimodal

/** The decode-audit lifecycle as a cron-runnable verdict (VERDICT r14
  * #2): q139 measures the stub-descriptor share, but unlike every other
  * family (SeriesAuditCli / TextIndexCli / PqIndexCli `audit
  * --fail-over`) there was no exit-code entry for "the stub share
  * breached the frozen baseline". Verbs, over any assets parquet with (doc_id, payload
  * binary[, n_bytes]):
  *
  *   freeze <assetsParquet> <baselineDir>
  *     run THE q139 audit ([[Multimodal.decoderAuditOf]] — one
  *     definition, hash-checked against DuckDB) over the reference
  *     corpus and write its per-family stub share (family →
  *     stub_permille) as the frozen baseline
  *
  *   audit <assetsParquet> <baselineDir> [--margin-permille m]
  *     re-run the audit over a candidate corpus and compare per family
  *     against the frozen share + margin (default 100‰). A family the
  *     baseline never saw is judged against share 0 — new families are
  *     exactly what the alert exists for.
  *
  * Exit codes (the shared convention): 0 = within margin, 2 = usage,
  * 3 = breach. Refusals — no verdict is possible (missing/empty frozen
  * baseline, an empty candidate corpus) — keep their own channel: an
  * IllegalArgumentException that exits the JVM at 1, because "no
  * verdict" must never read as "quiet". Flags validate BEFORE any
  * corpus-sized work (the TextIndexCli convention).
  *
  * Scale shape: the decode pass is the only data-sized work (the
  * mapPartitions drop-down the pipeline pays anyway for descriptors);
  * the census rollup combines map-side and both the baseline and the
  * comparison are family-sized (≤ 5 rows). */
object MediaAuditCli {

  def main(args: Array[String]): Unit = {
    val spark = graft.util.GraftSession.local("graft-media-audit")
    val code = try run(spark, args.toSeq) finally spark.stop()
    if (code != 0) sys.exit(code)
  }

  /** (doc_id, payload, n_bytes) from any parquet that has the first
    * two: n_bytes is derived from the payload when absent. */
  private def assetsAt(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.parquet(path)
    if (df.columns.contains("n_bytes")) df
    else df.withColumn("n_bytes", octet_length(col("payload")).cast("long"))
  }

  private[graft] def run(spark: SparkSession, args: Seq[String]): Int =
    args match {
      case Seq("freeze", assetsParquet, baselineDir) =>
        // an empty corpus still yields rollup's grand-total row —
        // the refusal gate is on per-family rows, never "ALL"
        val families = Multimodal.decoderAuditOf(spark,
            assetsAt(spark, assetsParquet)).collect()
          .filter(_.getString(0) != "ALL")
        require(families.nonEmpty,
          "empty corpus: refusing to freeze a baseline with no assets")
        import spark.implicits._
        families.map(r => (r.getString(0), r.getLong(4))).toSeq
          .toDF("family", "stub_permille")
          .coalesce(1).write.mode("overwrite").parquet(baselineDir)
        families.foreach(r => println(s"FROZE ${r.getString(0)} " +
          s"n=${r.getLong(1)} stub_permille=${r.getLong(4)}"))
        0
      case Seq("audit", assetsParquet, baselineDir, rest @ _*) =>
        // flag validation first: a typo'd or non-numeric margin is a
        // usage error (2), never a decode run or a refusal
        val margin = rest match {
          case Seq() => Some(100L)
          case Seq("--margin-permille", m) => m.toLongOption
          case _ => None
        }
        if (margin.isEmpty) {
          System.err.println(
            "usage: audit <assetsParquet> <baselineDir> " +
              "[--margin-permille <m>]")
          return 2
        }
        val base = try {
            spark.read.parquet(baselineDir).collect()
              .map(r => r.getString(0) -> r.getLong(1)).toMap
          } catch {
            case e: org.apache.spark.sql.AnalysisException =>
              throw new IllegalArgumentException(
                s"no frozen baseline at $baselineDir — run `freeze` over " +
                  s"the reference corpus first (${e.getMessage})")
          }
        require(base.nonEmpty,
          s"frozen baseline at $baselineDir is empty: no families to " +
            "judge against — re-freeze over a non-empty reference corpus")
        val census = Multimodal.decoderAuditOf(spark,
            assetsAt(spark, assetsParquet)).collect()
          .filter(_.getString(0) != "ALL")
        require(census.nonEmpty,
          "empty corpus: no assets to judge")
        val breaches = census.filter { r =>
          r.getLong(4) > base.getOrElse(r.getString(0), 0L) + margin.get
        }
        census.foreach(r => println(s"MEDIA ${r.getString(0)} " +
          s"n=${r.getLong(1)} stub_permille=${r.getLong(4)} " +
          s"baseline=${base.getOrElse(r.getString(0), 0L)}"))
        breaches.foreach(r => println(s"BREACH ${r.getString(0)} " +
          s"stub_permille=${r.getLong(4)} > " +
          s"${base.getOrElse(r.getString(0), 0L)} + ${margin.get}"))
        println(s"media: ${breaches.length} of ${census.length} " +
          "families over baseline + margin")
        if (breaches.nonEmpty) 3 else 0
      case _ =>
        System.err.println(
          "usage: graft.app.MediaAuditCli freeze|audit <assetsParquet> " +
            "<baselineDir> ...")
        2
    }
}
