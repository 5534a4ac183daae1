package graft.util

import org.apache.spark.sql.SparkSession

/** One place for the engine's recommended session settings so every entry
  * point (Verify / Profile / tests / the daemon) agrees:
  * shuffle parallelism sized to the machine (not the 200 default), AQE on
  * (runtime re-plan + skew-join at scale), nanosAsLong (legacy
  * TIMESTAMP(NANOS) events data), inferTimestampNTZ off (current
  * timestamp[us] events data reads as UTC TIMESTAMP), UTC everywhere. */
object GraftSession {
  def builder(appName: String, master: Option[String] = None,
      cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession.Builder = {
    val b = master.fold(SparkSession.builder())(m => SparkSession.builder().master(m))
    b.appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the generated events.ts is parquet timestamp[us] WITHOUT the
      // isAdjustedToUTC flag; Spark 4 would infer TIMESTAMP_NTZ, which
      // unix_micros (and comparisons against TIMESTAMP literals) reject —
      // window/session_window themselves accept NTZ. Reading it as the
      // session-timezone TIMESTAMP (UTC everywhere here) keeps the
      // engine and the DuckDB twin on identical epoch values.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
  }

  def local(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val s = builder(appName, Some(s"local[$cpus]"), cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
