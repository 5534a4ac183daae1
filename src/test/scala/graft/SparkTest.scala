package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites. */
object SparkTest {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // match GraftSession: un-flagged timestamp[us] parquet reads as
      // TIMESTAMP (UTC), not TIMESTAMP_NTZ
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // the daemon's state store and checkpoint path; StreamingSpec
      // asserts keyed state really runs on RocksDB
      .config(graft.app.Main.sessionConf)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
