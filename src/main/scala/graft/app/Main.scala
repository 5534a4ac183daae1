package graft.app

import java.io.OutputStreamWriter
import java.net.Socket
import java.nio.charset.StandardCharsets
import java.util.concurrent.{Executors, ScheduledExecutorService, TimeUnit}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sinks.InfluxLineSink
import graft.sources.AprsIsSource
import graft.streaming.TelemetryProcessor
import graft.transform.AprsLineProtocol

/** Engine configuration — mirrors the reference's 9 CLI options
  * (__main__.py:15-27) with the same defaults. */
case class AppConfig(
    dbhost: String = "localhost", dbport: Int = 8086,
    dbuser: String = "root", dbpassword: String = "root",
    dbname: String = "mydb",
    host: String = "rotate.aprs.net", port: Int = 10152,
    callsign: String = "nocall", interval: Int = 15,
    checkpointDir: String = "/tmp/graft-checkpoint",
    debug: Boolean = false)

object AppConfig {
  /** Unknown flag / missing option value — argparse-parity failure
    * (the reference ERRORS on anything it doesn't know, __main__.py:15-27;
    * a typo like `--dbprot 8087` must not silently run on the default
    * port). Main turns this into usage + exit 2, argparse's exit code. */
  final class CliError(val message: String)
    extends IllegalArgumentException(message)

  val usage: String =
    "usage: aprs2influxdbspark [--dbhost HOST] [--dbport PORT] " +
      "[--dbuser USER] [--dbpassword PASSWORD] [--dbname NAME] " +
      "[--host HOST] [--port PORT] [--callsign CALLSIGN] " +
      "[--interval MINUTES] [--checkpoint DIR] [--debug]"

  private val valueOpts = Set("--dbhost", "--dbport", "--dbuser",
    "--dbpassword", "--dbname", "--host", "--port", "--callsign",
    "--interval", "--checkpoint")

  /** A token that argparse would read as an OPTION rather than a value:
    * starts with `-` and is neither the bare `-` nor a negative number
    * (argparse's _negative_number_matcher — since no option string here
    * looks like a negative number, `-5` stays a legal value while
    * `--debug` after a value option means the value is missing). */
  private def looksLikeOption(tok: String): Boolean =
    tok.startsWith("-") && tok != "-" &&
      !tok.matches("""-\d+|-\d*\.\d+""")

  /** argparse-parity int conversion: a non-numeric value is a CLI usage
    * error (usage + exit 2), not an uncaught NumberFormatException. */
  private def intVal(opt: String, v: String): Int =
    try v.toInt catch {
      case _: NumberFormatException =>
        throw new CliError(s"argument $opt: invalid int value: '$v'")
    }

  /** Recursive option parser: `--debug` is a bare flag and may appear
    * anywhere (a pairwise sliding window would mis-align every option
    * after it); an unknown token, a value-less option (including one
    * followed by another flag), or a malformed int throws CliError,
    * matching the reference's argparse error behavior. */
  def parse(args: Array[String]): AppConfig = {
    def set(c: AppConfig, opt: String, v: String): AppConfig = opt match {
      case "--dbhost" => c.copy(dbhost = v)
      case "--dbport" => c.copy(dbport = intVal(opt, v))
      case "--dbuser" => c.copy(dbuser = v)
      case "--dbpassword" => c.copy(dbpassword = v)
      case "--dbname" => c.copy(dbname = v)
      case "--host" => c.copy(host = v)
      case "--port" => c.copy(port = intVal(opt, v))
      case "--callsign" => c.copy(callsign = v)
      case "--interval" => c.copy(interval = intVal(opt, v))
      case "--checkpoint" => c.copy(checkpointDir = v)
    }
    @annotation.tailrec
    def go(rest: List[String], c: AppConfig): AppConfig = rest match {
      case "--debug" :: tail => go(tail, c.copy(debug = true))
      case opt :: v :: tail if valueOpts(opt) && !looksLikeOption(v) =>
        go(tail, set(c, opt, v))
      case opt :: _ if valueOpts(opt) =>
        throw new CliError(s"argument $opt: expected one argument")
      case tok :: _ =>
        throw new CliError(s"unrecognized arguments: $tok")
      case Nil => c
    }
    go(args.toList, AppConfig())
  }
}

/** Daemon wiring (SURVEY §3.1): one streaming query, aprsis source →
  * calibration state → line protocol → InfluxDB, plus the heartbeat on a
  * daemon thread, like the reference's consumer + heartbeat threads
  * (__main__.py:1199-1206) — except the ingest is restart-safe via
  * checkpointing. */
object Main {
  /** The daemon's state store and checkpoint path; the specs' session
    * applies the same map.
    *
    * Keyed state (per-station calibration, TelemetryProcessor) lives in
    * the RocksDB store: off-heap and disk-spillable — at 100× station
    * cardinality the default HDFS-backed store holds every version on-heap
    * and OOMs first. The provider is part of the checkpoint format: a
    * checkpoint written by the HDFS provider cannot be resumed under
    * RocksDB (start a fresh checkpoint dir to migrate).
    *
    * Changelog checkpointing (off in Spark 4.1.2) makes each micro-batch
    * write one small `.changelog` per state partition instead of a full
    * snapshot (SST files + zip); the maintenance thread snapshots every
    * 10th version. Each batch then writes: the offset and commit log
    * entries, the sink's epoch marker and the changelogs. A checkpoint
    * from before this setting resumes under it, and one written under it
    * resumes with it off again (the store replays the changelogs).
    *
    * The default FileContext checkpoint manager forks `readlink` on every
    * rename without libhadoop; the FileSystem-based one checks that the
    * target is absent, then calls `FileSystem.rename`. On HDFS that is the
    * non-overwriting `ClientProtocol.rename` (false if the target exists),
    * so a second writer still fails; on a local disk both managers check,
    * then rename. [[graft.util.NioLocalFileSystem]] sets file modes
    * without forking `chmod`. */
  val sessionConf: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    "spark.sql.streaming.checkpointFileManagerClass" ->
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager",
    "spark.hadoop.fs.file.impl" -> classOf[graft.util.NioLocalFileSystem].getName)

  def main(args: Array[String]): Unit = {
    val cfg = try AppConfig.parse(args) catch {
      case e: AppConfig.CliError =>
        System.err.println(AppConfig.usage)
        System.err.println(s"aprs2influxdbspark: error: ${e.message}")
        sys.exit(2) // argparse's exit code for a CLI usage error
    }
    configureLogging(cfg)
    // before Spark starts, so a bad --interval fails fast
    val heartbeat = Heartbeat.start(cfg)
    try run(cfg) finally heartbeat.shutdownNow()
  }

  private def run(cfg: AppConfig): Unit = {
    // spark-submit injects spark.master on a cluster; standalone runs
    // (dev/e2e) fall back to all local cores
    val builder = if (sys.props.contains("spark.master"))
      SparkSession.builder() else SparkSession.builder().master("local[*]")
    val spark = builder
      .appName("aprs2influxdbspark")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config(sessionConf)
      .getOrCreate()
    spark.sparkContext.setLogLevel(if (cfg.debug) "DEBUG" else "WARN")

    // per-batch operational metrics (rows/sec per format, batch time,
    // state size) → daemon log + stdout; see OpsMetrics
    spark.streams.addListener(new graft.streaming.OpsMetrics.Listener())
    buildIngestQuery(spark, cfg).awaitTermination()
  }

  /** Daemon logging = the reference's createLog (__main__.py:1124-1150):
    * hourly-rotating file keeping 5 backups, WARNING default / DEBUG with
    * --debug. The config ships as classpath resource graft-log4j2.xml
    * (not auto-discovered, so tests/Verify keep Spark defaults) and
    * must be selected before the first LogManager init — i.e. before any
    * Spark class logs. */
  private def configureLogging(cfg: AppConfig): Unit = {
    if (sys.props.get("log4j2.configurationFile").isEmpty) {
      System.setProperty("graft.log.level", if (cfg.debug) "DEBUG" else "WARN")
      System.setProperty("log4j2.configurationFile", "graft-log4j2.xml")
      // if logging initialized before us (e.g. a wrapper logged already),
      // force a reconfigure so the rolling appender still attaches
      try org.apache.logging.log4j.core.config.Configurator
        .reconfigure(getClass.getClassLoader.getResource("graft-log4j2.xml").toURI)
      catch { case _: Exception => () }
    }
  }

  /** aprsis → keyed calibration → line protocol → InfluxDB. */
  def buildIngestQuery(spark: SparkSession, cfg: AppConfig): StreamingQuery = {
    val packets: DataFrame = spark.readStream
      .format("graft.sources.AprsIsDataSource")
      .option("host", cfg.host).option("port", cfg.port)
      .option("callsign", cfg.callsign)
      .load()
    val observed = graft.streaming.OpsMetrics.observed(packets)
    val lines = AprsLineProtocol.lines(
      TelemetryProcessor.attach(observed, "_seq"), col(TelemetryProcessor.CalCol))
    // idempotent by default (VERDICT r8 #6): a crash between the
    // engine's offset and commit writes replays the last epoch on
    // restart — the epoch commit log turns that replay into a no-op
    // instead of a double-write of every point
    InfluxLineSink.startIdempotent(lines,
      s"http://${cfg.dbhost}:${cfg.dbport}", cfg.dbname,
      cfg.checkpointDir + "/ingest",
      user = Some(cfg.dbuser), password = Some(cfg.dbpassword))
  }
}

/** The upstream keep-alive packet every `interval` minutes
  * (__main__.py:1101-1121): `CALL>APRS,TCPIP*:>aprs2influxdb heartbeat
  * <unixtime>`, on its own socket (SURVEY §7.5 design decision — no shared
  * connection with the feed). */
object Heartbeat {
  /** Sends one heartbeat now, then one `cfg.interval` minutes after each
    * send ends (the reference's send-then-sleep loop), on one daemon thread
    * that never holds the JVM open. Stop it with `shutdownNow()`.
    * Throws IllegalArgumentException for an interval ≤ 0, which
    * AppConfig.parse accepts (argparse parity) but no schedule can run. */
  def start(cfg: AppConfig): ScheduledExecutorService = {
    require(cfg.interval > 0,
      s"--interval must be a positive number of minutes, got ${cfg.interval}")
    val scheduler = Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "aprs-heartbeat")
      t.setDaemon(true)
      t
    }
    scheduler.scheduleWithFixedDelay(() => send(cfg), 0, cfg.interval, TimeUnit.MINUTES)
    scheduler
  }

  private[graft] def send(cfg: AppConfig): Unit = {
    val line = s"${cfg.callsign}>APRS,TCPIP*:>aprs2influxdb heartbeat " +
      s"${System.currentTimeMillis() / 1000}"
    try {
      val socket = new Socket(cfg.host, cfg.port)
      try {
        val out = new OutputStreamWriter(socket.getOutputStream, StandardCharsets.UTF_8)
        out.write(AprsIsSource.loginLine(cfg.callsign))
        out.write(line + "\r\n")
        out.flush()
      } finally socket.close()
    } catch {
      case e: Exception =>
        System.err.println(s"[heartbeat] send failed: ${e.getMessage}")
    }
  }
}
