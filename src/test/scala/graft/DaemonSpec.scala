package graft

import java.io.{BufferedReader, InputStreamReader, OutputStreamWriter}
import java.net.{InetSocketAddress, ServerSocket}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentLinkedQueue, TimeUnit}
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

import graft.app.{AppConfig, Heartbeat, Main}
import graft.sources.AprsIsSource

/** Automated daemon end-to-end (VERDICT r1 item 7): the full
  * `Main.buildIngestQuery` wiring — stub APRS-IS socket → DSv2 source →
  * calibration state → line protocol → InfluxDB sink with credentials —
  * plus `Heartbeat.send` and the `Heartbeat.start` schedule against the
  * stub server, mirroring the reference's consumer + heartbeat threads
  * (__main__.py:1101-1121, 1153-1206). */
class DaemonSpec extends AnyFunSuite {

  lazy val spark = SparkTest.session

  private def aprsStub(frames: Seq[String],
      received: ConcurrentLinkedQueue[String]): ServerSocket = {
    val server = new ServerSocket(0)
    val t = new Thread {
      override def run(): Unit =
        while (!server.isClosed) {
          try {
            val s = server.accept()
            val in = new BufferedReader(
              new InputStreamReader(s.getInputStream, StandardCharsets.UTF_8))
            received.add(in.readLine()) // login
            val out = new OutputStreamWriter(s.getOutputStream, StandardCharsets.UTF_8)
            frames.foreach(f => out.write(f + "\r\n"))
            out.flush()
            // keep the connection open; also capture anything else sent
            // (the heartbeat packet arrives as a second line)
            var l = in.readLine()
            while (l != null) { received.add(l); l = in.readLine() }
          } catch { case _: Exception => () }
        }
    }
    t.setDaemon(true)
    t.start()
    server
  }

  test("daemon e2e: ingest query writes authenticated lines to InfluxDB") {
    val frames = Seq(
      "# aprsc test",
      "N0CALL>APRS,WIDE1-1:!4903.50N/07201.75W-daemon e2e",
      "DIGI-1>BEACON:daemon beacon")
    val logins = new ConcurrentLinkedQueue[String]()
    val aprs = aprsStub(frames, logins)

    val writes = new ConcurrentLinkedQueue[String]()
    val http = HttpServer.create(new InetSocketAddress(0), 0)
    http.createContext("/write", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        writes.add(ex.getRequestURI.toString + "|" + body)
        ex.sendResponseHeaders(204, -1)
        ex.close()
      }
    })
    http.start()

    val cfg = AppConfig(
      dbhost = "127.0.0.1", dbport = http.getAddress.getPort,
      host = "127.0.0.1", port = aprs.getLocalPort,
      checkpointDir = java.nio.file.Files
        .createTempDirectory("graft-daemon-e2e").toString)
    // operational metrics must flow during the SAME e2e run (SURVEY
    // §2.8's StreamingQueryListener row) — captured via the injectable
    // emit, the exact line Main's default listener logs/prints
    val metricLines = new ConcurrentLinkedQueue[String]()
    val listener = new graft.streaming.OpsMetrics.Listener(metricLines.add(_))
    spark.streams.addListener(listener)
    val q = Main.buildIngestQuery(spark, cfg)
    try {
      val deadline = System.currentTimeMillis() + 60000
      while (writes.isEmpty && System.currentTimeMillis() < deadline) {
        q.processAllAvailable(); Thread.sleep(100)
      }
      assert(!writes.isEmpty, "no InfluxDB write arrived")
      val all = writes.toArray.map(_.toString).mkString("\n")
      // reference client credentials (root/root) travel as u/p params
      assert(all.contains("/write?db=mydb&u=root&p=root|"), all.take(200))
      assert(all.contains("packet,format=uncompressed "), all.take(400))
      assert(all.contains("packet,format=beacon "), all.take(400))
      // a data-bearing batch reported per-format counts and batch timing
      val deadline2 = System.currentTimeMillis() + 30000
      def metrics = metricLines.toArray.map(_.toString)
      while (!metrics.exists(_.contains("formats{")) &&
          System.currentTimeMillis() < deadline2) {
        q.processAllAvailable(); Thread.sleep(100)
      }
      val withData = metrics.filter(_.contains("formats{"))
      assert(withData.nonEmpty,
        s"no streaming-metrics line with format counts: ${metrics.mkString("; ")}")
      val m = withData.mkString("\n")
      assert(m.contains("streaming-metrics query="), m)
      assert(m.contains("uncompressed=1/"), m)
      assert(m.contains("beacon=1/"), m)
      assert(m.contains("batch_ms="), m)
      assert(m.contains("state_rows="), m)
    } finally {
      spark.streams.removeListener(listener)
      q.stop()
      aprs.close()
      http.stop(0)
    }
  }

  test("CLI: --debug anywhere does not shift later options") {
    val c = AppConfig.parse(Array(
      "--dbhost", "h1", "--debug", "--dbport", "9999",
      "--callsign", "N0CALL", "--interval", "5"))
    assert(c.debug)
    assert(c.dbhost == "h1")
    assert(c.dbport == 9999)
    assert(c.callsign == "N0CALL")
    assert(c.interval == 5)
    // defaults mirror the reference's argparse defaults (__main__.py:15-27)
    val d = AppConfig.parse(Array.empty)
    assert(d.dbhost == "localhost" && d.dbport == 8086 &&
      d.dbuser == "root" && d.dbpassword == "root" && d.dbname == "mydb" &&
      d.host == "rotate.aprs.net" && d.port == 10152 &&
      d.callsign == "nocall" && d.interval == 15 && !d.debug)
  }

  test("CLI: unknown or value-less options error like argparse") {
    // the day-one operator typo: --dbprot must NOT silently run on the
    // default port (reference argparse errors, __main__.py:15-27)
    val e = intercept[AppConfig.CliError] {
      AppConfig.parse(Array("--dbprot", "8087"))
    }
    assert(e.message.contains("--dbprot"))
    val m = intercept[AppConfig.CliError] {
      AppConfig.parse(Array("--dbhost"))
    }
    assert(m.message.contains("expected one argument"))
    // positional garbage is rejected too
    intercept[AppConfig.CliError] { AppConfig.parse(Array("oops")) }
  }

  test("CLI: malformed ints and flag-consuming values error like argparse") {
    // ADVICE r4: a non-numeric port must be a usage error (exit 2), not
    // an uncaught NumberFormatException stack trace (exit 1)
    val b = intercept[AppConfig.CliError] {
      AppConfig.parse(Array("--dbport", "eighty"))
    }
    assert(b.message.contains("--dbport") &&
      b.message.contains("invalid int value"))
    // ADVICE r4: a value option followed by another flag must not
    // silently swallow the flag as its value — argparse says the value
    // is missing
    val f = intercept[AppConfig.CliError] {
      AppConfig.parse(Array("--dbport", "--debug"))
    }
    assert(f.message.contains("--dbport") &&
      f.message.contains("expected one argument"))
    // ...but a negative number IS a value (argparse's
    // _negative_number_matcher: no option here looks like a number)
    assert(AppConfig.parse(Array("--interval", "-5")).interval == -5)
    assert(AppConfig.parse(Array("--dbhost", "-")).dbhost == "-")
  }

  test("heartbeat: login + status packet on its own connection") {
    val received = new ConcurrentLinkedQueue[String]()
    val aprs = aprsStub(Seq.empty, received)
    val cfg = AppConfig(host = "127.0.0.1", port = aprs.getLocalPort,
      callsign = "nocall")
    try {
      Heartbeat.send(cfg)
      val deadline = System.currentTimeMillis() + 10000
      while (received.size < 2 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      val lines = received.toArray.map(_.toString)
      assert(lines.length >= 2, lines.mkString("; "))
      assert(lines(0) ==
        s"user nocall pass ${AprsIsSource.passcode("nocall")} vers aprs2influxdbspark 0.1.0")
      // __main__.py:1101-1121 heartbeat packet shape
      assert(lines(1).matches("nocall>APRS,TCPIP\\*:>aprs2influxdb heartbeat \\d+"),
        lines(1))
    } finally aprs.close()
  }

  test("login: feed and heartbeat send the same exact login bytes") {
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import graft.sources.AprsIsMicroBatchStream
    // raw bytes up to and including the first LF, one per connection
    val logins = new ConcurrentLinkedQueue[String]()
    val server = new ServerSocket(0)
    val t = new Thread {
      override def run(): Unit =
        while (!server.isClosed) {
          try {
            val s = server.accept()
            val in = s.getInputStream
            val buf = new java.io.ByteArrayOutputStream()
            var b = in.read()
            while (b != -1 && b != '\n') { buf.write(b); b = in.read() }
            if (b == '\n') buf.write(b)
            logins.add(buf.toString(StandardCharsets.UTF_8.name))
          } catch { case _: Exception => () }
        }
    }
    t.setDaemon(true)
    t.start()
    val expected = "user nocall pass 12960 vers aprs2influxdbspark 0.1.0\r\n"
    val opts = new java.util.HashMap[String, String]()
    opts.put("host", "127.0.0.1")
    opts.put("port", server.getLocalPort.toString)
    opts.put("callsign", "nocall")
    opts.put("reconnectMs", "60000") // one feed connection in this test
    val feed = new AprsIsMicroBatchStream(new CaseInsensitiveStringMap(opts))
    try {
      val deadline = System.currentTimeMillis() + 10000
      while (logins.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(logins.poll() == expected)
      Heartbeat.send(AppConfig(host = "127.0.0.1", port = server.getLocalPort,
        callsign = "nocall"))
      while (logins.isEmpty && System.currentTimeMillis() < deadline + 10000)
        Thread.sleep(50)
      assert(logins.poll() == expected)
    } finally { feed.stop(); server.close() }
  }

  test("heartbeat: start sends at once, stop ends the schedule") {
    val received = new ConcurrentLinkedQueue[String]()
    val aprs = aprsStub(Seq.empty, received)
    val cfg = AppConfig(host = "127.0.0.1", port = aprs.getLocalPort,
      callsign = "nocall")
    def logins = received.toArray.count(_.toString.startsWith("user nocall "))
    try {
      val hb = Heartbeat.start(cfg)
      try {
        // the first packet goes out at start, not one interval later
        val deadline = System.currentTimeMillis() + 10000
        while (received.size < 2 && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
        val lines = received.toArray.map(_.toString)
        assert(lines.length == 2, lines.mkString("; "))
        assert(lines(0).startsWith("user nocall pass "), lines(0))
        assert(lines(1).matches("nocall>APRS,TCPIP\\*:>aprs2influxdb heartbeat \\d+"),
          lines(1))
      } finally hb.shutdownNow()
      // terminated ⇒ the periodic task is cancelled: no send can follow
      assert(hb.awaitTermination(10, TimeUnit.SECONDS))
      Thread.sleep(1000)
      assert(logins == 1, received.toArray.mkString("; "))
    } finally aprs.close()
  }

  test("heartbeat: an interval <= 0 fails at start") {
    // argparse parity keeps -5 a legal CLI value (see the CLI test above);
    // the schedule, not the parser, refuses it
    for (interval <- Seq(0, AppConfig.parse(Array("--interval", "-5")).interval)) {
      val e = intercept[IllegalArgumentException] {
        Heartbeat.start(AppConfig(host = "127.0.0.1", port = 1, interval = interval))
      }
      assert(e.getMessage.contains("--interval"), e.getMessage)
    }
  }
}
