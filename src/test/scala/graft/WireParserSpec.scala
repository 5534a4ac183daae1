package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import graft.parse.AprsWireParser

/** Unit tests for the aprslib-replacement wire parser, with expectations
  * hand-derived from the public APRS 1.01 spec (including the spec's own
  * compressed-position and Mic-E worked examples). */
class WireParserSpec extends AnyFunSuite {

  private def p(raw: String): Row = AprsWireParser.parse(raw).get
  private def get[T](r: Row, k: String): T =
    r.getAs[T](r.schema.fieldIndex(k))

  test("envelope: from/to/via/path/raw") {
    val r = p("N0CALL>APRS,WIDE1-1,WIDE2-2:!4903.50N/07201.75W-hi")
    assert(get[String](r, "from") == "N0CALL")
    assert(get[String](r, "to") == "APRS")
    assert(get[Seq[String]](r, "path") == Seq("WIDE1-1", "WIDE2-2"))
    assert(get[String](r, "via") == "WIDE2-2")
    assert(get[String](r, "raw").startsWith("N0CALL>"))
  }

  test("uncompressed position + symbol + comment") {
    val r = p("N0CALL>APRS:!4903.50N/07201.75W-Test comment")
    assert(get[String](r, "format") == "uncompressed")
    assert(math.abs(get[Double](r, "latitude") - 49.058333) < 1e-6)
    assert(math.abs(get[Double](r, "longitude") - -72.029167) < 1e-6)
    assert(get[Int](r, "posambiguity") == 0)
    assert(get[String](r, "symbol_table") == "/")
    assert(get[String](r, "symbol") == "-")
    assert(get[String](r, "comment") == "Test comment")
    assert(get[Boolean](r, "messagecapable") == false)
  }

  test("= marker sets messagecapable; CSE/SPD extension") {
    val r = p("N0CALL>APRS:=4903.50N/07201.75W>088/036Hello")
    assert(get[Boolean](r, "messagecapable") == true)
    assert(get[Int](r, "course") == 88)
    assert(math.abs(get[Double](r, "speed") - 36 * 1.852) < 1e-6)
    assert(get[String](r, "comment") == "Hello")
  }

  test("PHG + altitude in comment") {
    val r = p("N0CALL>APRS:!4903.50N/07201.75W-PHG5132/A=001000rest")
    assert(get[String](r, "phg") == "5132")
    assert(math.abs(get[Double](r, "altitude") - 304.8) < 1e-6)
    assert(get[String](r, "comment") == "rest")
  }

  test("position ambiguity from spaces") {
    val r = p("N0CALL>APRS:!4903.5 N/07201.7 W-")
    assert(get[Int](r, "posambiguity") == 1)
    assert(math.abs(get[Double](r, "latitude") - (49 + 3.50 / 60)) < 1e-6)
  }

  test("timestamped position keeps raw_timestamp and resolves epoch") {
    // fixed clock: 2026-08-12 10:00:00Z → "092345z" = 2026-08-09 23:45Z
    val now = 1786528800L
    val r = AprsWireParser.parse("N0CALL>APRS:@092345z4903.50N/07201.75W-", now).get
    assert(get[String](r, "raw_timestamp") == "092345z")
    assert(get[Boolean](r, "messagecapable") == true)
    assert(get[Long](r, "timestamp") == 1786319100L) // 2026-08-09T23:45:00Z
  }

  test("DHM day in the future rolls back one month") {
    val now = 1786528800L // 2026-08-12
    val r = AprsWireParser.parse("N0CALL>APRS:@250000z4903.50N/07201.75W-", now).get
    assert(get[Long](r, "timestamp") == 1784937600L) // 2026-07-25T00:00:00Z
  }

  test("compressed position (APRS101 worked example)") {
    val r = p("W1AW>APRS:!/5L!!<*e7>7P[comment")
    assert(get[String](r, "format") == "compressed")
    assert(math.abs(get[Double](r, "latitude") - 49.5) < 1e-4)
    assert(math.abs(get[Double](r, "longitude") - -72.75) < 1e-4)
    assert(get[String](r, "symbol") == ">")
  }

  test("mic-e (APRS101 worked example)") {
    val r = p("N0CALL>S32UVT:`(_fn\"Oj/]test")
    assert(get[String](r, "format") == "mic-e")
    assert(math.abs(get[Double](r, "latitude") - (33 + 25.64 / 60)) < 1e-6)
    assert(math.abs(get[Double](r, "longitude") - -(112 + 7.74 / 60)) < 1e-6)
    assert(get[Int](r, "course") == 251)
    assert(math.abs(get[Double](r, "speed") - 20 * 1.852) < 1e-6)
    assert(get[String](r, "symbol") == "j")
    assert(get[String](r, "symbol_table") == "/")
  }

  test("status with timestamp") {
    val r = p("KB1LQD>APRS,TCPIP*:>092345zNet tonight")
    assert(get[String](r, "format") == "status")
    assert(get[String](r, "raw_timestamp") == "092345z")
    assert(get[String](r, "status") == "Net tonight")
  }

  test("message with msgNo") {
    val r = p("A1CALL>APRS::KB1LQD   :hello there{12")
    assert(get[String](r, "format") == "message")
    assert(get[String](r, "addresse") == "KB1LQD")
    assert(get[String](r, "message_text") == "hello there")
    assert(get[Long](r, "msgNo") == 12L)
  }

  test("ack message") {
    val r = p("A1CALL>APRS::KB1LQD   :ack12")
    assert(get[String](r, "response") == "ack")
    assert(get[Long](r, "msgNo") == 12L)
  }

  test("bulletin") {
    val r = p("K9ABC>APRS::BLN3     :Net tonight 8pm")
    assert(get[String](r, "format") == "bulletin")
    assert(get[Long](r, "bid") == 3L)
    assert(get[String](r, "message_text") == "Net tonight 8pm")
  }

  test("telemetry-message EQNS") {
    val r = p("KB1LQD>APRS::KB1LQD   :EQNS.0,5.2,3,0,0.1,0,0,1,0,0,1,0,0,1,0")
    assert(get[String](r, "format") == "telemetry-message")
    val eq = get[Seq[Seq[Double]]](r, "tEQNS")
    assert(eq.size == 5 && eq.head == Seq(0.0, 5.2, 3.0))
  }

  test("uncompressed complete weather report (APRS101 ch.12 example)") {
    val r = p("N0CALL>APRS:!4903.50N/07201.75W_220/004g005t077r000p000P000h50b09900wRSW")
    assert(get[String](r, "format") == "uncompressed")
    assert(get[String](r, "symbol") == "_")
    val w = get[Row](r, "weather")
    def wf(k: String): Double = w.getAs[Double](graft.model.AprsSchema.weatherKeys.indexOf(k))
    assert(math.abs(wf("wind_direction") - 220.0) < 1e-9)
    assert(math.abs(wf("wind_speed") - 4 * 1.609344) < 1e-6) // mph → km/h
    assert(math.abs(wf("wind_gust") - 5 * 1.609344) < 1e-6)
    assert(math.abs(wf("temperature") - (77.0 - 32.0) / 1.8) < 1e-6)
    assert(math.abs(wf("rain_1h")) < 1e-9)
    assert(math.abs(wf("humidity") - 50.0) < 1e-9)
    assert(math.abs(wf("pressure") - 990.0) < 1e-9)
    // the software tag is the leftover comment, not weather
    assert(get[String](r, "comment") == "wRSW")
    // the 220/004 is wind, NOT course/speed
    assert(r.isNullAt(r.schema.fieldIndex("course")))
    assert(r.isNullAt(r.schema.fieldIndex("speed")))
  }

  test("compressed weather report: wind rides in the cs bytes") {
    // cs = "7P": course (0x37-33)*4 = 88 deg, speed 1.08^(0x50-33)-1 kn
    val r = p("N0CALL>APRS:!/5L!!<*e7_7P[g005t077")
    assert(get[String](r, "format") == "compressed")
    val w = get[Row](r, "weather")
    def wf(k: String): Double = w.getAs[Double](graft.model.AprsSchema.weatherKeys.indexOf(k))
    assert(math.abs(wf("wind_direction") - 88.0) < 1e-9)
    assert(math.abs(wf("wind_speed") - (math.pow(1.08, 47) - 1) * 1.852) < 1e-4)
    assert(math.abs(wf("temperature") - 25.0) < 1e-6)
    assert(r.isNullAt(r.schema.fieldIndex("course")))
  }

  test("DAO datum byte refines precision and serializes daodatumbyte") {
    val r = p("N0CALL>APRS:!4903.50N/07201.75W-hello !W36! world")
    assert(get[String](r, "daodatumbyte") == "W")
    // third minute digit: lat +0.003', lon -0.006' (towards the sign)
    assert(math.abs(get[Double](r, "latitude") - (49.058333 + 0.003 / 60)) < 1e-6)
    assert(math.abs(get[Double](r, "longitude") - (-72.029167 - 0.006 / 60)) < 1e-6)
    assert(get[String](r, "comment") == "hello  world")
  }

  test("mic-e mtype from the APRS101 message-type table") {
    // dest "T7SYWX": T,7,S → bits 1,0,1 standard = "in service"
    val r = p("N0CALL>T7SYWX:`(_fn\"Oj/]comment")
    assert(get[String](r, "format") == "mic-e")
    assert(get[Int](r, "mbits") == 5)
    assert(get[String](r, "mtype") == "in service")
  }

  test("comment-embedded base91 telemetry |..|") {
    // pairs: seq=5, then 5 analog channels, then the digital byte
    val payload = "|!&\"b!!\"a!#!$!%|"
    val r = p(s"N0CALL>APRS:!4903.50N/07201.75W-before${payload}after")
    val t = get[Row](r, "telemetry")
    assert(t.getLong(0) == 5L) // "!&" = 0*91+5
    val vals = t.getAs[Seq[Double]](2)
    assert(vals.length == 5)
    assert(vals.head == 91.0 + 65.0) // "\"b" = 1*91 + 65 = 156
    assert(get[String](r, "comment") == "beforeafter")
  }

  test("malformed EQNS drops the packet (aprslib ParseError contract)") {
    // partial trailing triple — would ANSI-throw in telemetryFrags if the
    // truncated calibration ever reached state (ADVICE r1, high)
    assert(AprsWireParser.parse("KB1LQD>APRS::KB1LQD   :EQNS.1,2,3,4").isEmpty)
    // too many values is equally malformed
    assert(AprsWireParser.parse(
      "KB1LQD>APRS::KB1LQD   :EQNS.0,1,0,0,1,0,0,1,0,0,1,0,0,1,0,9").isEmpty)
    // non-numeric value
    assert(AprsWireParser.parse("KB1LQD>APRS::KB1LQD   :EQNS.a,b,c").isEmpty)
  }

  test("raw telemetry T# parses (and is a dropped format downstream)") {
    val r = p("KB1LQD>APRS:T#005,199,000,255,073,123,01101001")
    assert(get[String](r, "format") == "telemetry")
    val t = get[Row](r, "telemetry")
    assert(t.getLong(0) == 5L)
    assert(t.getAs[Seq[Double]](2) == Seq(199.0, 0.0, 255.0, 73.0, 123.0))
  }

  test("object with position") {
    val r = p("K1XYZ>APRS:;REPEATER *092345z4903.50N/07201.75W-147.09MHz")
    assert(get[String](r, "format") == "object")
    assert(get[String](r, "object_name") == "REPEATER ")
    assert(get[Boolean](r, "alive") == true)
    assert(math.abs(get[Double](r, "latitude") - 49.058333) < 1e-6)
  }

  test("positionless weather") {
    val r = p("CW0003>APRS:_10090233c220s004g005t077r000p000P000h50b09900")
    assert(get[String](r, "format") == "wx")
    assert(get[String](r, "wx_raw_timestamp") == "10090233")
    val w = get[Row](r, "weather")
    val keys = graft.model.AprsSchema.weatherKeys
    def wv(k: String) = w.getAs[Double](keys.indexOf(k))
    assert(wv("wind_direction") == 220.0)
    assert(math.abs(wv("temperature") - 25.0) < 1e-6) // 77F = 25C
    assert(wv("humidity") == 50.0)
    assert(math.abs(wv("pressure") - 990.0) < 1e-6)
  }

  test("beacon fallback") {
    val r = p("DIGI-1>BEACON:Mt Beacon digi")
    assert(get[String](r, "format") == "beacon")
    assert(get[String](r, "text") == "Mt Beacon digi")
  }

  test("garbage is dropped, not thrown") {
    assert(AprsWireParser.parse("").isEmpty)
    assert(AprsWireParser.parse("no envelope here").isEmpty)
    assert(AprsWireParser.parse(">:").isEmpty)
    assert(AprsWireParser.parse("A>B:").isEmpty)
    assert(AprsWireParser.parse("A>B:!499").isEmpty) // truncated position → drop
  }
}

object WireParserSpec {
  /** The raw frames the tests above parse, well-formed and malformed:
    * the seed corpus of [[AprsIsReaderPropertySpec]]'s mutations. */
  val frames: Seq[String] = Seq(
    "N0CALL>APRS,WIDE1-1,WIDE2-2:!4903.50N/07201.75W-hi",
    "N0CALL>APRS:!4903.50N/07201.75W-Test comment",
    "N0CALL>APRS:=4903.50N/07201.75W>088/036Hello",
    "N0CALL>APRS:!4903.50N/07201.75W-PHG5132/A=001000rest",
    "N0CALL>APRS:!4903.5 N/07201.7 W-",
    "N0CALL>APRS:@092345z4903.50N/07201.75W-",
    "N0CALL>APRS:@250000z4903.50N/07201.75W-",
    "W1AW>APRS:!/5L!!<*e7>7P[comment",
    "N0CALL>S32UVT:`(_fn\"Oj/]test",
    "KB1LQD>APRS,TCPIP*:>092345zNet tonight",
    "A1CALL>APRS::KB1LQD   :hello there{12",
    "A1CALL>APRS::KB1LQD   :ack12",
    "K9ABC>APRS::BLN3     :Net tonight 8pm",
    "KB1LQD>APRS::KB1LQD   :EQNS.0,5.2,3,0,0.1,0,0,1,0,0,1,0,0,1,0",
    "N0CALL>APRS:!4903.50N/07201.75W_220/004g005t077r000p000P000h50b09900wRSW",
    "N0CALL>APRS:!/5L!!<*e7_7P[g005t077",
    "N0CALL>APRS:!4903.50N/07201.75W-hello !W36! world",
    "N0CALL>T7SYWX:`(_fn\"Oj/]comment",
    "N0CALL>APRS:!4903.50N/07201.75W-before|!&\"b!!\"a!#!$!%|after",
    "KB1LQD>APRS::KB1LQD   :EQNS.1,2,3,4",
    "KB1LQD>APRS::KB1LQD   :EQNS.0,1,0,0,1,0,0,1,0,0,1,0,0,1,0,9",
    "KB1LQD>APRS::KB1LQD   :EQNS.a,b,c",
    "KB1LQD>APRS:T#005,199,000,255,073,123,01101001",
    "K1XYZ>APRS:;REPEATER *092345z4903.50N/07201.75W-147.09MHz",
    "CW0003>APRS:_10090233c220s004g005t077r000p000P000h50b09900",
    "DIGI-1>BEACON:Mt Beacon digi",
    "", "no envelope here", ">:", "A>B:", "A>B:!499")
}
