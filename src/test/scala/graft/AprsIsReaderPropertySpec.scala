package graft

import java.nio.charset.StandardCharsets

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.parse.AprsWireParser
import graft.sources.{AprsIsPartition, AprsIsReaderFactory, AprsIsSource}

/** Property checks of the source's executor path: a frame the parser or
  * the row conversion cannot take must drop, never throw (a throw there
  * fails the task and stops the daemon), and a partition's frames must
  * survive the UTF-8 block they travel in. Fixed seed, so a failure
  * reproduces. */
class AprsIsReaderPropertySpec extends AnyFunSuite {

  private val params = Test.Parameters.default
    .withMinSuccessfulTests(400)
    .withInitialSeed(Seed(1301L))

  private def check(p: Prop): Unit = {
    val res = Test.check(params, p)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  /** One mutation of a frame's UTF-8 bytes. */
  private val edit: Gen[Array[Byte] => Array[Byte]] = Gen.oneOf(
    // byte flip
    for (i <- Gen.chooseNum(0, 1 << 10); b <- Gen.chooseNum(-128, 127))
      yield (a: Array[Byte]) =>
        if (a.isEmpty) a else a.updated(i % a.length, b.toByte),
    // truncation
    Gen.chooseNum(0, 1 << 10).map(n =>
      (a: Array[Byte]) => a.take(if (a.isEmpty) 0 else n % a.length)),
    // an inserted APRS delimiter
    for (i <- Gen.chooseNum(0, 1 << 10); c <- Gen.oneOf(":>,|!".toSeq))
      yield (a: Array[Byte]) => {
        val at = i % (a.length + 1)
        (a.take(at) :+ c.toByte) ++ a.drop(at)
      })

  /** A mutated fixture frame as the feed delivers it: the bytes decode
    * as UTF-8 (malformed sequences become U+FFFD) and split into lines
    * the way `BufferedReader.readLine` splits the socket. */
  private val mutated: Gen[Seq[String]] = for {
    base <- Gen.oneOf(WireParserSpec.frames)
    edits <- Gen.choose(0, 4).flatMap(Gen.listOfN(_, edit))
  } yield {
    val bytes = edits.foldLeft(base.getBytes(StandardCharsets.UTF_8))(
      (a, f) => f(a))
    new String(bytes, StandardCharsets.UTF_8).split("\r\n|\r|\n", -1).toSeq
  }

  private val seqIdx = AprsIsSource.fullSchema.fieldIndex("_seq")

  private def readSeqs(frames: Array[String], start: Long): Seq[Long] = {
    val r = new AprsIsReaderFactory()
      .createReader(new AprsIsPartition(frames, start))
    val out = Seq.newBuilder[Long]
    while (r.next()) out += r.get().getLong(seqIdx)
    r.close()
    out.result()
  }

  /** Each row the parser keeps carries its frame's arrival index, so
    * `_seq` strictly increases from the partition's start. */
  test("mutated frames never throw in the reader; _seq strictly increases from the start") {
    check(Prop.forAllNoShrink(Gen.listOf(mutated).map(_.flatten.take(40)),
        Gen.chooseNum(0L, 1L << 40)) { (frames, start) =>
      readSeqs(frames.toArray, start) == frames.indices.collect {
        case i if AprsWireParser.parse(frames(i)).isDefined => start + i
      }
    })
  }

  /** A frame without a line break: ASCII, 2-, 3- and 4-byte UTF-8 code
    * points (the surrogate block holds none). */
  private val codePoint: Gen[Int] = Gen.frequency(
    4 -> Gen.chooseNum(0x20, 0x7e),
    1 -> Gen.chooseNum(0, 0x7f).suchThat(c => c != '\n'),
    1 -> Gen.chooseNum(0x80, 0x7ff),
    1 -> Gen.oneOf(Gen.chooseNum(0x800, 0xd7ff), Gen.chooseNum(0xe000, 0xffff)),
    1 -> Gen.chooseNum(0x10000, 0x10ffff))
  private val frame: Gen[String] = Gen.listOf(codePoint)
    .map(cs => new String(cs.toArray, 0, cs.length))

  test("a partition's lines give back its frames, multi-byte UTF-8 included") {
    check(Prop.forAllNoShrink(Gen.listOf(frame), Gen.chooseNum(0L, 1L << 40)) {
      (frames, start) =>
        val p = new AprsIsPartition(frames.toArray, start)
        p.lines.toSeq == frames && p.startSeq == start
    })
  }
}
