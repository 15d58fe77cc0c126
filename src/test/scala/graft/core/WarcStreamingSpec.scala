package graft.core

import org.scalatest.funsuite.AnyFunSuite
import java.io.{ByteArrayInputStream, InputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The framer's output on every reference fixture must equal the recorded
  * goldens (`goldens/framing.jsonl`, one JSON line per record: offset,
  * length, version line, WARC and HTTP headers, payload length + SHA-256,
  * framing warning), and the framer must hold O(one record) of memory. */
class WarcStreamingSpec extends AnyFunSuite {

  private val fixtures = Seq(
    "example.warc", "example.warc.gz", "example-bad-length.warc",
    "example-iana.org-chunked.warc", "example-resource.warc.gz",
    "example-url-agnostic-revisit.warc.gz", "example-wget-bad-target-uri.warc.gz",
    "post-test-more.warc", "post-test.warc.gz", "redirect.warc")

  private def fixtureBytes(name: String): Array[Byte] =
    Files.readAllBytes(Paths.get(getClass.getResource(s"/warcio/$name").getPath))

  private def key(r: FramedRecord) =
    (r.offset, r.length, r.warcVersion, r.warcHeaders, r.httpStatusline,
      r.httpHeaders, r.payload.toSeq, r.warning)

  /** One golden line: `key`'s fields, the payload as length + SHA-256;
    * strings JSON-quoted with every non-printable-ASCII char escaped. */
  private def render(file: String, keepCase: Boolean, i: Int, r: FramedRecord): String = {
    def q(v: String): String =
      if (v == null) "null"
      else v.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < 0x20 || c > 0x7e => f"\\u${c.toInt}%04x"
        case c => c.toString
      }.mkString("\"", "", "\"")
    def hs(h: Vector[HeaderKV]) = h.map(kv => s"[${q(kv.name)},${q(kv.value)}]").mkString("[", ",", "]")
    val sha = java.security.MessageDigest.getInstance("SHA-256").digest(r.payload)
      .map(b => f"${b & 0xff}%02x").mkString
    s"""{"file":${q(file)},"keepCase":$keepCase,"record":$i,"offset":${r.offset},""" +
      s""""length":${r.length},"warcVersion":${q(r.warcVersion)},"warcHeaders":${hs(r.warcHeaders)},""" +
      s""""httpStatusline":${q(r.httpStatusline)},"httpHeaders":${hs(r.httpHeaders)},""" +
      s""""payloadLength":${r.payload.length},"payloadSha256":"$sha","warning":${q(r.warning)}}"""
  }

  test("recorded framing goldens on every reference fixture (both case modes)") {
    val golden = Files.readAllLines(Paths.get(
      getClass.getResource("/goldens/framing.jsonl").toURI)).asScala.toVector
    val framed = for {
      f <- fixtures
      keepCase <- Seq(false, true)
      (r, i) <- WarcStreaming.parseStream(new ByteArrayInputStream(fixtureBytes(f)), f,
        WarcFraming.isGzipName(f), keepCase).zipWithIndex
    } yield render(f, keepCase, i, r)
    for ((got, want) <- framed.zip(golden)) assert(got == want)
    assert(framed.size == golden.size, "record count")
  }

  test("a .warc.gz whose last member lacks its CRC/ISIZE trailer fails loudly") {
    def parse(b: Array[Byte]) =
      WarcStreaming.parseStream(new ByteArrayInputStream(b), "cut.warc.gz", isGzip = true).toVector
    val file = WarcStreamingSpec.twoMemberGz()
    assert(parse(file).size == 2)
    val ex = intercept[IllegalArgumentException](parse(file.dropRight(8)))
    assert(ex.getMessage == "truncated gzip member")
  }

  test("keepPayload=false: payloads skipped, all other fields identical") {
    for (f <- fixtures) {
      val bytes = fixtureBytes(f)
      val full = WarcStreaming.parseStream(new ByteArrayInputStream(bytes), f,
        WarcFraming.isGzipName(f)).toVector
      val pruned = WarcStreaming.parseStream(new ByteArrayInputStream(bytes), f,
        WarcFraming.isGzipName(f), keepPayload = false).toVector
      assert(pruned.size == full.size)
      for ((p, o) <- pruned.zip(full)) {
        assert(p.payload.isEmpty, s"$f payload not skipped")
        assert(key(p.copy(payload = Array.emptyByteArray)) ==
          key(o.copy(payload = Array.emptyByteArray)), s"$f pruned fields differ")
      }
    }
  }

  /** An InputStream that SYNTHESIZES records on the fly and counts bytes
    * served — proves the parser pulls O(one record), not the whole file:
    * after the first record, only ~2 records' worth of bytes may have
    * been requested (one + bounded lookahead/buffer). */
  private final class GeneratorStream(nRecords: Int, payloadSize: Int) extends InputStream {
    var served = 0L
    private var rec = 0
    private var cur: Array[Byte] = next0()
    private var pos = 0
    val recordSize: Int = cur.length
    private def next0(): Array[Byte] = {
      if (rec >= nRecords) return null
      val payload = ("x" * payloadSize).getBytes(StandardCharsets.UTF_8)
      val hdr = (s"WARC/1.0\r\nWARC-Type: resource\r\nWARC-Record-ID: <urn:uuid:r$rec>\r\n" +
        f"WARC-Target-URI: https://ex.org/$rec%08d\r\n" +
        s"Content-Length: ${payload.length}\r\n\r\n").getBytes(StandardCharsets.UTF_8)
      rec += 1
      hdr ++ payload ++ "\r\n\r\n".getBytes(StandardCharsets.UTF_8)
    }
    override def read(): Int = {
      if (cur == null) return -1
      val b = cur(pos) & 0xff
      pos += 1; served += 1
      if (pos >= cur.length) { cur = next0(); pos = 0 }
      b
    }
  }

  test("streaming-ness: first record emitted after O(record) bytes of a 100k-record stream") {
    val gen = new GeneratorStream(nRecords = 100000, payloadSize = 10000)
    val it = WarcStreaming.parseStream(gen, "synth.warc", isGzip = false)
    val first = it.next()
    assert(first.warcHeader("WARC-Record-ID").contains("<urn:uuid:r0>"))
    assert(first.payload.length == 10000)
    // total stream is ~1 GB equivalent; parser must have pulled only a
    // couple of records' worth (record + lookahead + 64 KiB buffer)
    assert(gen.served < 3L * gen.recordSize + (1 << 17),
      s"parser pulled ${gen.served} bytes for the first record — not streaming")
    var n = 1
    while (it.hasNext && n < 500) { it.next(); n += 1 } // spot-consume further
    assert(n == 500)
  }

  test("strictHeaders rejects malformed version lines; tolerant mode parses on") {
    val good = "WARC/1.0\r\nWARC-Type: resource\r\nContent-Length: 2\r\n\r\nhi\r\n\r\n"
    val bad = "GARBAGE-LINE\r\nWARC-Type: resource\r\nContent-Length: 2\r\n\r\nhi\r\n\r\n"
    val okRecs = WarcStreaming.parseStream(
      new ByteArrayInputStream(good.getBytes), "g.warc", isGzip = false,
      strictHeaders = true).toVector
    assert(okRecs.size == 1)
    val ex = intercept[IllegalArgumentException] {
      WarcStreaming.parseStream(new ByteArrayInputStream(bad.getBytes), "b.warc",
        isGzip = false, strictHeaders = true).toVector
    }
    assert(ex.getMessage.contains("strictHeaders"))
    // tolerant (reference behavior — its own strictHeaders option is a
    // no-op, warcparser.ts:13-16): the garbage line becomes the statusline
    val tolerant = WarcStreaming.parseStream(new ByteArrayInputStream(bad.getBytes),
      "b.warc", isGzip = false).toVector
    assert(tolerant.size == 1 && tolerant.head.warcVersion == "GARBAGE-LINE")
  }

  test("syncToMemberStart: finds exact member boundaries, rejects false magic") {
    // 20 one-member records, with payloads containing fake gzip magic
    val recs = (0 until 20).map { i =>
      val payload = (s"fakemagic-$i-" + "y" * 200).getBytes(StandardCharsets.ISO_8859_1)
      val r = WarcWriter.create(url = s"https://ex.org/$i", date = "2020-01-01T00:00:00Z",
        warcType = "resource", payload = payload,
        recordId = f"00000000-0000-0000-0000-$i%012d")
      WarcWriter.serialize(r, WarcWriter.CdxDigest, gzip = true)
    }
    val file = recs.reduce(_ ++ _)
    val trueStarts = recs.scanLeft(0L)(_ + _.length).dropRight(1)
    def openAt(off: Long): InputStream =
      new ByteArrayInputStream(file, off.toInt, file.length - off.toInt)
    // from 0: first member
    assert(WarcStreaming.syncToMemberStart(openAt, 0, file.length) == 0L)
    // from 1 byte in: next true member start, not a payload fake-magic
    val s1 = WarcStreaming.syncToMemberStart(openAt, 1, file.length)
    assert(trueStarts.contains(s1) && s1 == trueStarts(1))
    // from just before the last member
    val sLast = WarcStreaming.syncToMemberStart(openAt, trueStarts.last - 1, file.length)
    assert(sLast == trueStarts.last)
    // empty range (no member start inside)
    assert(WarcStreaming.syncToMemberStart(openAt, trueStarts.last + 1, file.length) == -1L)

    // FALSE magic: plant a raw 1f 8b 08 triple inside junk before a real
    // member — the validator must reject it (bad inflate / no WARC/) and
    // sync to the real member start
    val junk = Array.fill[Byte](64)('A'.toByte)
    junk(10) = 0x1f; junk(11) = 0x8b.toByte; junk(12) = 0x08
    val file2 = junk ++ recs.head
    def openAt2(off: Long): InputStream =
      new ByteArrayInputStream(file2, off.toInt, file2.length - off.toInt)
    assert(WarcStreaming.syncToMemberStart(openAt2, 0, file2.length) == 64L)
  }
}

object WarcStreamingSpec {

  /** A `.warc.gz` of two `WarcWriter` gzip members, one record each. */
  def twoMemberGz(): Array[Byte] = (0 until 2).map { i =>
    WarcWriter.serialize(WarcWriter.create(url = s"https://ex.org/$i", date = "2020-01-01T00:00:00Z",
      warcType = "resource", payload = s"body $i".getBytes(StandardCharsets.UTF_8),
      recordId = f"00000000-0000-0000-0000-$i%012d"), WarcWriter.CdxDigest, gzip = true)
  }.reduce(_ ++ _)
}
