package graft.core

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets
import java.io.{ByteArrayInputStream, InputStream}
import java.util.zip.{CRC32, Deflater, DeflaterOutputStream}

/** Decoding tolerance goldens ported from
  * /root/reference/test/testReaders.test.ts (chunked tolerance matrix
  * :501-552, compress/decompress truth table :298-321, member offsets
  * :261-279), plus property tests for member-boundary invariance. */
class ReadersSpec extends AnyFunSuite {

  private def utf8(s: String) = s.getBytes(StandardCharsets.UTF_8)
  private def str(b: Array[Byte]) = new String(b, StandardCharsets.UTF_8)

  private def dechunked(s: String): String = str(PayloadDecode.dechunk(utf8(s)))

  test("test chunks (wikipedia)") {
    assert(dechunked("4\r\nWiki\r\n5\r\npedia\r\nE\r\n in\r\n\r\nchunks.\r\n0\r\n\r\n") ==
      "Wikipedia in\r\n\r\nchunks.")
  }

  test("chunked tolerance matrix") {
    assert(dechunked("xyz123!@#") == "xyz123!@#")
    assert(dechunked("ABCDEABCDEABCDEABCDE") == "ABCDEABCDEABCDEABCDE")
    assert(dechunked("ABCDEABCDEABCDEABCDE\r\n") == "ABCDEABCDEABCDEABCDE\r\n")
    assert(dechunked("1\r\nxyz123!@#") == "1\r\nxyz123!@#")
    assert(dechunked("4\r\n1234\r\nZ\r\n12") == "1234Z\r\n12")
    assert(dechunked("4\r\n1234\r\n4\r\n12") == "123412")
    assert(dechunked("4\r\n1234\r\n4\r\n567890") == "1234567890")
    assert(dechunked("0\r\n\r\n") == "")
  }

  test("chunked + gzip attempt on plain data") {
    // "ABCDE" parses as a huge chunk size, replays raw; gzip decode fails
    // → passthrough
    assert(str(PayloadDecode.decodePayload(utf8("ABCDE"), "gzip", "chunked")) == "ABCDE")
  }

  test("chunked + gzip actually compressed") {
    val gz = WarcWriter.gzipMember(utf8("ABCDE"))
    val chunked = new java.io.ByteArrayOutputStream()
    chunked.write(utf8(gz.length.toHexString + "\r\n")); chunked.write(gz)
    chunked.write(utf8("\r\n0\r\n\r\n"))
    assert(str(PayloadDecode.decodePayload(chunked.toByteArray, "gzip", "chunked")) == "ABCDE")
  }

  private def zlib(data: Array[Byte], raw: Boolean): Array[Byte] = {
    val d = new Deflater(Deflater.DEFAULT_COMPRESSION, raw)
    val bos = new java.io.ByteArrayOutputStream()
    val dos = new DeflaterOutputStream(bos, d)
    dos.write(data); dos.finish(); dos.close()
    bos.toByteArray
  }

  test("read compress / decompress truth table") {
    val text = "Some Data More Data"
    val data = utf8(text)
    val cases: Seq[(String, String, Boolean)] = Seq(
      ("gzip", "gzip", true), ("gzip", "deflate", true), ("gzip", "deflateRaw", false), ("gzip", null, true),
      ("deflate", "deflate", true), ("deflate", "gzip", true), ("deflate", "deflateRaw", true), ("deflate", null, true),
      ("deflateRaw", "deflateRaw", true), ("deflateRaw", "deflate", false), ("deflateRaw", "gzip", false), ("deflateRaw", null, true),
      (null, null, true), (null, "gzip", false), (null, "deflate", false), (null, "deflateRaw", false))
    for ((decompress, compress, valid) <- cases) {
      val compressed = compress match {
        case "gzip"       => WarcWriter.gzipMember(data)
        case "deflate"    => zlib(data, raw = false)
        case "deflateRaw" => zlib(data, raw = true)
        case null         => data
      }
      val out = str(PayloadDecode.decodePayload(compressed, decompress, null))
      if (valid) assert(out == text, s"($decompress, $compress) should decode")
      else assert(out != text, s"($decompress, $compress) should NOT decode")
    }
  }

  /** One uncompressed WARC resource record holding `body`. */
  private def record(i: Int, body: String): Array[Byte] =
    WarcWriter.serialize(WarcWriter.create(url = s"https://ex.org/$i", date = "2020-01-01T00:00:00Z",
      warcType = "resource", payload = utf8(body), recordId = f"00000000-0000-0000-0000-$i%012d"),
      WarcWriter.CdxDigest)

  private def parse(in: InputStream): Vector[FramedRecord] =
    WarcStreaming.parseStream(in, "t.warc.gz", isGzip = true).toVector

  private def parse(file: Array[Byte]): Vector[FramedRecord] = parse(new ByteArrayInputStream(file))

  /** `data` as one gzip member whose header sets the flags `flg` (FHCRC
    * 0x02, FEXTRA 0x04, FNAME 0x08, FCOMMENT 0x10) and their fields. */
  private def flaggedMember(data: Array[Byte], flg: Int): Array[Byte] = {
    val plain = WarcWriter.gzipMember(data)
    val h = new java.io.ByteArrayOutputStream()
    h.write(Array[Byte](0x1f, 0x8b.toByte, 8, flg.toByte, 0, 0, 0, 0, 0, 3))
    if ((flg & 0x04) != 0) h.write(Array[Byte](3, 0, 'x'.toByte, 0, 'y'.toByte)) // XLEN 3, a NUL inside
    if ((flg & 0x08) != 0) h.write(utf8("name.warc\u0000"))
    if ((flg & 0x10) != 0) h.write(utf8("a comment\u0000"))
    if ((flg & 0x02) != 0) {
      val crc = new CRC32
      crc.update(h.toByteArray)
      h.write(crc.getValue.toInt & 0xff); h.write((crc.getValue.toInt >> 8) & 0xff)
    }
    h.write(plain, 10, plain.length - 10)
    h.toByteArray
  }

  test("multi-member gzip: offsets account raw bytes, data concatenates") {
    val texts = Seq("Some Data", "Some\n More Data", "Another Chunk of Data", "extra data")
    val recs = texts.zipWithIndex.map { case (t, i) => record(i, t) }
    val members = recs.map(WarcWriter.gzipMember)
    val file = members.reduce(_ ++ _)
    assert(PayloadDecode.decodePayload(file, "gzip", null) sameElements recs.reduce(_ ++ _))
    val framed = parse(file)
    assert(framed.map(r => str(r.payload)) == texts)
    // one member per record: each record spans its member's raw bytes,
    // and the members tile the file
    val starts = members.scanLeft(0L)(_ + _.length)
    assert(framed.map(r => (r.offset, r.length)) == starts.zip(members.map(_.length.toLong)))
    assert(starts.last == file.length)
  }

  test("a gzip member cut inside its CRC/ISIZE trailer is truncated; content decoding keeps the raw bytes") {
    val file = WarcStreamingSpec.twoMemberGz()
    assert(parse(file).length == 2)
    val cut = file.dropRight(8)
    val ex = intercept[IllegalArgumentException](parse(cut))
    assert(ex.getMessage == "truncated gzip member")
    assert(PayloadDecode.decodePayload(cut, "gzip", null) sameElements cut)
  }

  test("property: member split is chunk-layout invariant (seeded sweep)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 50) {
      val parts = (1 to (1 + rnd.nextInt(6))).map(_ => rnd.nextString(1 + rnd.nextInt(40))).toList
      val file = parts.zipWithIndex.map { case (p, i) => WarcWriter.gzipMember(record(i, p)) }.reduce(_ ++ _)
      val whole = parse(file)
      // the same bytes, delivered in reads of 1 to 17 bytes
      val dribbled = parse(new ByteArrayInputStream(file) {
        override def read(b: Array[Byte], off: Int, len: Int): Int =
          super.read(b, off, math.min(len, 1 + rnd.nextInt(17)))
      })
      assert(whole.map(r => str(r.payload)) == parts)
      assert(dribbled.map(r => (r.offset, r.length, str(r.payload))) ==
        whole.map(r => (r.offset, r.length, str(r.payload))))
    }
  }

  test("gzip header flags FEXTRA, FNAME, FCOMMENT and FHCRC: parseStream and decodePayload read the same bytes") {
    val flags = Seq(0x02, 0x04, 0x08, 0x10, 0x1e)
    val recs = flags.indices.map(i => record(i, s"body $i"))
    val flagged = recs.zip(flags).map { case (r, f) => flaggedMember(r, f) }.reduce(_ ++ _)
    assert(PayloadDecode.decodePayload(flagged, "gzip", null) sameElements recs.reduce(_ ++ _))
    val plain = parse(recs.map(WarcWriter.gzipMember).reduce(_ ++ _))
    val framed = parse(flagged)
    assert(framed.map(r => str(r.payload)) == flags.indices.map(i => s"body $i"))
    assert(framed.map(r => (r.warcHeaders, str(r.payload))) == plain.map(r => (r.warcHeaders, str(r.payload))))
  }

  test("bytes after the last gzip member that are not a gzip member make decodePayload return its input") {
    val members = WarcWriter.gzipMember(utf8("one")) ++ WarcWriter.gzipMember(utf8("two"))
    assert(str(PayloadDecode.decodePayload(members, "gzip", null)) == "onetwo")
    for (suffix <- Seq(utf8("not gzip"), Array[Byte](0x1f), Array[Byte](0x1f, 0x8b.toByte, 8, 0))) {
      val body = members ++ suffix
      assert(PayloadDecode.decodePayload(body, "gzip", null) sameElements body)
    }
  }

  test("a parse closed after its first record closes its underlying stream") {
    var closes = 0
    val in = new ByteArrayInputStream(WarcStreamingSpec.twoMemberGz()) {
      override def close(): Unit = { closes += 1; super.close() }
    }
    val it = WarcStreaming.parseStream(in, "t.warc.gz", isGzip = true)
    assert(it.next().warcTargetURI == "https://ex.org/0")
    assert(closes == 0)
    it.close()
    it.close()
    assert(closes == 1)
    assert(!it.hasNext)
  }

  test("property: dechunk inverts chunked encoding at any chunk size (seeded sweep)") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 100) {
      val body = rnd.nextString(1 + rnd.nextInt(200))
      val bytes = utf8(body)
      val bos = new java.io.ByteArrayOutputStream()
      var pos = 0
      while (pos < bytes.length) {
        val take = Math.min(1 + rnd.nextInt(17), bytes.length - pos)
        bos.write(utf8(take.toHexString + "\r\n"))
        bos.write(bytes, pos, take)
        bos.write(utf8("\r\n"))
        pos += take
      }
      bos.write(utf8("0\r\n\r\n"))
      assert(str(PayloadDecode.dechunk(bos.toByteArray)) == body)
    }
  }
}
