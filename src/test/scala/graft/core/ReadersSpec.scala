package graft.core

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets
import java.util.zip.{Deflater, DeflaterOutputStream}

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
    val gz = GzipMembers.gzipMember(utf8("ABCDE"))
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
        case "gzip"       => GzipMembers.gzipMember(data)
        case "deflate"    => zlib(data, raw = false)
        case "deflateRaw" => zlib(data, raw = true)
        case null         => data
      }
      val out = str(PayloadDecode.decodePayload(compressed, decompress, null))
      if (valid) assert(out == text, s"($decompress, $compress) should decode")
      else assert(out != text, s"($decompress, $compress) should NOT decode")
    }
  }

  test("multi-member gzip: offsets account raw bytes, data concatenates") {
    val texts = Seq("Some Data", "Some\n More Data", "Another Chunk of Data", "extra data")
    val bos = new java.io.ByteArrayOutputStream()
    texts.foreach(t => bos.write(GzipMembers.gzipMember(utf8(t))))
    val members = GzipMembers.splitMembers(bos.toByteArray)
    assert(members.length == 4)
    assert(members.map(m => str(m.data)) == texts)
    // members tile the file exactly: start_i + len_i == start_{i+1}
    members.sliding(2).foreach {
      case Vector(a, b) => assert(a.rawStart + a.rawLen == b.rawStart)
      case _            =>
    }
    assert(members.last.rawStart + members.last.rawLen == bos.toByteArray.length)
  }

  test("a gzip member cut inside its CRC/ISIZE trailer is truncated; content decoding keeps the raw bytes") {
    val file = WarcStreamingSpec.twoMemberGz()
    assert(GzipMembers.splitMembers(file).length == 2)
    val cut = file.dropRight(8)
    val ex = intercept[IllegalArgumentException](GzipMembers.splitMembers(cut))
    assert(ex.getMessage == "truncated gzip member")
    assert(PayloadDecode.decodePayload(cut, "gzip", null) sameElements cut)
  }

  test("property: member split is chunk-layout invariant (seeded sweep)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 50) {
      val parts = (1 to (1 + rnd.nextInt(6))).map(_ => rnd.nextString(1 + rnd.nextInt(40))).toList
      val bos = new java.io.ByteArrayOutputStream()
      parts.foreach(p => bos.write(GzipMembers.gzipMember(utf8(p))))
      val members = GzipMembers.splitMembers(bos.toByteArray)
      assert(members.map(m => str(m.data)) == parts)
    }
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
