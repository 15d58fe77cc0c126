package graft.core

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

/** Payload content-decode parity over real fixtures:
  * - chunked fixture (testWARCParser "chunked warc read"): decoded
  *   content starts with the reference's golden lines;
  * - CDXAndRecordIndexer golden (testIndexer:268-305): cdx offsets,
  *   lengths, decoded content lengths, content types, pairing flags. */
class ContentDecodeSpec extends AnyFunSuite {

  private def fixture(name: String): Array[Byte] =
    Files.readAllBytes(Paths.get(getClass.getResource(s"/warcio/$name").toURI))

  private def parse(name: String): Vector[FramedRecord] =
    WarcStreaming.parseStream(new java.io.ByteArrayInputStream(fixture(name)), name,
      WarcFraming.isGzipName(name)).toVector

  private def decodeContent(r: FramedRecord): Array[Byte] = {
    val http = r.http
    PayloadDecode.decodePayload(
      r.payload,
      http.flatMap(_.get("Content-Encoding")).orNull,
      http.flatMap(_.get("Transfer-Encoding")).orNull)
  }

  test("chunked warc read: dechunked content matches goldens") {
    val records = parse("example-iana.org-chunked.warc")
    val resp = records.find(_.warcType == "response").get
    assert(resp.http.get.get("Transfer-Encoding").contains("chunked"))
    val text = new String(decodeContent(resp), StandardCharsets.UTF_8)
    assert(text.startsWith("<!doctype html>\n"))
    assert(text.split("\n")(1) == "<html>")
  }

  test("CDXAndRecord triple golden: cdx + decoded record + paired request") {
    val records = parse("example.warc.gz")
    val triples = CdxIndexing.pairRecords(records.iterator).flatMap { p =>
      CdxIndexing.cdxRow(p, CdxIndexing.DEFAULT_CDX_FIELDS).map { row =>
        val m = row.toMap
        (m("offset"), m("length"),
          new String(decodeContent(p.record), StandardCharsets.UTF_8).length,
          p.record.http.flatMap(_.get("Content-Type")).orNull,
          p.reqRecord.isDefined)
      }
    }.toVector
    assert(triples == Vector(
      (784L, 1228L, 1270, "text/html", true),
      (2621L, 586L, 0, "text/html", true)))
  }

  test("--noSurt urlkey keeps the raw URL") {
    val records = parse("example.warc.gz")
    val keys = CdxIndexing.pairRecords(records.iterator)
      .flatMap(p => CdxIndexing.cdxRow(p, CdxIndexing.DEFAULT_CDX_FIELDS, noSurt = true))
      .map(_.toMap.apply("urlkey")).toVector
    assert(keys == Vector("http://example.com/", "http://example.com/"))
  }
}
