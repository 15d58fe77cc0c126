package graft.core

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets

/** Ported from testWARCParser.test.ts "Load WARC Records" (:138-258):
  * inline 3-record WARC with unicode/%-encoded headers, payload goldens,
  * warcinfo field lines. */
class LoadRecordsSpec extends AnyFunSuite {

  private val input =
    "WARC/1.0\r\n" +
      "WARC-Type: warcinfo\r\n" +
      "WARC-Record-ID: <urn:uuid:12345678-feb0-11e6-8f83-68a86d1772ce>\r\n" +
      "WARC-Filename: testfile.warc.gz\r\n" +
      "WARC-Date: 2000-01-01T00:00:00Z\r\n" +
      "Content-Type: application/warc-fields\r\n" +
      "Content-Length: 86\r\n" +
      "\r\n" +
      "software: recorder test\r\n" +
      "format: WARC File Format 1.0\r\n" +
      "json-metadata: {\"foo\": \"bar\"}\r\n" +
      "\r\n\r\n" +
      "WARC/1.0\r\n" +
      "WARC-Type: response\r\n" +
      "WARC-Record-ID: <urn:uuid:12345678-feb0-11e6-8f83-68a86d1772ce>\r\n" +
      "WARC-Target-URI: http://example.com/\r\n" +
      "WARC-Date: 2000-01-01T00:00:00Z\r\n" +
      "WARC-Payload-Digest: sha1:B6QJ6BNJ3R4B23XXMRKZKHLPGJY2VE4O\r\n" +
      "WARC-Block-Digest: sha1:OS3OKGCWQIJOAOC3PKXQOQFD52NECQ74\r\n" +
      "Content-Type: application/http; msgtype=response\r\n" +
      "Content-Length: 97\r\n" +
      "\r\n" +
      "HTTP/1.0 200 OK\r\n" +
      "Content-Type: text/plain; charset=\"UTF-8\"\r\n" +
      "Custom-Header: somevalue\r\n" +
      "\r\n" +
      "some\ntext\r\n" +
      "\r\n" +
      "WARC/1.0\r\n" +
      "WARC-Type: response\r\n" +
      "WARC-Record-ID: <urn:uuid:12345678-feb0-11e6-8f83-68a86d1772ce>\r\n" +
      "WARC-Target-URI: http://example.com/\r\n" +
      "WARC-Date: 2000-01-01T00:00:00Z\r\n" +
      "WARC-Payload-Digest: sha1:B6QJ6BNJ3R4B23XXMRKZKHLPGJY2VE4O\r\n" +
      "WARC-Block-Digest: sha1:KMUABC6URWIQ7QXCZDQ5FS6WIBBFRORR\r\n" +
      "Content-Type: application/http; msgtype=response\r\n" +
      "Content-Length: 268\r\n" +
      "\r\n" +
      "HTTP/1.0 200 OK\r\n" +
      "Content-Type: text/plain; charset=\"UTF-8\"\r\n" +
      "Content-Disposition: attachment; filename*=UTF-8''%D0%B8%D1%81%D0%BF%D1%8B%D1%82%D0%B0%D0%BD%D0%B8%D0%B5.txt\r\n" +
      "Custom-Header: somevalue\r\n" +
      "Unicode-Header: %F0%9F%93%81%20text%20%F0%9F%97%84%EF%B8%8F\r\n" +
      "\r\n" +
      "more\ntext\r\n" +
      "\r\n"

  private lazy val records =
    WarcStreaming.parseStream(new java.io.ByteArrayInputStream(input.getBytes(StandardCharsets.UTF_8)),
      "t.warc", isGzip = false).toVector

  test("three records, types and URIs") {
    assert(records.length == 3)
    assert(records(0).warcType == "warcinfo")
    assert(records(1).warcTargetURI == "http://example.com/")
    assert(records(2).warcType == "response")
  }

  test("warcinfo field lines") {
    val warcinfo = new String(records(0).payload, StandardCharsets.UTF_8)
    assert(warcinfo ==
      "software: recorder test\r\nformat: WARC File Format 1.0\r\njson-metadata: {\"foo\": \"bar\"}\r\n")
  }

  test("payload goldens") {
    assert(new String(records(1).payload, StandardCharsets.UTF_8) == "some\ntext")
    assert(new String(records(2).payload, StandardCharsets.UTF_8) == "more\ntext")
  }

  test("unicode / %-encoded header values preserved verbatim") {
    val h = records(2).http.get
    assert(h.get("content-disposition").contains(
      "attachment; filename*=UTF-8''%D0%B8%D1%81%D0%BF%D1%8B%D1%82%D0%B0%D0%BD%D0%B8%D0%B5.txt"))
    assert(h.get("unicode-header").contains("%F0%9F%93%81%20text%20%F0%9F%97%84%EF%B8%8F"))
  }

  test("header entries in Headers-mode sorted-lowercase iteration order") {
    // reference "StatusAndHeaders test non-ascii": Headers iterates
    // lowercased names in sorted order with combined values
    val entries = records(2).httpHeaders.map(kv => kv.name.toLowerCase).sorted
    assert(entries == Vector("content-disposition", "content-type", "custom-header", "unicode-header"))
  }
}
