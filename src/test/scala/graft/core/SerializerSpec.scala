package graft.core

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

/** Serializer goldens + round-trips ported from
  * /root/reference/test/testSerializer.test.ts and testWARCParser.test.ts. */
class SerializerSpec extends AnyFunSuite {

  private val sha1b32 = WarcWriter.DigestOpts("sha-1", "sha1:", base32 = true)

  private def utf8(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)

  private def parse(bytes: Array[Byte], keepCase: Boolean): Vector[FramedRecord] =
    WarcStreaming.parseStream(new java.io.ByteArrayInputStream(bytes), "t.warc",
      isGzip = false, keepCase = keepCase).toVector

  test("compute digest, buffering (parse then serialize)") {
    val input =
      "WARC/1.0\r\n" +
        "WARC-Type: response\r\n" +
        "WARC-Record-ID: <urn:uuid:12345678-feb0-11e6-8f83-68a86d1772ce>\r\n" +
        "WARC-Target-URI: http://example.com/\r\n" +
        "WARC-Date: 2000-01-01T00:00:00Z\r\n" +
        "Content-Type: application/http; msgtype=response\r\n" +
        "Content-Length: 97\r\n" +
        "\r\n" +
        "HTTP/1.0 200 OK\r\n" +
        "Content-Type: text/plain; charset=\"UTF-8\"\r\n" +
        "Custom-Header: somevalue\r\n" +
        "\r\n" +
        "some\ntext\r\n\r\n"
    val rec = parse(utf8(input), keepCase = true).head
    val out = new String(WarcWriter.serializeFramed(rec, sha1b32), StandardCharsets.UTF_8)
    assert(out ==
      "WARC/1.0\r\n" +
        "WARC-Type: response\r\n" +
        "WARC-Record-ID: <urn:uuid:12345678-feb0-11e6-8f83-68a86d1772ce>\r\n" +
        "WARC-Target-URI: http://example.com/\r\n" +
        "WARC-Date: 2000-01-01T00:00:00Z\r\n" +
        "Content-Type: application/http; msgtype=response\r\n" +
        "Content-Length: 97\r\n" +
        "WARC-Payload-Digest: sha1:B6QJ6BNJ3R4B23XXMRKZKHLPGJY2VE4O\r\n" +
        "WARC-Block-Digest: sha1:OS3OKGCWQIJOAOC3PKXQOQFD52NECQ74\r\n" +
        "\r\n" +
        "HTTP/1.0 200 OK\r\n" +
        "Content-Type: text/plain; charset=\"UTF-8\"\r\n" +
        "Custom-Header: somevalue\r\n" +
        "\r\n" +
        "some\ntext\r\n\r\n")
  }

  test("compute digest, create record") {
    val rec = WarcWriter.create(
      url = "http://example.com/",
      date = "2000-01-01T00:00:00Z",
      warcType = "response",
      warcHeaders = Seq("WARC-Record-ID" -> "<urn:uuid:12345678-feb0-11e6-8f83-68a86d1772ce>"),
      httpHeaders = Seq("Custom-Header" -> "somevalue", "Content-Type" -> "text/plain; charset=\"UTF-8\""),
      payload = utf8("some\ntext"))
    val out = new String(WarcWriter.serialize(rec, sha1b32), StandardCharsets.UTF_8)
    assert(out ==
      "WARC/1.0\r\n" +
        "WARC-Record-ID: <urn:uuid:12345678-feb0-11e6-8f83-68a86d1772ce>\r\n" +
        "WARC-Target-URI: http://example.com/\r\n" +
        "WARC-Date: 2000-01-01T00:00:00Z\r\n" +
        "WARC-Type: response\r\n" +
        "Content-Type: application/http; msgtype=response\r\n" +
        "WARC-Payload-Digest: sha1:B6QJ6BNJ3R4B23XXMRKZKHLPGJY2VE4O\r\n" +
        "WARC-Block-Digest: sha1:RWTAQVAD4VNT7PHWNDQE6LZLGGV3Z3AZ\r\n" +
        "Content-Length: 97\r\n" +
        "\r\n" +
        "HTTP/1.1 200 OK\r\n" +
        "Custom-Header: somevalue\r\n" +
        "Content-Type: text/plain; charset=\"UTF-8\"\r\n" +
        "\r\n" +
        "some\ntext\r\n\r\n")
  }

  test("create record gzipped: url trailing slash + sha256 + gzip round-trip") {
    val rec = WarcWriter.create(
      url = "http://example.com", // trailing slash added by normalizer
      date = "2000-01-01T00:00:00Z",
      warcType = "response",
      warcHeaders = Seq("WARC-Record-ID" -> "<urn:uuid:12345678-feb0-11e6-8f83-68a86d1772ce>"),
      httpHeaders = Seq("Custom-Header" -> "somevalue", "Content-Type" -> "text/plain; charset=\"UTF-8\""),
      statusline = "HTTP/1.1 404 Not Found",
      payload = utf8("some\ntext"))
    val gz = WarcWriter.serialize(rec, gzip = true)
    val out = new String(PayloadDecode.decodePayload(gz, "gzip", null), StandardCharsets.UTF_8)
    assert(out ==
      "WARC/1.0\r\n" +
        "WARC-Record-ID: <urn:uuid:12345678-feb0-11e6-8f83-68a86d1772ce>\r\n" +
        "WARC-Target-URI: http://example.com/\r\n" +
        "WARC-Date: 2000-01-01T00:00:00Z\r\n" +
        "WARC-Type: response\r\n" +
        "Content-Type: application/http; msgtype=response\r\n" +
        "WARC-Payload-Digest: sha256:e8e5bf447c352c0080e1444994b0cc1fbe7a25f3ea637c5c89f595b6a95c9253\r\n" +
        "WARC-Block-Digest: sha256:9b5a9b1d4a0263075b50a47dc2326320f6083f3800ddf7ae079ebbb661b3ffc9\r\n" +
        "Content-Length: 104\r\n" +
        "\r\n" +
        "HTTP/1.1 404 Not Found\r\n" +
        "Custom-Header: somevalue\r\n" +
        "Content-Type: text/plain; charset=\"UTF-8\"\r\n" +
        "\r\n" +
        "some\ntext\r\n\r\n")
  }

  test("create request record") {
    val rec = WarcWriter.create(
      url = "http://example.com/",
      date = "2000-01-01T00:00:00Z",
      warcType = "request",
      warcHeaders = Seq("WARC-Record-ID" -> "<urn:uuid:12345678-feb0-11e6-8f83-68a86d1772ce>"),
      httpHeaders = Seq("Accept" -> "*/*"),
      statusline = "GET /file HTTP/1.1")
    val out = new String(WarcWriter.serialize(rec), StandardCharsets.UTF_8)
    assert(out ==
      "WARC/1.0\r\n" +
        "WARC-Record-ID: <urn:uuid:12345678-feb0-11e6-8f83-68a86d1772ce>\r\n" +
        "WARC-Target-URI: http://example.com/\r\n" +
        "WARC-Date: 2000-01-01T00:00:00Z\r\n" +
        "WARC-Type: request\r\n" +
        "Content-Type: application/http; msgtype=request\r\n" +
        "WARC-Payload-Digest: sha256:e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855\r\n" +
        "WARC-Block-Digest: sha256:bae4ef8a0c1f20864d3cf60e7bba15c5f1b8d15fd6d18bdfffcd41ab57d9b1dc\r\n" +
        "Content-Length: 35\r\n" +
        "\r\n" +
        "GET /file HTTP/1.1\r\n" +
        "Accept: */*\r\n" +
        "\r\n" +
        "\r\n\r\n")
  }

  test("create record with multiple warc-concurrent-to") {
    val rec = WarcWriter.create(
      url = "http://example.com/",
      date = "2000-01-01T00:00:00Z",
      warcType = "request",
      warcHeaders = Seq(
        "WARC-Record-ID" -> "<urn:uuid:12345678-feb0-11e6-8f83-68a86d1772ce>",
        "WARC-Concurrent-To" -> "<urn:uuid:12345678-abc-1111-0000-68a86d1772ce>",
        "WARC-Concurrent-To" -> "<urn:uuid:87654321-abc-1111-0000-68a86d1772ce>"),
      httpHeaders = Seq("Foo" -> "bar"),
      statusline = "GET /file HTTP/1.1")
    val out = new String(WarcWriter.serialize(rec), StandardCharsets.UTF_8)
    assert(out.contains(
      "WARC-Concurrent-To: <urn:uuid:12345678-abc-1111-0000-68a86d1772ce>\r\n" +
        "WARC-Concurrent-To: <urn:uuid:87654321-abc-1111-0000-68a86d1772ce>\r\n"))
    assert(out.contains("WARC-Block-Digest: sha256:895e6c403af1abfa5347850fcdf2174971c2c5370bfd2cd322986e1cd6805ebf\r\n"))
    assert(out.contains("Content-Length: 32\r\n"))
  }

  test("create warcinfo") {
    val rec = WarcWriter.createWarcInfo(
      info = Seq("software" -> "warcio.js test", "format" -> "WARC File Format 1.1",
        "creator" -> "test-case", "isPartOf" -> "test"),
      filename = "/my/web/archive.warc",
      date = "2020-06-06T07:07:04.923Z",
      warcVersion = WarcWriter.WARC_1_1,
      recordId = "12345678-feb0-11e6-8f83-68a86d1772ce")
    // reference passes warcHeaders with the record id; emulate by setting it
    rec.warcHeaders.set("WARC-Record-ID", "<urn:uuid:12345678-feb0-11e6-8f83-68a86d1772ce>")
    val out = new String(WarcWriter.serialize(rec), StandardCharsets.UTF_8)
    assert(out ==
      "WARC/1.1\r\n" +
        "WARC-Filename: /my/web/archive.warc\r\n" +
        "WARC-Date: 2020-06-06T07:07:04.923Z\r\n" +
        "WARC-Type: warcinfo\r\n" +
        "WARC-Record-ID: <urn:uuid:12345678-feb0-11e6-8f83-68a86d1772ce>\r\n" +
        "Content-Type: application/warc-fields\r\n" +
        "Content-Length: 92\r\n" +
        "\r\n" +
        "software: warcio.js test\r\n" +
        "format: WARC File Format 1.1\r\n" +
        "creator: test-case\r\n" +
        "isPartOf: test\r\n" +
        "\r\n\r\n")
  }

  test("create revisit, no http headers") {
    val rec = WarcWriter.create(
      url = "https://example.com/another/file.html",
      date = "2020-06-06T07:07:04.923Z",
      warcType = "revisit",
      warcHeaders = Seq(
        "WARC-Payload-Digest" -> "sha256:e8e5bf447c352c0080e1444994b0cc1fbe7a25f3ea637c5c89f595b6a95c9253",
        "WARC-Record-ID" -> "<urn:uuid:12345678-feb0-11e6-8f83-68a86d1772ce>"),
      refersToUrl = "https://example.com/",
      refersToDate = "2020-12-26T07:07:04.12")
    val out = new String(WarcWriter.serialize(rec), StandardCharsets.UTF_8)
    assert(out ==
      "WARC/1.0\r\n" +
        "WARC-Payload-Digest: sha256:e8e5bf447c352c0080e1444994b0cc1fbe7a25f3ea637c5c89f595b6a95c9253\r\n" +
        "WARC-Record-ID: <urn:uuid:12345678-feb0-11e6-8f83-68a86d1772ce>\r\n" +
        "WARC-Target-URI: https://example.com/another/file.html\r\n" +
        "WARC-Date: 2020-06-06T07:07:04Z\r\n" +
        "WARC-Type: revisit\r\n" +
        "WARC-Profile: http://netpreserve.org/warc/1.0/revisit/identical-payload-digest\r\n" +
        "WARC-Refers-To-Target-URI: https://example.com/\r\n" +
        "WARC-Refers-To-Date: 2020-12-26T07:07:04Z\r\n" +
        "Content-Type: application/http; msgtype=response\r\n" +
        "WARC-Block-Digest: sha256:e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855\r\n" +
        "Content-Length: 0\r\n" +
        "\r\n" +
        "\r\n\r\n")
  }

  test("create revisit, with http headers") {
    val rec = WarcWriter.create(
      url = "https://example.com/another/file.html",
      date = "2020-06-06T07:07:04.923Z",
      warcType = "revisit",
      warcHeaders = Seq(
        "WARC-Payload-Digest" -> "sha256:e8e5bf447c352c0080e1444994b0cc1fbe7a25f3ea637c5c89f595b6a95c9253",
        "WARC-Record-ID" -> "<urn:uuid:12345678-feb0-11e6-8f83-68a86d1772ce>"),
      refersToUrl = "https://example.com/",
      refersToDate = "2020-12-26T07:07:04.12",
      httpHeaders = Seq("Content-Type" -> "text/html", "Foo" -> "Bar"))
    val out = new String(WarcWriter.serialize(rec), StandardCharsets.UTF_8)
    assert(out.contains("WARC-Block-Digest: sha256:858db93af9fda371e716d64344a52058ec0cd1d0b182ee5c2ddfc198d8ebbfa4\r\n"))
    assert(out.contains("Content-Length: 54\r\n"))
    assert(out.endsWith("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\nFoo: Bar\r\n\r\n\r\n\r\n"))
  }

  test("revisit round-trips (parse then serialize == input)") {
    for (input <- Seq(
      "WARC/1.0\r\n" +
        "WARC-Type: revisit\r\n" +
        "WARC-Record-ID: <urn:uuid:12345678-feb0-11e6-8f83-68a86d1772ce>\r\n" +
        "WARC-Target-URI: http://example.com/\r\n" +
        "WARC-Date: 2000-01-01T00:00:00Z\r\n" +
        "WARC-Profile: http://netpreserve.org/warc/1.0/revisit/identical-payload-digest\r\n" +
        "WARC-Refers-To-Target-URI: http://example.com/foo\r\n" +
        "WARC-Refers-To-Date: 1999-01-01T00:00:00Z\r\n" +
        "WARC-Payload-Digest: sha1:B6QJ6BNJ3R4B23XXMRKZKHLPGJY2VE4O\r\n" +
        "WARC-Block-Digest: sha1:3I42H3S6NNFQ2MSVX7XZKYAYSCX5QBYJ\r\n" +
        "Content-Type: application/http; msgtype=response\r\n" +
        "Content-Length: 0\r\n" +
        "\r\n\r\n\r\n",
      "WARC/1.0\r\n" +
        "WARC-Type: revisit\r\n" +
        "WARC-Record-ID: <urn:uuid:12345678-feb0-11e6-8f83-68a86d1772ce>\r\n" +
        "WARC-Target-URI: http://example.com/\r\n" +
        "WARC-Date: 2000-01-01T00:00:00Z\r\n" +
        "WARC-Profile: http://netpreserve.org/warc/1.0/revisit/identical-payload-digest\r\n" +
        "WARC-Refers-To-Target-URI: http://example.com/foo\r\n" +
        "WARC-Refers-To-Date: 1999-01-01T00:00:00Z\r\n" +
        "WARC-Payload-Digest: sha1:B6QJ6BNJ3R4B23XXMRKZKHLPGJY2VE4O\r\n" +
        "WARC-Block-Digest: sha1:3FLDFFHOXN2PZWNRW3SVPKAHWES7W6RA\r\n" +
        "Content-Type: application/http; msgtype=response\r\n" +
        "Content-Length: 54\r\n" +
        "\r\n" +
        "HTTP/1.1 200 OK\r\n" +
        "Content-Type: text/html\r\n" +
        "Foo: Bar\r\n" +
        "\r\n\r\n\r\n")) {
      val rec = parse(utf8(input), keepCase = true).head
      val out = new String(WarcWriter.serializeFramed(rec, sha1b32), StandardCharsets.UTF_8)
      assert(out == input)
    }
  }

  test("warc1.1 serialize records match (redirect.warc full round-trip)") {
    val input = Files.readAllBytes(Paths.get(getClass.getResource("/warcio/redirect.warc").toURI))
    val records = parse(input, keepCase = true)
    val serialized = records.flatMap(r => WarcWriter.serializeFramed(r).toSeq).toArray
    assert(java.util.Arrays.equals(serialized, input))
  }

  test("header block parse quirks (StatusAndHeaders tests 1-3)") {
    // keep-case parse of the quirk strings
    def parseBlock(s: String): StatusAndHeaders = {
      val nl = s.indexOf('\n')
      val statusline = s.substring(0, nl).replaceAll("\\s+$", "")
      val (h, re) = WarcHeaders.parseHeaderBlock(s.substring(nl + 1), keepCase = true)
      StatusAndHeaders(statusline, h, re)
    }
    val r1 = parseBlock(
      "HTTP/1.0 200 OK\r\nContent-Type: ABC\r\nHTTP/1.0 200 OK\r\nSome: Value\r\n" +
        "Multi-Line: Value1\r\n    Also This\r\n\r\nBody")
    assert(r1.serialize ==
      "HTTP/1.0 200 OK\r\nContent-Type: ABC\r\nSome: Value\r\nMulti-Line: Value1    Also This\r\n")
    val r2 = parseBlock(
      "HTTP/1.0 204 Empty\r\nContent-Type: Value\r\n%Invalid%\r\n\tMultiline\r\n" +
        "Content-Length: 0\r\nBad: multi\nline\r\n\r\n")
    assert(r2.serialize ==
      "HTTP/1.0 204 Empty\r\nContent-Type: Value\r\nContent-Length: 0\r\nBad: multi\r\n")
    val r3 = parseBlock("HTTP/1.0 204 None\r\n\r\n")
    assert(r3.serialize == "HTTP/1.0 204 None\r\n")
  }

  test("multi-cookie headers preserved (warc1.1 header checks)") {
    val input =
      "WARC/1.0\r\n" +
        "WARC-Type: response\r\n" +
        "WARC-Record-ID: <urn:uuid:12345678-feb0-11e6-8f83-68a86d1772ce>\r\n" +
        "WARC-Target-URI: http://example.com/\r\n" +
        "WARC-Date: 2000-01-01T00:00:00Z\r\n" +
        "WARC-Payload-Digest: sha1:B6QJ6BNJ3R4B23XXMRKZKHLPGJY2VE4O\r\n" +
        "WARC-Block-Digest: sha1:OS3OKGCWQIJOAOC3PKXQOQFD52NECQ74\r\n" +
        "Content-Type: application/http; msgtype=response\r\n" +
        "Content-Length: 149\r\n" +
        "\r\n" +
        "HTTP/1.0 200 OK\r\n" +
        "Content-Type: text/plain; charset=\"UTF-8\"\r\n" +
        "Custom-Header: somevalue\r\n" +
        "Set-Cookie: greeting=hello\r\n" +
        "Set-Cookie: name=world\r\n" +
        "\r\n" +
        "some\ntext\r\n\r\n"
    val rec = parse(utf8(input), keepCase = false).head
    assert(rec.httpHeaders.filter(_.name.equalsIgnoreCase("set-cookie")).map(_.value) ==
      Vector("greeting=hello", "name=world"))
    assert(new String(rec.payload, StandardCharsets.UTF_8) == "some\ntext")
    // Headers get() joins multiple values with ", "
    assert(rec.http.get.get("set-cookie").contains("greeting=hello, name=world"))
  }
}
