package graft.core

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** End-to-end index / cdx-index parity over the reference WARC fixtures.
  * Expected strings ported from /root/reference/test/testIndexer.test.ts. */
class IndexerFixtureSpec extends AnyFunSuite {

  private def fixture(name: String): Array[Byte] = {
    val url = getClass.getResource(s"/warcio/$name")
    Files.readAllBytes(Paths.get(url.toURI))
  }

  private def parse(name: String): Vector[FramedRecord] =
    WarcStreaming.parseStream(new java.io.ByteArrayInputStream(fixture(name)), name,
      WarcFraming.isGzipName(name)).toVector

  private def indexCli(name: String, fields: Seq[String]): String =
    parse(name)
      .map(r => CdxIndexing.serializeJson(CdxIndexing.indexRow(r, fields)) + "\n")
      .mkString

  private def cdxIndexCli(name: String, fields: Seq[String] = CdxIndexing.DEFAULT_CDX_FIELDS,
                          format: String = "cdxj", all: Boolean = false): String = {
    val records = parse(name)
    val rows: Seq[CdxIndexing.IndexRow] =
      if (all) records.map(r => CdxIndexing.cdxRowAll(r, fields))
      else CdxIndexing.pairRecords(records.iterator).flatMap(p => CdxIndexing.cdxRow(p, fields)).toVector
    val ser: CdxIndexing.IndexRow => String = format match {
      case "cdxj" => CdxIndexing.serializeCdxj
      case "cdx"  => CdxIndexing.serializeCdx11
      case _      => CdxIndexing.serializeJson
    }
    rows.map(ser(_) + "\n").mkString
  }

  test("index default fields warc.gz") {
    assert(indexCli("example.warc.gz", CdxIndexing.DEFAULT_FIELDS) ==
      """{"offset":0,"warc-type":"warcinfo"}
        |{"offset":353,"warc-type":"warcinfo"}
        |{"offset":784,"warc-type":"response","warc-target-uri":"http://example.com/"}
        |{"offset":2012,"warc-type":"request","warc-target-uri":"http://example.com/"}
        |{"offset":2621,"warc-type":"revisit","warc-target-uri":"http://example.com/"}
        |{"offset":3207,"warc-type":"request","warc-target-uri":"http://example.com/"}
        |""".stripMargin)
  }

  test("index custom fields warc") {
    assert(indexCli("example.warc", Seq("offset", "length", "warc-type", "http:status", "http:content-type")) ==
      """{"offset":0,"length":484,"warc-type":"warcinfo"}
        |{"offset":488,"length":705,"warc-type":"warcinfo"}
        |{"offset":1197,"length":1365,"warc-type":"response","http:status":200,"http:content-type":"text/html"}
        |{"offset":2566,"length":800,"warc-type":"request"}
        |{"offset":3370,"length":942,"warc-type":"revisit","http:status":200,"http:content-type":"text/html"}
        |{"offset":4316,"length":800,"warc-type":"request"}
        |{"offset":5120,"length":429,"warc-type":"metadata"}
        |""".stripMargin)
  }

  test("index no line breaks (url-agnostic revisit)") {
    assert(indexCli("example-url-agnostic-revisit.warc.gz", CdxIndexing.DEFAULT_FIELDS) ==
      """{"offset":0,"warc-type":"warcinfo"}
        |{"offset":355,"warc-type":"revisit","warc-target-uri":"http://test@example.com/"}
        |""".stripMargin)
  }

  test("index wget fix-up") {
    assert(indexCli("example-wget-bad-target-uri.warc.gz",
      Seq("offset", "length", "warc-type", "warc-target-uri")) ==
      """{"offset":0,"length":410,"warc-type":"warcinfo"}
        |{"offset":410,"length":414,"warc-type":"request","warc-target-uri":"http://example.com/"}
        |{"offset":824,"length":1154,"warc-type":"response","warc-target-uri":"http://example.com/"}
        |{"offset":1978,"length":317,"warc-type":"metadata","warc-target-uri":"metadata://gnu.org/software/wget/warc/MANIFEST.txt"}
        |{"offset":2295,"length":386,"warc-type":"resource","warc-target-uri":"metadata://gnu.org/software/wget/warc/wget_arguments.txt"}
        |{"offset":2681,"length":586,"warc-type":"resource","warc-target-uri":"metadata://gnu.org/software/wget/warc/wget.log"}
        |""".stripMargin)
  }

  test("cdxj warc.gz") {
    assert(cdxIndexCli("example.warc.gz") ==
      """com,example)/ 20170306040206 {"url":"http://example.com/","mime":"text/html","status":"200","digest":"G7HRM7BGOKSKMSXZAHMUQTTV53QOFSMK","length":"1228","offset":"784","filename":"example.warc.gz"}
        |com,example)/ 20170306040348 {"url":"http://example.com/","mime":"warc/revisit","status":"200","digest":"G7HRM7BGOKSKMSXZAHMUQTTV53QOFSMK","length":"586","offset":"2621","filename":"example.warc.gz"}
        |""".stripMargin)
  }

  test("cdxj warc.gz with referrer") {
    assert(cdxIndexCli("example.warc.gz", CdxIndexing.DEFAULT_CDX_FIELDS :+ "referrer") ==
      """com,example)/ 20170306040206 {"url":"http://example.com/","mime":"text/html","status":"200","digest":"G7HRM7BGOKSKMSXZAHMUQTTV53QOFSMK","length":"1228","offset":"784","filename":"example.warc.gz","referrer":"https://webrecorder.io/temp-MJFXHZ4S/temp/recording-session/record/http://example.com/"}
        |com,example)/ 20170306040348 {"url":"http://example.com/","mime":"warc/revisit","status":"200","digest":"G7HRM7BGOKSKMSXZAHMUQTTV53QOFSMK","length":"586","offset":"2621","filename":"example.warc.gz","referrer":"https://webrecorder.io/temp-MJFXHZ4S/temp/recording-session/record/http://example.com/"}
        |""".stripMargin)
  }

  test("cdx11 warc.gz") {
    assert(cdxIndexCli("example.warc.gz", format = "cdx") ==
      """com,example)/ 20170306040206 http://example.com/ text/html 200 G7HRM7BGOKSKMSXZAHMUQTTV53QOFSMK - - 1228 784 example.warc.gz
        |com,example)/ 20170306040348 http://example.com/ warc/revisit 200 G7HRM7BGOKSKMSXZAHMUQTTV53QOFSMK - - 586 2621 example.warc.gz
        |""".stripMargin)
  }

  test("cdx11 warc") {
    assert(cdxIndexCli("example.warc", format = "cdx") ==
      """com,example)/ 20170306040206 http://example.com/ text/html 200 G7HRM7BGOKSKMSXZAHMUQTTV53QOFSMK - - 1365 1197 example.warc
        |com,example)/ 20170306040348 http://example.com/ warc/revisit 200 G7HRM7BGOKSKMSXZAHMUQTTV53QOFSMK - - 942 3370 example.warc
        |""".stripMargin)
  }

  test("cdx11 warc bad lengths + warning") {
    assert(cdxIndexCli("example-bad-length.warc", format = "cdx") ==
      """com,example)/ 20170306040206 http://example.com/ text/html 200 G7HRM7BGOKSKMSXZAHMUQTTV53QOFSMK - - 1364 1197 example-bad-length.warc
        |com,example)/ 20170306040348 http://example.com/ warc/revisit 200 G7HRM7BGOKSKMSXZAHMUQTTV53QOFSMK - - 944 3370 example-bad-length.warc
        |""".stripMargin)
    val warnings = parse("example-bad-length.warc").flatMap(r => Option(r.warning))
    assert(warnings == Vector(
      "Content-Length Too Small: Record not followed by newline, Remainder Length: 1, Offset: 2561"))
  }

  test("cdx json warc.gz all") {
    assert(cdxIndexCli("example.warc.gz", format = "json", all = true) ==
      """{"timestamp":"20170306040353","mime":"application/warc-fields","length":353,"offset":0,"filename":"example.warc.gz"}
        |{"timestamp":"20170306040353","mime":"application/warc-fields","length":431,"offset":353,"filename":"example.warc.gz"}
        |{"urlkey":"com,example)/","timestamp":"20170306040206","url":"http://example.com/","mime":"text/html","status":200,"digest":"G7HRM7BGOKSKMSXZAHMUQTTV53QOFSMK","length":1228,"offset":784,"filename":"example.warc.gz"}
        |{"urlkey":"com,example)/","timestamp":"20170306040206","url":"http://example.com/","digest":"3I42H3S6NNFQ2MSVX7XZKYAYSCX5QBYJ","length":609,"offset":2012,"filename":"example.warc.gz"}
        |{"urlkey":"com,example)/","timestamp":"20170306040348","url":"http://example.com/","mime":"warc/revisit","status":200,"digest":"G7HRM7BGOKSKMSXZAHMUQTTV53QOFSMK","length":586,"offset":2621,"filename":"example.warc.gz"}
        |{"urlkey":"com,example)/","timestamp":"20170306040348","url":"http://example.com/","digest":"3I42H3S6NNFQ2MSVX7XZKYAYSCX5QBYJ","length":609,"offset":3207,"filename":"example.warc.gz"}
        |""".stripMargin)
  }

  test("post append") {
    assert(cdxIndexCli("post-test.warc.gz", CdxIndexing.DEFAULT_CDX_FIELDS :+ "req.http:cookie") ==
      """org,httpbin)/post?__wb_method=post&foo=bar&test=abc 20140610000859 {"url":"http://httpbin.org/post","mime":"application/json","status":"200","digest":"M532K5WS4GY2H4OVZO6HRPOP47A7KDWU","length":"720","offset":"0","filename":"post-test.warc.gz","method":"POST","requestBody":"foo=bar&test=abc","req.http:cookie":"Max-Age=3600; Path=/"}
        |org,httpbin)/post?__wb_method=post&a=1&b=[]&c=3 20140610001151 {"url":"http://httpbin.org/post","mime":"application/json","status":"200","digest":"M7YCTM7HS3YKYQTAWQVMQSQZBNEOXGU2","length":"723","offset":"1196","filename":"post-test.warc.gz","method":"POST","requestBody":"A=1&B=[]&C=3","req.http:cookie":"Max-Age=3600; Path=/"}
        |org,httpbin)/post?__wb_method=post&data=^&foo=bar 20140610001255 {"url":"http://httpbin.org/post?foo=bar","mime":"application/json","status":"200","digest":"B6E5P6JUZI6UPDTNO4L2BCHMGLTNCUAJ","length":"723","offset":"2395","filename":"post-test.warc.gz","method":"POST","requestBody":"data=^","req.http:cookie":"Max-Age=3600; Path=/"}
        |""".stripMargin)
  }

  test("post append 2") {
    assert(cdxIndexCli("post-test-more.warc") ==
      """org,httpbin)/post?__wb_method=post&another=more^data&test=some+data 20200809195334 {"url":"https://httpbin.org/post","mime":"application/json","status":"200","digest":"7AWVEIPQMCA4KTCNDXWSZ465FITB7LSK","length":"688","offset":"0","filename":"post-test-more.warc","method":"POST","requestBody":"test=some+data&another=more%5Edata"}
        |org,httpbin)/post?__wb_method=post&a=json-data 20200809195334 {"url":"https://httpbin.org/post","mime":"application/json","status":"200","digest":"BYOQWRSQFW3A5SNUBDSASHFLXGL4FNGB","length":"655","offset":"1227","filename":"post-test-more.warc","method":"POST","requestBody":"a=json-data"}
        |org,httpbin)/post?__wb_method=post&__wb_post_data=na0kc29tzq0kza0ky2h1bmstzw5jb2rlza0kna0kzgf0yq0kma0kdqo= 20200810055049 {"url":"https://httpbin.org/post","mime":"application/json","status":"200","digest":"34LEADQD3MOBQ42FCO2WA5TUSEL5QOKP","length":"628","offset":"2338","filename":"post-test-more.warc","method":"POST","requestBody":"__wb_post_data=NA0Kc29tZQ0KZA0KY2h1bmstZW5jb2RlZA0KNA0KZGF0YQ0KMA0KDQo="}
        |""".stripMargin)
  }

  test("cdx resource") {
    assert(cdxIndexCli("example-resource.warc.gz") ==
      """com,example,some:8080)/ 20200405201750 {"url":"http://some.example.com:8080/","mime":"text/plain","digest":"QEF4QP424P5IOPMURMAC4K6KNUTHXQW2","length":"261","offset":"0","filename":"example-resource.warc.gz"}
        |""".stripMargin)
  }

  test("custom CDXIndexer offsets/lengths") {
    val rows = CdxIndexing.pairRecords(parse("example.warc.gz").iterator)
      .flatMap(p => CdxIndexing.cdxRow(p, CdxIndexing.DEFAULT_CDX_FIELDS))
      .map(r => { val m = r.toMap; (m("offset"), m("length")) }).toVector
    assert(rows == Vector((784L, 1228L), (2621L, 586L)))
  }
}
