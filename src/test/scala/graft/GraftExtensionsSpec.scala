package graft

import org.apache.spark.sql.{AnalysisException, Column, Row}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The shared test session is built with
  * spark.sql.extensions=graft.GraftExtensions (see SparkTestBase); the
  * injected functions must resolve without any explicit registration. */
class GraftExtensionsSpec extends AnyFunSuite with SparkTestBase {

  test("extension-injected native functions resolve in SQL") {
    for (s <- Seq(spark, spark.newSession())) {
      val out = s.sql("SELECT surt('https://www.example.com/a?b=1&A=2') AS k")
        .collect().head.getString(0)
      assert(out == "com,example)/a?a=2&b=1")
      val ts = s.sql("SELECT timestamp14('2017-03-06T04:02:06Z') AS t")
        .collect().head.getString(0)
      assert(ts == "20170306040206")
      for ((name, _, _) <- GraftExtensions.functions)
        assert(s.catalog.functionExists(name), name)
    }
    val plan = spark.sql("SELECT surt(concat('http://h', id, '.example/')) FROM range(3)")
      .queryExecution.executedPlan.toString
    assert(plan.contains("surt(concat("), plan)
  }

  /** Edge rows: a capture with a chunked gzip body, all NULLs, an
    * unparseable URL with a fractional-second date, and a JSON POST body
    * mislabelled gzip. */
  private def edgeRows = {
    import spark.implicits._
    val gz = {
      val bos = new java.io.ByteArrayOutputStream()
      val z = new java.util.zip.GZIPOutputStream(bos); z.write("hello world".getBytes("UTF-8")); z.close()
      bos.toByteArray
    }
    val chunk = (b: Array[Byte]) =>
      (Integer.toHexString(b.length) + "\r\n").getBytes("UTF-8") ++ b ++ "\r\n0\r\n\r\n".getBytes("UTF-8")
    Seq[(String, String, Array[Byte], String, String, String, String, String)](
      ("https://www.example.com/a?b=1&A=2", "2017-03-06T04:02:06Z", chunk(gz), "gzip", "chunked",
        "POST", "application/x-www-form-urlencoded", "Content-Type: text/html\r\nSet-Cookie: a=1\r\n\r\n"),
      (null, null, null, null, null, null, null, null),
      ("not a url", "2020-04-05T20:17:50.123Z", chunk("Wiki".getBytes("UTF-8")), null, "chunked",
        "GET", "application/json", "not a header block"),
      ("HTTP://Example.COM:80/x/../y?q=1", "x", """{"a": [1, 2], "b": "x y"}""".getBytes("UTF-8"), "gzip", null,
        "POST", "application/json", "X-A: 1\r\nX-A: 2\r\n\r\n")
    ).toDF("url", "date", "body", "ce", "te", "method", "ctype", "block")
  }

  test("every SQL name returns what its Functions Column function returns, on edge inputs") {
    // name -> (argument columns, the Column function it must match)
    def on(args: String*)(f: Seq[Column] => Column) = (args, f)
    val cases = Map(
      "surt" -> on("url")(a => Functions.surt(a(0))),
      "canonicalize_url" -> on("url")(a => Functions.canonicalizeUrl(a(0))),
      "timestamp14" -> on("date")(a => Functions.timestamp14(a(0))),
      "sha1_b32" -> on("body")(a => Functions.sha1B32(a(0))),
      "decode_payload" -> on("body", "ce", "te")(a => Functions.decodePayload(a(0), a(1), a(2))),
      "dechunk" -> on("body")(a => Functions.dechunk(a(0))),
      "post_to_get" -> on("url", "method", "ctype", "body")(
        a => Functions.postToGet(a(0), a(1), a(2), a(3))),
      "parse_headers" -> on("block")(a => Functions.parseHeaders(a(0))),
      "host_of" -> on("url")(a => Functions.hostOf(a(0))))
    assert(cases.keySet == GraftExtensions.functions.map(_._1).toSet)
    val df = edgeRows
    df.createOrReplaceTempView("graft_edge")
    // binary results compare by content
    def norm(r: Row): Seq[Any] = r.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    }
    for ((name, (args, f)) <- cases.toSeq.sortBy(_._1)) {
      val viaSql = spark.sql(s"SELECT $name(${args.mkString(", ")}) FROM graft_edge").collect()
      val viaColumn = df.select(f(args.map(col))).collect()
      assert(viaSql.map(norm).toSeq == viaColumn.map(norm).toSeq, name)
    }
    // the edge values the two former SQL registries answered differently
    val r = spark.sql("SELECT canonicalize_url('not a url'), timestamp14(NULL)").head()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("a SQL call with the wrong number of arguments fails analysis, naming the function") {
    for (call <- Seq("surt('a', 'b')", "surt()", "post_to_get('u')")) {
      val e = intercept[AnalysisException](spark.sql(s"SELECT $call").collect())
      val name = call.takeWhile(_ != '(')
      assert(e.getMessage.contains(s"`$name`"), e.getMessage)
      assert(e.getCondition.startsWith("WRONG_NUM_ARGS"), e.getMessage)
    }
  }
}
