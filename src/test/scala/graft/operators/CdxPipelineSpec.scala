package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.core.CdxIndexing

/** The fixture goldens again, but through Spark execution (scan → fused
  * fold → Dataset), plus plan-shape assertions (zero shuffles). */
class CdxPipelineSpec extends AnyFunSuite with SparkTestBase {

  test("cdxj via Spark matches reference golden") {
    val lines = CdxPipeline.cdxLines(spark, Seq(fixturePath("example.warc.gz")))
      .collect().toVector
    assert(lines == Vector(
      """com,example)/ 20170306040206 {"url":"http://example.com/","mime":"text/html","status":"200","digest":"G7HRM7BGOKSKMSXZAHMUQTTV53QOFSMK","length":"1228","offset":"784","filename":"example.warc.gz"}""",
      """com,example)/ 20170306040348 {"url":"http://example.com/","mime":"warc/revisit","status":"200","digest":"G7HRM7BGOKSKMSXZAHMUQTTV53QOFSMK","length":"586","offset":"2621","filename":"example.warc.gz"}"""))
  }

  test("index via Spark matches reference golden") {
    val lines = CdxPipeline.indexLines(spark, Seq(fixturePath("example.warc.gz")))
      .collect().toVector
    assert(lines == Vector(
      """{"offset":0,"warc-type":"warcinfo"}""",
      """{"offset":353,"warc-type":"warcinfo"}""",
      """{"offset":784,"warc-type":"response","warc-target-uri":"http://example.com/"}""",
      """{"offset":2012,"warc-type":"request","warc-target-uri":"http://example.com/"}""",
      """{"offset":2621,"warc-type":"revisit","warc-target-uri":"http://example.com/"}""",
      """{"offset":3207,"warc-type":"request","warc-target-uri":"http://example.com/"}"""))
  }

  test("typed CdxRow dataset") {
    val rows = CdxPipeline.cdxDataset(spark, Seq(fixturePath("post-test.warc.gz")))
      .collect().toVector
    assert(rows.map(_.urlkey) == Vector(
      "org,httpbin)/post?__wb_method=post&foo=bar&test=abc",
      "org,httpbin)/post?__wb_method=post&a=1&b=[]&c=3",
      "org,httpbin)/post?__wb_method=post&data=^&foo=bar"))
    assert(rows.forall(_.method == "POST"))
    assert(rows.map(_.status) == Vector(Some(200), Some(200), Some(200)))
  }

  test("cdx pipelines have zero shuffle (fused scan), merged cdx exactly one") {
    val plan = CdxPipeline.cdxDataset(spark, Seq(fixturePath("example.warc.gz")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
    val merged = CdxPipeline.mergedCdx(spark, Seq(fixturePath("example.warc.gz")))
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(merged).size <= 2) // range exchange (+AQE read)
  }

  test("pairDataset (explicit shuffle variant) agrees with fused path") {
    import spark.implicits._
    val paths = Seq(fixturePath("example.warc.gz"), fixturePath("post-test.warc.gz"))
    val fused = CdxPipeline.cdxDataset(spark, paths).collect().toSet
    val viaDs = CdxPipeline.pairDataset(spark,
      spark.read.format("warc").load(paths: _*).as[graft.sources.WarcRow]).collect().toSet
    assert(fused == viaDs)
  }

  test("registered SQL functions work end-to-end") {
    import spark.implicits._
    val df = Seq("https://www.example.com/a?b=1&A=2").toDF("url")
    df.createOrReplaceTempView("urls")
    val out = spark.sql("SELECT surt(url) AS k, host_of(url) AS h FROM urls").as[(String, String)].head()
    assert(out == ("com,example)/a?a=2&b=1", "www.example.com"))
  }
}
