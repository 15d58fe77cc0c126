package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{Functions, SparkTestBase}

class ExpressionsSpec extends AnyFunSuite with SparkTestBase {

  test("native surt/timestamp14/sha1_b32 agree with the core functions") {
    import spark.implicits._
    val df = Seq(
      ("https://www.example.com/some/path?D=1&CC=2&EE=3", "2017-03-06T04:02:06Z"),
      ("http://some.example.com:8080/", "2020-04-05T20:17:50.123Z"),
      ("not a url", "x")
    ).toDF("url", "date")
    val got = df.select(
      Functions.surt($"url").as("s"),
      Functions.timestamp14($"date").as("t"),
      Functions.sha1B32($"url".cast("binary")).as("d"),
      Functions.canonicalizeUrl($"url").as("c")
    ).collect()
    val exp = df.collect().map { r =>
      val u = r.getString(0); val d = r.getString(1)
      (graft.core.UrlCanon.surt(u),
        d.replaceAll("[-:T]", "").take(14),
        graft.core.Base32.encode(java.security.MessageDigest.getInstance("SHA-1").digest(u.getBytes("UTF-8"))),
        graft.core.UrlCanon.parse(u).map(_.href).orNull)
    }
    assert(got.map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSeq
      == exp.toSeq)
  }

  test("native expressions run inside WholeStageCodegen") {
    import spark.implicits._
    val df = spark.range(1000).select(
      concat(lit("https://www.h"), col("id").cast("string"), lit(".example.com/p?b=2&a=1")).as("url"))
    val q = df.select(Functions.surt($"url").as("s")).filter(length($"s") > 5)
    // "*(n)" prefixes mark operators fused into WholeStageCodegen
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [surt("), s"expected codegen in:\n$plan")
    assert(q.count() == 1000)
  }

  test("constant folding: literal input folds at optimization time") {
    val q = spark.range(1).select(Functions.surt(lit("https://www.example.com/x")).as("s"))
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(optimized.contains("com,example)/x"), s"not folded:\n$optimized")
  }
}
