package graft

import org.scalatest.funsuite.AnyFunSuite

/** Queries run on a session as the `Verify` main builds it: a plain
  * builder, no `Functions.registerAll`. */
class SparkEntrySpec extends AnyFunSuite with SparkTestBase {

  test("the WARC round trip, q17, q37 and q32 run without registering SQL functions") {
    val s2 = spark.newSession()
    for (q <- Seq("q25_warc_cdx", "q17_surt", "q37_payload_decode", "q32_parse_headers"))
      assert(SparkEntry.queries(q)(s2, sfDir).count() > 0, q)
    // each used to call Functions.registerAll on the session it was given
    assert(!s2.catalog.functionExists("surt"))
    assert(!s2.catalog.functionExists("parse_headers"))
  }
}
