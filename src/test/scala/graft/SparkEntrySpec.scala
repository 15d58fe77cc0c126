package graft

import org.scalatest.funsuite.AnyFunSuite

/** Queries run on a session as the `Verify` main builds it: a plain
  * builder, none of the engine's SQL names. */
class SparkEntrySpec extends AnyFunSuite with SparkTestBase {

  test("the WARC round trip, q17, q37 and q32 run without registering SQL functions") {
    val s2 = bareSession()
    for (q <- Seq("q25_warc_cdx", "q17_surt", "q37_payload_decode", "q32_parse_headers"))
      assert(SparkEntry.queries(q)(s2, sfDir).count() > 0, q)
    assert(!s2.catalog.functionExists("surt"))
    assert(!s2.catalog.functionExists("parse_headers"))
  }
}
