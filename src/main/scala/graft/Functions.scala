package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge.{column, expression}
import graft.core._
import graft.plans.{CanonUrlExpr, Sha1Base32Expr, SurtExpr, Timestamp14Expr}

/** Column-level function layer (SURVEY.md §2.11). Everything Spark's
  * built-ins can express stays built-in (codegen'd); the WARC-specific
  * scalars are native Catalyst expressions (`surt`, `canonicalizeUrl`,
  * `timestamp14`, `sha1B32`) or Scala UDFs (deterministic, null-safe).
  * SQL reaches the same builders: `GraftExtensions` binds each SQL name
  * to the Column function here, so SQL and Column results cannot
  * differ. No call needs a registration step on its session. */
object Functions {

  // ---- UDF bodies (usable without a session) ----
  val decodePayloadFn: (Array[Byte], String, String) => Array[Byte] =
    (p, ce, te) => PayloadDecode.decodePayload(p, ce, te)
  val dechunkFn: Array[Byte] => Array[Byte] = b => if (b == null) null else PayloadDecode.dechunk(b)
  val postToGetFn: (String, String, String, Array[Byte]) => (String, String) =
    (url, method, contentType, body) => {
      val headers = if (contentType == null) Nil else Seq(("Content-Type", contentType))
      PostToGet.postToGetUrl(url, method, headers, body, CdxIndexing.DEFAULT_MAX_QUERY_SIZE) match {
        case Some(r) => (r.url, r.requestBody)
        case None    => (url, null)
      }
    }
  val parseHeadersFn: String => Seq[HeaderKV] =
    block => if (block == null) Seq.empty else WarcHeaders.parseHeaderBlock(block)._1
  val hostOfFn: String => String = url =>
    if (url == null) null else UrlCanon.parse(url).map(_.host).orNull

  /** Fused canonicalize+surt+host — one UDF boundary, minimal parses.
    * The hot path of the frontier: 3 separate UDFs would re-parse the
    * URL three times and pay three codegen↔JVM string conversions. */
  val canonAllFn: String => (String, String, String) = url => {
    if (url == null) (null, null, null)
    else UrlCanon.parse(url) match {
      case None => (null, null, null)
      case Some(u) =>
        (u.href, UrlCanon.surtOfParsed(u), u.host)
    }
  }

  // ---- Column API ----
  def surt(c: Column): Column = column(SurtExpr(expression(c)))
  /** WHATWG href of the URL; NULL when it does not parse. */
  def canonicalizeUrl(c: Column): Column = column(CanonUrlExpr(expression(c)))
  def timestamp14(c: Column): Column = column(Timestamp14Expr(expression(c)))
  def sha1B32(c: Column): Column = column(Sha1Base32Expr(expression(c)))
  def decodePayload(p: Column, ce: Column, te: Column): Column = udf(decodePayloadFn).apply(p, ce, te)
  def dechunk(c: Column): Column = udf(dechunkFn).apply(c)
  /** struct(_1 = GET-form url, _2 = the body's query string); a GET
    * keeps its url and has a NULL `_2`. */
  def postToGet(url: Column, method: Column, contentType: Column, body: Column): Column =
    udf(postToGetFn).apply(url, method, contentType, body)
  def parseHeaders(c: Column): Column = udf(parseHeadersFn).apply(c)
  def hostOf(c: Column): Column = udf(hostOfFn).apply(c)
  /** struct(_1 = canonical url, _2 = surt key, _3 = host); all NULL when
    * the URL does not parse. */
  def canonAll(c: Column): Column = udf(canonAllFn).apply(c)

  /** Case-insensitive header lookup over Array[Struct[name,value]] using
    * only built-in (codegen'd) collection expressions — Fetch-Headers
    * `get` semantics (multi-values joined ", "). */
  def headerGet(headers: Column, name: String): Column = {
    val matches = filter(headers, h => lower(h.getField("name")) === lit(name.toLowerCase))
    when(size(matches) > 0, array_join(transform(matches, _.getField("value")), ", "))
      .otherwise(lit(null))
  }
}
