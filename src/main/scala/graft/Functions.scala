package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._

/** Column-level function layer (SURVEY.md §2.11). Everything Spark's
  * built-ins can express stays built-in (codegen'd); the WARC-specific
  * scalars are registered Scala UDFs (deterministic, null-safe), usable
  * from both the Column API and SQL. */
object Functions {

  // ---- pure wrappers (usable without a session) ----
  val surtFn: String => String = UrlCanon.surt
  val canonFn: String => String = url => if (url == null) null else UrlCanon.hrefOrSelf(url)
  val ts14Fn: String => String = d => if (d == null) "" else d.replaceAll("[-:T]", "").take(14)
  val sha1B32Fn: Array[Byte] => String = bytes => {
    if (bytes == null) null
    else Base32.encode(java.security.MessageDigest.getInstance("SHA-1").digest(bytes))
  }
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

  /** Register every engine scalar for SQL + Column use. Idempotent. */
  def registerAll(spark: SparkSession): Unit = {
    val u = spark.udf
    u.register("surt", surtFn)
    u.register("canonicalize_url", canonFn)
    u.register("timestamp14", ts14Fn)
    u.register("sha1_b32", sha1B32Fn)
    u.register("decode_payload", decodePayloadFn)
    u.register("dechunk", dechunkFn)
    u.register("post_to_get", postToGetFn)
    u.register("parse_headers", parseHeadersFn)
    u.register("host_of", hostOfFn)
    u.register("canon_all", canonAllFn)
  }

  // ---- Column API (native Catalyst expressions — codegen'd, no UDF
  // boundary — or the function values above as unnamed UDFs, so no call
  // needs `registerAll` on its session; the registered UDFs above
  // remain for SQL-name compat) ----
  def surt(c: Column): Column = graft.plans.NativeFunctions.surt(c)
  def canonicalizeUrl(c: Column): Column = graft.plans.NativeFunctions.canonicalUrl(c)
  def timestamp14(c: Column): Column = graft.plans.NativeFunctions.timestamp14(c)
  def sha1B32(c: Column): Column = graft.plans.NativeFunctions.sha1B32(c)
  def decodePayload(p: Column, ce: Column, te: Column): Column = udf(decodePayloadFn).apply(p, ce, te)
  def hostOf(c: Column): Column = udf(hostOfFn).apply(c)

  /** Case-insensitive header lookup over Array[Struct[name,value]] using
    * only built-in (codegen'd) collection expressions — Fetch-Headers
    * `get` semantics (multi-values joined ", "). */
  def headerGet(headers: Column, name: String): Column = {
    val matches = filter(headers, h => lower(h.getField("name")) === lit(name.toLowerCase))
    when(size(matches) > 0, array_join(transform(matches, _.getField("value")), ", "))
      .otherwise(lit(null))
  }

  /** digest column convention: strip the `algo:` prefix (CDX `digest`
    * field, reference indexer.ts:431-433). */
  def stripDigestPrefix(c: Column): Column =
    when(c.isNotNull && c.contains(":"), substring_index(c, ":", -1)).otherwise(lit(null))
}
