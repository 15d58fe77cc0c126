package graft.core

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import scala.collection.mutable.ArrayBuffer

/** WARC record construction + serialization (write path).
  *
  * Behavior reference (studied, not copied):
  *  - /root/reference/src/lib/warcrecord.ts:52-177 (create defaults: date
  *    normalization per WARC version, URL href normalization, auto
  *    record-id, default Content-Type, revisit profile);
  *  - /root/reference/src/lib/warcserializer.ts:194-298 (digestRecord +
  *    generateRecord layout, digest defaults sha-256 hex / sha-1 base32);
  *  - goldens /root/reference/test/testSerializer.test.ts.
  */
object WarcWriter {

  val WARC_1_0 = "WARC/1.0"
  val WARC_1_1 = "WARC/1.1"
  private val REVISIT_PROFILE_1_0 = "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest"
  private val REVISIT_PROFILE_1_1 = "http://netpreserve.org/warc/1.1/revisit/identical-payload-digest"

  private val DEFAULT_CT: Map[String, String] = Map(
    "warcinfo" -> "application/warc-fields",
    "response" -> "application/http; msgtype=response",
    "revisit" -> "application/http; msgtype=response",
    "request" -> "application/http; msgtype=request",
    "metadata" -> "application/warc-fields"
  )

  /** Ordered header map with Headers-like `set` (replace-in-place) and
    * `append` semantics. */
  final class OrderedHeaders(init: Seq[(String, String)] = Nil) {
    private val entries = ArrayBuffer.empty[HeaderKV]
    init.foreach { case (k, v) => append(k, v) }

    def get(name: String): Option[String] = {
      val hits = entries.filter(_.name.equalsIgnoreCase(name))
      if (hits.isEmpty) None else Some(hits.map(_.value).mkString(", "))
    }
    def set(name: String, value: String): Unit = {
      val idx = entries.indexWhere(_.name.equalsIgnoreCase(name))
      if (idx >= 0) {
        entries(idx) = HeaderKV(entries(idx).name, value)
        // remove any further duplicates
        var i = entries.length - 1
        while (i > idx) {
          if (entries(i).name.equalsIgnoreCase(name)) entries.remove(i)
          i -= 1
        }
      } else entries += HeaderKV(name, value)
    }
    def append(name: String, value: String): Unit = entries += HeaderKV(name, value)
    def toVector: Vector[HeaderKV] = entries.toVector
  }

  /** A record ready to serialize. */
  final case class BuiltRecord(
      warcVersion: String,
      warcHeaders: OrderedHeaders,
      httpStatusline: Option[String],
      httpHeaders: Vector[HeaderKV],
      payload: Array[Byte]
  ) {
    def warcType: String = warcHeaders.get("WARC-Type").getOrElse("")
    def toFramed(filename: String = "", offset: Long = 0, length: Long = 0): FramedRecord =
      FramedRecord(filename, offset, length, warcVersion, warcHeaders.toVector, Set.empty,
        httpStatusline.orNull, httpHeaders, Set.empty, payload, null)
  }

  /** Date normalization: WARC/1.0 truncates fractional seconds and
    * re-appends 'Z' using the reference's original-length charAt quirk. */
  def checkDate(d0: String, warcVersion: String): String = {
    var d = d0
    if (warcVersion == WARC_1_0) {
      val origLen = d0.length
      d = d.split("\\.", 2)(0)
      val atOrig = if (origLen - 1 < d.length && origLen - 1 >= 0) d.charAt(origLen - 1).toString else ""
      if (atOrig != "Z") d += "Z"
    }
    d
  }

  def create(
      url: String = null,
      date: String = null,
      warcType: String = null,
      warcHeaders: Seq[(String, String)] = Nil,
      filename: String = "",
      httpHeaders: Seq[(String, String)] = Nil,
      statusline: String = "HTTP/1.1 200 OK",
      warcVersion: String = WARC_1_0,
      refersToUrl: String = null,
      refersToDate: String = null,
      payload: Array[Byte] = Array.emptyByteArray,
      recordId: String = null // deterministic override; null → random uuid
  ): BuiltRecord = {
    val d = checkDate(
      Option(date).getOrElse(java.time.Instant.now().toString),
      warcVersion)

    val h = new OrderedHeaders(warcHeaders)
    if (warcType == "warcinfo") {
      if (filename.nonEmpty) h.set("WARC-Filename", filename)
    } else if (url != null && url.nonEmpty) {
      h.set("WARC-Target-URI", UrlCanon.hrefOrSelf(url))
    }
    h.set("WARC-Date", d)
    if (warcType != null) h.set("WARC-Type", warcType)
    if (warcType == "revisit") {
      h.set("WARC-Profile", if (warcVersion == WARC_1_1) REVISIT_PROFILE_1_1 else REVISIT_PROFILE_1_0)
      if (refersToUrl != null) {
        h.set("WARC-Refers-To-Target-URI", refersToUrl)
        h.set("WARC-Refers-To-Date",
          checkDate(Option(refersToDate).getOrElse(java.time.Instant.now().toString), warcVersion))
      }
    }
    if (h.get("WARC-Record-ID").isEmpty)
      h.set("WARC-Record-ID",
        s"<urn:uuid:${Option(recordId).getOrElse(java.util.UUID.randomUUID().toString)}>")
    if (h.get("Content-Type").isEmpty)
      h.set("Content-Type",
        Option(warcType).flatMap(DEFAULT_CT.get).getOrElse("application/octet-stream"))

    val (httpSl, httpH) = warcType match {
      case "response" | "request" | "revisit" =>
        val isEmpty = httpHeaders.isEmpty
        // revisit with no http headers: no statusline block at all
        if (!isEmpty || warcType != "revisit")
          (Some(statusline), httpHeaders.map { case (k, v) => HeaderKV(k, v) }.toVector)
        else (None, Vector.empty[HeaderKV])
      case _ => (None, Vector.empty[HeaderKV])
    }
    BuiltRecord(warcVersion, h, httpSl, httpH, payload)
  }

  def createWarcInfo(
      info: Seq[(String, String)],
      filename: String = "",
      date: String = null,
      warcVersion: String = WARC_1_0,
      recordId: String = null
  ): BuiltRecord = {
    val body = info.map { case (k, v) => s"$k: $v\r\n" }.mkString
    create(warcType = "warcinfo", filename = filename, date = date,
      warcVersion = warcVersion, recordId = recordId,
      payload = body.getBytes(StandardCharsets.UTF_8))
  }

  final case class DigestOpts(algo: String = "sha-256", prefix: String = "sha256:", base32: Boolean = false)
  val CdxDigest: DigestOpts = DigestOpts("sha-1", "sha1:", base32 = true)

  private def newDigest(algo: String): Option[MessageDigest] = algo match {
    case "sha-256" => Some(MessageDigest.getInstance("SHA-256"))
    case "sha-1"   => Some(MessageDigest.getInstance("SHA-1"))
    case ""        => None
    case _         => Some(MessageDigest.getInstance("SHA-256"))
  }

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  def formatDigest(digest: Array[Byte], opts: DigestOpts): String =
    opts.prefix + (if (opts.base32) Base32.encode(digest) else hex(digest))

  /** digestRecord + generateRecord: updates digests/Content-Length on the
    * record's WARC headers, then serializes the full record block. */
  def serialize(
      record: BuiltRecord,
      digest: DigestOpts = DigestOpts(),
      gzip: Boolean = false,
      recompute: Boolean = false,
      payloadDigestForRevisit: String = ""
  ): Array[Byte] = {
    val h = record.warcHeaders
    val t = record.warcType

    var blockHasher: Option[MessageDigest] = None
    var payloadHasher: Option[MessageDigest] = None
    if (t != "warcinfo") {
      if (recompute || h.get("WARC-Block-Digest").isEmpty) blockHasher = newDigest(digest.algo)
      if (t != "revisit" && (recompute || h.get("WARC-Payload-Digest").isEmpty))
        payloadHasher = newDigest(digest.algo)
    }

    val httpHeadersBuff: Array[Byte] = record.httpStatusline match {
      case Some(sl) =>
        val block = StatusAndHeaders(sl, record.httpHeaders, Set.empty).serialize + "\r\n"
        block.getBytes(StandardCharsets.UTF_8)
      case None => Array.emptyByteArray
    }

    blockHasher.foreach(_.update(httpHeadersBuff))
    blockHasher.foreach(_.update(record.payload))
    payloadHasher.foreach(_.update(record.payload))

    payloadHasher match {
      case Some(ph) => h.set("WARC-Payload-Digest", formatDigest(ph.digest(), digest))
      case None if t == "revisit" && payloadDigestForRevisit.nonEmpty =>
        h.set("WARC-Payload-Digest", payloadDigestForRevisit)
      case None =>
    }
    blockHasher.foreach(bh => h.set("WARC-Block-Digest", formatDigest(bh.digest(), digest)))

    val totalSize = record.payload.length + httpHeadersBuff.length
    h.set("Content-Length", totalSize.toString)

    val warcHeadersBuff =
      StatusAndHeaders(record.warcVersion, h.toVector, Set.empty).serialize
        .getBytes(StandardCharsets.UTF_8)

    val out = new java.io.ByteArrayOutputStream(
      warcHeadersBuff.length + httpHeadersBuff.length + record.payload.length + 6)
    out.write(warcHeadersBuff)
    out.write('\r'); out.write('\n')
    out.write(httpHeadersBuff)
    out.write(record.payload)
    out.write('\r'); out.write('\n'); out.write('\r'); out.write('\n')
    val raw = out.toByteArray
    if (gzip) gzipMember(raw) else raw
  }

  /** Gzip-compress one record block as one member, the serializer's
    * one-member-per-record layout
    * (reference warcserializer.ts:100-167). */
  def gzipMember(data: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(data)
    gz.close()
    bos.toByteArray
  }

  /** Re-serialize a parsed record (keep-case parse) — the round-trip
    * identity path: parse(bytes) → serialize == bytes when digests are
    * already present. */
  def serializeFramed(
      rec: FramedRecord,
      digest: DigestOpts = DigestOpts(),
      gzip: Boolean = false
  ): Array[Byte] = {
    val h = new OrderedHeaders(rec.warcHeaders.map(kv => (kv.name, kv.value)))
    val built = BuiltRecord(rec.warcVersion, h,
      Option(rec.httpStatusline), rec.httpHeaders, rec.payload)
    serialize(built, digest, gzip)
  }
}
