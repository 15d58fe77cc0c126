package graft.core

import scala.collection.mutable

/** Index / CDX field projection + the request/response pairing fold.
  *
  * The pairing is a greedy one-slot state machine over records in file
  * order (a pair CONSUMES both records — not expressible as a pure lag-1
  * window), so the Spark operator runs it as an in-order fold per file
  * (groupByKey(filename) → fold), which parallelizes across files — the
  * natural unit of a WARC corpus.
  *
  * Behavior reference (studied, not copied):
  * /root/reference/src/lib/indexer.ts (field routing :113-164, filter
  * :246-263, pairing :265-311, pair enrichment :313-364, CDX fields
  * :394-438, serializers :367-392).
  */
object CdxIndexing {

  val DEFAULT_FIELDS: Vector[String] = Vector("offset", "warc-type", "warc-target-uri")
  val DEFAULT_CDX_FIELDS: Vector[String] =
    "urlkey,timestamp,url,mime,status,digest,length,offset,filename".split(",").toVector
  val DEFAULT_LEGACY_CDX_FIELDS: Vector[String] =
    "urlkey,timestamp,url,mime,status,digest,redirect,meta,length,offset,filename".split(",").toVector
  val DEFAULT_MAX_QUERY_SIZE = 4096

  /** A projected index row: ordered (insertion-ordered) name → value,
    * where values keep their JSON type (Long / Int / String). */
  type IndexRow = Vector[(String, Any)]

  final case class PairedRecord(
      record: FramedRecord,
      reqRecord: Option[FramedRecord],
      urlkeyUrl: String, // post-POST-rewrite URL feeding the urlkey
      method: Option[String],
      requestBody: Option[String]
  )

  // -------------------------------------------------------------------
  // Field projection (BaseIndexer.getField / CDXIndexer.getField)
  // -------------------------------------------------------------------

  private def warcSah(r: FramedRecord) = StatusAndHeaders(r.warcVersion, r.warcHeaders, r.warcReencoded)

  /** BaseIndexer.getField: `req.` prefix only matches request records;
    * `http:status` for response/revisit; `http:<name>` case-insensitive;
    * otherwise a WARC header. */
  def getBaseField(field0: String, record: FramedRecord): Option[Any] = {
    var field = field0
    if (field.startsWith("req.")) {
      if (record.warcType == "request") field = field.substring(4)
      else return None
    }
    if (field == "http:status") {
      return record.http match {
        case Some(h) if record.warcType == "response" || record.warcType == "revisit" =>
          h.statusCode.map(_.asInstanceOf[Any])
        case _ => None
      }
    }
    if (field.startsWith("http:")) {
      return record.http.flatMap(_.get(field.substring(5))).map(_.asInstanceOf[Any])
    }
    warcSah(record).get(field).filter(_.nonEmpty).map(_.asInstanceOf[Any])
  }

  /** The CDX 14-digit timestamp of a WARC-Date: its first 14 characters
    * that are not `-`, `:` or `T` (SQL `timestamp14` calls this too). */
  def timestamp14(d: String): String = {
    val sb = new java.lang.StringBuilder(14)
    var i = 0
    while (i < d.length && sb.length < 14) {
      val c = d.charAt(i)
      if (c != '-' && c != ':' && c != 'T') sb.append(c)
      i += 1
    }
    sb.toString
  }

  /** CDXIndexer.getField on top of the base projection. `urlkeyUrl` is
    * the (possibly POST-rewritten) URL. */
  def getCdxField(
      field: String,
      record: FramedRecord,
      urlkeyUrl: Option[String],
      noSurt: Boolean
  ): Option[Any] = field match {
    case "urlkey" =>
      val v = urlkeyUrl.filter(_.nonEmpty).orElse(Option(record.warcTargetURI))
      if (noSurt) v.map(_.asInstanceOf[Any]) else v.map(UrlCanon.surt(_).asInstanceOf[Any])
    case "timestamp" =>
      val d = warcSah(record).get("WARC-Date").getOrElse("")
      Some(timestamp14(d))
    case "url" => Option(record.warcTargetURI)
    case "mime" =>
      record.warcType match {
        case "revisit" => Some("warc/revisit")
        case "response" | "request" =>
          getBaseField("http:content-type", record)
            .map(v => v.toString.split(";", 2)(0).trim)
        case _ => warcSah(record).get("Content-Type")
      }
    case "status"   => getBaseField("http:status", record)
    case "referrer" => getBaseField("req.http:referer", record)
    case "digest" =>
      warcSah(record).get("WARC-Payload-Digest").flatMap { v =>
        val parts = v.split(":", 2)
        if (parts.length > 1) Some(parts(1)) else None
      }
    case _ => getBaseField(field, record)
  }

  // -------------------------------------------------------------------
  // Filters
  // -------------------------------------------------------------------

  /** CDX record filter (F1): drop request + warcinfo; drop metadata/
    * resource with Content-Type application/warc-fields. */
  def cdxFilter(record: FramedRecord): Boolean = {
    val t = record.warcType
    if (t == "request" || t == "warcinfo") false
    else if ((t == "metadata" || t == "resource") &&
      warcSah(record).get("Content-Type").contains("application/warc-fields")) false
    else true
  }

  // -------------------------------------------------------------------
  // Pairing fold (J1 + J2)
  // -------------------------------------------------------------------

  /** Greedy adjacent request/response pairing over one file's records in
    * offset order. Emits the paired stream in reference order. */
  def pairRecords(records: Iterator[FramedRecord]): Iterator[PairedRecord] = new Iterator[PairedRecord] {
    private var last: FramedRecord = null
    private val pending = mutable.Queue.empty[PairedRecord]
    private var exhausted = false

    private def enrich(record: FramedRecord, req: Option[FramedRecord]): PairedRecord = {
      var url = Option(record.warcTargetURI).getOrElse("")
      var method: Option[String] = None
      var requestBody: Option[String] = None
      for (r <- req; h <- r.http if h.method != "GET") {
        method = Some(h.method)
        PostToGet.postToGetUrl(url, h.method, h.headers.map(kv => (kv.name, kv.value)),
          r.payload, DEFAULT_MAX_QUERY_SIZE) match {
          case Some(rw) =>
            requestBody = Some(rw.requestBody)
            url = rw.url
          case None =>
        }
      }
      PairedRecord(record, req, url, method, requestBody)
    }

    private def step(record: FramedRecord): Unit = { // record==null ⇒ end flush
      val lastRecord = last
      last = record
      if (lastRecord == null) return
      if (record == null || lastRecord.warcTargetURI != record.warcTargetURI) {
        pending += enrich(lastRecord, None)
        return
      }
      val wt = record.warcType
      val lwt = lastRecord.warcType
      if (wt == "request" && (lwt == "response" || lwt == "revisit")) {
        last = null
        pending += enrich(lastRecord, Some(record))
      } else if ((wt == "response" || wt == "revisit") && lwt == "request") {
        last = null
        pending += enrich(record, Some(lastRecord))
      } else {
        pending += enrich(lastRecord, None)
      }
    }

    @annotation.tailrec
    private def fill(): Unit =
      if (pending.isEmpty && !exhausted) {
        if (records.hasNext) { step(records.next()); fill() }
        else { exhausted = true; step(null) }
      }

    def hasNext: Boolean = { fill(); pending.nonEmpty }
    def next(): PairedRecord = { fill(); pending.dequeue() }
  }

  // -------------------------------------------------------------------
  // Row assembly
  // -------------------------------------------------------------------

  /** Plain `index` projection over one record. */
  def indexRow(record: FramedRecord, fields: Seq[String]): IndexRow = {
    val out = Vector.newBuilder[(String, Any)]
    for (f <- fields) f match {
      case "offset"   => out += (("offset", record.offset))
      case "length"   => out += (("length", record.length))
      case "filename" => out += (("filename", record.filename))
      case other =>
        getBaseField(other, record).foreach(v => out += ((other, v)))
    }
    out.result()
  }

  /** CDX projection over a paired record (indexRecordPair). */
  def cdxRow(
      paired: PairedRecord,
      fields: Seq[String],
      noSurt: Boolean = false
  ): Option[IndexRow] = {
    val record = paired.record
    if (!cdxFilter(record)) return None
    val out = mutable.LinkedHashMap.empty[String, Any]
    val urlkeyUrl = Some(paired.urlkeyUrl)
    val (plain, reqFields) = fields.partition(f => !isRequestHeader(f))
    for (f <- plain) f match {
      case "offset"   => out("offset") = record.offset
      case "length"   => out("length") = record.length
      case "filename" => out("filename") = record.filename
      case other =>
        getCdxField(other, record, urlkeyUrl, noSurt).foreach(v => out(other) = v)
    }
    // offset/length forced from the record (indexer.ts:340-343)
    if (out.contains("offset")) out("offset") = record.offset
    if (out.contains("length")) out("length") = record.length
    paired.method.foreach(m => out("method") = m)
    paired.requestBody.foreach(b => out("requestBody") = b)
    for (req <- paired.reqRecord; f <- reqFields) f match {
      case "referrer" => getCdxField("referrer", req, None, noSurt).foreach(v => out(f) = v)
      case other      => getBaseField(other, req).foreach(v => out(f) = v)
    }
    Some(out.toVector)
  }

  /** CDX projection in `--all` mode: every record indexed alone, no
    * pairing, no POST rewrite. */
  def cdxRowAll(record: FramedRecord, fields: Seq[String], noSurt: Boolean = false): IndexRow = {
    val out = Vector.newBuilder[(String, Any)]
    for (f <- fields) f match {
      case "offset"   => out += (("offset", record.offset))
      case "length"   => out += (("length", record.length))
      case "filename" => out += (("filename", record.filename))
      case other =>
        getCdxField(other, record, None, noSurt).foreach(v => out += ((other, v)))
    }
    out.result()
  }

  def isRequestHeader(field: String): Boolean =
    field.startsWith("req.") || field.equalsIgnoreCase("referrer")

  // -------------------------------------------------------------------
  // Serializers (S5/S6/S7)
  // -------------------------------------------------------------------

  private def jsonEscape(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    for (c <- s) c match {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\b' => sb.append("\\b")
      case '\f' => sb.append("\\f")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  private def jsonValue(v: Any): String = v match {
    case s: String => "\"" + jsonEscape(s) + "\""
    case l: Long   => l.toString
    case i: Int    => i.toString
    case d: Double => JsCompat.jsNumberToString(d)
    case b: Boolean => b.toString
    case null      => "null"
    case other     => "\"" + jsonEscape(other.toString) + "\""
  }

  /** JSONL (insertion order preserved, like JSON.stringify). */
  def serializeJson(row: IndexRow): String =
    row.map { case (k, v) => "\"" + jsonEscape(k) + "\":" + jsonValue(v) }
      .mkString("{", ",", "}")

  /** CDXJ: urlkey + timestamp + JSON of the rest with offset/length/
    * status stringified. */
  def serializeCdxj(row: IndexRow): String = {
    val m = row.toMap
    val urlkey = m.getOrElse("urlkey", null)
    val timestamp = m.getOrElse("timestamp", null)
    val rest = row.filterNot { case (k, _) => k == "urlkey" || k == "timestamp" }
      .map { case (k, v) =>
        if (k == "offset" || k == "length" || k == "status")
          (k, (if (v == null) "" else v.toString): Any)
        else (k, v)
      }
    s"${Option(urlkey).map(_.toString).getOrElse("undefined")} " +
      s"${Option(timestamp).map(_.toString).getOrElse("undefined")} " +
      serializeJson(rest)
  }

  /** CDX11 legacy: 11 space-separated fields, '-' when missing. */
  def serializeCdx11(row: IndexRow): String = {
    val m = row.toMap
    DEFAULT_LEGACY_CDX_FIELDS
      .map(f => m.get(f).filter(_ != null).map(_.toString).getOrElse("-"))
      .mkString(" ")
  }
}
