package graft.core

/** A fully framed WARC record, as `WarcStreaming.parseStream` emits it.
  * `payload` is the RAW payload (after HTTP headers, before
  * transfer/content decoding). */
final case class FramedRecord(
    filename: String,
    offset: Long,
    length: Long, // recordLength: gzip member size when compressed, else byte span
    warcVersion: String,
    warcHeaders: Vector[HeaderKV],
    warcReencoded: Set[String],
    httpStatusline: String, // null when HTTP not parsed / absent
    httpHeaders: Vector[HeaderKV],
    httpReencoded: Set[String],
    payload: Array[Byte],
    warning: String // framing tolerance warning emitted AFTER this record, or null
) {
  def warcHeader(name: String): Option[String] =
    StatusAndHeaders(warcVersion, warcHeaders, warcReencoded).get(name)
  def warcType: String = warcHeader("WARC-Type").orNull
  def warcTargetURI: String = warcHeader("WARC-Target-URI").orNull
  def http: Option[StatusAndHeaders] =
    if (httpStatusline == null) None
    else Some(StatusAndHeaders(httpStatusline, httpHeaders, httpReencoded))
}

object WarcFraming {

  /** Names the scan opens as gzip (`.gz`, hence `.warc.gz`/`.wacz.gz`);
    * `parseStream` also detects gzip by its magic bytes. */
  def isGzipName(path: String): Boolean = path.endsWith(".gz")
}
