package graft.core

/** Chunked transfer decoding + content decoding for record payloads, with
  * the reference's tolerance rules. Gzip content is read by
  * `WarcStreaming`'s gzip-member feed (`WarcStreaming.gunzip`), the
  * engine's one gzip-member reader. Every `Inflater` a decode opens is
  * ended before the decode returns or throws.
  *
  * Behavior reference (studied, not copied):
  *  - /root/reference/src/lib/readers.ts:165-226 (dechunk + tolerance:
  *    malformed first chunk ⇒ replay raw; malformed later chunk ⇒ emit
  *    what was read and stop);
  *  - /root/reference/src/lib/warcrecord.ts:299-321 (encoding pick:
  *    Content-Encoding, else non-chunked Transfer-Encoding);
  *  - tolerance matrix tests /root/reference/test/testReaders.test.ts:298-321,
  *    501-552.
  */
object PayloadDecode {

  /** De-chunk a Transfer-Encoding: chunked body. Tolerant:
    *  - size line malformed/oversized on FIRST chunk → return input as-is;
    *  - malformed after ≥1 good chunk → emit good chunks + the raw
    *    remainder of the malformed read, like the reference's
    *    yield-and-break paths. */
  def dechunk(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length)
    var pos = 0
    var first = true
    val n = data.length

    // readlineRaw(64): bytes through '\n', capped at 64
    def readline(): (Int, Int) = { // (start, endExclusive) or (-1,-1) at EOF
      if (pos >= n) return (-1, -1)
      val start = pos
      var i = pos
      val cap = Math.min(n, pos + 64)
      while (i < cap && data(i) != '\n') i += 1
      val end = if (i < cap && data(i) == '\n') i + 1 else cap
      pos = end
      (start, end)
    }

    var done = false
    while (!done) {
      val (ls, le) = readline()
      if (ls < 0) { done = true }
      else {
        val line = new String(data, ls, le - ls, java.nio.charset.StandardCharsets.ISO_8859_1)
        val size: Long =
          try java.lang.Long.parseLong(line.trim.takeWhile(c => Character.digit(c, 16) >= 0 && c != '\r' && c != '\n'), 16)
          catch { case _: Exception => -1L }
        if (size < 0 || size > (1L << 32)) {
          // NaN or too big: first → replay the size line raw; later →
          // errored, emit the line then the remainder
          if (first) { pos = ls; out.write(data, pos, n - pos); }
          else { out.write(data, ls, le - ls); out.write(data, pos, n - pos) }
          done = true
        } else if (size == 0) {
          // final chunk: expect CRLF; on good CRLF we are done
          val sepStart = pos
          val sepEnd = Math.min(n, pos + 2)
          pos = sepEnd
          val goodSep = sepEnd - sepStart == 2 && data(sepStart) == '\r' && data(sepStart + 1) == '\n'
          if (!goodSep) {
            if (first) { out.write(data, ls, le - ls) }
            out.write(data, sepStart, sepEnd - sepStart)
            out.write(data, pos, n - pos)
          }
          done = true
        } else {
          val avail = Math.min(size, (n - pos).toLong).toInt
          val chunkStart = pos
          pos += avail
          if (avail != size) {
            // short read: first → size line replayed? reference: yields
            // lineBuff only when first, then the short chunk, then stops
            if (first) out.write(data, ls, le - ls)
            out.write(data, chunkStart, avail)
            out.write(data, pos, n - pos)
            done = true
          } else {
            val sepStart = pos
            val sepEnd = Math.min(n, pos + 2)
            pos = sepEnd
            val goodSep = sepEnd - sepStart == 2 && data(sepStart) == '\r' && data(sepStart + 1) == '\n'
            if (!goodSep) {
              if (first) out.write(data, ls, le - ls)
              out.write(data, chunkStart, avail)
              out.write(data, sepStart, sepEnd - sepStart)
              out.write(data, pos, n - pos)
              done = true
            } else {
              first = false
              out.write(data, chunkStart, avail)
            }
          }
        }
      }
    }
    out.toByteArray
  }

  /** Full payload decode: dechunk if Transfer-Encoding: chunked, then
    * content-decode. When there is no Content-Encoding and the
    * Transfer-Encoding is not chunked, the Transfer-Encoding value is
    * tried as a content encoding (reference warcrecord.ts:299-321). */
  def decodePayload(
      payload: Array[Byte],
      contentEncoding: String,
      transferEncoding: String
  ): Array[Byte] = {
    if (payload == null) return null
    val chunked = transferEncoding == "chunked"
    var enc = Option(contentEncoding).getOrElse("")
    if (enc.isEmpty && !chunked) enc = Option(transferEncoding).getOrElse("")
    val dechunked = if (chunked) dechunk(payload) else payload
    if (enc.isEmpty) dechunked else inflateAuto(dechunked, enc)
  }

  /** Inflate a gzip/deflate/deflateRaw payload with the reference's
    * auto-detection: "deflate" retries as deflateRaw on error; any
    * inflate failure falls back to the raw bytes
    * (reference readers.ts:287-322). Multi-member gzip
    * inputs are concatenated. */
  private def inflateAuto(data: Array[Byte], encoding: String): Array[Byte] = {
    if (data.isEmpty) return data
    // pako's inflater auto-detects gzip vs zlib wrappers for both the
    // "gzip" and "deflate" settings; only "deflate" additionally retries
    // as raw deflate on error (readers.ts:287-299). Truth table verified
    // by the reference's testReaders.test.ts:298-321.
    def wrapped(): Array[Byte] =
      if (data.length >= 2 && (data(0) & 0xff) == 0x1f && (data(1) & 0xff) == 0x8b)
        WarcStreaming.gunzip(data)
      else inflateOne(data, raw = false)
    encoding match {
      case "gzip" | "x-gzip" =>
        try wrapped()
        catch { case _: Exception => data }
      case "deflate" =>
        try wrapped()
        catch {
          case _: Exception =>
            try inflateOne(data, raw = true)
            catch { case _: Exception => data }
        }
      case "deflateRaw" =>
        try inflateOne(data, raw = true)
        catch { case _: Exception => data }
      case _ => data
    }
  }

  /** Inflate one zlib (`raw = false`) or raw deflate stream. */
  private def inflateOne(data: Array[Byte], raw: Boolean): Array[Byte] = {
    val inflater = new java.util.zip.Inflater(raw)
    try {
      inflater.setInput(data)
      val bos = new java.io.ByteArrayOutputStream(math.min(data.length.toLong * 4, 1L << 16).toInt)
      val tmp = new Array[Byte](64 * 1024)
      while (!inflater.finished()) {
        val n = inflater.inflate(tmp)
        if (n > 0) bos.write(tmp, 0, n)
        else if (inflater.needsInput() || inflater.needsDictionary())
          throw new IllegalArgumentException("truncated/invalid deflate stream")
      }
      bos.toByteArray
    } finally inflater.end()
  }
}
