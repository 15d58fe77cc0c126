package graft.core

import java.util.zip.Inflater

/** Gzip member splitting + inflation for payload content decoding
  * (`inflateAuto`), and the writer's one-member-per-record compression
  * (`gzipMember`). Record framing, whose member boundaries define the
  * compressed record offset/length the CDX index reports, tracks members
  * itself (`WarcStreaming`'s streaming gzip feed).
  * Behavior reference: /root/reference/src/lib/readers.ts:20-26,272-335
  * (raw-offset accounting at each member end). */
object GzipMembers {

  /** (rawStart, rawLen, decompressed bytes) per member. */
  final case class Member(rawStart: Long, rawLen: Long, data: Array[Byte])

  private def u8(b: Byte): Int = b & 0xff

  /** Parse the gzip header at `pos`, returning the offset just past it,
    * or -1 if not a valid gzip header. */
  private def skipGzipHeader(buf: Array[Byte], pos: Int): Int = {
    if (pos + 10 > buf.length) return -1
    if (u8(buf(pos)) != 0x1f || u8(buf(pos + 1)) != 0x8b || u8(buf(pos + 2)) != 8) return -1
    val flg = u8(buf(pos + 3))
    var p = pos + 10
    if ((flg & 0x04) != 0) { // FEXTRA
      if (p + 2 > buf.length) return -1
      val xlen = u8(buf(p)) | (u8(buf(p + 1)) << 8)
      p += 2 + xlen
    }
    if ((flg & 0x08) != 0) { while (p < buf.length && buf(p) != 0) p += 1; p += 1 } // FNAME
    if ((flg & 0x10) != 0) { while (p < buf.length && buf(p) != 0) p += 1; p += 1 } // FCOMMENT
    if ((flg & 0x02) != 0) p += 2 // FHCRC
    if (p > buf.length) -1 else p
  }

  /** Split a .warc.gz byte array into members, inflating each. A member
    * whose deflate data or 8-byte CRC/ISIZE trailer runs past the buffer
    * throws `truncated gzip member`, the rule `WarcStreaming`'s gzip feed
    * applies (so `inflateAuto` falls back to the raw bytes). */
  def splitMembers(buf: Array[Byte]): Vector[Member] = {
    val out = Vector.newBuilder[Member]
    var pos = 0
    while (pos < buf.length) {
      val dataStart = skipGzipHeader(buf, pos)
      if (dataStart < 0)
        throw new IllegalArgumentException(s"not a gzip member at offset $pos")
      val inflater = new Inflater(true)
      inflater.setInput(buf, dataStart, buf.length - dataStart)
      val chunks = Vector.newBuilder[Array[Byte]]
      var total = 0
      val tmp = new Array[Byte](64 * 1024)
      while (!inflater.finished()) {
        val n = inflater.inflate(tmp)
        if (n > 0) { chunks += java.util.Arrays.copyOf(tmp, n); total += n }
        else if (inflater.needsInput()) throw new IllegalArgumentException("truncated gzip member")
      }
      val consumed = (buf.length - dataStart) - inflater.getRemaining
      inflater.end()
      val memberEnd = dataStart + consumed + 8 // CRC32 + ISIZE trailer
      if (memberEnd > buf.length) throw new IllegalArgumentException("truncated gzip member")
      val data = new Array[Byte](total)
      var off = 0
      for (c <- chunks.result()) { System.arraycopy(c, 0, data, off, c.length); off += c.length }
      out += Member(pos.toLong, (memberEnd - pos).toLong, data)
      pos = memberEnd
    }
    out.result()
  }

  /** Inflate a single-stream gzip/deflate/deflateRaw payload with the
    * reference's auto-detection: "deflate" retries as deflateRaw on
    * error; any inflate failure falls back to the raw bytes
    * (/root/reference/src/lib/readers.ts:287-322). Multi-member gzip
    * inputs are concatenated. */
  def inflateAuto(data: Array[Byte], encoding: String): Array[Byte] = {
    if (data.isEmpty) return data
    // pako's inflater auto-detects gzip vs zlib wrappers for both the
    // "gzip" and "deflate" settings; only "deflate" additionally retries
    // as raw deflate on error (readers.ts:287-299). Truth table verified
    // by /root/reference/test/testReaders.test.ts:298-321.
    def wrapped(): Array[Byte] =
      if (data.length >= 2 && (data(0) & 0xff) == 0x1f && (data(1) & 0xff) == 0x8b)
        inflateGzipAllMembers(data)
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

  def inflateGzipAllMembers(data: Array[Byte]): Array[Byte] = {
    val members = splitMembers(data)
    val total = members.map(_.data.length).sum
    val out = new Array[Byte](total)
    var off = 0
    for (m <- members) { System.arraycopy(m.data, 0, out, off, m.data.length); off += m.data.length }
    out
  }

  def inflateOne(data: Array[Byte], raw: Boolean): Array[Byte] = {
    val inflater = new Inflater(raw)
    inflater.setInput(data)
    val bos = new java.io.ByteArrayOutputStream(data.length * 4)
    val tmp = new Array[Byte](64 * 1024)
    while (!inflater.finished()) {
      val n = inflater.inflate(tmp)
      if (n > 0) bos.write(tmp, 0, n)
      else if (inflater.needsInput() || inflater.needsDictionary())
        throw new IllegalArgumentException("truncated/invalid deflate stream")
    }
    inflater.end()
    bos.toByteArray
  }

  /** Gzip-compress one record block (one member), matching the
    * serializer's one-member-per-record layout
    * (/root/reference/src/lib/warcserializer.ts:100-167). */
  def gzipMember(data: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(data)
    gz.finish()
    gz.close()
    bos.toByteArray
  }
}
