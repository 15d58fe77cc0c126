package graft.core

import java.io.InputStream
import java.nio.charset.StandardCharsets
import scala.collection.mutable

/** The engine's one WARC framer (S1/S4): the Spark scan, `LazyPayload`,
  * `CdxPipeline` and the in-memory captures of q25/q36 all frame
  * through `parseStream`. It consumes an `InputStream` and holds
  * O(one record) of task memory, mirroring the reference's streaming
  * design — `AsyncIterReader` (readers.ts:100-480) and `WARCParser`
  * (warcparser.ts:57-183). Its tolerant framing:
  *  - record = version line, header block to CRLFCRLF, Content-Length
  *    payload, CRLFCRLF;
  *  - leftover bytes before the separator ⇒ "Content-Length Too Small"
  *    warning with the reference's exact text;
  *  - extra blank lines between records consumed;
  *  - a "WARC/x.y" line immediately after the payload starts the next
  *    record without updating the offset (reference quirk);
  *  - wget's `<uri>` around WARC-Target-URI stripped
  *    (warcrecord.ts:228-234).
  * Every field of every record of the ten reference fixtures is checked
  * against recorded goldens (`WarcStreamingSpec`, resource
  * `goldens/framing.jsonl`).
  *
  * A `.warc.gz` member cut short — the deflate stream or its 8-byte
  * CRC/ISIZE trailer — throws `truncated gzip member`.
  *
  * `GzipFeed` is the engine's one gzip-member reader: it also decodes
  * `gzip` content (`gunzip`, called by `PayloadDecode`). Inflater
  * lifetime: a feed ends its `Inflater` at each member end, on every
  * error (truncated or garbage member, `DataFormatException`) and on
  * `close()`. The iterator `parseStream` returns closes its feed and
  * stream when it runs out; a caller that stops early calls `close()`.
  *
  * `keepPayload = false` SKIPS payload bytes without buffering or copying
  * them (the reference's `skipFully`, indexer.ts:74) — so column pruning
  * reaches the parser, not just the emitted row.
  *
  * Offsets for `.warc.gz` (reference readers.ts:446-453): offset = raw
  * start of the gzip member containing the record's first byte; length =
  * raw length of the member containing the record's last payload byte.
  * Records are emitted as soon as that member's raw length is known —
  * immediately for conformant one-member-per-record files. For
  * non-conformant files (one member spanning many records) emission of a
  * member's records is deferred until the member ends: memory O(member),
  * the same bound the reference needs to report rawLength.
  *
  * `strictHeaders`: rejects records whose version line is not `WARC/x.y`.
  * NOTE: the reference's indexer passes `strictHeaders: true`
  * (indexer.ts:63) but `WARCParser`'s constructor ignores it
  * (warcparser.ts:13-16 destructure only keepHeadersCase/parseHttp) — the
  * flag is a no-op there; we give it the semantics the name promises and
  * default it off for reference-parity.
  */
object WarcStreaming {

  // =================================================================
  // Byte feeds
  // =================================================================

  /** Decompressed byte feed with gzip-member offset accounting.
    * `memberIdx` reports the member of the LAST consumed byte. */
  private sealed trait Feed {
    def pos: Long
    def read(): Int
    def readInto(buf: Array[Byte], off: Int, len: Int): Int
    def skip(n: Long): Long
    def memberIdx: Int
    def memberRawStart(idx: Int): Long
    /** Raw length of member `idx`, defined once fully consumed. */
    def memberRawLen(idx: Int): Option[Long]
    /** Release the feed's resources and close its stream. */
    def close(): Unit
  }

  private final class PlainFeed(in0: InputStream) extends Feed {
    private val in = new java.io.BufferedInputStream(in0, 1 << 16)
    private var p = 0L
    def pos: Long = p
    def read(): Int = { val b = in.read(); if (b >= 0) p += 1; b }
    def readInto(buf: Array[Byte], off: Int, len: Int): Int = {
      val n = in.read(buf, off, len)
      if (n > 0) p += n
      n
    }
    def skip(n: Long): Long = {
      var done = 0L
      while (done < n) {
        val k = in.skip(n - done)
        if (k > 0) done += k
        else if (in.read() >= 0) done += 1
        else { p += done; return done }
      }
      p += done
      done
    }
    def memberIdx: Int = 0
    def memberRawStart(idx: Int): Long = 0L
    def memberRawLen(idx: Int): Option[Long] = None
    def close(): Unit = in.close()
  }

  /** Streaming gzip-member inflater: one member inflated at a time in
    * 64 KiB chunks; raw (compressed) offsets tracked at member
    * granularity. `rawBase` offsets all raw positions — used by range
    * splits that start mid-file. An error or `close()` ends the open
    * member's inflater; the feed then reads as EOF. */
  private final class GzipFeed(in: InputStream, rawBase: Long = 0L) extends Feed {
    private val inBuf = new Array[Byte](1 << 16)
    private var inStart = 0
    private var inEnd = 0
    private var rawPos = rawBase // raw offset of inBuf(inStart)

    private val outBuf = new Array[Byte](1 << 16)
    private var outStart = 0
    private var outEnd = 0
    private var outBufMember = -1

    private var p = 0L
    private var lastByteMember = 0

    private val starts = mutable.ArrayBuffer.empty[Long]
    private val lens = mutable.ArrayBuffer.empty[Long] // -1 while open
    private var inflater: java.util.zip.Inflater = null
    private var fedEnd = 0 // inEnd at last setInput
    private var eof = false

    def pos: Long = p
    def memberIdx: Int = lastByteMember
    def memberRawStart(idx: Int): Long = starts(idx)
    def memberRawLen(idx: Int): Option[Long] =
      if (idx < lens.length && lens(idx) >= 0) Some(lens(idx)) else None

    private def ensureInput(): Boolean = {
      if (inStart < inEnd) return true
      inStart = 0; inEnd = 0
      val n = in.read(inBuf, 0, inBuf.length)
      if (n <= 0) false else { inEnd = n; true }
    }

    private def rawRead(): Int =
      if (!ensureInput()) -1
      else { val b = inBuf(inStart) & 0xff; inStart += 1; rawPos += 1; b }

    /** Parse a gzip header starting at the current raw position; returns
      * false at clean raw EOF, throws "not a gzip member" on garbage. */
    private def startMember(): Boolean = {
      if (!ensureInput()) return false
      val memberStart = rawPos
      def bad() = throw new IllegalArgumentException(
        s"not a gzip member at offset $memberStart")
      val id1 = rawRead(); val id2 = rawRead(); val cm = rawRead()
      if (id1 != 0x1f || id2 != 0x8b || cm != 8) bad()
      val flg = rawRead()
      if (flg < 0) bad()
      var i = 0
      while (i < 6) { if (rawRead() < 0) bad(); i += 1 } // MTIME+XFL+OS
      if ((flg & 0x04) != 0) { // FEXTRA
        val x1 = rawRead(); val x2 = rawRead()
        if (x1 < 0 || x2 < 0) bad()
        var xlen = x1 | (x2 << 8)
        while (xlen > 0) { if (rawRead() < 0) bad(); xlen -= 1 }
      }
      if ((flg & 0x08) != 0) { var b = rawRead(); while (b > 0) b = rawRead(); if (b < 0) bad() } // FNAME
      if ((flg & 0x10) != 0) { var b = rawRead(); while (b > 0) b = rawRead(); if (b < 0) bad() } // FCOMMENT
      if ((flg & 0x02) != 0) { if (rawRead() < 0 || rawRead() < 0) bad() } // FHCRC
      starts += memberStart
      lens += -1L
      inflater = new java.util.zip.Inflater(true)
      fedEnd = inStart // nothing fed yet
      true
    }

    private def release(): Unit = {
      eof = true
      if (inflater != null) { inflater.end(); inflater = null }
    }

    def close(): Unit = { release(); in.close() }

    /** Refill outBuf with the next decompressed chunk; false at EOF. */
    private def fill(): Boolean =
      try refill() catch { case e: Throwable => release(); throw e }

    private def refill(): Boolean = {
      while (true) {
        if (eof) return false
        if (inflater == null) {
          if (!startMember()) { eof = true; return false }
        }
        if (inflater.needsInput()) {
          if (!ensureInput())
            throw new IllegalArgumentException("truncated gzip member")
          inflater.setInput(inBuf, inStart, inEnd - inStart)
          fedEnd = inEnd
        }
        val n = inflater.inflate(outBuf, 0, outBuf.length)
        // account consumed raw bytes relative to the last setInput
        val newStart = fedEnd - inflater.getRemaining
        rawPos += newStart - inStart
        inStart = newStart
        if (n > 0) {
          outStart = 0; outEnd = n; outBufMember = starts.length - 1
          return true
        }
        if (inflater.finished()) {
          var i = 0
          while (i < 8) { // CRC32 + ISIZE trailer
            if (rawRead() < 0)
              throw new IllegalArgumentException("truncated gzip member")
            i += 1
          }
          lens(lens.length - 1) = rawPos - starts(starts.length - 1)
          inflater.end()
          inflater = null
          // loop: next member or EOF
        }
      }
      false
    }

    def read(): Int = {
      if (outStart >= outEnd && !fill()) return -1
      val b = outBuf(outStart) & 0xff
      outStart += 1; p += 1; lastByteMember = outBufMember
      b
    }

    def readInto(buf: Array[Byte], off: Int, len: Int): Int = {
      if (len == 0) return 0
      if (outStart >= outEnd && !fill()) return -1
      val k = math.min(len, outEnd - outStart)
      System.arraycopy(outBuf, outStart, buf, off, k)
      outStart += k; p += k; lastByteMember = outBufMember
      k
    }

    /** Write the rest of the content to `out`, chunk by chunk, without
      * advancing `pos` (content decoding reads no offsets). */
    def drainTo(out: java.io.OutputStream): Unit =
      while (outStart < outEnd || fill()) {
        out.write(outBuf, outStart, outEnd - outStart)
        outStart = outEnd
      }

    def skip(n: Long): Long = {
      var done = 0L
      while (done < n) {
        if (outStart >= outEnd && !fill()) return done
        val k = math.min(n - done, (outEnd - outStart).toLong).toInt
        outStart += k; p += k; lastByteMember = outBufMember
        done += k
      }
      done
    }
  }

  // =================================================================
  // Parser
  // =================================================================

  private final case class Line(bytes: Array[Byte], start: Long, startMember: Int)

  /** The concatenated content of the gzip members in `data`. Throws
    * on a truncated member or on bytes after the last member that are
    * not one; the feed's inflater is ended either way. */
  private[core] def gunzip(data: Array[Byte]): Array[Byte] = {
    val feed = new GzipFeed(new java.io.ByteArrayInputStream(data))
    try {
      val out = new java.io.ByteArrayOutputStream(math.min(data.length.toLong * 4, 1L << 16).toInt)
      feed.drainTo(out)
      out.toByteArray
    } finally feed.close()
  }

  /** Parse one WARC stream. Gzip is detected by magic bytes (the
    * reference always tries gzip regardless of extension,
    * readers.ts:316-322). The returned iterator owns `in`: it closes
    * `in` and ends its inflater on exhaustion or on `close()`. */
  def parseStream(
      in: InputStream,
      filename: String,
      isGzip: Boolean,
      keepCase: Boolean = false,
      keepPayload: Boolean = true,
      strictHeaders: Boolean = false,
      rawBase: Long = 0L,
      /** With `keepPayload = false`, payload bytes are fed here in
        * ≤64 KiB chunks `(buf, off, len)` instead of being skipped —
        * the lazy-payload path: a multi-GB body streams through O(64
        * KiB) of task memory (chunked `MessageDigest.update`,
        * re-serialization, …). Scoped to the FIRST record parsed from
        * the stream ONLY — for a gzip member spanning several records
        * the iterator must parse ahead before emitting record 1, and
        * an unscoped sink would silently concatenate those payloads.
        * Premature EOF inside a sinked payload THROWS (a pointer
        * re-read expects a complete record; a silent short digest
        * would report truncation as a clean result). */
      payloadSink: (Array[Byte], Int, Int) => Unit = null,
      /** Narrows the sink to the first record whose (statusline, WARC
        * headers) satisfy this predicate — needed because scan offsets
        * are MEMBER-granular: for a gzip member spanning several
        * records, a pointer to record k must select k by identity
        * (e.g. WARC-Record-ID), not by position. null = first record. */
      sinkWhen: (String, Seq[HeaderKV]) => Boolean = null
  ): Iterator[FramedRecord] with java.io.Closeable = {
    val pin = new java.io.PushbackInputStream(in, 2)
    val (b0, b1) =
      try {
        val b0 = pin.read()
        val b1 = if (b0 >= 0) pin.read() else -1
        if (b1 >= 0) pin.unread(b1)
        if (b0 >= 0) pin.unread(b0)
        (b0, b1)
      } catch { case e: Throwable => in.close(); throw e }
    val gz = isGzip || (b0 == 0x1f && b1 == 0x8b)
    val feed: Feed = if (gz) new GzipFeed(pin, rawBase) else new PlainFeed(pin)
    new RecordIterator(feed, filename, gz, keepCase, keepPayload, strictHeaders,
      payloadSink, sinkWhen)
  }

  private val VersionLine = "WARC/\\d+(\\.\\d+)?".r

  private final class RecordIterator(
      feed: Feed,
      filename: String,
      gz: Boolean,
      keepCase: Boolean,
      keepPayload: Boolean,
      strictHeaders: Boolean,
      payloadSink: (Array[Byte], Int, Int) => Unit = null,
      sinkWhen: (String, Seq[HeaderKV]) => Boolean = null
  ) extends Iterator[FramedRecord] with java.io.Closeable {

    // records parsed but awaiting their end-member's raw length (gz only)
    private val pendingGz = mutable.Queue.empty[(FramedRecord, Int, Int)]
    private val ready = mutable.Queue.empty[FramedRecord]
    private var exhausted = false
    private var closed = false
    private var pendingLine: Line = null // lookahead version line
    // the payload sink is scoped to ONE record: the first one matching
    // `sinkWhen` (or simply the first, when no predicate). `sinkActive`
    // is true only while that record's payload is being read.
    private var sinkDone = false
    private var sinkActive = false

    override def hasNext: Boolean = { advance(); ready.nonEmpty }
    override def next(): FramedRecord = { advance(); ready.dequeue() }

    /** Ends the feed's inflater and closes the stream; the iterator then
      * yields only records already parsed. Idempotent. */
    def close(): Unit = if (!closed) {
      closed = true; pendingGz.clear()
      try feed.close() catch { case _: Exception => }
    }

    private def advance(): Unit = {
      while (!closed && ready.isEmpty && !(exhausted && pendingGz.isEmpty)) {
        if (!exhausted) parseOne()
        drain()
      }
      if (exhausted && pendingGz.isEmpty) close()
    }

    private def drain(): Unit = {
      if (!gz) return
      // early stop mid-stream (empty statusline): finish consuming so the
      // open members' raw lengths resolve and records report full
      // member lengths
      if (exhausted && pendingGz.nonEmpty &&
          feed.memberRawLen(pendingGz.last._3).isEmpty)
        feed.skip(Long.MaxValue)
      while (pendingGz.nonEmpty &&
          (feed.memberRawLen(pendingGz.head._3).isDefined || exhausted)) {
        val (r, sm, em) = pendingGz.dequeue()
        val len = feed.memberRawLen(em).getOrElse(0L)
        ready += r.copy(offset = feed.memberRawStart(sm), length = len)
      }
    }

    private def readLine(): Line = {
      val start = feed.pos
      var b = feed.read()
      if (b < 0) return null
      val member = feed.memberIdx // member of the line's FIRST byte
      val bos = new java.io.ByteArrayOutputStream(96)
      var done = false
      while (!done) {
        bos.write(b)
        if (b == '\n') done = true
        else { b = feed.read(); if (b < 0) done = true }
      }
      Line(bos.toByteArray, start, member)
    }

    /** Read up to and including CRLFCRLF (or to EOF). */
    private def readToDoubleCrlf(): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream(512)
      var state = 0
      var b = feed.read()
      while (b >= 0) {
        bos.write(b)
        if (b == '\r') state = if (state == 2) 3 else 1
        else if (b == '\n') state = if (state == 1) 2 else if (state == 3) 4 else 0
        else state = 0
        if (state == 4) return bos.toByteArray
        b = feed.read()
      }
      bos.toByteArray
    }

    private def readPayload(n: Long): Array[Byte] = {
      if (n <= 0) return Array.emptyByteArray
      if (!keepPayload) {
        if (!sinkActive) { feed.skip(n); return Array.emptyByteArray }
        // lazy-payload streaming: chunk through the sink, O(64 KiB)
        // memory at ANY payload size (no JVM-array cap on this path)
        val tmp = new Array[Byte](1 << 16)
        var remaining = n
        var r = 0
        while (remaining > 0 && {
          r = feed.readInto(tmp, 0, math.min(remaining, tmp.length.toLong).toInt); r > 0
        }) {
          payloadSink(tmp, 0, r)
          remaining -= r
        }
        if (remaining > 0)
          throw new java.io.EOFException(
            s"payload truncated in $filename: $remaining of $n bytes missing " +
              "(pointer re-read expects a complete record)")
        return Array.emptyByteArray
      }
      // eager (materializing) path only: bounded by the JVM array limit
      require(n < Int.MaxValue - 8,
        s"payload of $n bytes exceeds the JVM array limit in $filename; " +
          "use the lazy payload path (keepPayload=false + payloadSink, " +
          "sources.LazyPayload) to stream past it")
      // chunked so a lying (huge) Content-Length cannot pre-allocate n
      val bos = new java.io.ByteArrayOutputStream(math.min(n, 1L << 16).toInt)
      val tmp = new Array[Byte](1 << 16)
      var remaining = n
      var r = 0
      while (remaining > 0 && {
        r = feed.readInto(tmp, 0, math.min(remaining, tmp.length.toLong).toInt); r > 0
      }) {
        bos.write(tmp, 0, r)
        remaining -= r
      }
      bos.toByteArray
    }

    private def trimEnd(s: String): String = s.replaceAll("[\\s]+$", "")

    /** One iteration of the framing loop (tolerance matrix: see the
      * object doc). */
    private def parseOne(): Unit = {
      val first =
        if (pendingLine != null) { val t = pendingLine; pendingLine = null; t }
        else {
          val l = readLine()
          if (l == null) { exhausted = true; return }
          l
        }
      val statusline = trimEnd(new String(first.bytes, StandardCharsets.UTF_8))
      if (statusline.isEmpty) { exhausted = true; return }
      if (strictHeaders && !VersionLine.matches(statusline))
        throw new IllegalArgumentException(
          s"strictHeaders: invalid WARC version line '$statusline' in $filename")
      val startMember = first.startMember

      val headerBuff = new String(readToDoubleCrlf(), StandardCharsets.UTF_8)
      val (warcHdrs0, warcReenc) = WarcHeaders.parseHeaderBlock(headerBuff, keepCase)
      val warcHdrs = warcHdrs0.map {
        case HeaderKV(n, v) if n.equalsIgnoreCase("WARC-Target-URI") &&
            v.startsWith("<") && v.endsWith(">") =>
          HeaderKV(n, v.substring(1, v.length - 1))
        case kv => kv
      }
      val sah = StatusAndHeaders(statusline, warcHdrs, warcReenc)
      val contentLength: Long = sah.get("Content-Length").flatMap(v =>
        try Some(v.trim.toLong) catch { case _: Exception => None }).getOrElse(0L)
      val warcType = sah.get("WARC-Type").getOrElse("")
      val parseHttp = warcType match {
        case "response" | "request" => true
        case "revisit"              => contentLength > 0
        case _                      => false
      }

      sinkActive = payloadSink != null && !sinkDone &&
        (sinkWhen == null || sinkWhen(statusline, warcHdrs))
      val bodyStart = feed.pos
      var httpStatusline: String = null
      var httpHeaders: Vector[HeaderKV] = Vector.empty
      var httpReenc: Set[String] = Set.empty
      var payload: Array[Byte] = Array.emptyByteArray

      if (parseHttp) {
        val sl = readLine()
        if (sl != null) {
          val slStr = trimEnd(new String(sl.bytes, StandardCharsets.UTF_8))
          if (slStr.nonEmpty) {
            httpStatusline = slStr
            val hBuff = new String(readToDoubleCrlf(), StandardCharsets.UTF_8)
            val parsed = WarcHeaders.parseHeaderBlock(hBuff, keepCase)
            httpHeaders = parsed._1
            httpReenc = parsed._2
          }
        }
        val headersLen = feed.pos - bodyStart
        payload = readPayload(math.max(0L, contentLength - headersLen))
      } else {
        payload = readPayload(contentLength)
      }

      if (sinkActive) { sinkDone = true; sinkActive = false } // one record only
      val recStart = first.start
      val payloadEnd = feed.pos
      val endMember = feed.memberIdx

      // readToNextRecord: consume separators, detect leftovers
      var warning: String = null
      val nl = readLine()
      if (nl == null) {
        exhausted = true
      } else {
        val lineLen0 = nl.bytes.length - 1
        val asStr = new String(nl.bytes, StandardCharsets.UTF_8)
        if (lineLen0 == 9 && asStr.startsWith("WARC/")) {
          // next record starts immediately (reference quirk: no
          // separators consumed, offset not advanced for it)
          pendingLine = nl
        } else {
          var lineLen = nl.bytes.length
          while (lineLen > 0 && (nl.bytes(lineLen - 1) == '\n' || nl.bytes(lineLen - 1) == '\r'))
            lineLen -= 1
          if (lineLen > 0)
            warning = s"Content-Length Too Small: Record not followed by newline, " +
              s"Remainder Length: $lineLen, Offset: ${nl.start}"
          // consume blank (2-byte) separator lines until a real line
          var l2 = readLine()
          while (l2 != null && l2.bytes.length == 2) l2 = readLine()
          if (l2 == null) exhausted = true else pendingLine = l2
        }
      }

      val rec = FramedRecord(filename, 0L, 0L, statusline, warcHdrs, warcReenc,
        httpStatusline, httpHeaders, httpReenc, payload, warning)
      if (gz) pendingGz += ((rec, startMember, endMember))
      else ready += rec.copy(offset = recStart, length = payloadEnd - recStart)
    }
  }

  // =================================================================
  // Range-split support (.warc.gz)
  // =================================================================

  /** Find the first VALID gzip-member start in [start, end): scan raw
    * bytes for the gzip magic and validate a candidate by inflating its
    * first decompressed bytes and checking for a "WARC/" version line
    * (one-member-per-record layout — exactly the files worth splitting;
    * anything else yields no candidates and the range reads empty while
    * the range owning the member start reads through).
    * `openFrom(off)` must return a fresh stream positioned at `off`. */
  def syncToMemberStart(openFrom: Long => InputStream, start: Long, end: Long): Long = {
    val in = new java.io.BufferedInputStream(openFrom(start), 1 << 16)
    try {
      var pos = start
      var b0 = -1; var b1 = -1
      var b = in.read()
      while (b >= 0 && pos < end + 2) { // magic must START before `end`
        if (b0 == 0x1f && b1 == 0x8b && b == 8) {
          val cand = pos - 2
          if (cand < end && validMemberStart(openFrom, cand)) return cand
        }
        b0 = b1; b1 = b
        pos += 1
        b = in.read()
      }
      -1L
    } finally in.close()
  }

  private def validMemberStart(openFrom: Long => InputStream, off: Long): Boolean = {
    val feed = new GzipFeed(openFrom(off), off)
    try {
      val head = new Array[Byte](5)
      var got = 0
      var r = 0
      while (got < 5 && { r = feed.readInto(head, got, 5 - got); r > 0 }) got += r
      got == 5 && head.sameElements("WARC/".getBytes(StandardCharsets.US_ASCII))
    } catch { case _: Exception => false }
    finally feed.close()
  }
}
