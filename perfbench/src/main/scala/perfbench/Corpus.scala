package perfbench

import java.io.{BufferedOutputStream, ByteArrayOutputStream, FileOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.security.MessageDigest
import java.util.SplittableRandom
import java.util.zip.{CRC32, Deflater}
import scala.collection.mutable.ArrayBuffer

/** Seeded input generator. It shares no code with the engine: WARC bytes
  * are assembled here and compressed with `java.util.zip`, digests come
  * from `MessageDigest`, and the expected answers (the manifests) are
  * written next to the inputs. The same seed gives byte-identical files.
  *
  * Corpora are cached under `<cache>/<kind>-g<GEN_VERSION>-s<seed>-n<size>`
  * and only published (renamed into place) once complete. */
object Corpus {
  val GEN_VERSION = 2

  /** Returns the corpus directory, generating it if absent. */
  def ensure(cache: Path, kind: String, seed: Long, size: Int)(gen: Path => Unit): Path = {
    val dir = cache.resolve(s"$kind-g$GEN_VERSION-s$seed-n$size")
    if (!Files.exists(dir.resolve("DONE"))) {
      val tmp = cache.resolve(s".tmp-$kind-$seed-$size-${ProcessHandle.current().pid()}")
      Util.deleteTree(tmp)
      Files.createDirectories(tmp)
      gen(tmp)
      Files.write(tmp.resolve("DONE"), Array.emptyByteArray)
      Util.deleteTree(dir)
      Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
    }
    dir
  }

  // ------------------------------------------------------------------
  // Shared helpers
  // ------------------------------------------------------------------

  private val Words: Array[String] = {
    val syll = Array("ar", "be", "ci", "do", "el", "fa", "go", "hu", "in", "jo", "ka", "lu",
      "me", "no", "or", "pa", "qu", "ri", "so", "ta", "ul", "ve", "wo", "xe", "yo", "za")
    val r = new SplittableRandom(7L)
    Array.tabulate(4000)(_ => (0 until 2 + r.nextInt(3)).map(_ => syll(r.nextInt(syll.length))).mkString)
  }

  /** Zipf-ish word choice: a few words are common, most are rare. */
  private def word(r: SplittableRandom): String = {
    val u = r.nextDouble()
    Words((Words.length * u * u).toInt)
  }

  private def text(r: SplittableRandom, n: Int): String = {
    val sb = new StringBuilder(n * 7)
    var i = 0
    while (i < n) { if (i > 0) sb.append(' '); sb.append(word(r)); i += 1 }
    sb.toString
  }

  private val Hosts = Array("example.org", "example.com", "example.co.uk", "archive.test", "data.example.net")

  /** A URL from one of the SURT categories: www/www2 prefixes, explicit
    * default and non-default ports, upper-case hosts, IPv4 hosts, dot
    * segments, percent-encoding, unsorted and empty query arguments,
    * fragments, bare hosts and subdomains. `hostId` picks the host. */
  def url(r: SplittableRandom, hostId: Int, i: Long): String = {
    val base = Hosts(hostId % Hosts.length)
    val https = r.nextInt(3) == 0
    val scheme = if (https) "https" else "http"
    val cat = r.nextInt(12)
    val host = cat match {
      case 0 => s"www.host$hostId.$base"
      case 1 => s"www2.host$hostId.$base"
      case 2 => s"HOST$hostId.${base.toUpperCase}"
      case 3 => s"10.${hostId / 250 % 250}.${hostId % 250}.${1 + hostId % 7}"
      case 4 => s"sub${i % 5}.host$hostId.$base"
      case _ => s"host$hostId.$base"
    }
    val port = r.nextInt(10) match {
      case 0 => if (https) ":443" else ":80"
      case 1 => ":8080"
      case _ => ""
    }
    val path = r.nextInt(9) match {
      case 0 => ""
      case 1 => "/"
      case 2 => s"/a/./b/../page$i.html"
      case 3 => s"/dir$i/"
      case 4 => s"/p%C3%A9ch%20$i/index.html"
      case _ => s"/${word(r)}/${word(r)}$i.html"
    }
    val query = r.nextInt(6) match {
      case 0 => s"?b=${i % 97}&a=${i % 13}&c="
      case 1 => s"?Q=Upper$i&id=$i"
      case 2 => s"?utm_source=feed&page=${i % 31}"
      case _ => ""
    }
    val frag = if (r.nextInt(20) == 0) "#sec" else ""
    s"$scheme://$host$port$path$query$frag"
  }

  private def sha1(b: Array[Byte]): Array[Byte] = MessageDigest.getInstance("SHA-1").digest(b)

  /** RFC 4648 base32, upper case, the form CDX digests use. */
  def base32(b: Array[Byte]): String = {
    val alphabet = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"
    val sb = new StringBuilder
    var buf = 0
    var bits = 0
    for (x <- b) {
      buf = (buf << 8) | (x & 0xff); bits += 8
      while (bits >= 5) { sb.append(alphabet.charAt((buf >> (bits - 5)) & 31)); bits -= 5 }
    }
    if (bits > 0) sb.append(alphabet.charAt((buf << (5 - bits)) & 31))
    while (sb.length % 8 != 0) sb.append('=')
    sb.toString
  }

  /** One gzip member (RFC 1952, no optional fields, MTIME 0). */
  final class GzipMember(level: Int) {
    private val deflater = new Deflater(level, true)
    private val buf = new Array[Byte](64 * 1024)
    def apply(raw: Array[Byte]): Array[Byte] = {
      val out = new ByteArrayOutputStream(raw.length / 2 + 64)
      out.write(Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0, 0xff.toByte))
      deflater.reset()
      deflater.setInput(raw)
      deflater.finish()
      while (!deflater.finished()) { val n = deflater.deflate(buf); out.write(buf, 0, n) }
      val crc = new CRC32
      crc.update(raw)
      writeIntLE(out, crc.getValue.toInt)
      writeIntLE(out, raw.length)
      out.toByteArray
    }
    def close(): Unit = deflater.end()
    private def writeIntLE(out: OutputStream, v: Int): Unit = {
      out.write(v); out.write(v >>> 8); out.write(v >>> 16); out.write(v >>> 24)
    }
  }

  private def gzipWhole(raw: Array[Byte]): Array[Byte] = {
    val gz = new GzipMember(6)
    try gz(raw) finally gz.close()
  }

  private def warcDate(r: SplittableRandom): String = {
    val epoch = 1577836800L + r.nextLong(4L * 365 * 86400) // 2020-01-01 + up to 4 years
    java.time.Instant.ofEpochSecond(epoch).toString
  }

  private def uuid(r: SplittableRandom): String =
    new java.util.UUID((r.nextLong() & ~0xf000L) | 0x4000L,
      (r.nextLong() & 0x3fffffffffffffffL) | 0x8000000000000000L).toString

  private def record(headers: Seq[(String, String)], block: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder("WARC/1.1\r\n")
    for ((k, v) <- headers) sb.append(k).append(": ").append(v).append("\r\n")
    sb.append("Content-Length: ").append(block.length).append("\r\n\r\n")
    val head = sb.toString.getBytes(UTF_8)
    val out = new ByteArrayOutputStream(head.length + block.length + 4)
    out.write(head); out.write(block); out.write("\r\n\r\n".getBytes(UTF_8))
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // WARC corpus (cdx_index)
  // ------------------------------------------------------------------

  /** HTML body sizes of 200 responses: log-normal with this median (bytes)
    * and log-space standard deviation, capped at 1 MiB, the payload limit
    * Common Crawl truncates at. README gives the sources. */
  val BodyMedian = 30000.0
  val BodySigma = 1.0
  val BodyCap = 1 << 20

  private def bodyBytes(r: SplittableRandom): Int = {
    val gauss = math.sqrt(-2 * math.log(1 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())
    math.min(BodyCap.toDouble, BodyMedian * math.exp(BodySigma * gauss)).toInt
  }

  /** An HTML page of about `bytes` bytes. */
  private def page(r: SplittableRandom, bytes: Int): Array[Byte] = {
    val sb = new StringBuilder(bytes + 64)
    sb.append("<html><head><title>").append(text(r, 4)).append("</title></head><body>")
    while (sb.length < bytes - 20) {
      sb.append("<p>")
      var i = 0
      val n = 20 + r.nextInt(80)
      while (i < n) { if (i > 0) sb.append(' '); sb.append(word(r)); i += 1 }
      sb.append("</p>\n")
    }
    sb.append("</body></html>").toString.getBytes(UTF_8)
  }

  /** One record as the manifest states it. `digest` is the sha1 base32
    * payload digest the record carries; `status`/`mime` are what a CDX
    * line must carry, empty when the record is not indexed. */
  final case class Rec(file: String, offset: Long, length: Long, warcType: String,
                       url: String, date: String, status: String, mime: String, digest: String) {
    def tsv: String = Seq(file, offset, length, warcType, url, date, status, mime, digest).mkString("\t")
    def indexed: Boolean = warcType == "response" || warcType == "revisit"
  }

  object Rec {
    def parse(line: String): Rec = {
      val f = line.split("\t", -1)
      Rec(f(0), f(1).toLong, f(2).toLong, f(3), f(4), f(5), f(6), f(7), f(8))
    }
  }

  def readManifest(dir: Path): Vector[Rec] = {
    val src = scala.io.Source.fromFile(dir.resolve("manifest.tsv").toFile, "UTF-8")
    try src.getLines().map(Rec.parse).toVector finally src.close()
  }

  private final case class Capture(url: String, date: String, payloadSha1: String)

  /** Writes `files` WARC files of `captures` captures each into `dir`, one
    * gzip member per record, plus `manifest.tsv`. Each file has its own
    * random stream, so files are generated in parallel and the output
    * does not depend on the thread count. */
  def writeWarcs(dir: Path, seed: Long, files: Int, captures: Int): Unit = {
    val manifests = new Array[Vector[Rec]](files)
    java.util.stream.IntStream.range(0, files).parallel().forEach { fi =>
      manifests(fi) = writeWarc(dir.resolve(f"cdx-$fi%05d.warc.gz"), new SplittableRandom(seed * 1000003L + fi),
        fi.toLong * captures, captures)
    }
    Util.writeLines(dir.resolve("manifest.tsv"), manifests.iterator.flatten.map(_.tsv).toSeq)
  }

  /** One WARC file laid out as Common Crawl writes its files: a warcinfo
    * record, then per capture a request, a response (or revisit) and a
    * metadata record. Capture `c` gets URL number `first + c + 1`. */
  private def writeWarc(file: Path, r: SplittableRandom, first: Long, captures: Int): Vector[Rec] = {
    val name = file.getFileName.toString
    val gz = new GzipMember(6)
    val recs = Vector.newBuilder[Rec]
    val earlier = ArrayBuffer.empty[Capture] // revisit targets
    val payloads = ArrayBuffer.empty[Array[Byte]] // exact-duplicate payloads
    val out = new BufferedOutputStream(new FileOutputStream(file.toFile), 1 << 16)
    var offset = 0L
    def emit(warcType: String, url: String, date: String, headers: Seq[(String, String)],
             block: Array[Byte], status: String, mime: String, digest: String): Unit = {
      val all = Seq("WARC-Type" -> warcType, "WARC-Record-ID" -> s"<urn:uuid:${uuid(r)}>", "WARC-Date" -> date) ++
        (if (url.nonEmpty) Seq("WARC-Target-URI" -> url) else Nil) ++ headers
      val member = gz(record(all, block))
      out.write(member)
      recs += Rec(name, offset, member.length, warcType, url, date, status, mime, digest)
      offset += member.length
    }
    try {
      emit("warcinfo", "", warcDate(r), Seq("WARC-Filename" -> name, "Content-Type" -> "application/warc-fields"),
        s"software: perfbench-corpus/$GEN_VERSION\r\nformat: WARC File Format 1.1\r\n".getBytes(UTF_8), "", "", "")
      for (c <- 0 until captures) {
        val n = first + c + 1
        val hostId = { val u = r.nextDouble(); (400 * u * u).toInt }
        val u = url(r, hostId, n)
        val date = warcDate(r)
        val kind = r.nextInt(100)
        val reqFirst = r.nextBoolean()
        val (status, reason) = kind match {
          case k if k < 4 => (301, "Moved Permanently")
          case k if k < 7 => (404, "Not Found")
          case k if k < 8 => (500, "Internal Server Error")
          case _          => (200, "OK")
        }
        val isPost = kind >= 8 && kind < 16
        val isRevisit = kind >= 16 && kind < 26 && earlier.nonEmpty
        val isDup = kind >= 26 && kind < 33 && payloads.nonEmpty
        val ctype = if (r.nextInt(4) == 0) "text/plain" else "text/html; charset=utf-8"
        val mime = ctype.split(";", 2)(0).trim
        val body: Array[Byte] =
          if (isDup) payloads(r.nextInt(payloads.size))
          else if (status != 200) s"<html><body>$status ${text(r, 8)}</body></html>".getBytes(UTF_8)
          else page(r, bodyBytes(r))
        val enc = if (status == 200 && !isDup) r.nextInt(7) else 9
        val (encHeaders, payload) = enc match {
          case 0 => // chunked transfer encoding
            val cut = body.length / 2
            val chunked = new ByteArrayOutputStream(body.length + 32)
            for ((a, b) <- Seq((0, cut), (cut, body.length))) {
              chunked.write(f"${b - a}%x\r\n".getBytes(UTF_8)); chunked.write(body, a, b - a)
              chunked.write("\r\n".getBytes(UTF_8))
            }
            chunked.write("0\r\n\r\n".getBytes(UTF_8))
            ("Transfer-Encoding: chunked\r\n", chunked.toByteArray)
          case 1 => // gzip content encoding
            val z = gzipWhole(body)
            (s"Content-Encoding: gzip\r\nContent-Length: ${z.length}\r\n", z)
          case _ => (s"Content-Length: ${body.length}\r\n", body)
        }
        val location = if (status == 301) s"Location: $u/moved\r\n" else ""
        val reqRecord = () => {
          val (method, reqBody) =
            if (isPost) ("POST", s"q=${word(r)}&page=${r.nextInt(50)}&flag".getBytes(UTF_8))
            else ("GET", Array.emptyByteArray)
          val path = { val p = u.indexOf('/', u.indexOf("://") + 3); if (p < 0) "/" else u.substring(p) }
          val reqHead = s"$method $path HTTP/1.1\r\nHost: host$hostId\r\nUser-Agent: perfbench\r\n" +
            (if (isPost) s"Content-Type: application/x-www-form-urlencoded\r\nContent-Length: ${reqBody.length}\r\n"
             else "") + "Accept: */*\r\n\r\n"
          emit("request", u, date, Seq("Content-Type" -> "application/http; msgtype=request"),
            reqHead.getBytes(UTF_8) ++ reqBody, "", "", "")
        }
        if (reqFirst) reqRecord()
        if (isRevisit) {
          val orig = earlier(r.nextInt(earlier.size))
          val head = s"HTTP/1.1 200 OK\r\nContent-Type: $ctype\r\n\r\n".getBytes(UTF_8)
          emit("revisit", u, date,
            Seq("WARC-Profile" -> "http://netpreserve.org/warc/1.1/revisit/identical-payload-digest",
              "WARC-Refers-To-Target-URI" -> orig.url, "WARC-Refers-To-Date" -> orig.date,
              "WARC-Payload-Digest" -> s"sha1:${orig.payloadSha1}",
              "Content-Type" -> "application/http; msgtype=response"),
            head, "200", "warc/revisit", orig.payloadSha1)
        } else {
          val head = s"HTTP/1.1 $status $reason\r\nContent-Type: $ctype\r\n$encHeaders$location\r\n"
            .getBytes(UTF_8)
          val block = head ++ payload
          val p1 = base32(sha1(payload))
          emit("response", u, date, Seq("WARC-Payload-Digest" -> s"sha1:$p1",
            "WARC-Block-Digest" -> s"sha1:${base32(sha1(block))}",
            "Content-Type" -> "application/http; msgtype=response"),
            block, status.toString, mime, p1)
          if (status == 200) {
            if (earlier.size < 256) earlier += Capture(u, date, p1)
            else earlier(r.nextInt(earlier.size)) = Capture(u, date, p1)
            if (payloads.size < 16) payloads += body
          }
        }
        if (!reqFirst) reqRecord()
        emit("metadata", u, date, Seq("Content-Type" -> "application/warc-fields"),
          s"fetchTimeMs: ${20 + r.nextInt(2000)}\r\noutlink: $u/next\r\n".getBytes(UTF_8), "", "", "")
      }
    } finally { out.close(); gz.close() }
    recs.result()
  }

  // ------------------------------------------------------------------
  // Frontier seeds
  // ------------------------------------------------------------------

  /** `n` seed URLs over `hosts` hosts with a cubic (Zipf-like) skew, as
    * `url\tpriority` lines, in `seeds.tsv`. Some URLs repeat, so the
    * frontier's seed dedup has work. */
  def writeSeeds(dir: Path, seed: Long, n: Int, hosts: Int): Unit = {
    val r = new SplittableRandom(seed)
    val w = new java.io.PrintWriter(Files.newBufferedWriter(dir.resolve("seeds.tsv"), UTF_8))
    try {
      val recent = new Array[String](64)
      for (i <- 0 until n) {
        val u = r.nextDouble()
        val s =
          if (i >= 64 && r.nextInt(50) == 0) recent(r.nextInt(64))
          else url(r, (hosts * u * u * u).toInt, i)
        recent(i % 64) = s
        w.print(s); w.print('\t'); w.println(r.nextInt(100))
      }
    } finally w.close()
  }
}
