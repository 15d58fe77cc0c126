package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable
import perfbench.Corpus.Rec

/** Output checks that share no code with the engine. Each returns the
  * problems it found; an empty list means the output is correct. */
object Checks {

  private def limit(problems: Iterable[String]): Vector[String] = problems.take(20).toVector

  // ------------------------------------------------------------------
  // cdx_index
  // ------------------------------------------------------------------

  /** A flat JSON object of string and number values, as CDXJ carries. */
  def parseFlatJson(s: String): Map[String, String] = {
    val out = mutable.LinkedHashMap.empty[String, String]
    var i = 0
    def ws(): Unit = while (i < s.length && s.charAt(i) == ' ') i += 1
    def expect(c: Char): Unit = {
      ws(); require(i < s.length && s.charAt(i) == c, s"expected '$c' at $i in $s"); i += 1
    }
    def str(): String = {
      expect('"')
      val sb = new StringBuilder
      while (s.charAt(i) != '"') {
        if (s.charAt(i) == '\\') {
          i += 1
          s.charAt(i) match {
            case 'u' => sb.append(Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar); i += 4
            case 'n' => sb.append('\n')
            case 't' => sb.append('\t')
            case 'r' => sb.append('\r')
            case 'b' => sb.append('\b')
            case 'f' => sb.append('\f')
            case c   => sb.append(c)
          }
        } else sb.append(s.charAt(i))
        i += 1
      }
      i += 1
      sb.toString
    }
    expect('{')
    ws()
    if (s.charAt(i) == '}') i += 1
    else {
      var more = true
      while (more) {
        val k = str()
        expect(':')
        ws()
        val v =
          if (s.charAt(i) == '"') str()
          else { val st = i; while (i < s.length && ",}".indexOf(s.charAt(i)) < 0) i += 1; s.substring(st, i).trim }
        out(k) = v
        ws()
        more = s.charAt(i) == ','
        i += 1
      }
    }
    out.toMap
  }

  /** The CDXJ lines must hold exactly one line per indexed manifest
    * record (responses and revisits), in sorted order, each carrying the
    * record's URL, 14-digit timestamp, status, MIME, offset, length,
    * payload digest and file name. */
  def checkCdx(lines: Seq[String], manifest: Seq[Rec]): Vector[String] = {
    val expected = manifest.filter(_.indexed)
    val byPos = expected.map(r => (r.file, r.offset) -> r).toMap
    val seen = mutable.HashSet.empty[(String, Long)]
    val problems = mutable.ArrayBuffer.empty[String]
    if (lines.size != expected.size) problems += s"cdx: ${lines.size} lines, expected ${expected.size}"
    var prev: String = null
    for (line <- lines) {
      if (prev != null && prev.compareTo(line) > 0) problems += s"cdx: out of order at: $line"
      prev = line
      val sp1 = line.indexOf(' ')
      val sp2 = line.indexOf(' ', sp1 + 1)
      if (sp1 <= 0 || sp2 <= sp1) problems += s"cdx: malformed line: $line"
      else {
        val ts = line.substring(sp1 + 1, sp2)
        val j = parseFlatJson(line.substring(sp2 + 1))
        val key = (j.getOrElse("filename", ""), j.get("offset").flatMap(_.toLongOption).getOrElse(-1L))
        byPos.get(key) match {
          case None => problems += s"cdx: line for no indexed record: $line"
          case Some(r) =>
            if (!seen.add(key)) problems += s"cdx: record indexed twice: $key"
            val want = Map("url" -> r.url, "status" -> r.status, "mime" -> r.mime,
              "digest" -> r.digest, "length" -> r.length.toString)
            for ((k, v) <- want if !j.get(k).contains(v))
              problems += s"cdx: $key field $k=${j.getOrElse(k, "<absent>")} expected $v"
            val wantTs = r.date.filter(_.isDigit).take(14)
            if (ts != wantTs) problems += s"cdx: $key timestamp $ts expected $wantTs"
        }
      }
    }
    limit(problems)
  }

  // ------------------------------------------------------------------
  // frontier_crawl
  // ------------------------------------------------------------------

  /** `waves(w)` holds the (surt_key, host) rows scheduled in wave w+1. No
    * key may be scheduled twice, no host more than `budget` times in a
    * wave, and each wave's row count must equal its reported count. */
  def checkFrontier(waves: Seq[Seq[(String, String)]], reported: Seq[Long],
                    budget: Int): Vector[String] = {
    val problems = mutable.ArrayBuffer.empty[String]
    val seen = mutable.HashMap.empty[String, Int]
    for ((rows, w) <- waves.zipWithIndex) {
      val wave = w + 1
      if (rows.size.toLong != reported(w))
        problems += s"frontier: wave $wave has ${rows.size} rows, reported ${reported(w)}"
      for ((k, _) <- rows) seen.put(k, wave).foreach { first =>
        problems += s"frontier: $k scheduled in wave $first and wave $wave"
      }
      for ((host, n) <- rows.groupBy(_._2).view.mapValues(_.size) if n > budget)
        problems += s"frontier: host $host scheduled $n times in wave $wave (budget $budget)"
    }
    limit(problems)
  }

  def readText(p: Path): Vector[String] =
    new String(Files.readAllBytes(p), UTF_8).split("\n").toVector.filter(_.nonEmpty)
}
