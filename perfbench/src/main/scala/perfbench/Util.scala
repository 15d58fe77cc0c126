package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

object Util {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala.foreach(Files.delete)
    finally s.close()
  }

  def writeLines(p: Path, lines: Iterable[String]): Unit =
    Files.write(p, lines.asJava, UTF_8)

  def readLines(p: Path): Vector[String] =
    if (Files.exists(p)) Files.readAllLines(p, UTF_8).asScala.toVector else Vector.empty

  /** Regular files under `p`, recursively, skipping checksum sidecars. */
  def files(p: Path): Vector[Path] =
    if (!Files.exists(p)) Vector.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) && !f.getFileName.toString.endsWith(".crc"))
        .toVector.sortBy(_.toString)
      finally s.close()
    }

  def bytes(p: Path): Long = files(p).map(Files.size).sum

  /** Direct subdirectories of `p`. */
  def dirs(p: Path): Vector[Path] =
    if (!Files.isDirectory(p)) Vector.empty
    else {
      val s = Files.list(p)
      try s.iterator().asScala.filter(Files.isDirectory(_)).toVector finally s.close()
    }

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toVector.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Peak resident set of this process in MB (VmHWM). */
  def peakRssMb: Double =
    readLines(java.nio.file.Paths.get("/proc/self/status")).find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)

  def jsonString(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def jsonNumber(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
}
