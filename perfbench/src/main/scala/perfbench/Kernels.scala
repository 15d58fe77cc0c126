package perfbench

import java.io.ByteArrayInputStream
import java.nio.file.{Files, Path}
import graft.core._

/** Single-thread kernel pass: the engine's per-item functions timed on
  * a sample of the workload's own inputs, in µs per item (median of a
  * few passes). These are the `core.*` metrics. */
object Kernels {
  private val Passes = 5

  /** Median µs per item of `f` over `Passes` passes of `items` items. */
  def time(items: Int)(f: => Unit): Double = {
    if (items == 0) return 0.0
    val ts = (0 until Passes).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e3 / items
    }
    Util.median(ts)
  }

  private var sink = 0L // keeps results alive so no pass is optimized away

  /** µs per item of each WARC kernel, plus the sample's record count. */
  def warc(files: Seq[Path]): Map[String, Double] = {
    val blobs = files.map(f => (f.getFileName.toString, Files.readAllBytes(f)))
    def parse(keep: Boolean): Seq[Vector[FramedRecord]] = blobs.map { case (n, b) =>
      WarcStreaming.parseStream(new ByteArrayInputStream(b), n, isGzip = true, keepPayload = keep).toVector
    }
    val recs = parse(keep = true)
    val n = recs.map(_.size).sum
    val paired = recs.map(rs => CdxIndexing.pairRecords(rs.iterator).toVector)
    val rows = paired.flatMap(_.flatMap(p => CdxIndexing.cdxRow(p, CdxIndexing.DEFAULT_CDX_FIELDS)))
    val http = recs.flatten.filter(r => r.warcType == "response" && r.http.isDefined)
    val urls = recs.flatten.flatMap(r => Option(r.warcTargetURI))
    def built(r: FramedRecord) = WarcWriter.BuiltRecord(r.warcVersion,
      new WarcWriter.OrderedHeaders(r.warcHeaders.map(kv => (kv.name, kv.value))),
      Option(r.httpStatusline), r.httpHeaders, Option(r.payload).getOrElse(Array.emptyByteArray))
    Map(
      "core.parse_us" -> time(n)(sink += parse(keep = true).size),
      "core.parse_skip_us" -> time(n)(sink += parse(keep = false).size),
      "core.pair_us" -> time(n)(recs.foreach(rs => sink += CdxIndexing.pairRecords(rs.iterator).size)),
      "core.cdx_row_us" -> time(rows.size)(paired.foreach(_.foreach(p =>
        sink += CdxIndexing.cdxRow(p, CdxIndexing.DEFAULT_CDX_FIELDS).size))),
      "core.cdxj_us" -> time(rows.size)(rows.foreach(r => sink += CdxIndexing.serializeCdxj(r).length)),
      "core.decode_us" -> time(http.size)(http.foreach { r =>
        val h = r.http.get
        sink += PayloadDecode.decodePayload(r.payload, h.get("content-encoding").orNull,
          h.get("transfer-encoding").orNull).length
      }),
      "core.serialize_us" -> time(n)(recs.foreach(_.foreach(r =>
        sink += WarcWriter.serialize(built(r), gzip = true).length))),
      "core.surt_us" -> surt(urls),
      "sample.records" -> n.toDouble,
      "sample.rows" -> rows.size.toDouble)
  }

  def surt(urls: Seq[String]): Double = time(urls.size)(urls.foreach(u => sink += UrlCanon.surt(u).length))
}
