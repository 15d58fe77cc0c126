package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.core.{FramedRecord, WarcFraming, WarcStreaming, WarcWriter}

/** Lazy payload-pointer re-read: process ONE record's payload from a
  * `(path, offset)` pointer with bounded task memory.
  *
  * The eager scan materializes each kept payload as a JVM array (fine
  * at the ≤1 GiB WARC convention; capped at 2 GB by the JVM). Scan
  * rows retain `(filename, offset, length)` precisely so an oversized
  * body can be handled WITHOUT that cap: re-open the file, seek to the
  * member offset, and stream the payload in 64 KiB chunks through a
  * sink (`MessageDigest.update`, re-serialization, …). Memory is
  * O(64 KiB) regardless of payload size.
  *
  * Reference behavior anchor: warcio.js streams payloads through
  * AsyncIterReader (readers.ts:100-480) and digests incrementally
  * (indexer.ts digest path) — this is the same contract applied to a
  * stored pointer instead of a live stream (studied, not copied).
  */
object LazyPayload {

  /** Parse the record at `(path, offset)`, feeding its payload to
    * `sink` chunk-by-chunk. Returns the record with headers populated
    * and the payload column EMPTY (it never materializes).
    *
    * `recordId`: scan offsets are MEMBER-granular, so for a
    * non-conformant gzip member spanning several records every record
    * shares one offset — the target must then be selected by
    * WARC-Record-ID or the sink would alias record 1's payload onto
    * every pointer. null = the first record at the offset.
    *
    * `conf`: the caller's Hadoop conf — the session's
    * (`spark.sessionState.newHadoopConf()`) on the driver, or its copy
    * shipped to a task — so `spark.hadoop.*` file-system settings
    * reach the open (`WarcScan.open`). */
  def streamRecordAt(path: String, offset: Long, conf: Configuration,
                     sink: (Array[Byte], Int, Int) => Unit,
                     recordId: String = null): FramedRecord = {
    val name = path.substring(path.lastIndexOf('/') + 1)
    def idMatches(hdrs: Seq[graft.core.HeaderKV]): Boolean =
      hdrs.exists(kv => kv.name.equalsIgnoreCase("WARC-Record-ID") && kv.value == recordId)
    val it = WarcStreaming.parseStream(WarcScan.open(path, conf, offset), name,
      isGzip = WarcFraming.isGzipName(name), keepPayload = false,
      rawBase = offset, payloadSink = sink,
      sinkWhen = if (recordId == null) null else (_, hdrs) => idMatches(hdrs))
    try {
      val found = it.find(r =>
        recordId == null || r.warcHeader("WARC-Record-ID").contains(recordId))
      require(found.isDefined,
        s"no record${if (recordId != null) s" with id $recordId" else ""} at $path:$offset")
      found.get
    } finally it.close()
  }

  private def mdFor(opts: WarcWriter.DigestOpts): java.security.MessageDigest =
    java.security.MessageDigest.getInstance(opts.algo match {
      case "sha-1" => "SHA-1"
      case _       => "SHA-256"
    })

  /** Chunked payload digest at a pointer: `(formattedDigest,
    * payloadLength)`. A multi-GB payload digests in O(64 KiB) memory.
    * Pass `recordId` for records sharing a member-granular offset. */
  def digestPayloadAt(path: String, offset: Long, conf: Configuration,
                      opts: WarcWriter.DigestOpts = WarcWriter.CdxDigest,
                      recordId: String = null): (String, Long) = {
    val md = mdFor(opts)
    var n = 0L
    streamRecordAt(path, offset, conf, (b, o, l) => { md.update(b, o, l); n += l }, recordId)
    (WarcWriter.formatDigest(md.digest(), opts), n)
  }

  /** Distributed form: one row per pointer `(path, offset[, recordId])`
    * → `(path, offset, payload_digest, payload_length)`. mapPartitions
    * keeps one open-file + digest at a time per task — the operator a
    * conversion/validation job uses for records the eager scan cannot
    * hold in memory. Supply `recordIdCol` (the scan's `recordId`
    * column) so pointers into record-packed gzip members resolve to
    * the right record. */
  def payloadDigests(pointers: DataFrame, pathCol: String = "path",
                     offsetCol: String = "offset",
                     recordIdCol: String = null,
                     opts: WarcWriter.DigestOpts = WarcWriter.CdxDigest): DataFrame = {
    val spark = pointers.sparkSession
    import spark.implicits._
    // session Hadoop conf (incl. runtime spark.hadoop.* fs auth) must
    // reach the task-side open — executor classpath defaults may lack it
    val confB = spark.sparkContext.broadcast(
      new graft.SerializableHadoopConf(spark.sessionState.newHadoopConf()))
    val idCol = if (recordIdCol == null)
      org.apache.spark.sql.functions.lit(null: String) else col(recordIdCol).cast("string")
    pointers.select(col(pathCol).cast("string"), col(offsetCol).cast("long"), idCol)
      .as[(String, Long, String)]
      .mapPartitions { it =>
        it.map { case (p, off, rid) =>
          val (digest, len) = digestPayloadAt(p, off, confB.value.value, opts, rid)
          (p, off, digest, len)
        }
      }.toDF("path", "offset", "payload_digest", "payload_length")
  }
}
