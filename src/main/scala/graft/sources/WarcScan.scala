package graft.sources

import scala.reflect.ClassTag
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.storage.StorageLevel
import graft.SerializableHadoopConf
import graft.core._

/** One WARC record as a typed Dataset row. Headers are ordered
  * Array[Struct[name,value]] — order and duplicates are load-bearing
  * (SURVEY.md §1.4). `payload` is the raw (undecoded) payload. */
final case class WarcRow(
    filename: String,
    offset: Long,
    length: Long,
    warcType: String,
    targetUri: String,
    warcDate: String,
    recordId: String,
    contentType: String,
    contentLength: Long,
    payloadDigest: String,
    blockDigest: String,
    warcVersion: String,
    warcHeaders: Seq[HeaderKV],
    httpStatusline: String,
    httpStatus: Option[Int],
    httpContentType: String,
    httpHeaders: Seq[HeaderKV],
    payload: Array[Byte],
    warning: String
)

object WarcRow {
  def fromFramed(r: FramedRecord): WarcRow = {
    val sah = StatusAndHeaders(r.warcVersion, r.warcHeaders, r.warcReencoded)
    val http = r.http
    WarcRow(
      filename = r.filename,
      offset = r.offset,
      length = r.length,
      warcType = r.warcType,
      targetUri = r.warcTargetURI,
      warcDate = sah.get("WARC-Date").orNull,
      recordId = sah.get("WARC-Record-ID").orNull,
      contentType = sah.get("Content-Type").orNull,
      contentLength = sah.get("Content-Length").flatMap(v =>
        try Some(v.trim.toLong) catch { case _: Exception => None }).getOrElse(0L),
      payloadDigest = sah.get("WARC-Payload-Digest").orNull,
      blockDigest = sah.get("WARC-Block-Digest").orNull,
      warcVersion = r.warcVersion,
      warcHeaders = r.warcHeaders,
      httpStatusline = r.httpStatusline,
      httpStatus = http.flatMap(h =>
        if (r.warcType == "response" || r.warcType == "revisit") h.statusCode else None),
      httpContentType = http.flatMap(_.get("content-type")).orNull,
      httpHeaders = r.httpHeaders,
      payload = r.payload,
      warning = r.warning
    )
  }

  def toFramed(w: WarcRow): FramedRecord =
    FramedRecord(w.filename, w.offset, w.length, w.warcVersion,
      w.warcHeaders.toVector, Set.empty, w.httpStatusline,
      w.httpHeaders.toVector, Set.empty, w.payload, w.warning)
}

/** The WARC scan (S1-S4): splittable parallel read of .warc / .warc.gz.
  *
  * v1 strategy: the `binaryFile` source lists the files (path column
  * only — content is pruned away and never read by Spark) and packs
  * whole files into tasks: each file costs its length plus
  * `spark.sql.files.openCostInBytes` (4 MB) against the task's
  * `spark.sql.files.maxPartitionBytes` (16m in `GraftSession`), so
  * small files share a task (four ~320 KB files each in the perfbench
  * corpus) and a file at or above the cap has one to itself. A file is
  * never split across tasks. The task STREAMS each file through
  * `WarcStreaming.parseStream` — O(one record) of task memory, no 2 GB
  * file cap, payload bytes skipped (not copied) when `withPayload`
  * is false. WARC files are bounded (typically ≤1 GiB by convention),
  * so file-granular tasks give a clean parallel unit at any corpus
  * size; a 100 TB crawl is ~100k files → ~100k tasks, ideal for a
  * 1000-executor cluster. Oversized files additionally split by gzip
  * member ranges in the DSv2 source (`format("warc")`). Offsets and
  * record lengths match warcio's accounting exactly (member-based for
  * .gz), verified by fixture goldens.
  *
  * Because each task sees a whole file in order, order-dependent
  * operators (request/response pairing) run fused inside the scan with
  * ZERO shuffle — see CdxPipeline.
  */
object WarcScan {

  /** Open a file path (file:/hdfs:/s3a:… URI or local path) as a stream
    * via the Hadoop FileSystem API — works on any cluster filesystem.
    * `conf` is the session's Hadoop conf: a bare `new Configuration()`
    * re-parses the default resources on every call and misses the
    * session's `spark.hadoop.*` settings. */
  def openPath(path: String, conf: Configuration): java.io.InputStream = {
    val p = new Path(path)
    p.getFileSystem(conf).open(p)
  }

  /** Streaming per-file record iterator with the scan's leniency rule:
    * at corpus scale one corrupt file must not fail the job — log and
    * truncate that file's iteration (strict mode propagates). */
  private def fileRecords(path: String, conf: Configuration, withPayload: Boolean,
                          lenient: Boolean): (String, Iterator[FramedRecord]) = {
    val name = path.substring(path.lastIndexOf('/') + 1)
    val inner =
      try WarcStreaming.parseStream(openPath(path, conf), name,
        WarcFraming.isGzipName(name), keepPayload = withPayload)
      catch {
        case e: Exception if lenient =>
          System.err.println(s"[warc-scan] skipping corrupt file $name: ${e.getMessage}")
          Iterator.empty
      }
    val it = if (!lenient) inner else new Iterator[FramedRecord] {
      private var broken = false
      def hasNext: Boolean = !broken && {
        try inner.hasNext catch {
          case e: Exception =>
            System.err.println(s"[warc-scan] truncating corrupt file $name: ${e.getMessage}")
            broken = true
            false
        }
      }
      def next(): FramedRecord = inner.next()
    }
    (name, it)
  }

  /** The session's Hadoop conf (`spark.hadoop.*` settings: file-system
    * schemes, object-store credentials), shipped once per scan to its
    * tasks. */
  private def sessionConf(spark: SparkSession): Broadcast[SerializableHadoopConf] =
    spark.sparkContext.broadcast(new SerializableHadoopConf(spark.sessionState.newHadoopConf()))

  /** The scan's file paths, one row per file. Globs are expanded here
    * with the session conf: handed a single glob, the file source asks
    * `FileStreamSink.hasMetadata` for its status and logs a WARN with a
    * stack trace on every load. The matches are escaped so the source
    * does not glob them again. A glob that matches nothing is passed
    * through unchanged and fails in the source as a missing path. */
  private def listing(spark: SparkSession, paths: Seq[String]): Dataset[String] = {
    import spark.implicits._
    val conf = spark.sessionState.newHadoopConf()
    val files = paths.flatMap { p =>
      val hp = new Path(p)
      val hits = Option(hp.getFileSystem(conf).globStatus(hp)).getOrElse(Array.empty)
      if (hits.isEmpty) Seq(p)
      else hits.toSeq.map(_.getPath.toString.replaceAll("""([\\*?\[\]{}])""", """\\$1"""))
    }
    spark.read.format("binaryFile").load(files: _*).select("path").as[String]
  }

  /** Read WARC files into a typed Dataset. Column pruning note: when the
    * downstream plan does not need `payload`, pass
    * `withPayload = false` so the scan SKIPS payload bytes inside the
    * parser (the reference's skipFully-vs-readFully distinction,
    * indexer.ts:74) — they are never inflated into the task. */
  def warcRecords(spark: SparkSession, paths: Seq[String], withPayload: Boolean = true,
                  lenient: Boolean = true): Dataset[WarcRow] = {
    import spark.implicits._
    val confB = sessionConf(spark)
    listing(spark, paths).mapPartitions(_.flatMap { path =>
      fileRecords(path, confB.value.value, withPayload, lenient)._2.map(WarcRow.fromFramed)
    })
  }

  /** Fused scan + per-file fold: applies `fold` to each file's records in
    * offset order inside the scan task — the zero-shuffle path for
    * order-dependent per-file operators. The iterator is streaming: the
    * fold must consume in order and may hold O(1) records.
    *
    * The folded rows are persisted (`MEMORY_AND_DISK`) at the RDD level:
    * a sort over them runs a sampling job for its range partitioner
    * before the map stage, and without the persist each job would
    * inflate and parse the whole corpus again. The sampler computes and
    * stores each partition; the map stage reads the stored blocks. The
    * lineage stays, so a lost block is recomputed from its files;
    * nothing is registered with the `CacheManager`, and the
    * `ContextCleaner` drops the blocks once the Dataset is unreachable. */
  def scanFold[T: Encoder](
      spark: SparkSession,
      paths: Seq[String]
  )(fold: (String, Iterator[FramedRecord]) => Iterator[T]): Dataset[T] = {
    implicit val tag: ClassTag[T] = implicitly[Encoder[T]].clsTag
    val confB = sessionConf(spark)
    val rows = listing(spark, paths).rdd.mapPartitions(_.flatMap { path =>
      val (name, records) = fileRecords(path, confB.value.value, withPayload = true,
        lenient = false)
      fold(name, records)
    }).persist(StorageLevel.MEMORY_AND_DISK)
    spark.createDataset(rows)
  }
}
