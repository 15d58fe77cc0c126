package graft.sources

import scala.reflect.ClassTag
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path}
import org.apache.spark.{Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FilePartition, FileStatusWithMetadata,
  PartitionedFile}
import org.apache.spark.sql.graftbridge.InputBytes
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

/** The WARC scan (S1-S4): the one reader core under both read paths,
  * the fused per-file fold (`scanFold`, behind every `CdxPipeline`
  * entry) and the DSv2 source (`spark.read.format("warc")`).
  *
  *  - `resolve`: globs, directories (minus `_`/`.` files) and plain
  *    files, with the session's Hadoop conf.
  *  - `plan`: Spark's file-source packing. Each file costs its length
  *    plus `spark.sql.files.openCostInBytes` (4 MB) against the task's
  *    `spark.sql.files.maxPartitionBytes` (16m in `GraftSession`),
  *    largest first, so small files share a task (four ~320 KB files
  *    each in the perfbench corpus) and a large one has a task to
  *    itself. Only the DSv2 source cuts a `.gz` file above that size
  *    into raw byte ranges.
  *  - `open`: the one way a file is opened (scan tasks, range syncs,
  *    `LazyPayload` pointer re-reads).
  *  - `records`: one planned piece's records, STREAMED through
  *    `WarcStreaming.parseStream` — O(one record) of task memory, no
  *    2 GB file cap, payload bytes skipped when not kept.
  *
  * Offsets and record lengths match warcio's accounting exactly
  * (member-based for .gz), verified by fixture goldens. Because a fold
  * task sees whole files in order, order-dependent operators
  * (request/response pairing) run fused inside the scan with ZERO
  * shuffle — see CdxPipeline.
  */
object WarcScan {

  /** Open `path` (file:/hdfs:/s3a:… URI or local path) at byte
    * `offset` via the Hadoop FileSystem API. `conf` is the session's
    * Hadoop conf: a bare `new Configuration()` re-parses the default
    * resources on every call and misses the session's `spark.hadoop.*`
    * settings. */
  def open(path: String, conf: Configuration, offset: Long): FSDataInputStream = {
    val p = new Path(path)
    val in = p.getFileSystem(conf).open(p)
    if (offset > 0) in.seek(offset)
    in
  }

  /** The files `paths` name: a glob's matches, a directory's files
    * (Hadoop's `_`/`.` metadata files left out) and plain files. A path
    * that matches nothing fails here, at planning. */
  def resolve(paths: Seq[String], conf: Configuration): Seq[FileStatus] =
    paths.flatMap { p =>
      val hp = new Path(p)
      val fs = hp.getFileSystem(conf)
      val hits = Option(fs.globStatus(hp)).getOrElse(Array.empty[FileStatus])
      if (hits.isEmpty) throw new java.io.FileNotFoundException(s"Path does not exist: $p")
      hits.toSeq.flatMap { st =>
        if (!st.isDirectory) Seq(st)
        else fs.listStatus(st.getPath).toSeq
          .filter(f => f.isFile && !f.getPath.getName.startsWith(".") &&
            !f.getPath.getName.startsWith("_"))
          .sortBy(_.getPath.toString)
      }
    }

  /** `files` packed into tasks by Spark's file-source rule (the packing
    * of every built-in file source). With `splitGz`, a .gz
    * file above the task size is cut into raw byte ranges; a range task
    * syncs to a gzip member boundary (`records`). */
  def plan(spark: SparkSession, files: Seq[FileStatus], splitGz: Boolean): Seq[FilePartition] = {
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    val maxSplit = FilePartition.maxSplitBytes(spark, files.map(_.getLen + openCost).sum)
    val pieces = files.flatMap { st =>
      PartitionedFileUtil.splitFiles(FileStatusWithMetadata(st), st.getPath,
        splitGz && st.getPath.getName.endsWith(".gz"), maxSplit, InternalRow.empty)
    }.sortBy(-_.length)
    FilePartition.getFilePartitions(spark, pieces, maxSplit)
  }

  /** The records of one planned piece, in offset order. A whole file
    * streams from byte 0; a byte range `[start, end)` syncs to the
    * first gzip member at or after `start` and owns every record whose
    * member starts before `end` (the last may read past `end`). Strict
    * mode propagates a corrupt file's error; `lenient` logs it and ends
    * that file's records there, so at corpus scale one bad file does
    * not fail the job. The file is closed when its records run out or
    * the task ends. */
  def records(piece: PartitionedFile, conf: Configuration, keepPayload: Boolean,
              lenient: Boolean): Iterator[FramedRecord] = {
    val path = piece.toPath.toString
    val name = piece.toPath.getName
    val end = piece.start + piece.length
    def parseFrom(offset: Long): Iterator[FramedRecord] with java.io.Closeable = {
      val it = WarcStreaming.parseStream(open(path, conf, offset), name,
        WarcFraming.isGzipName(name), keepPayload = keepPayload, rawBase = offset)
      Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => it.close()))
      it
    }
    def parse: Iterator[FramedRecord] =
      if (piece.start == 0 && piece.length == piece.fileSize) parseFrom(0L)
      else {
        val sync = WarcStreaming.syncToMemberStart(open(path, conf, _), piece.start, end)
        if (sync < 0) Iterator.empty
        else {
          val it = parseFrom(sync)
          // the first record past the range ends the read: close the file now
          it.takeWhile(r => r.offset < end || { it.close(); false })
        }
      }
    if (!lenient) parse
    else new Iterator[FramedRecord] {
      private var inner: Iterator[FramedRecord] = _
      private var broken = false
      def hasNext: Boolean = !broken && {
        try { if (inner == null) inner = parse; inner.hasNext } catch {
          case e: Exception =>
            System.err.println(s"[warc-scan] ending corrupt file $name: ${e.getMessage}")
            broken = true
            false
        }
      }
      def next(): FramedRecord = if (hasNext) inner.next() else Iterator.empty.next()
    }
  }

  /** Fused scan + per-file fold: applies `fold` to each file's records in
    * offset order inside the scan task — the zero-shuffle path for
    * order-dependent per-file operators. Files are whole (never range
    * cut) and the scan is strict. The iterator is streaming: the fold
    * must consume in order and may hold O(1) records.
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
    val conf = spark.sessionState.newHadoopConf()
    val parts = plan(spark, resolve(paths, conf), splitGz = false)
    // the session conf (`spark.hadoop.*`: schemes, object-store
    // credentials), shipped once per scan to its tasks
    val confB = spark.sparkContext.broadcast(new SerializableHadoopConf(conf))
    val rows = new PieceRDD(spark.sparkContext, parts).mapPartitions(_.flatMap { f =>
      fold(f.toPath.getName, records(f, confB.value.value, keepPayload = true, lenient = false))
    }).persist(StorageLevel.MEMORY_AND_DISK)
    spark.createDataset(rows)
  }

  /** One partition per planned task, yielding its pieces. The task's
    * input bytes are the bytes it reads, as in Spark's own file scans. */
  private final class PieceRDD(sc: SparkContext, parts: Seq[FilePartition])
      extends RDD[PartitionedFile](sc, Nil) {
    override protected def getPartitions: Array[Partition] = parts.toArray
    override protected def getPreferredLocations(p: Partition): Seq[String] =
      p.asInstanceOf[FilePartition].preferredLocations().toSeq
    override def compute(p: Partition, ctx: TaskContext): Iterator[PartitionedFile] = {
      InputBytes.track(ctx)
      p.asInstanceOf[FilePartition].files.iterator
    }
  }
}
