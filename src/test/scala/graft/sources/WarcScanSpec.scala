package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path}
import org.apache.spark.SparkInternals
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.scalatest.funsuite.AnyFunSuite
import graft.{FaultyFs, SparkTestBase}
import graft.core.WarcWriter
import graft.operators.CdxPipeline

/** The scan core's file handling: one parse per file under a sort, the
  * session Hadoop conf in its tasks, lineage behind its stored rows,
  * globs resolved once. */
class WarcScanSpec extends AnyFunSuite with SparkTestBase {

  /** Six gzip WARC files of ten request/response captures each. The
    * 20 KB random payloads do not compress, so the corpus bytes dwarf
    * the CDX lines the scan stores. */
  private lazy val corpus: Path = {
    val dir = graft.Scratch.dir("warcscan")
    val rnd = new scala.util.Random(7)
    for (f <- 0 until 6) {
      val out = new ByteArrayOutputStream
      for (c <- 0 until 10) {
        val url = s"http://www.h$f.example.com/p$c?b=2&a=1"
        val date = f"2020-01-01T00:$f%02d:$c%02dZ"
        val body = new Array[Byte](20000)
        rnd.nextBytes(body)
        val req = WarcWriter.create(url = url, date = date, warcType = "request",
          httpHeaders = Seq("User-Agent" -> "graft-test"), statusline = s"GET /p$c HTTP/1.1")
        val resp = WarcWriter.create(url = url, date = date, warcType = "response",
          httpHeaders = Seq("Content-Type" -> "text/html"), payload = body)
        out.write(WarcWriter.serialize(req, WarcWriter.CdxDigest, gzip = true))
        out.write(WarcWriter.serialize(resp, WarcWriter.CdxDigest, gzip = true))
      }
      Files.write(dir.resolve(s"f$f.warc.gz"), out.toByteArray)
    }
    dir
  }

  private def glob(dir: String): String = s"$dir/*.warc.gz"

  private def sortedCdx(path: String): Vector[String] =
    CdxPipeline.cdxLines(spark, Seq(path)).orderBy("value").collect().toVector

  /** `body`'s result and the input bytes its Spark tasks read. */
  private def bytesReadBy[T](body: => T): (T, Long) = {
    val sc = spark.sparkContext
    val group = s"bytes-read-${System.nanoTime()}"
    val stages = scala.collection.mutable.Set.empty[Int]
    var bytes = 0L
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          stages ++= e.stageIds
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          bytes += e.taskMetrics.inputMetrics.bytesRead
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "bytes read")
      val out = try body finally sc.clearJobGroup()
      SparkInternals.drainListenerBus(sc)
      listener.synchronized {
        assert(stages.nonEmpty, "no job of the group was seen")
        (out, bytes)
      }
    } finally sc.removeSparkListener(listener)
  }

  test("a sorted CDX index inflates and parses each file once") {
    val corpusBytes = (0 until 6).map(f => Files.size(corpus.resolve(s"f$f.warc.gz"))).sum
    val unsorted = CdxPipeline.cdxLines(spark, Seq(glob(corpus.toString))).collect().toVector
    val (sorted, bytesRead) = bytesReadBy(sortedCdx(glob(corpus.toString)))
    assert(sorted.size == 60)
    assert(sorted == unsorted.sorted)
    // the range partitioner's sampling job and the map stage each parsed
    // the whole corpus before the scan stored its rows: ~2x; a scan that
    // reports no input bytes reads ~0
    assert(bytesRead >= 0.9 * corpusBytes && bytesRead <= 1.1 * corpusBytes,
      s"the sorted scan read $bytesRead B of a $corpusBytes-B corpus")
  }

  test("scan tasks open files with the session Hadoop conf") {
    FaultyFs.register(spark)
    val faulty = FaultyFs.uri(corpus.toString)
    // the faulty scheme exists only in the session's conf
    assert(sortedCdx(glob(faulty)) == sortedCdx(glob(corpus.toString)))
    assert(spark.read.format("warc").load(glob(faulty)).count() == 120)
    def v2(dir: String) =
      spark.read.format("warc").load(dir).select("filename", "offset").collect().toSet
    assert(v2(faulty) == v2(corpus.toString))
  }

  test("a missing file fails the v2 source at planning") {
    val missing = corpus.resolve("missing.warc.gz").toString
    intercept[java.io.FileNotFoundException] {
      spark.read.format("warc").load(missing).queryExecution.toRdd.partitions
    }
  }

  test("scan rows dropped from the block store are recomputed from their files") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val lines = CdxPipeline.cdxLines(spark, Seq(glob(corpus.toString)))
    val stored = sc.getPersistentRDDs.keySet -- before
    assert(stored.size == 1)
    val first = lines.collect().toVector
    assert(SparkInternals.rddBlocks(stored.head).nonEmpty)
    SparkInternals.dropRddBlocks(stored.head)
    assert(SparkInternals.rddBlocks(stored.head).isEmpty)
    assert(lines.collect().toVector == first)
    assert(SparkInternals.rddBlocks(stored.head).nonEmpty, "the rows were not stored again")
  }

  test("a glob's matches are not globbed again") {
    val dir = graft.Scratch.dir("warcscan-glob")
    Files.copy(java.nio.file.Paths.get(fixturePath("example.warc.gz")),
      dir.resolve("a[1].warc.gz"))
    assert(spark.read.format("warc").load(glob(dir.toString)).count() == 6)
    assert(CdxPipeline.cdxLines(spark, Seq(glob(dir.toString))).count() == 2)
  }
}
