package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

class WarcSinkSpec extends AnyFunSuite with SparkTestBase {
  test("distributed WARC sink: write then rescan round-trips records") {
    import graft.sources.{WarcRow, WarcSink}
    import spark.implicits._
    val src = spark.read.format("warc").load(fixturePath("example.warc.gz")).as[WarcRow]
    val outDir = graft.Scratch.dir("warcsink").toString
    WarcSink.write(src.repartition(2), outDir)
    val files = new java.io.File(outDir).listFiles().filter(_.getName.endsWith(".warc.gz"))
    assert(files.nonEmpty)
    val back = spark.read.format("warc").load(files.map(_.getPath).toSeq: _*).as[WarcRow]
    val origKey = src.collect().map(r => (r.recordId, r.warcType, r.targetUri,
      Option(r.payload).map(_.length).getOrElse(0))).toSet
    val backKey = back.collect().map(r => (r.recordId, r.warcType, r.targetUri,
      Option(r.payload).map(_.length).getOrElse(0))).toSet
    assert(backKey == origKey)
    // payload digests preserved verbatim through the sink
    val origDig = src.collect().flatMap(r => Option(r.payloadDigest)).toSet
    val backDig = back.collect().flatMap(r => Option(r.payloadDigest)).toSet
    assert(backDig == origDig)
  }
}
