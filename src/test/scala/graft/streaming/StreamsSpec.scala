package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkTestBase
import java.sql.Timestamp

class StreamsSpec extends AnyFunSuite with SparkTestBase {

  test("windowed counts over a streaming source match the batch equivalent") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val data = (0 until 500).map { i =>
      (new Timestamp(1700000000000L + i * 60000L), s"t${i % 3}", i.toDouble)
    }
    input.addData(data: _*)
    val df = input.toDF().toDF("ts", "event_type", "value")
    val out = Streams.runAvailableNowComplete(
      Streams.windowedEventCounts(df), "win_counts")
      .orderBy("window_start", "event_type")
      .collect()
    val batch = data.toDF("ts", "event_type", "value")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"), sum($"value").as("sum_value"))
      .select($"window.start".as("window_start"), $"event_type", $"n", $"sum_value")
      .orderBy("window_start", "event_type")
      .collect()
    assert(out.toSeq == batch.toSeq)
  }

  test("stateful sessionization emits gap-closed sessions") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    val base = 1700000000000L
    input.addData(
      (1L, new Timestamp(base)),
      (1L, new Timestamp(base + 60 * 1000)), // same session
      (1L, new Timestamp(base + 3600 * 1000)), // gap > 1800s → closes first
      (2L, new Timestamp(base))
    )
    val out = Streams.runAvailableNow(
      Streams.sessionize(input.toDS(), gapSec = 1800).toDF(), "sessions")
      .collect()
    // only user 1's first session closed (2 events)
    assert(out.length == 1)
    assert(out.head.getAs[Long]("user_id") == 1L)
    assert(out.head.getAs[Int]("n_events") == 2)
    assert(out.head.getAs[Boolean]("closed"))
  }

  test("streaming CDX ingest matches the batch pipeline") {
    val sp = spark
    import sp.implicits._
    // stage: batch-scan a fixture into parquet WarcRow dir, then stream it
    val rows = spark.read.format("warc").load(fixturePath("example.warc.gz"))
    val dir = graft.Scratch.dir("warcstream").toString
    rows.write.mode("overwrite").parquet(dir)
    val streamed = Streams.runAvailableNow(Streams.streamingCdx(spark, dir), "cdx_stream")
      .select("urlkey", "timestamp", "offset", "length")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val batch = graft.operators.CdxPipeline.cdxDataset(spark, Seq(fixturePath("example.warc.gz")))
      .select("urlkey", "timestamp", "offset", "length")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed == batch)
  }
}
