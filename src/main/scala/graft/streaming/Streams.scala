package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Keyed session state (top-level so Spark's state encoder can codegen
  * its constructor). */
final case class SessionState(start: Long, last: Long, n: Int)

/** Structured Streaming operators (SURVEY.md §2.10): the engine's
  * event-time layer. The reference's "streaming" is pull-based byte I/O
  * (no event time); these are the additions a continuously-ingesting
  * crawl/training pipeline needs: watermarked windowed aggregation,
  * stateful sessionization, and a streaming CDX ingest over a record
  * feed, each expressible as `readStream → transform → writeStream`. */
object Streams {

  /** Tumbling event-time window counts with a watermark for late data. */
  def windowedEventCounts(events: DataFrame,
                          tsCol: String = "ts",
                          keyCol: String = "event_type",
                          windowLen: String = "1 hour",
                          watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col(keyCol),
        col("n"), col("sum_value"))

  final case class SessionUpdate(user_id: Long, session_start: Timestamp,
                                 n_events: Int, closed: Boolean)

  /** Gap-based sessionization with explicit keyed state
    * (flatMapGroupsWithState + processing-time timeout): emits a closed
    * session when the gap exceeds `gapSec`. */
  def sessionize(events: Dataset[(Long, Timestamp)], gapSec: Long = 1800): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (user, rows, state: GroupState[SessionState]) =>
          val sorted = rows.map(_._2.getTime).toVector.sorted
          var out = Vector.empty[SessionUpdate]
          var st = state.getOption.getOrElse(SessionState(-1, -1, 0))
          for (t <- sorted) {
            if (st.start < 0) st = SessionState(t, t, 1)
            else if (t - st.last > gapSec * 1000) {
              out :+= SessionUpdate(user, new Timestamp(st.start), st.n, closed = true)
              st = SessionState(t, t, 1)
            } else st = st.copy(last = t, n = st.n + 1)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Streaming CDX ingest: a continuously-growing directory of parquet
    * WARC-record rows (the scan's output contract) → CDX rows appended
    * per micro-batch. Pairing is per-file and files arrive whole, so
    * each micro-batch folds its files independently — the same
    * zero-shuffle property as the batch pipeline, per batch. */
  def streamingCdx(spark: SparkSession, inputDir: String): DataFrame = {
    import spark.implicits._
    val schema = org.apache.spark.sql.Encoders.product[graft.sources.WarcRow].schema
    val stream = spark.readStream.schema(schema).parquet(inputDir)
    graft.operators.CdxPipeline.pairDataset(spark, stream.as[graft.sources.WarcRow]).toDF()
  }

  /** Run any streaming DF to completion over currently-available input
    * (Trigger.AvailableNow) into an in-memory table; returns the result
    * as a batch DataFrame. Used by tests and the Verify contract. */
  def runAvailableNow(df: DataFrame, name: String): DataFrame = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    df.sparkSession.table(name)
  }

  /** Same for aggregations (complete mode). */
  def runAvailableNowComplete(df: DataFrame, name: String): DataFrame = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(OutputMode.Complete())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    df.sparkSession.table(name)
  }
}
