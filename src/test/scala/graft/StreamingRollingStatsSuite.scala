package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

import graft.streaming.RollingStatsProcessor
import graft.streaming.RollingStatsProcessor.{Ev, Out}

/** Streaming rolling-window anomaly flags ≡ the batch ts_anomaly_zscore
  * query on the same events, with the 24-event ring carried across
  * micro-batch boundaries on the RocksDB state store — the bounded-
  * window state shape (vs cumvol's running totals).
  */
class StreamingRollingStatsSuite extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def stream(ds: Dataset[Ev]): Dataset[Out] =
    ds.groupByKey(_.userId)
      .transformWithState(new RollingStatsProcessor,
        TimeMode.None(), OutputMode.Append())

  test("streamed flags equal the batch query across 3 micro-batches (RocksDB)") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the real fixture rows, in event-time order (the order the batch
    // window folds them in); split into thirds so frames straddle two
    // micro-batch boundaries
    val evs = Tables(spark, sf, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"), col("value"),
        floor(col("value") * 1e9).cast("long").as("q"),
        floor(col("value") * col("value") * 1e9).cast("long").as("q2"))
      .as[(Long, Long, Long, Double, Long, Long)]
      .collect()
      .map(t => Ev(t._1, t._2, t._3, t._4, t._5, t._6))
      .sortBy(e => (e.tsUs, e.eventId))
    val input = MemoryStream[Ev]
    val q = stream(input.toDS())
      .writeStream.format("memory").queryName("sroll_out")
      .outputMode("append").start()
    try {
      evs.grouped(math.max(1, evs.length / 3 + 1))
        .foreach { chunk => input.addData(chunk.toSeq: _*); q.processAllAvailable() }
      val streamed = spark.table("sroll_out")
        .select("eventId", "userId", "nFrame", "value", "mean")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4))).toSet

      val batch = SparkEntry.queries("ts_anomaly_zscore")(spark, sf)
        .select(col("event_id"), col("user_id"), col("n_frame"),
          col("value"), col("mean"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4))).toSet

      assert(streamed.nonEmpty, "fixture must produce some anomalies")
      assert(streamed === batch,
        s"streamed=${streamed.size} batch=${batch.size}")
    } finally q.stop()
  }
}
