package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.sink.LwwSink
import graft.source.EnvelopeSourceProvider
import graft.streaming.{Pipelines, TopKProcessor}

/** Restart recovery for the bounded-priority state behind
  * `stream_e2e_topk`: the leaderboard must MERGE across a checkpointed
  * restart — a state loss would rebuild the top-k from the second
  * incarnation's rows alone, and because every emission overwrites the
  * full (symbol, rank) range in the LWW sink, the stale high prices
  * from incarnation one would be silently REPLACED by lower ones (the
  * failure a final row-count compare cannot see — rank cardinality
  * stays k either way, only the values betray the loss).
  */
class StreamingTopKRestartSuite extends SparkSpec {

  private val fmt = classOf[EnvelopeSourceProvider].getName
  private val t0 = 1687176000L

  private def tickLine(time: Long, price: Double) =
    s"""{"topic": "feed", "frameType": "TICK", "payload": {"symbol": "EURUSD", "bid": $price, "price": $price, "ask": $price, "time": $time, "volume": 1, "type": "B"}}"""

  private def write(dir: Path, name: String, lines: String*): Unit =
    Files.write(dir.resolve(name),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))

  test("top-k state merges across a checkpointed restart") {
    val spool = Files.createTempDirectory("topk_spool")
    val sink = Files.createTempDirectory("topk_sink").toString
    val ckpt = Files.createTempDirectory("topk_ckpt").toString

    def run(): Unit = {
      import spark.implicits._
      val env = spark.readStream.format(fmt)
        .option("path", spool.toString).load()
      val ticks = Pipelines.parseTicks(env).filter(!col("_corrupt"))
        .select(col("symbol"), col("time"), col("price"))
        .as[TopKProcessor.TickIn]
      val q = ticks.groupByKey(_.symbol)
        .transformWithState(new TopKProcessor(3),
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Update())
        .toDF()
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          LwwSink.upsertBatch(batch.toDF(), id, sink, "feed", "topk",
            Seq("symbol", "rank"))
        }.start()
      try q.processAllAvailable() finally q.stop()
    }

    // incarnation one: highs 9.0 and 7.0 plus a low that must fall out
    write(spool, "000.jsonl",
      tickLine(t0, 9.0), tickLine(t0 + 1, 7.0), tickLine(t0 + 2, 1.0))
    run()

    // incarnation two: one mid price — the merged top-3 must be
    // (9.0, 7.0, 5.0); a lost state would emit (5.0) as rank 1
    write(spool, "001.jsonl", tickLine(t0 + 10, 5.0))
    run()

    val rows = LwwSink.read(spark, sink, "feed", "topk")
      .select("rank", "price", "time").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getLong(2))).toSet
    assert(rows === Set((1, 9.0, t0), (2, 7.0, t0 + 1), (3, 5.0, t0 + 10)),
      s"restored state must carry incarnation one's highs: $rows")
  }
}
