package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.sink.LwwSink
import graft.source.EnvelopeSourceProvider
import graft.streaming.{AsofEnrichProcessor, Pipelines}

/** Restart recovery for the streaming as-of enrichment behind
  * `stream_e2e_asof`: the last-quote state must survive a checkpointed
  * restart — a trade arriving in the SECOND incarnation must be
  * enriched with a quote ingested by the FIRST. State loss here is
  * silent in a row-count compare (the trade would just emit nothing,
  * inner as-of), so the assertion checks the exact enriched values,
  * including that a newer quote REPLACES the restored one.
  */
class StreamingAsofRestartSuite extends SparkSpec {

  private val fmt = classOf[EnvelopeSourceProvider].getName
  private val t0 = 1687176000L

  private def line(time: Long, price: Double, typ: String) =
    s"""{"topic": "feed", "frameType": "TICK", "payload": {"symbol": "EURUSD", "bid": $price, "price": $price, "ask": $price, "time": $time, "volume": 1, "type": "$typ"}}"""

  private def write(dir: Path, name: String, lines: String*): Unit =
    Files.write(dir.resolve(name),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))

  test("trades after restart are enriched with the restored last quote") {
    import spark.implicits._
    val spool = Files.createTempDirectory("asof_spool")
    val sink = Files.createTempDirectory("asof_sink").toString
    val ckpt = Files.createTempDirectory("asof_ckpt").toString

    def run(): Unit = {
      val env = spark.readStream.format(fmt)
        .option("path", spool.toString).load()
      val evs = Pipelines.parseTicks(env).filter(!col("_corrupt"))
        .select(col("symbol"), col("time"),
          when(col("tradeType") === "Q", 0).otherwise(1).as("kind"),
          col("price"), col("tradeType"))
        .as[AsofEnrichProcessor.MarketEv]
      val q = evs.groupByKey(_.symbol)
        .transformWithState(new AsofEnrichProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Append())
        .toDF()
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          LwwSink.upsertBatch(batch.toDF(), id, sink, "feed", "asof",
            Seq("symbol", "time"))
        }.start()
      try q.processAllAvailable() finally q.stop()
    }

    // incarnation 1: a quote, then a trade it enriches
    write(spool, "000.jsonl",
      line(t0, 10.5, "Q"), line(t0 + 5, 42.0, "B"))
    run()

    // incarnation 2: a trade BEFORE any new quote (must see the
    // restored 10.5 quote), then a fresh quote, then a trade that
    // must see the REPLACEMENT, not the restored state
    write(spool, "001.jsonl",
      line(t0 + 20, 43.0, "S"), line(t0 + 30, 11.25, "Q"),
      line(t0 + 40, 44.0, "B"))
    run()

    val rows = LwwSink.read(spark, sink, "feed", "asof")
      .select("symbol", "time", "price", "tradeType", "quoteTime",
        "quotePrice").collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getString(3),
        r.getLong(4), r.getDouble(5))).toSet
    assert(rows === Set(
      (t0 + 5, 42.0, "B", t0, 10.5),
      (t0 + 20, 43.0, "S", t0, 10.5), // restored state, not re-derived
      (t0 + 40, 44.0, "B", t0 + 30, 11.25)), // replacement quote wins
      s"unexpected enriched set: $rows")
  }
}
