package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.sink.LwwSink
import graft.source.EnvelopeSourceProvider
import graft.streaming.AsofEnrichProcessor

/** Restart recovery for the streaming as-of enrichment behind
  * `stream_e2e_asof`: the last-quote state must survive a checkpointed
  * restart — a trade arriving in the SECOND incarnation must be
  * enriched with a quote ingested by the FIRST. State loss here is
  * silent in a row-count compare (the trade would just emit nothing,
  * inner as-of), so the assertions check the exact enriched values,
  * including that a newer quote REPLACES the restored one.
  */
class StreamingAsofRestartSuite extends SparkSpec {

  private val fmt = classOf[EnvelopeSourceProvider].getName
  private val t0 = 1687176000L

  private def line(sym: String, time: Long, price: Double, typ: String) =
    s"""{"topic": "feed", "frameType": "TICK", "payload": {"symbol": "$sym", "bid": $price, "price": $price, "ask": $price, "time": $time, "volume": 1, "type": "$typ"}}"""

  private def write(dir: Path, name: String, lines: Seq[String]): Unit =
    Files.write(dir.resolve(name),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))

  /** One incarnation: drain the spool through the enrichment into the
    * sink, on the given checkpoint, then stop.
    */
  private def run(spool: Path, sink: String, ckpt: String): Unit = {
    val env = spark.readStream.format(fmt)
      .option("path", spool.toString).load()
    val q = AsofEnrichProcessor.enrich(env).toDF()
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        LwwSink.upsertBatch(batch.toDF(), id, sink, "feed", "asof",
          Seq("symbol", "time"))
      }.start()
    try q.processAllAvailable() finally q.stop()
  }

  private def sinkRows(sink: String) =
    LwwSink.read(spark, sink, "feed", "asof")
      .select("symbol", "time", "price", "tradeType", "quoteTime",
        "quotePrice").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getString(3), r.getLong(4), r.getDouble(5)))
      .sortBy(r => (r._1, r._2)).toSeq

  /** Plain batch as-of over the same events — the expectation. */
  private def batchMirror(all: Seq[(String, Long, Double, String)]) = {
    import spark.implicits._
    val df = all.toDF("symbol", "time", "price", "typ")
    val trades = df.filter(col("typ") =!= "Q")
      .select(col("symbol"), col("time"), col("price"),
        col("typ").as("tradeType"))
    val quotes = df.filter(col("typ") === "Q")
      .select(col("symbol"), col("time"), col("time").as("quoteTime"),
        col("price").as("quotePrice"))
    graft.ops.AsofJoin(trades, quotes, "symbol", "time",
        Seq("quoteTime", "quotePrice"))
      .filter(col("quoteTime").isNotNull)
      .select("symbol", "time", "price", "tradeType", "quoteTime",
        "quotePrice").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getString(3), r.getLong(4), r.getDouble(5)))
      .sortBy(r => (r._1, r._2)).toSeq
  }

  test("trades after restart are enriched with the restored last quote") {
    // Incarnation 1: a quote, then a trade it enriches. Incarnation 2:
    // a trade BEFORE any new quote (must see the restored 10.5 quote),
    // then a fresh quote, then a trade that must see the REPLACEMENT,
    // not the restored state
    val spool = Files.createTempDirectory("asof_spool")
    val sink = Files.createTempDirectory("asof_sink").toString
    val ckpt = Files.createTempDirectory("asof_ckpt").toString
    write(spool, "000.jsonl", Seq(
      line("EURUSD", t0, 10.5, "Q"), line("EURUSD", t0 + 5, 42.0, "B")))
    run(spool, sink, ckpt)
    write(spool, "001.jsonl", Seq(
      line("EURUSD", t0 + 20, 43.0, "S"), line("EURUSD", t0 + 30, 11.25, "Q"),
      line("EURUSD", t0 + 40, 44.0, "B")))
    run(spool, sink, ckpt)
    val rows = sinkRows(sink).toSet
    assert(rows === Set(
      ("EURUSD", t0 + 5, 42.0, "B", t0, 10.5),
      ("EURUSD", t0 + 20, 43.0, "S", t0, 10.5), // restored, not re-derived
      ("EURUSD", t0 + 40, 44.0, "B", t0 + 30, 11.25)), // replacement wins
      s"unexpected enriched set: $rows")
  }

  test("90%-one-key feed over three incarnations == plain batch as-of") {
    // 90% of rows on one symbol, strictly increasing times, ~1 in 3
    // rows a quote, in three spool files drained by three incarnations
    // — many trades take their quote from state an earlier
    // incarnation left
    val rng = new scala.util.Random(7)
    val all = (0 until 600).map { i =>
      val sym = if (rng.nextInt(10) < 9) "HOT" else s"C${rng.nextInt(5)}"
      val typ =
        if (rng.nextInt(3) == 0) "Q"
        else if (rng.nextInt(2) == 0) "B" else "S"
      (sym, t0 + i * 7L, (rng.nextInt(900) + 100) / 10.0, typ)
    }
    val hotSpool = Files.createTempDirectory("asof_hot_spool")
    val hotSink = Files.createTempDirectory("asof_hot_sink").toString
    val hotCkpt = Files.createTempDirectory("asof_hot_ckpt").toString
    all.grouped(200).zipWithIndex.foreach { case (chunk, i) =>
      write(hotSpool, f"$i%03d.jsonl", chunk.map { case (s, t, p, ty) =>
        line(s, t, p, ty) })
      run(hotSpool, hotSink, hotCkpt)
    }
    val expected = batchMirror(all)
    assert(expected.nonEmpty)
    assert(sinkRows(hotSink) === expected)
  }
}
