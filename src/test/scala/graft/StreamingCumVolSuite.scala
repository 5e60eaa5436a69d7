package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.model.Schemas
import graft.streaming.{CumVolStatefulProcessor, Pipelines}

/** Streaming semantics of the tick pipeline: state continuity across
  * micro-batches, per-symbol daily reset, dead-letter routing, and the
  * streaming ≡ batch equivalence invariant (SURVEY §5.2.3b).
  */
class StreamingCumVolSuite extends SparkSpec {
  import spark.implicits._

  private val t0 = 1687176000L // 2023-06-19 12:00 UTC

  private def tickJson(sym: String, time: Long, vol: Int, typ: String) =
    s"""{"symbol": "$sym", "bid": 1.0, "price": 1.1, "ask": 1.2,
       | "time": $time, "volume": $vol, "type": "$typ"}""".stripMargin
  private def env(sym: String, time: Long, vol: Int, typ: String) =
    Schemas.Envelope("feed", "TICK", tickJson(sym, time, vol, typ))

  test("state persists across micro-batches and resets on day rollover") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Schemas.Envelope]
    val q = Pipelines.tickPipeline(input.toDF())
      .writeStream.format("memory").queryName("cumvol_out")
      .outputMode("append").start()
    try {
      input.addData(env("EURUSD", t0, 3, "B"), env("EURUSD", t0 + 1, 5, "S"))
      q.processAllAvailable()
      input.addData(env("EURUSD", t0 + 2, 7, "X")) // batch 2: passthrough
      q.processAllAvailable()
      input.addData(env("EURUSD", t0 + 86400, 2, "B")) // batch 3: new day
      q.processAllAvailable()
      val out = spark.table("cumvol_out")
        .select("time", "cumbuy", "cumsell", "cumdelta")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).sortBy(_._1)
      assert(out === Seq(
        (t0, 3L, 0L, 3L),
        (t0 + 1, 3L, 5L, -2L),
        (t0 + 2, 3L, 5L, -2L), // X passthrough, state carried from batch 1
        (t0 + 86400, 2L, 0L, 2L))) // reset on rollover across batches
    } finally q.stop()
  }

  test("per-symbol state isolation across batches") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Schemas.Envelope]
    val q = Pipelines.tickPipeline(input.toDF())
      .writeStream.format("memory").queryName("cumvol_iso")
      .outputMode("append").start()
    try {
      input.addData(env("A", t0, 10, "B"), env("B", t0, 20, "B"))
      q.processAllAvailable()
      input.addData(env("A", t0 + 86400, 1, "B"), env("B", t0 + 10, 5, "B"))
      q.processAllAvailable()
      val out = spark.table("cumvol_iso")
        .select("symbol", "time", "cumbuy")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(r => (r._1, r._2))
      assert(out === Seq(
        ("A", t0, 10L), ("A", t0 + 86400, 1L), // A reset on its new day
        ("B", t0, 20L), ("B", t0 + 10, 25L))) // B keeps accumulating
    } finally q.stop()
  }

  test("corrupt payloads are flagged, not dropped silently, not fatal") {
    val envs = Seq(
      env("EURUSD", t0, 3, "B"),
      Schemas.Envelope("feed", "TICK", "{not json")).toDF()
    val parsed = Pipelines.parseTicks(envs)
    assert(parsed.filter(col("_corrupt")).count() === 1)
    assert(parsed.filter(!col("_corrupt")).count() === 1)
  }

  test("book branch: array payload explodes; BOOK_TYPE_ prefix stripped globally") {
    val payload =
      """[{"symbol": "EURUSD", "price": 1.0864, "time": 1687176000,
        |  "volume": 500000, "type": "BOOK_TYPE_BUY"},
        | {"symbol": "EURUSD", "price": 1.0866, "time": 1687176000,
        |  "volume": 400000, "type": "BOOK_TYPE_SELL_MARKET"}]""".stripMargin
    val out = Pipelines.parseBooks(
        Seq(Schemas.Envelope("feed", "BOOK", payload)).toDF())
      .select("price", "orderType").collect()
      .map(r => (r.getDouble(0), r.getString(1))).sortBy(_._1)
    assert(out === Seq((1.0864, "BUY"), (1.0866, "SELL_MARKET")))
  }

  test("BOOK envelopes route to book branch only; unknown types drop") {
    val envs = Seq(
      Schemas.Envelope("feed", "BOOK", "[]"),
      Schemas.Envelope("feed", "TICK", tickJson("A", t0, 1, "B")),
      Schemas.Envelope("feed", "HEARTBEAT", "{}")).toDF()
    assert(Pipelines.bookEnvelopes(envs).count() === 1)
    assert(Pipelines.tickEnvelopes(envs).count() === 1)
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("symbol", "time", "cumbuy", "cumsell", "cumdelta")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(r => (r._1, r._2)).toSeq
  /** Batch window-function path (the oracle anchor). */
  private def batchForm(ticks: Seq[Schemas.Tick]) =
    rows(graft.ops.CumVol(
      ticks.toDF(), col("symbol"), timestamp_seconds(col("time")),
      col("time"), col("tradeType"), col("volume")))

  test("streaming enrichment == batch CumVol window form on in-order data") {
    // four symbols in one batch (transformWithState on a batch
    // Dataset), crossing several UTC day boundaries in order
    val rng = new scala.util.Random(7)
    val ticks = (0 until 400).map { i =>
      Schemas.Tick(s"S${rng.nextInt(4)}", 1.0, 1.1, 1.2,
        t0 + i * 700, rng.nextInt(50), Seq("B", "S", "X")(rng.nextInt(3)))
    }
    assert(rows(CumVolStatefulProcessor.enrich(ticks.toDS()).toDF()) ===
      batchForm(ticks))
  }

  test("tick pipeline == batch CumVol on a 90%-one-key three-batch feed") {
    // 90% of rows on one symbol, strictly increasing times over ~2.8
    // UTC days, streamed as three micro-batches through the tick
    // pipeline — every symbol crosses batch boundaries and day
    // rollovers fire mid-stream, so the state store carries the sums
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val hotRng = new scala.util.Random(11)
    val hot = (0 until 600).map { i =>
      val sym = if (hotRng.nextInt(10) < 9) "HOT" else s"C${hotRng.nextInt(5)}"
      Schemas.Tick(sym, 1.0, 1.1, 1.2, t0 + i * 400L,
        hotRng.nextInt(50) + 1, Seq("B", "S", "X")(hotRng.nextInt(3)))
    }
    val input = MemoryStream[Schemas.Envelope]
    val q = Pipelines.tickPipeline(input.toDF())
      .writeStream.format("memory").queryName("cumvol_hot")
      .outputMode("append").start()
    try {
      hot.grouped(200).foreach { chunk =>
        input.addData(chunk.map(t =>
          env(t.symbol, t.time, t.volume, t.tradeType)))
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(rows(spark.table("cumvol_hot")) === batchForm(hot))
  }
}
