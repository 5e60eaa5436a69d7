package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

import graft.streaming.AsofEnrichProcessor.{AsofTick, MarketEv, QuoteState}

/** Streaming AS-OF enrichment — the live form of [[graft.ops.AsofJoin]]
  * and the reference's actual use case: each trade tick enriched with
  * the prevailing quote (latest book row at or before the tick, per
  * symbol), evaluated ON ARRIVAL instead of over stored history
  * (/root/reference/src/main.rs:87-88 stores `(symbol, time DESC)`
  * precisely so this lookup is cheap after the fact; here the engine
  * answers it in-stream).
  *
  * State is ONE (time, price) pair per symbol — the as-of join's entire
  * right side collapses to "last quote seen", which is what makes the
  * streaming form O(symbols) in state where the batch union-scan form
  * is O(rows) in shuffle. Rows are folded in (time, kind) order with
  * quotes (kind 0) before ticks (kind 1) at the same second — the
  * inclusive `<=` tie rule, identical to DuckDB ASOF JOIN and the batch
  * [[graft.ops.AsofJoin]] tag order. Ticks before any quote emit
  * nothing (inner as-of); the quote state never expires (a symbol's
  * last quote stays current until replaced — staleness bounds are the
  * [[graft.queries]] asof_tolerance variant's job, a projection, not a
  * state-shape change).
  *
  * Determinism contract (same legs as the cumvol processor): input is
  * pre-deduped to at most one tick and one quote per (symbol, second),
  * and a symbol's times never go backwards from one micro-batch to the
  * next (a symbol may sit inside one batch or span many) — the
  * per-batch sort here then fixes ONE fold order, so the emitted row
  * set equals the batch oracle's regardless of arrival interleaving.
  */
class AsofEnrichProcessor
    extends StatefulProcessor[String, MarketEv, AsofTick] {

  @transient private var state: ValueState[QuoteState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[QuoteState](
      "lastQuote", Encoders.product[QuoteState], TTLConfig.NONE)

  override def handleInputRows(
      symbol: String,
      rows: Iterator[MarketEv],
      timerValues: TimerValues): Iterator[AsofTick] = {
    var quote = Option(state.get())
    val out = Seq.newBuilder[AsofTick]
    // per-batch total order: time, then quotes before ticks (inclusive
    // at-or-before semantics at equal seconds)
    rows.toSeq.sortBy(e => (e.time, e.kind)).foreach { e =>
      if (e.kind == 0) quote = Some(QuoteState(e.time, e.price))
      else quote.foreach { q =>
        out += AsofTick(e.symbol, e.time, e.price, e.tradeType,
          q.qTime, q.qPrice)
      }
    }
    quote.foreach(state.update)
    out.result().iterator
  }
}

object AsofEnrichProcessor {

  /** One market event: kind 0 = quote (book), 1 = trade tick. */
  case class MarketEv(
      symbol: String, time: Long, kind: Int, price: Double,
      tradeType: String)

  /** Last-quote state per symbol: the as-of right side, collapsed. */
  case class QuoteState(qTime: Long, qPrice: Double)

  /** Enriched output row: the tick plus its prevailing quote. */
  case class AsofTick(
      symbol: String, time: Long, price: Double, tradeType: String,
      quoteTime: Long, quotePrice: Double)

  /** Streaming (or batch) as-of enrichment of TICK envelopes: parse,
    * drop corrupt rows, read type "Q" as a quote (kind 0) and every
    * other type as a trade (kind 1), and fold each symbol's events
    * through [[AsofEnrichProcessor]]. One shuffle on symbol; the state
    * store holds one (time, price) pair per symbol.
    */
  def enrich(env: DataFrame): Dataset[AsofTick] = {
    import env.sparkSession.implicits._
    Pipelines.parseTicks(env).filter(!col("_corrupt"))
      .select(col("symbol"), col("time"),
        when(col("tradeType") === "Q", 0).otherwise(1).as("kind"),
        col("price"), col("tradeType"))
      .as[MarketEv]
      .groupByKey(_.symbol)
      .transformWithState(new AsofEnrichProcessor,
        TimeMode.None(), OutputMode.Append())
  }
}
