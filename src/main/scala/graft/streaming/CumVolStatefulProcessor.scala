package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

import graft.model.Schemas.{EnrichedTick, Tick}
import graft.streaming.CumVolStatefulProcessor.{CumState, NoState, TickWm}

/** A1+A2 streaming form: per-symbol running (cumbuy, cumsell, cumdelta)
  * with daily session reset, emitted on every input row — the tick
  * pipeline's one stateful operator ([[Pipelines.tickPipeline]]).
  *
  * Reference: state main.rs:207-208, update main.rs:122-128, daily
  * reset main.rs:112-118, cumdelta main.rs:130.
  * Implemented with Spark 4 `groupByKey(symbol).transformWithState` on
  * the RocksDB state store — durable checkpointed state, one entry per
  * symbol, partitioned across executors (the upgrade over the
  * reference's in-process HashMap, which is single-threaded and lost on
  * crash). RocksDB spills state to local disk instead of executor heap,
  * supports per-state TTL natively ([[TTLConfig]]) and versioned state
  * schemas. State is one [[CumState]] (three longs) per symbol.
  *
  * Semantics decisions (SURVEY §1.4, documented divergences):
  *  - Day boundary is per-symbol (the reference's global
  *    `last_processed_date` resets only the arriving symbol on rollover —
  *    we implement the evident intent: per-(symbol, UTC day) sessions).
  *  - Within a micro-batch, rows are processed in event-time order
  *    (stable-sorted by `time`); the reference uses arrival order
  *    (main.rs:219-230), which is identical when the feed is in order.
  *  - A late row from a *previous* day accumulates into the current-day
  *    counters without reset — byte-compatible with the reference's
  *    monotone-day check (`tick_date > last_date`, main.rs:115).
  */
class CumVolStatefulProcessor
    extends StatefulProcessor[String, Tick, EnrichedTick] {

  @transient private var state: ValueState[CumState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[CumState](
      "cumvol", Encoders.product[CumState], TTLConfig.NONE)

  override def handleInputRows(
      symbol: String,
      rows: Iterator[Tick],
      timerValues: TimerValues): Iterator[EnrichedTick] = {
    val st0 = Option(state.get()).getOrElse(NoState)
    val (st, out) = CumVolStatefulProcessor.fold(st0, rows)
    state.update(st)
    out.iterator
  }
}

/** Event-time variant of [[CumVolStatefulProcessor]]: same arithmetic,
  * plus state expiry through TWS timers — the per-key timer is re-armed
  * at every batch to fire when the watermark passes the session day's
  * end, and `handleExpiredTimer` clears the key's state. At cluster
  * scale the state store then holds only symbols still inside their
  * live day (+ allowed lateness), not every key ever seen (SURVEY §2.6
  * watermark row; the reference has no such concept and its HashMap
  * grows forever, main.rs:207). (`TTLConfig` is deliberately NOT used:
  * it is processing-time-based; session expiry here is an event-time
  * contract.)
  *
  * Semantics note: after expiry, a very-late tick re-seeds state from
  * zero on its own (stale) day — it can no longer pollute a newer day's
  * counters, which is strictly closer to the intended per-(symbol, day)
  * sessions than the reference's behavior (SURVEY §1.4.4).
  */
class CumVolStatefulProcessorWm
    extends StatefulProcessor[String, TickWm, EnrichedTick] {

  @transient private var state: ValueState[CumState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[CumState](
      "cumvol", Encoders.product[CumState], TTLConfig.NONE)

  override def handleInputRows(
      symbol: String,
      rows: Iterator[TickWm],
      timerValues: TimerValues): Iterator[EnrichedTick] = {
    val st0 = Option(state.get()).getOrElse(NoState)
    val (st, out) = CumVolStatefulProcessor.fold(
      st0, rows.map(t => Tick(t.symbol, t.bid, t.price, t.ask, t.time,
        t.volume, t.tradeType)))
    state.update(st)
    // Single live timer per key: expire once the watermark passes the
    // session day's end (never at-or-before the current watermark, or
    // the timer would be considered already expired).
    getHandle.listTimers().foreach(ts => getHandle.deleteTimer(ts))
    val dayEndMs = (st.day + 1) * 86400L * 1000L
    getHandle.registerTimer(
      math.max(dayEndMs, timerValues.getCurrentWatermarkInMs() + 1))
    out.iterator
  }

  override def handleExpiredTimer(
      symbol: String,
      timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[EnrichedTick] = {
    state.clear()
    Iterator.empty
  }
}

object CumVolStatefulProcessor {

  /** Keyed state: the symbol's current UTC day ordinal and session sums. */
  case class CumState(day: Long, cumbuy: Long, cumsell: Long)

  /** A key's state before its first row: no day yet, zero sums. */
  private[graft] val NoState = CumState(Long.MinValue, 0L, 0L)

  /** Tick with its event-time column (watermark anchor). */
  case class TickWm(
      symbol: String, bid: Double, price: Double, ask: Double,
      time: Long, volume: Int, tradeType: String, ts: java.sql.Timestamp)

  /** ONE copy of the golden per-row arithmetic, shared by both
    * processors: event-time-ordered rows (stable sort) through the day
    * bucket F5 (main.rs:109-110), daily reset A2 (main.rs:112-118) and
    * conditional B/S contribution R4 (main.rs:124-128) — non-B/S rows
    * pass through with unchanged counters, NOT dropped.
    */
  private[graft] def fold(
      st0: CumState, rows: Iterator[Tick]): (CumState, Seq[EnrichedTick]) = {
    var st = st0
    val out = rows.toSeq.sortBy(_.time).map { t =>
      val day = Math.floorDiv(t.time, 86400L)
      if (st.day == Long.MinValue || day > st.day)
        st = CumState(day, 0L, 0L)
      st = t.tradeType match {
        case "B" => st.copy(cumbuy = st.cumbuy + t.volume)
        case "S" => st.copy(cumsell = st.cumsell + t.volume)
        case _   => st
      }
      EnrichedTick(t.symbol, t.bid, t.price, t.ask, t.time, t.volume,
        t.tradeType, st.cumbuy, st.cumsell, st.cumbuy - st.cumsell)
    }
    (st, out)
  }

  /** Streaming (or batch) enrichment: Dataset[Tick] → Dataset[EnrichedTick].
    * One shuffle on symbol; the state store holds three longs per symbol.
    */
  def enrich(ticks: Dataset[Tick]): Dataset[EnrichedTick] = {
    import ticks.sparkSession.implicits._
    ticks
      .groupByKey(_.symbol)
      .transformWithState(new CumVolStatefulProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** Watermarked enrichment with event-time state expiry
    * ([[CumVolStatefulProcessorWm]]); rows behind the watermark are
    * dropped before the stateful operator.
    */
  def enrichWithWatermark(
      ticks: DataFrame, delay: String): Dataset[EnrichedTick] = {
    import ticks.sparkSession.implicits._
    ticks
      .withColumn("ts", timestamp_seconds(col("time")))
      .withWatermark("ts", delay)
      .as[TickWm]
      .groupByKey(_.symbol)
      .transformWithState(new CumVolStatefulProcessorWm,
        TimeMode.EventTime(), OutputMode.Append())
  }
}
