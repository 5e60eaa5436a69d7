package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

import graft.model.Schemas.Tick

/** Stateful strict-window funnel over the tick stream — the streaming
  * twin of `funnel_strict_window` (TemporalQueries.strictFunnel):
  * per key, anchor on the FIRST view, then the first click within `w`
  * seconds of it, then the first purchase within `w` of the click;
  * the event-type rides the envelope's `type` field. State is three
  * longs per key ([[FunnelProcessor.FunnelState]], Long.MinValue =
  * unset); each hop is SET-ONCE, so the emitted stage is monotone and
  * an LWW upsert keyed by symbol converges to the final stage under
  * replay.
  *
  * Ordering contract (the one [[CumVolStatefulProcessor]] keeps): within a
  * micro-batch rows fold in (time) order (sorted here — post-LWW-dedup
  * there is at most one event per (key, time), so the order is total);
  * ACROSS batches the caller must deliver each KEY's rows in time
  * order. The e2e runner provides that via per-user spool-file
  * locality — it hash-partitions the spool by user_id with rows
  * time-sorted inside each file and no maxFilesPerTrigger, so a
  * user's whole history lands time-sorted in a single spool file and
  * the per-batch sort makes the fold order total (there is no global
  * time-range partitioning; keys in DIFFERENT files may interleave
  * arbitrarily, which is fine — state is per-key). A set-once hop
  * never un-sets, so replayed or duplicate deliveries are absorbed
  * idempotently.
  */
class FunnelProcessor(w: Long)
    extends StatefulProcessor[String, Tick, FunnelProcessor.FunnelStage] {

  import FunnelProcessor.{FunnelStage, FunnelState, Unset}

  @transient private var state: ValueState[FunnelState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[FunnelState](
      "funnel", Encoders.product[FunnelState], TTLConfig.NONE)

  override def handleInputRows(
      symbol: String,
      rows: Iterator[Tick],
      timerValues: TimerValues): Iterator[FunnelStage] = {
    val st0 = Option(state.get())
      .getOrElse(FunnelState(Unset, Unset, Unset))
    val st = FunnelProcessor.fold(st0, rows, w)
    state.update(st)
    if (st.aS == Unset) Iterator.empty
    else Iterator.single(FunnelStage(symbol, FunnelProcessor.stage(st)))
  }
}

object FunnelProcessor {

  val Unset: Long = Long.MinValue

  /** (first view, first in-window click, first in-window purchase). */
  case class FunnelState(aS: Long, bS: Long, cS: Long)

  /** Deepest stage reached so far: 1 view, 2 +click, 3 +purchase. */
  case class FunnelStage(symbol: String, stage: Long)

  def stage(st: FunnelState): Long =
    if (st.cS != Unset) 3L else if (st.bS != Unset) 2L else 1L

  /** Per-batch fold in time order — each hop set at most once, gated
    * by the previous hop's `w`-second deadline.
    */
  private[graft] def fold(
      st0: FunnelState, rows: Iterator[Tick], w: Long): FunnelState = {
    var st = st0
    rows.toSeq.sortBy(_.time).foreach { t =>
      t.tradeType match {
        case "view" if st.aS == Unset =>
          st = st.copy(aS = t.time)
        case "click" if st.aS != Unset && st.bS == Unset &&
            t.time >= st.aS && t.time <= st.aS + w =>
          st = st.copy(bS = t.time)
        case "purchase" if st.bS != Unset && st.cS == Unset &&
            t.time >= st.bS && t.time <= st.bS + w =>
          st = st.copy(cS = t.time)
        case _ => ()
      }
    }
    st
  }

  /** Streaming funnel stages on the transformWithState/RocksDB path. */
  def stages(ticks: Dataset[Tick], w: Long): Dataset[FunnelStage] = {
    import ticks.sparkSession.implicits._
    ticks
      .groupByKey(_.symbol)
      .transformWithState(new FunnelProcessor(w),
        TimeMode.None(), OutputMode.Append())
  }
}
