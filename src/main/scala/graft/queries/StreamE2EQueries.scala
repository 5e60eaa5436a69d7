package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryPack, Tables}
import graft.ops.LwwDedup
import graft.sink.LwwSink
import graft.source.Spooled
import graft.streaming.Pipelines
import graft.util.SessionCache

/** The whole streaming path under the DuckDB oracle: spool (JSONL
  * envelopes derived from the `events` fixture) → [[graft.source
  * .EnvelopeSourceProvider]] micro-batch source → [[Pipelines]] book
  * branch (demux → parse → normalize) → [[LwwSink]] keyed upsert →
  * batch read-back. This is the reference's full dataflow
  * (/root/reference/src/main.rs:186-229: SUB socket → route → parse →
  * Cassandra insert) exercised end to end, with the sink's OUTPUT — not
  * an intermediate transform — as the oracle-checked result.
  *
  * Determinism: envelopes are pre-deduped so the sink PK (symbol, time,
  * price) is unique; the LWW outcome is then independent of file→batch
  * grouping and row arrival order, which is what makes a streaming run
  * oracle-checkable at all.
  */
object StreamE2EQueries extends QueryPack {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_e2e_sink" -> ((s, dir) => run(s, dir)),
    "stream_e2e_cumvol" -> ((s, dir) => runCumvol(s, dir, paced = false)),
    "stream_e2e_cumvol_paced" -> ((s, dir) => runCumvol(s, dir, paced = true)),
    "stream_e2e_rolling" -> ((s, dir) => runRolling(s, dir)),
    "stream_e2e_join" -> ((s, dir) => runJoin(s, dir)),
    // plain DISTINCT over the same pure-function-of-key payload: the
    // streamed dropDuplicates must land on exactly this set
    "stream_e2e_dedup" -> ((s, dir) => runDedup(s, dir)),
    "stream_e2e_session" -> ((s, dir) => runSession(s, dir)),
    "stream_e2e_counts" -> ((s, dir) => runCounts(s, dir)),
    "stream_e2e_enrich" -> ((s, dir) => runEnrich(s, dir)),
    "stream_e2e_asof" -> ((s, dir) => runAsof(s, dir, paced = false)),
    "stream_e2e_funnel" -> ((s, dir) => runFunnel(s, dir)),
    "stream_e2e_asof_paced" -> ((s, dir) => runAsof(s, dir, paced = true)),
    "stream_e2e_topk" -> ((s, dir) => runTopK(s, dir)),
    "stream_e2e_tumbling" -> ((s, dir) => runTumbling(s, dir)),
    "stream_e2e_neardup" -> ((s, dir) => runNearDup(s, dir)),
    "stream_e2e_late" -> ((s, dir) => runLate(s, dir)),
    "stream_e2e_late_audit" -> ((s, dir) => runLateAudit(s, dir)),
    "stream_e2e_meters" -> ((s, dir) => runMeters(s, dir)),
    "stream_e2e_hll" -> ((s, dir) => runHll(s, dir)),
    "stream_e2e_cms" -> ((s, dir) => runCms(s, dir)),
    "stream_e2e_cdc" -> ((s, dir) => runCdc(s, dir)),
    "stream_e2e_quantile" -> ((s, dir) => runQuantile(s, dir)),
    "stream_e2e_bitmap" -> ((s, dir) => runBitmap(s, dir)))

  /** Shared TICK-envelope JSON projection (review finding: seven nearly
    * identical copies had accumulated across the e2e runners — a payload
    * change must happen in ONE place or drift silently). Expects
    * `user_id` and `time_s` on `df`; price/volume/type vary per caller,
    * and row order/partitioning pass through untouched (the cumvol and
    * session runners depend on theirs).
    */
  /** The shared deduped purchase/click tick base every runner feeds
    * from (review finding: eight byte-identical copies of this prelude
    * had accumulated — the tickLines lesson applied to the input side).
    * LWW on (user_id, second) by event_id, exactly the mirrors' deduped
    * `base` CTE.
    */
  private def dedupedTicks(s: SparkSession, dir: String): DataFrame =
    LwwDedup(
      Tables(s, dir, "events")
        .filter(col("event_type").isin("purchase", "click"))
        .withColumn("time_s", expr("unix_micros(ts) div 1000000")),
      Seq(col("user_id"), col("time_s")),
      Seq(col("event_id")))

  /** A one-tick envelope on symbol ZZZ at second `t`: the sentinel or
    * watermark advancer a runner appends after its data files (and
    * filters out of its sink).
    */
  private def advancer(t: Long): String =
    s"""{"topic":"feed","frameType":"TICK","payload":""" +
      s"""{"symbol":"ZZZ","bid":1.0,"price":1.0,"ask":1.0,""" +
      s""""time":$t,"volume":1,"type":"B"}}"""

  private def tickLines(df: DataFrame,
      price: org.apache.spark.sql.Column,
      volume: org.apache.spark.sql.Column,
      typ: org.apache.spark.sql.Column): DataFrame =
    df.select(to_json(struct(
      lit("feed").as("topic"),
      lit("TICK").as("frameType"),
      struct(
        col("user_id").cast("string").as("symbol"),
        price.as("bid"), price.as("price"), price.as("ask"),
        col("time_s").as("time"), volume.as("volume"),
        typ.as("type")).as("payload"))).as("value"))

  /** The reference feed's B/S convention over the events fixture. */
  private def stdType: org.apache.spark.sql.Column =
    when(col("event_type") === "purchase", "B").otherwise("S")

  private def stdVolume: org.apache.spark.sql.Column =
    floor(col("value")).cast("int")

  /** STREAM-STATIC ENRICHMENT end to end (round-5, eighth streaming
    * oracle row): TICK envelopes → envelope source → broadcast join
    * against a STATIC dimension (customer keyed by symbol-as-custkey —
    * the reference-data lookup every live feed runs per row) → LWW
    * sink → read-back vs the batch join. Stateless by construction
    * (the static side re-broadcasts per micro-batch, no state store),
    * so determinism needs only the usual PK pre-dedup; unmatched
    * symbols drop (inner join) on both sides.
    */
  private def runEnrich(s: SparkSession, dir: String): DataFrame = {
    val base = dedupedTicks(s, dir)
    val sp = Spooled(s, tickLines(base, col("value"), stdVolume, stdType),
      "graft_e2e_enr", maxFilesPerTrigger = Some(2))
    val dim = Tables(s, dir, "customer")
      .select(col("c_custkey").cast("string").as("symbol"),
        col("c_nationkey").as("nation"),
        floor(col("c_acctbal") * 100).cast("long").as("bal_cents"))
    val enriched = Pipelines.parseTicks(sp.env).filter(!col("_corrupt"))
      .join(broadcast(dim), Seq("symbol"))
      .select(col("symbol"), col("time"), col("price"),
        col("tradeType"), col("nation"), col("bal_cents"))
    sp.drain(enriched, "append", "feed", "enr", Seq("symbol", "time"))
    LwwSink.read(s, sp.sinkRoot, "feed", "enr")
      .select(col("symbol"), col("time").as("time_s"), col("price"),
        col("tradeType").as("trade_type"), col("nation"), col("bal_cents"))
  }

  /** STREAMING AS-OF ENRICHMENT end to end (round-6, ninth streaming
    * oracle row): quotes and trades interleave in ONE feed (quotes as
    * type-"Q" TICK envelopes — the parse branch passes `type` through,
    * so no schema change) → envelope source →
    * [[graft.streaming.AsofEnrichProcessor]] (transformWithState /
    * RocksDB, ONE last-quote pair per symbol) → each trade emits
    * enriched with the prevailing quote → LWW sink keyed
    * (symbol, time) → read-back vs DuckDB's native ASOF JOIN.
    *
    * This closes the one operator whose streaming face was missing:
    * the batch [[graft.ops.AsofJoin]] union-scan becomes O(symbols)
    * keyed state on arrival — the reference's tick-vs-book use case
    * run live. Determinism legs (cumvol's, plus one): at most one
    * trade per (symbol, second) (pre-dedup) and one quote per
    * (symbol, second) (max-price pre-aggregate — the same reduction on
    * both engines); per-symbol spool-file locality with rows
    * time-sorted inside each file; and the processor's per-batch
    * (time, kind) sort with quotes before trades — the inclusive `<=`
    * tie rule DuckDB's ASOF JOIN applies.
    */
  /** STATEFUL STRICT-WINDOW FUNNEL end to end (round-12, twentieth
    * streaming oracle row): view/click/purchase events ride the
    * envelope's `type` field → [[graft.streaming.FunnelProcessor]]
    * (transformWithState / RocksDB, three set-once longs per user) →
    * LWW upsert keyed by user (stage is monotone, so replays and
    * re-deliveries converge) → read-back rolled up to users-per-stage
    * against the SAME greedy first-touch chain `funnel_strict_window`
    * certifies in batch. Determinism: LWW-dedup to one event per
    * (user, sec) makes the per-user time order total; per-user file
    * locality delivers each key's history in-order to the fold.
    */
  private def runFunnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = LwwDedup(
      Tables(s, dir, "events")
        .filter(col("event_type").isin("view", "click", "purchase"))
        .withColumn("time_s", expr("unix_micros(ts) div 1000000")),
      Seq(col("user_id"), col("time_s")),
      Seq(col("event_id")))
      .repartition(4, col("user_id"))
      .sortWithinPartitions(col("time_s"))
    val sp = Spooled(s, tickLines(base, col("value"), stdVolume,
      col("event_type")), "graft_e2e_funnel",
      repartitionTo = None) // preserve per-user file locality
    val ticks = Pipelines.parseTicks(sp.env).filter(!col("_corrupt"))
      .select(col("symbol"), col("bid"), col("price"), col("ask"),
        col("time"), col("volume"), col("tradeType"))
      .as[graft.model.Schemas.Tick]
    // the batch family's deadline, not a copy (review finding: a
    // FunnelW retune must move the streaming row with it)
    sp.drain(graft.streaming.FunnelProcessor
      .stages(ticks, TemporalQueries.FunnelW).toDF(),
      "append", "feed", "funnel", Seq("symbol"))
    LwwSink.read(s, sp.sinkRoot, "feed", "funnel")
      .groupBy(col("stage")).agg(count(lit(1)).as("n_users"))
  }

  /** Streaming as-of end to end: deduped trades and per-second max-price
    * quotes as TICK envelopes ("Q" = quote) → [[graft.streaming
    * .AsofEnrichProcessor]] → LWW sink keyed (symbol, time) → read-back,
    * against [[asofOracle]]. Not `paced`: each symbol's rows sit in one
    * spool file in (time, kind) order, so a symbol never crosses a
    * micro-batch. `paced`: the spool files are time RANGES read two per
    * micro-batch, so every symbol crosses batch boundaries and a trade
    * can take its quote from the state an earlier batch left; times are
    * non-decreasing across batches for every symbol (a quote and a trade
    * of the same second share a range), and the processor orders each
    * batch by (time, kind) itself.
    */
  private def runAsof(s: SparkSession, dir: String, paced: Boolean): DataFrame = {
    val ev = Tables(s, dir, "events")
    val trades = dedupedTicks(s, dir)
      .select(col("user_id"), col("time_s"), col("value").as("price"),
        stdType.as("typ"), lit(1).as("kind"))
    val quotes = ev.filter(col("event_type") === "view")
      .withColumn("time_s", expr("unix_micros(ts) div 1000000"))
      .groupBy("user_id", "time_s")
      .agg(max(col("value")).as("price"))
      .select(col("user_id"), col("time_s"), col("price"),
        lit("Q").as("typ"), lit(0).as("kind"))
    val both = trades.unionByName(quotes)
    val base =
      if (paced) both.repartitionByRange(4, col("time_s"))
      else both.repartition(4, col("user_id"))
        .sortWithinPartitions(col("time_s"), col("kind"))
    val sp = Spooled(s, tickLines(base, col("price"),
      floor(col("price")).cast("int"), col("typ")),
      if (paced) "graft_e2e_asofp" else "graft_e2e_asof",
      repartitionTo = None, // preserve the file layout chosen above
      maxFilesPerTrigger = if (paced) Some(2) else None)
    sp.drain(graft.streaming.AsofEnrichProcessor.enrich(sp.env).toDF(),
      "append", "feed", "asof", Seq("symbol", "time"))
    LwwSink.read(s, sp.sinkRoot, "feed", "asof")
      .select(col("symbol"), col("time").as("time_s"), col("price"),
        col("tradeType").as("trade_type"),
        col("quoteTime").as("quote_time"),
        col("quotePrice").as("quote_price"))
  }

  /** WATERMARKED TUMBLING-WINDOW aggregation end to end (round-6,
    * eleventh streaming oracle row): the one windowed-agg streaming
    * family the other rows don't cover — `session_window` merges gaps
    * (stream_e2e_session), the rolling row is a custom ring, and the
    * counts row is unbounded update-mode; THIS is the fixed-boundary
    * append-mode `window()` aggregate every metrics pipeline runs.
    * Per (symbol, event-time hour): tick count and volume sum, state
    * expiring by watermark, windows FLUSHED by the same sentinel
    * trick the session row uses (an envelope 2 days past the data
    * advances the watermark so the final no-data micro-batch emits
    * every closed window — without it processAllAvailable drains with
    * all windows still open in the state store). Append mode means
    * each window emits EXACTLY ONCE when it closes; the LWW sink
    * keyed (symbol, h_start) is then a plain insert and the read-back
    * equals the batch date_trunc rollup.
    */
  /** WATERMARK LATE-DATA DROP end to end (16th streaming oracle row).
    * Every other watermark row only certifies that on-time data
    * SURVIVES; this one certifies the drop itself — the semantics that
    * bound state at 100 TB (without eviction, a year-long feed's
    * window state grows forever; the reference's daily HashMap reset,
    * /root/reference/src/main.rs:207-208, is its crude version of the
    * same contract). Spool layout makes the drop deterministic by
    * construction: time-RANGE-partitioned era files (so no era row is
    * ever behind an earlier file's watermark), then ONE far-future
    * advancer file, then straggler files that byte-for-byte re-send
    * the purchase rows with perturbed volumes (×10+7). With
    * maxFilesPerTrigger=1 the advancer COMMITS (watermark update is
    * batch-end) before any straggler enters a batch. Spark keeps TWO
    * watermarks per trigger — late-row FILTERING uses the previous
    * batch's watermark (eventTimeWatermarkForLateEvents) while
    * eviction/emission uses the current one — so one advancer is not
    * enough: the batch right after it still filters with the
    * pre-advancer watermark (measured: exactly the last era day's
    * stragglers leaked). A second advancer file sits between, putting
    * the stragglers TWO batch-generations behind; they then arrive
    * ~99 days behind even the lagging filter watermark and must be
    * dropped before the window state — if the engine admits even one,
    * n_ticks and the perturbed sums shift and the oracle (computed
    * from the on-time era only) hash-fails.
    */
  private def runLate(s: SparkSession, dir: String): DataFrame =
    lateShared(s, dir)._1

  /** Memoized [[runLateCommon]] (review finding): stream_e2e_late and
    * stream_e2e_late_audit consume the TWO halves of one pipeline run
    * — unmemoized, a Verify pass paid the full spool + streaming +
    * watermark-advance job twice, discarding half each time. The
    * GraphQueries pinned-memo pattern; the sink parquet behind the
    * window frame lives for the session (deleteAtExit).
    *
    * Timing/staleness caveat (r12 ADVICE): a second in-session
    * invocation reads the memoized sink parquet, not a fresh pipeline
    * run — irrelevant to Bench, which excludes the whole `stream_*`
    * prefix from timing (`Bench.scala` filters it; StreamBench times
    * the streaming paths with its own fresh-session discipline), but
    * any future harness that re-times stream rows in-session must
    * evict first. An in-place fixture refresh misses the memo: its
    * key carries the fixture dir's stamp (see `SessionCache`).
    */
  private def lateShared(
      s: SparkSession, dir: String): (DataFrame, Long) =
    SessionCache.result(s, dir, "late")(runLateCommon(s, dir))

  /** WATERMARK DROP-COUNT AUDIT (round-12, VERDICT r11 task #6,
    * 21st streaming oracle row): `stream_e2e_late` certifies that the
    * surviving windows carry only on-time data — if a straggler LEAKED
    * the perturbed sums would hash-fail — but nothing certified the
    * drop itself as a count. This row reads the engine's own meter:
    * `numRowsDroppedByWatermark` summed over the run's
    * StreamingQueryProgress state operators must equal EXACTLY the
    * planted straggler count, and the on-time side (sum of emitted
    * window n_ticks) must equal exactly the era row count. Both
    * numbers come out of the live run; the oracle recomputes them from
    * the events table (on-time = the deduped tick base; dropped = one
    * straggler per (purchase user, 30-minute window) — see
    * runLateCommon's construction note on why the meter is
    * group-granular). One admitted straggler or one over-dropped era
    * row moves a count and hash-fails.
    */
  private def runLateAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (windows, dropped) = lateShared(s, dir)
    // coalesce (review finding): sum over an EMPTY window set is
    // null, and the audit must then report on_time_rows = 0 and
    // hash-fail loudly against the oracle — not die in getLong
    val onTime = windows
      .agg(coalesce(sum(col("n_ticks")), lit(0L)))
      .head().getLong(0)
    Seq((onTime, dropped)).toDF("on_time_rows", "dropped_late")
  }

  private def runLateCommon(
      s: SparkSession, dir: String): (DataFrame, Long) = {
    // pinned: THREE separate jobs consume it (spool write, max-second
    // probe, straggler lines) — unpinned, each re-ran the dedup window
    val base = dedupedTicks(s, dir).localCheckpoint()
    // bounded file count at any SF (4 range files, sorted within):
    // per-batch overhead is ~constant, so era batches stay O(1)
    val sp = Spooled(s, tickLines(
      base.repartitionByRange(4, col("time_s"), col("user_id"))
        .sortWithinPartitions("time_s", "user_id"),
      col("value"), stdVolume, stdType), "graft_e2e_late",
      repartitionTo = None,
      maxFilesPerTrigger = Some(1)) // load-bearing, see scaladoc
    val maxSec = base.agg(max(col("time_s"))).head().getLong(0)
    // two advancer batches: the second exists solely so the straggler
    // batch's LAGGING filter watermark already includes the first
    sp.append(advancer(maxSec + 100 * 86400))
    sp.append(advancer(maxSec + 100 * 86400 + 60))
    // ONE straggler per (user, 30-minute window), not one per purchase
    // row: the engine's late-row meter (`numRowsDroppedByWatermark`)
    // sits BEHIND map-side partial aggregation, so it counts dropped
    // PARTIAL GROUPS — with multiple same-group stragglers the count
    // would also depend on how the file splits across map tasks
    // (same-group rows in different tasks produce separate partials).
    // One row per group makes the meter row-exact and its oracle
    // partition-independent (measured: 1981 raw purchase rows at
    // sf0.01 metered as exactly their 1972 distinct groups). Volumes
    // are perturbed (×10+7) so a leaked straggler still hash-fails
    // `stream_e2e_late`'s window sums, and all-B type keeps the
    // payload era-shaped.
    val lateLines = tickLines(
      base.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"),
          (col("time_s") - pmod(col("time_s"), lit(1800L))).as("_w"))
        .agg(max(col("time_s")).as("time_s"), max(col("value")).as("value")),
      col("value"), (floor(col("value")) * 10 + 7).cast("int"), lit("B"))
    sp.moveIn(graft.source.SpoolWriter.write(lateLines,
      sp.work.resolve("late"), repartitionTo = Some(1)))
    val agg = Pipelines.parseTicks(sp.env).filter(!col("_corrupt"))
      .withColumn("ts", timestamp_seconds(col("time")))
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "30 minutes").as("w"), col("symbol"))
      .agg(count(lit(1)).as("n_ticks"),
        sum(col("volume").cast("long")).as("sum_vol"))
      .select(col("symbol"), col("w.start").as("w_start"),
        col("n_ticks"), col("sum_vol"))
    val q = sp.drain(agg, "append", "feed", "late",
      Seq("symbol", "w_start"), _.filter(col("symbol") =!= "ZZZ"))
    // the engine's own late-row meter, summed across every micro-batch
    // of the run (well under the 100-progress retention default)
    val dropped = q.recentProgress
      .map(p => p.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum
    (LwwSink.read(s, sp.sinkRoot, "feed", "late")
      .select(col("symbol"), col("w_start"), col("n_ticks"),
        col("sum_vol")), dropped)
  }

  /** PIPELINE METER AUDIT (round-14, VERDICT r13 task #4): the
    * PRODUCTION assembly ([[Pipelines.start]], tick mode) run through
    * a corrupt + late + CHECKPOINT-RESTART scenario, with the
    * [[graft.streaming.PipelineMeters]] listener's accumulated
    * (rows, corrupt, dropped_late, on_time) counters as the
    * oracle-checked OUTPUT. `stream_e2e_late_audit` certifies the
    * engine's raw watermark meter on a bare windowed query; this row
    * certifies the deployment-facing meter surface itself — name-keyed
    * accumulation across a restart, batchId replay dedup, K5 corrupt
    * quarantine counting — against counts DuckDB recomputes from the
    * events fixture alone.
    *
    * Construction (everything a pure function of the events table):
    *   - era: the deduped tick base — all on-time;
    *   - corrupt: ONE volume-less line per deduped PURCHASE row
    *     (`to_json` drops null fields, so the strict serde contract
    *     fails each — K5 quarantine, metered `corrupt`);
    *   - two advancer envelopes (symbol ZZZ, ~100 days ahead) commit
    *     alone to advance the one-batch-lagging filter watermark —
    *     see runLateCommon's scaladoc for why one is not enough;
    *   - incarnation 2, restarted from the checkpoint, receives ONE
    *     straggler per purchase USER (one row per symbol key of the
    *     stateful operator, so the drop count is exact under either
    *     row- or group-granular metering), ~100 days behind the recovered
    *     watermark — every one must be dropped AND metered.
    * The meter must read rows = era + corrupt + 2 + stragglers,
    * corrupt = purchase rows, dropped_late = purchase users, on_time
    * = era + 2; one admitted straggler, one double-counted replay
    * batch, or one unquarantined corrupt row moves a count and
    * hash-fails.
    */
  private def runMeters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // pinned: four jobs consume it (era spool, corrupt spool,
    // max-second probe, straggler spool)
    val base = dedupedTicks(s, dir).localCheckpoint()
    // era files RANGE-partitioned on time and consumed in file-name
    // (= time) order: with one file per trigger the watermark advances
    // monotonically and drops NO era row. A round-robin split makes
    // every file span the whole era, so batch 1 advances the watermark
    // past most of batches 2-4 (measured: 1935 era rows metered as
    // dropped) — the same construction rule runLateCommon documents.
    val sp = Spooled(s,
      tickLines(base.repartitionByRange(4, col("time_s"), col("user_id"))
        .sortWithinPartitions("time_s", "user_id"),
        col("value"), stdVolume, stdType), "graft_e2e_meters",
      repartitionTo = None,
      maxFilesPerTrigger = Some(1)) // advancers commit alone
    val maxSec = base.agg(max(col("time_s"))).head().getLong(0)
    // corrupt lines: era-shaped but volume-less (null volume → the
    // field is absent from the JSON → strict serde quarantines it)
    sp.moveIn(graft.source.SpoolWriter.write(
      tickLines(base.filter(col("event_type") === "purchase"),
        col("value"), lit(null).cast("int"), stdType),
      sp.work.resolve("corrupt"), repartitionTo = Some(1)))
    sp.append(advancer(maxSec + 100 * 86400))
    sp.append(advancer(maxSec + 100 * 86400 + 60))
    // stragglers staged OUTSIDE the spool until incarnation 2
    val lateSpool = graft.source.SpoolWriter.write(
      tickLines(base.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(max(col("time_s")).as("time_s"), max(col("value")).as("value")),
        col("value"), (floor(col("value")) * 10 + 7).cast("int"), lit("B")),
      sp.work.resolve("late"), repartitionTo = Some(1))
    graft.streaming.PipelineMeters.withTickWatermark(s, "1 day") { meters =>
      def run(): Unit = {
        sp.drainPipeline("tick")
        org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(s)
      }
      run() // incarnation 1: era + corrupt + both advancers
      sp.moveIn(lateSpool)
      run() // incarnation 2: stragglers only, from the checkpoint
      val m = meters(s"graft_tick:${sp.sinkRoot}")
      Seq((m.rows, m.corrupt, m.droppedLate, m.onTime))
        .toDF("n_rows", "n_corrupt", "n_dropped_late", "n_on_time")
    }
  }

  private def runTumbling(s: SparkSession, dir: String): DataFrame = {
    val base = dedupedTicks(s, dir)
    val sp = Spooled(s, tickLines(base.orderBy(col("time_s"), col("user_id")),
      col("value"), stdVolume, stdType), "graft_e2e_tum",
      repartitionTo = None,
      maxFilesPerTrigger = Some(4)) // state lives across batches
    val maxSec = base.agg(max(col("time_s"))).head().getLong(0)
    sp.append(advancer(maxSec + 2 * 86400))
    val agg = Pipelines.parseTicks(sp.env).filter(!col("_corrupt"))
      .withColumn("ts", timestamp_seconds(col("time")))
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("symbol"))
      .agg(count(lit(1)).as("n_ticks"),
        sum(col("volume").cast("long")).as("sum_vol"))
      .select(col("symbol"), col("w.start").as("h_start"),
        col("n_ticks"), col("sum_vol"))
    sp.drain(agg, "append", "feed", "tum", Seq("symbol", "h_start"),
      _.filter(col("symbol") =!= "ZZZ"))
    LwwSink.read(s, sp.sinkRoot, "feed", "tum")
      .select(col("symbol"), col("h_start"), col("n_ticks"),
        col("sum_vol"))
  }

  /** STREAMING TOP-K end to end (round-6, tenth streaming oracle row):
    * TICK envelopes → envelope source paced to multiple micro-batches
    * → [[graft.streaming.TopKProcessor]] (transformWithState /
    * RocksDB, k=5 (price, time) pairs per symbol — the bounded-
    * priority state shape none of the other nine rows exercise) →
    * every batch re-emits each touched symbol's full current top-k →
    * LWW sink keyed (symbol, rank) → read-back vs the batch
    * row_number top-5. Determinism: the merge is a monotone set fold
    * over pre-deduped (symbol, second) ticks (see the processor's
    * Scaladoc), so batching and arrival order are unobservable.
    */
  private def runTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = dedupedTicks(s, dir)
    val sp = Spooled(s, tickLines(base, col("value"), stdVolume, stdType),
      "graft_e2e_topk",
      maxFilesPerTrigger = Some(2)) // several update emissions
    val ticks = Pipelines.parseTicks(sp.env).filter(!col("_corrupt"))
      .select(col("symbol"), col("time"), col("price"))
      .as[graft.streaming.TopKProcessor.TickIn]
    sp.drain(ticks.groupByKey(_.symbol)
      .transformWithState(new graft.streaming.TopKProcessor(5),
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
      .toDF(), "update", "feed", "topk", Seq("symbol", "rank"))
    LwwSink.read(s, sp.sinkRoot, "feed", "topk")
      .select(col("symbol"), col("rank"), col("price"),
        col("time").as("time_s"))
  }

  /** UNBOUNDED streaming aggregation end to end (round-5, seventh
    * streaming oracle row): raw TICK envelopes → envelope source paced
    * to multiple micro-batches → global `groupBy(type)` running totals
    * in UPDATE mode (no watermark — the state never expires, the
    * grow-forever aggregation family the other six rows don't cover) →
    * LWW sink upsert per emitted key → read-back vs a plain batch
    * GROUP BY. Update mode re-emits a key's CURRENT total whenever a
    * batch touches it, and the PK upsert makes replays and multi-batch
    * pacing converge to the same final row set — order-independence
    * comes from the aggregation algebra (counts/sums of ints), so the
    * spool needs no dedup and no time sorting.
    */
  private def runCounts(s: SparkSession, dir: String): DataFrame = {
    val sp = Spooled(s, tickLines(
      Tables(s, dir, "events")
        .filter(col("event_type").isin("purchase", "click"))
        .withColumn("time_s", expr("unix_micros(ts) div 1000000")),
      col("value"), stdVolume, stdType), "graft_e2e_cnt",
      maxFilesPerTrigger = Some(2)) // several update emissions
    val agg = Pipelines.parseTicks(sp.env).filter(!col("_corrupt"))
      .groupBy(col("tradeType").as("trade_type"))
      .agg(count(lit(1)).as("n_ticks"),
        sum(col("volume").cast("long")).as("sum_vol"))
    sp.drain(agg, "update", "feed", "cnt", Seq("trade_type"))
    LwwSink.read(s, sp.sinkRoot, "feed", "cnt")
      .select(col("trade_type"), col("n_ticks"), col("sum_vol"))
  }

  /** STREAMING SESSION WINDOWS end to end (round-5, sixth streaming
    * oracle row): TICK envelopes → envelope source → watermarked
    * `session_window` aggregation (append mode — a session row emits
    * only once the watermark proves no more events can join it) → LWW
    * sink keyed (symbol, session start) → read-back vs the batch
    * gaps-and-islands oracle.
    *
    * The append-mode mechanics are the point: a SENTINEL envelope two
    * days past the data (separate trailing spool file, filtered from
    * the sink) advances the event-time watermark past every real
    * session's end, and Spark's no-data micro-batch then flushes the
    * finalized state — without the sentinel, processAllAvailable would
    * drain with every session still unemitted in the store. The
    * sentinel's own session stays unfinalized in state and never
    * reaches the sink. Late-drop safety: everything admits in one
    * batch (watermark is still -∞ during it), so no real tick can be
    * late; the pre-dedup makes session row counts arrival-independent.
    */
  private def runSession(s: SparkSession, dir: String): DataFrame = {
    val base = dedupedTicks(s, dir)
    val sp = Spooled(s, tickLines(base.orderBy(col("time_s"), col("user_id")),
      col("value"), stdVolume, stdType), "graft_e2e_sess",
      repartitionTo = None)
    // sentinel: one envelope 2 days past the data maximum, in a file
    // that sorts AFTER every writer-produced one
    val maxSec = base.agg(max(col("time_s"))).head().getLong(0)
    sp.append(advancer(maxSec + 2 * 86400))
    val sess = Pipelines.parseTicks(sp.env).filter(!col("_corrupt"))
      .withColumn("ts", timestamp_seconds(col("time")))
      .withWatermark("ts", "1 day")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"),
        col("symbol"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("symbol"), col("w.start").as("s_start"),
        col("w.end").as("s_end"), col("n_events"))
    sp.drain(sess, "append", "feed", "sess", Seq("symbol", "s_start"),
      _.filter(col("symbol") =!= "ZZZ"))
    LwwSink.read(s, sp.sinkRoot, "feed", "sess")
      .select(col("symbol"), col("s_start"), col("s_end"), col("n_events"))
  }

  /** STREAMING DEDUPLICATION end to end (round-5, fifth streaming oracle
    * row): duplicate-bearing TICK envelopes → envelope source paced to
    * MULTIPLE micro-batches (maxFilesPerTrigger) → watermarked
    * `dropDuplicates` (the stateful streaming dedup operator, state
    * expired by the 1-day watermark) → LWW sink → read-back vs a plain
    * DISTINCT oracle. Unlike the other four rows, the duplicates are NOT
    * pre-scrubbed — removing them IS the operator under test.
    *
    * Determinism legs: (a) every payload field is a pure function of the
    * dedup key (user, second), so WHICH duplicate wins is unobservable;
    * (b) the spool is globally time-sorted (orderBy → range-partitioned
    * part files renamed in order, rows sorted within each), so a
    * later-batch FIRST instance can never be behind the watermark —
    * only true duplicates can be late-dropped, and dropping a duplicate
    * is exactly the operator's job either way.
    */
  private def runDedup(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir, "events")
      .filter(col("event_type").isin("purchase", "click"))
      .withColumn("time_s", expr("unix_micros(ts) div 1000000"))
      .withColumn("pseudo_price",
        ((col("user_id") * 31 + col("time_s") % 86400L) % 1000L)
          .cast("double") / 10.0)
      .withColumn("pseudo_vol",
        ((col("user_id") + col("time_s")) % 100L).cast("int"))
    val sp = Spooled(s, tickLines(
      base.orderBy(col("time_s"), col("user_id"), col("event_id")),
      col("pseudo_price"), col("pseudo_vol"),
      when(col("user_id") % 2 === 0, "B").otherwise("S")), "graft_e2e_dd",
      repartitionTo = None, // keep the global time-sorted file sequence
      maxFilesPerTrigger = Some(4)) // force cross-batch dedup state
    val dedup = Pipelines.parseTicks(sp.env).filter(!col("_corrupt"))
      .withColumn("ts", timestamp_seconds(col("time")))
      .withWatermark("ts", "1 day")
      .dropDuplicates("symbol", "ts")
    sp.drain(dedup, "append", "feed", "dedup", Seq("symbol", "time"),
      _.select(col("symbol"), col("time"), col("price"),
        col("volume"), col("tradeType")))
    LwwSink.read(s, sp.sinkRoot, "feed", "dedup")
      .select(col("symbol"), col("time").as("time_s"), col("price"),
        col("volume"), col("tradeType").as("trade_type"))
  }

  /** The STATEFUL path end to end: TICK envelopes → envelope source →
    * parse → keyed cumulative state (A1+A2: per-(symbol, UTC-day)
    * running buy/sell totals) → LWW sink → read-back, against a DuckDB
    * window-function oracle. Both feeds are pre-deduped to one tick per
    * (symbol, second), and the processor stable-sorts each batch by
    * time. Not `paced`: a symbol's envelopes all sit in ONE spool file
    * in time order (hash partition by symbol + sort within partitions,
    * preserved through the narrow to_json projection and `repartitionTo
    * = None`), so any admission pacing keeps a symbol inside a single
    * micro-batch. `paced`: the spool files are time RANGES read two per
    * micro-batch, so every symbol crosses batch boundaries (day
    * rollovers included) and the state store carries its sums; a
    * symbol's times are non-decreasing across batches by construction.
    */
  private def runCumvol(s: SparkSession, dir: String, paced: Boolean): DataFrame = {
    val ticks = dedupedTicks(s, dir)
    val base =
      if (paced) ticks.repartitionByRange(4, col("time_s"))
      else ticks.repartition(4, col("user_id"))
        .sortWithinPartitions(col("time_s"))
    val sp = Spooled(s, tickLines(base, col("value"), stdVolume, stdType),
      if (paced) "graft_e2e_cvp" else "graft_e2e_cv",
      repartitionTo = None, // preserve the file layout chosen above
      maxFilesPerTrigger = if (paced) Some(2) else None)
    sp.drainPipeline("tick")
    LwwSink.read(s, sp.sinkRoot, "feed", "tick")
      .select(col("symbol"), col("time").as("time_s"), col("volume"),
        col("tradeType").as("trade_type"),
        col("cumbuy"), col("cumsell"), col("cumdelta"))
  }

  /** The BOUNDED-WINDOW stateful path end to end (round-5, third
    * streaming oracle row): TICK envelopes → envelope source → parse →
    * [[graft.streaming.RollingStatsProcessor]] (per-symbol 24-event
    * ring on RocksDB/transformWithState, emitting |z| > 2σ anomalies)
    * → LWW sink keyed (symbol, time) → read-back, against the batch
    * rolling-window DuckDB oracle. Same determinism legs as cumvol
    * (pre-dedup to one tick per (symbol, second); per-symbol spool-file
    * locality; the processor's stable per-batch (ts, id) sort), plus
    * the ring itself carrying the frame across micro-batch boundaries.
    */
  private def runRolling(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = dedupedTicks(s, dir)
      .repartition(4, col("user_id"))
      .sortWithinPartitions(col("time_s"))
    val sp = Spooled(s, tickLines(base, col("value"), stdVolume, stdType),
      "graft_e2e_roll",
      repartitionTo = None) // preserve per-symbol file locality
    val evs = Pipelines.parseTicks(sp.env)
      .filter(!col("_corrupt"))
      .select(
        col("symbol").cast("long").as("userId"),
        // the deduped (symbol, second) PK makes `time` the row id
        col("time").as("eventId"),
        (col("time") * 1000000L).as("tsUs"),
        col("price").as("value"),
        floor(col("price") * 1e9).cast("long").as("q"),
        floor(col("price") * col("price") * 1e9).cast("long").as("q2"))
      .as[graft.streaming.RollingStatsProcessor.Ev]
    sp.drain(evs.groupByKey(_.userId)
      .transformWithState(new graft.streaming.RollingStatsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append())
      .toDF(), "append", "feed", "roll", Seq("symbol", "time"),
      _.select(
        col("userId").cast("string").as("symbol"),
        col("eventId").as("time"),
        col("nFrame").as("n_frame"),
        col("value"), col("mean")))
    LwwSink.read(s, sp.sinkRoot, "feed", "roll")
      .select(col("symbol"), col("time").as("time_s"),
        col("n_frame"), col("value"), col("mean"))
  }

  /** The STREAM-STREAM JOIN path end to end (round-5, fourth streaming
    * oracle row): one spool carrying BOTH envelope kinds → the two
    * parse branches of a single source instance →
    * [[graft.streaming.StreamJoins.tickWithRecentBook]] (watermarked
    * interval join, 1-day lag) → LWW sink keyed on the pair PK →
    * read-back, against a plain interval-join DuckDB oracle.
    *
    * Determinism leg specific to the join: the spool is ONE file, so
    * each source instance admits everything in a single micro-batch —
    * the watermark cannot advance between batches and drop
    * cross-batch matches as late. (The cumvol/rolling queries tolerate
    * multi-batch admission because their per-key state carries over;
    * an interval join's output SET depends on what the watermark has
    * already evicted, so completeness needs the one-batch guarantee.)
    * Both join inputs are pre-deduped on their sink PKs, so the joined
    * pair PK (symbol, tick_time, book_time, book_price) is unique and
    * replay-idempotent.
    */
  private def runJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val tickBase = LwwDedup(
      ev.filter(col("event_type").isin("purchase", "click"))
        .withColumn("time_s", expr("unix_micros(ts) div 1000000")),
      Seq(col("user_id"), col("time_s")),
      Seq(col("event_id")))
    val bookBase = LwwDedup(
      ev.filter(col("event_type") === "view")
        .withColumn("time_s", expr("unix_micros(ts) div 1000000")),
      Seq(col("user_id"), col("time_s"), col("value")),
      Seq(col("event_id")))
    val tickJson = tickLines(tickBase, col("value"), stdVolume, stdType)
    val bookLines = bookBase.select(to_json(struct(
      lit("feed").as("topic"),
      lit("BOOK").as("frameType"),
      array(struct(
        col("user_id").cast("string").as("symbol"),
        col("value").as("price"),
        col("time_s").as("time"),
        floor(col("value")).cast("int").as("volume"),
        lit("BOOK_TYPE_VIEW").as("type"))).as("payload"))).as("value"))
    val sp = Spooled(s, tickJson.unionByName(bookLines), "graft_e2e_join",
      repartitionTo = Some(1))
    val ticks = Pipelines.parseTicks(sp.env).filter(!col("_corrupt"))
      .select("symbol", "bid", "price", "ask", "time", "volume", "tradeType")
    val books = Pipelines.parseBooks(sp.env).filter(!col("_corrupt"))
      .select("symbol", "price", "time", "volume", "orderType")
    val joined = graft.streaming.StreamJoins.tickWithRecentBook(
      ticks, books, lagSeconds = 86400)
    sp.drain(joined, "append", "feed", "tickbook",
      Seq("symbol", "tick_time", "book_time", "book_price"))
    LwwSink.read(s, sp.sinkRoot, "feed", "tickbook")
      .select(col("symbol"), col("tick_time"), col("tick_price"),
        col("tick_volume"), col("tradeType").as("trade_type"),
        col("book_time"), col("book_price"), col("book_volume"),
        col("orderType").as("order_type"))
  }

  private def run(s: SparkSession, dir: String): DataFrame = {
    // 1. Feed-adapter analog: events → one single-level BOOK envelope
    //    each, PK-unique per (symbol, time-second, price) so LWW output
    //    is order-independent (see scaladoc). `time` is epoch SECONDS —
    //    the reference's ingest unit (Schemas scaladoc, main.rs:109).
    val base = LwwDedup(
      Tables(s, dir, "events")
        .withColumn("time_s", expr("unix_micros(ts) div 1000000")),
      Seq(col("user_id"), col("time_s"), col("value")),
      Seq(col("event_id")))
    val lines = base.select(to_json(struct(
      lit("feed").as("topic"),
      lit("BOOK").as("frameType"),
      array(struct(
        col("user_id").cast("string").as("symbol"),
        col("value").as("price"),
        col("time_s").as("time"),
        floor(col("value")).cast("int").as("volume"),
        concat(lit("BOOK_TYPE_"), upper(col("event_type"))).as("type")))
        .as("payload"))).as("value"))

    // 2. Spool: monotone-named immutable .jsonl files (the source's
    //    writer contract), written distributed then renamed into place.
    val sp = Spooled(s, lines, "graft_e2e")

    // 3. Stream spool → book pipeline → LWW sink; drain; read back.
    sp.drainPipeline("book")
    LwwSink.read(s, sp.sinkRoot, "feed", "book")
      .select(col("symbol"), col("price"), col("time").as("time_s"),
        col("volume"), col("orderType").as("order_type"))
  }

  /** STREAMING NEAR-DUP end to end (round-9, twelfth streaming oracle
    * row): the `documents` corpus as DOC envelopes → envelope source
    * paced to multiple micro-batches → stateless MinHash band
    * signatures (the SAME native kernel as the batch arm,
    * [[graft.ops.MinHashLSH.signatures]]) → [[graft.streaming
    * .LshBucketProcessor]] (transformWithState / RocksDB, keyed by
    * (band, signature) bucket — incremental dedup at ingest: each new
    * doc pairs against its bucket's live membership, never the corpus)
    * → LWW sink keyed (doc_a, doc_b), whose PK upsert collapses
    * multi-band re-emissions exactly as the batch arm's `distinct()`
    * does → read-back vs the batch MinHash-LSH oracle — shared
    * VERBATIM with `dedup_minhash_pairs`, so the streaming and batch
    * arms certify against one query. Determinism: the processor's
    * emission union is C(final bucket membership, 2) under any
    * file→batch grouping (see its scaladoc), and signatures are pure
    * per-document functions, so pacing is unobservable.
    */
  private def runNearDup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val lines = docs.select(to_json(struct(
      lit("docs").as("topic"),
      lit("DOC").as("frameType"),
      struct(col("doc_id"), col("text")).as("payload"))).as("value"))
    val sp = Spooled(s, lines, "graft_e2e_nd",
      maxFilesPerTrigger = Some(1)) // buckets fill across batches
    sp.drain(graft.streaming.LshBucketProcessor.pairs(sp.env), "update",
      "docs", "neardup", Seq("doc_a", "doc_b"))
    LwwSink.read(s, sp.sinkRoot, "docs", "neardup")
      .select(col("doc_a"), col("doc_b"))
  }

  /** STREAMING LOG-BUCKET QUANTILE SKETCH end to end (round-9): raw
    * TICK envelopes → γ = 2^(1/4) bucket ids computed SCAN-SIDE inside
    * the stream (the agg_ddsketch_quantile arithmetic — integer-exact
    * msb via bin(), shift/mask sub-bucket) → per-(type, bucket) counts
    * as an update-mode streaming aggregation → LWW sink keyed
    * (g, bucket) → batch read-back picks p50/p95 off the cumulative
    * counts. The monitoring shape this certifies: latency/price
    * quantiles maintained AT INGEST in ≤ 4·64 counters per group and
    * never re-scanning history; counts are SUMS, so like the CMS row
    * this also certifies checkpointed exactly-once aggregation (a
    * replayed envelope would shift a bucket count and the hash). The
    * oracle rebuilds the identical sketch from the full row set in one
    * batch pass — a hash match proves count-merge across micro-batches
    * ≡ one-shot bucketing.
    */
  private def runQuantile(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir, "events")
      .filter(col("event_type").isin("purchase", "click"))
      .withColumn("time_s", expr("unix_micros(ts) div 1000000"))
    val sp = Spooled(s, tickLines(base, col("value"), stdVolume, stdType),
      "graft_e2e_quantile",
      maxFilesPerTrigger = Some(2)) // counts accumulate across batches
    val regs = Pipelines.parseTicks(sp.env).filter(!col("_corrupt"))
      .select(col("tradeType").as("g"),
        expr("CAST(floor(price * 100) AS BIGINT)").as("v"))
      .withColumn("msb", graft.ops.Bits.floorLog2(col("v")))
      .withColumn("bucket",
        when(col("msb") >= 2,
          col("msb") * 4 +
            expr("CAST((shiftright(v, msb - 2) & 3) AS INT)"))
        .otherwise(col("v").cast("int")))
      .groupBy("g", "bucket").agg(count(lit(1)).as("c"))
    sp.drain(regs, "update", "feed", "quant", Seq("g", "bucket"))
    val W = org.apache.spark.sql.expressions.Window
    val cum = LwwSink.read(s, sp.sinkRoot, "feed", "quant")
      .select(col("g"), col("bucket"), col("c"))
      .withColumn("cum",
        sum(col("c")).over(W.partitionBy("g").orderBy("bucket")))
      .withColumn("n", sum(col("c")).over(W.partitionBy("g")))
    val qdf = s.range(1).select(explode(array(
      struct(lit("p50").as("q"), lit(1L).as("qn"), lit(2L).as("qd")),
      struct(lit("p95").as("q"), lit(19L).as("qn"), lit(20L).as("qd"))))
      .as("x")).select(col("x.*"))
    cum.crossJoin(broadcast(qdf))
      .filter(col("cum") >= expr("(n * qn + qd - 1) DIV qd"))
      .groupBy("g", "q", "n")
      .agg(min(col("bucket")).as("bucket"))
      .select(col("g").as("trade_type"), col("q"),
        col("n").as("n_rows"), col("bucket"),
        when(col("bucket") >= 8, expr(
          "shiftleft(CAST(4 + bucket % 4 AS BIGINT), bucket DIV 4 - 2)"))
          .otherwise(col("bucket").cast("bigint")).as("est_cents"))
  }

  /** STREAMING EXACT-DISTINCT BITMAP end to end (round-9): the exact
    * tier next to stream_e2e_hll's sketch tier — per (type, word)
    * bit_or of one-hot symbol longs as an update-mode streaming
    * aggregation → LWW sink keyed (g, w) → read-back sums bit_counts.
    * Like HLL's register max (and unlike CMS/quantile COUNTS), OR is
    * IDEMPOTENT, so this row certifies the algebra that makes bitmap
    * state replay-tolerant by construction; state is O(ids/64) words
    * per group — the exact-distinct dashboard a stream keeps when the
    * id domain is dense enough to afford it.
    */
  private def runBitmap(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir, "events")
      .filter(col("event_type").isin("purchase", "click"))
      .withColumn("time_s", expr("unix_micros(ts) div 1000000"))
    val sp = Spooled(s, tickLines(base, col("value"), stdVolume, stdType),
      "graft_e2e_bitmap",
      maxFilesPerTrigger = Some(2)) // bitmaps build across batches
    val regs = Pipelines.parseTicks(sp.env).filter(!col("_corrupt"))
      .select(col("tradeType").as("g"),
        col("symbol").cast("long").as("v"))
      .select(col("g"), expr(graft.ops.Bits.wordOf("v")).as("w"),
        graft.ops.Bits.oneHot(col("v")).as("b"))
      .groupBy("g", "w").agg(expr("bit_or(b)").as("bits"))
    sp.drain(regs, "update", "feed", "bitmap", Seq("g", "w"))
    LwwSink.read(s, sp.sinkRoot, "feed", "bitmap")
      .groupBy(col("g").as("trade_type"))
      .agg(sum(expr("bit_count(bits)")).as("n_distinct"))
  }

  /** STREAMING CDC APPLY (round-9, fifteenth streaming oracle row):
    * I/U/D change ops at ingest — the streaming face of
    * `cdc_merge_apply`. Ops ride the envelope's type field
    * (signup→I, error→D tombstone, rest→U); an update-mode argmax per
    * key (max_by over the unique (time) version after per-(key,
    * second) pre-dedup) keeps ONE latest-op row per key in the state
    * store, each micro-batch upserting only touched keys; tombstones
    * are RETAINED in the register table and dropped at READ — exactly
    * the Cassandra model the reference writes into (a delete IS a
    * tombstone write that wins by timestamp and disappears at
    * compaction; the reference's main.rs:87 can only ever upsert,
    * so this is the op it cannot express). Determinism: argmax over a
    * totally ordered version is pacing- and restart-independent — the
    * final upsert for a key is its global latest op however the spool
    * files batch. State is one row per live key; nothing rescans.
    */
  private[graft] def cdcLatest(env: DataFrame): DataFrame =
    Pipelines.parseTicks(env).filter(!col("_corrupt"))
      .groupBy(col("symbol"))
      .agg(max_by(struct(col("time"), col("price"), col("tradeType")),
        col("time")).as("w"))
      .select(col("symbol"), col("w.time").as("time"),
        col("w.price").as("price"), col("w.tradeType").as("op"))

  private def runCdc(s: SparkSession, dir: String): DataFrame = {
    val base = LwwDedup(
      Tables(s, dir, "events")
        .withColumn("time_s", expr("unix_micros(ts) div 1000000")),
      Seq(col("user_id"), col("time_s")), Seq(col("event_id")))
      .withColumn("pseudo_price",
        ((col("user_id") * 31 + col("time_s") % 86400L) % 1000L)
          .cast("double") / 10.0)
    val op = when(col("event_type") === "signup", "I")
      .when(col("event_type") === "error", "D").otherwise("U")
    val sp = Spooled(s, tickLines(base, col("pseudo_price"), stdVolume, op),
      "graft_e2e_cdc",
      maxFilesPerTrigger = Some(2)) // ops fold across batches
    sp.drain(cdcLatest(sp.env), "update", "feed", "cdc", Seq("symbol"))
    LwwSink.read(s, sp.sinkRoot, "feed", "cdc")
      .filter(col("op") =!= "D") // tombstone purge at compaction/read
      .select(col("symbol"), col("time").as("time_s"), col("price"),
        col("op"))
  }

  /** STREAMING HLL SKETCH end to end (round-9, thirteenth streaming
    * oracle row): raw TICK envelopes → envelope source paced to
    * multiple micro-batches → the SAME register pipeline as the batch
    * arm ([[graft.ops.Hll.registers]]: native raw60 hash → bucket →
    * max-ρ, an update-mode streaming aggregation, state bounded at
    * M registers × groups) → LWW sink keyed (g, bucket) → read-back
    * registers folded by [[graft.ops.Hll.estimate]] vs the batch
    * DuckDB HLL mirror. Cardinality monitoring AT INGEST — the
    * 100 TB shape: leaf registers maintained streaming, estimates
    * read off the register table without ever re-scanning data.
    *
    * Determinism needs NO pre-dedup, NO sorting, NO sentinel — the
    * only e2e row with zero determinism scaffolding — because HLL
    * registers are max-merged: duplication, arrival order, and
    * file→batch grouping are all absorbed by the algebra (max is
    * idempotent, commutative, associative), and update-mode re-emits
    * each touched register's CURRENT max, which the PK upsert
    * converges to the global max. That algebraic absorption is the
    * point being certified.
    */
  private def runHll(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir, "events")
      .filter(col("event_type").isin("purchase", "click"))
      .withColumn("time_s", expr("unix_micros(ts) div 1000000"))
    val sp = Spooled(s, tickLines(base, col("value"), stdVolume, stdType),
      "graft_e2e_hll",
      maxFilesPerTrigger = Some(2)) // registers build across batches
    val ticks = Pipelines.parseTicks(sp.env).filter(!col("_corrupt"))
    val regs = graft.ops.Hll.registers(
      ticks.toDF(), col("tradeType"), col("symbol"))
    sp.drain(regs, "update", "feed", "hll", Seq("g", "bucket"))
    graft.ops.Hll.estimate(
        LwwSink.read(s, sp.sinkRoot, "feed", "hll")
          .select(col("g"), col("bucket"), col("m_j")))
      .select(col("g").as("trade_type"), col("n_set"), col("s_total"),
        col("est_distinct"))
  }

  /** STREAMING COUNT-MIN SKETCH end to end (round-9, fourteenth
    * streaming oracle row): raw TICK envelopes → Depth×Width register
    * COUNTS maintained as an update-mode streaming aggregation → LWW
    * sink keyed (d, cell) → read-back registers probed with the top-10
    * symbols (batch side, same derivation) vs the batch CMS mirror.
    * The complement of `stream_e2e_hll`'s determinism leg: HLL's
    * register max is IDEMPOTENT (duplication is absorbed by algebra),
    * while CMS registers are SUMS — every envelope row must count
    * exactly once across micro-batches and restarts, so this row
    * certifies the engine's checkpointed exactly-once aggregation
    * rather than algebraic absorption. State is bounded at
    * Depth × Width cells regardless of stream length — frequency
    * monitoring at ingest with estimates probed off the register
    * table, never re-scanning data.
    */
  private def runCms(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.{CountMin, TextHash}
    val base = Tables(s, dir, "events")
      .filter(col("event_type").isin("purchase", "click"))
      .withColumn("time_s", expr("unix_micros(ts) div 1000000"))
    val sp = Spooled(s, tickLines(base, col("value"), stdVolume, stdType),
      "graft_e2e_cms",
      maxFilesPerTrigger = Some(2)) // counts accumulate across batches
    val regs = Pipelines.parseTicks(sp.env).filter(!col("_corrupt"))
      .select(TextHash.h31(col("symbol")).as("h"))
      .select(posexplode(CountMin.cells(col("h"))).as(Seq("i", "dc")))
      .groupBy(col("dc.d").as("d"), col("dc.cell").as("cell"))
      .agg(count(lit(1)).as("n"))
    sp.drain(regs, "update", "feed", "cms", Seq("d", "cell"))
    // probe side (batch, same symbol derivation): top-10 true counts,
    // estimate = min over the symbol's Depth cells in the STREAMED
    // register table
    val top = base
      .select(col("user_id").cast("string").as("symbol"))
      .groupBy("symbol").agg(count(lit(1)).as("n_true"))
      .orderBy(col("n_true").desc, col("symbol")).limit(10)
      .withColumn("h", TextHash.h31(col("symbol")))
    val probes = top
      .select(col("symbol"), col("n_true"),
        posexplode(CountMin.cells(col("h"))).as(Seq("i", "dc")))
      .select(col("symbol"), col("n_true"),
        col("dc.d").as("d"), col("dc.cell").as("cell"))
    LwwSink.read(s, sp.sinkRoot, "feed", "cms")
      .select(col("d"), col("cell"), col("n"))
      .join(broadcast(probes), Seq("d", "cell"))
      .groupBy("symbol", "n_true")
      .agg(min(col("n")).as("est"))
  }

  private val cumvolSide = (m: String) =>
    s"CAST(SUM(CASE WHEN typ = '$m' THEN CAST(floor(value) AS INT) ELSE 0 END) OVER w AS BIGINT)"

  /** ONE definition of streaming-asof-correct, shared by the rows that
    * feed [[graft.streaming.AsofEnrichProcessor]] with each symbol in one
    * micro-batch and across batches: DuckDB's NATIVE ASOF JOIN as the
    * mirror of the streamed last-quote state — deduped trades ×
    * max-price-per-second quotes, inclusive <= (a quote at the trade's
    * own second is visible — the processor's quotes-before-ticks fold
    * order). Inner: a trade before any quote emits nothing on either
    * engine.
    */
  private lazy val asofOracle: String =
    """WITH t AS (
       |  SELECT * FROM (
       |    SELECT user_id, epoch_us(ts) // 1000000 AS sec, value,
       |      CASE WHEN event_type = 'purchase' THEN 'B' ELSE 'S' END AS typ,
       |      row_number() OVER (PARTITION BY user_id, epoch_us(ts) // 1000000
       |                         ORDER BY event_id DESC) AS rn
       |    FROM events WHERE event_type IN ('purchase', 'click'))
       |  WHERE rn = 1),
       |q AS (
       |  SELECT user_id, epoch_us(ts) // 1000000 AS sec,
       |    MAX(value) AS qprice
       |  FROM events WHERE event_type = 'view'
       |  GROUP BY 1, 2)
       |SELECT CAST(t.user_id AS VARCHAR) AS symbol, t.sec AS time_s,
       |  t.value AS price, t.typ AS trade_type,
       |  q.sec AS quote_time, q.qprice AS quote_price
       |FROM t ASOF JOIN q
       |  ON t.user_id = q.user_id AND q.sec <= t.sec""".stripMargin

  /** ONE definition of cumvol-correct, shared by the rows that feed the
    * tick pipeline with each symbol in one micro-batch and across
    * batches.
    */
  private lazy val cumvolOracle: String =
    s"""WITH base AS (
       |  SELECT * FROM (
       |    SELECT user_id, epoch_us(ts) // 1000000 AS sec, value,
       |      CASE WHEN event_type = 'purchase' THEN 'B' ELSE 'S' END AS typ,
       |      row_number() OVER (PARTITION BY user_id, epoch_us(ts) // 1000000
       |                         ORDER BY event_id DESC) AS rn
       |    FROM events WHERE event_type IN ('purchase', 'click'))
       |  WHERE rn = 1)
       |SELECT CAST(user_id AS VARCHAR) AS symbol,
       |  sec AS time_s,
       |  CAST(floor(value) AS INT) AS volume,
       |  typ AS trade_type,
       |  ${cumvolSide("B")} AS cumbuy,
       |  ${cumvolSide("S")} AS cumsell,
       |  ${cumvolSide("B")} - ${cumvolSide("S")} AS cumdelta
       |FROM base
       |WINDOW w AS (PARTITION BY user_id, sec // 86400
       |             ORDER BY sec
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin

  def oracles: Map[String, String] = Map(
    // the batch MinHash-LSH pairs oracle, shared verbatim — streaming
    // ingest must land on exactly the batch arm's candidate-pair set
    "stream_e2e_neardup" -> DedupQueries.minhashPairsOracle,

    // the batch greedy first-touch chain over the SAME LWW-deduped
    // event subset the stream folds
    "stream_e2e_funnel" ->
      s"""WITH e0 AS (
        |  SELECT user_id, event_type,
        |    epoch_us(ts) // 1000000 AS sec, event_id
        |  FROM events
        |  WHERE event_type IN ('view', 'click', 'purchase')),
        |d AS (
        |  SELECT user_id, event_type, sec FROM (
        |    SELECT user_id, event_type, sec,
        |      row_number() OVER (PARTITION BY user_id, sec
        |        ORDER BY event_id DESC) AS rn
        |    FROM e0) WHERE rn = 1),
        |a AS (
        |  SELECT user_id, MIN(sec) AS a_s FROM d
        |  WHERE event_type = 'view' GROUP BY 1),
        |b AS (
        |  SELECT d.user_id, MIN(d.sec) AS b_s
        |  FROM d JOIN a USING (user_id)
        |  WHERE d.event_type = 'click'
        |    AND d.sec >= a.a_s AND d.sec <= a.a_s + ${TemporalQueries.FunnelW}
        |  GROUP BY 1),
        |c AS (
        |  SELECT d.user_id, MIN(d.sec) AS c_s
        |  FROM d JOIN b USING (user_id)
        |  WHERE d.event_type = 'purchase'
        |    AND d.sec >= b.b_s AND d.sec <= b.b_s + ${TemporalQueries.FunnelW}
        |  GROUP BY 1)
        |SELECT stage, COUNT(*) AS n_users FROM (
        |  SELECT CASE WHEN c.c_s IS NOT NULL THEN 3
        |              WHEN b.b_s IS NOT NULL THEN 2
        |              ELSE 1 END AS stage
        |  FROM a LEFT JOIN b USING (user_id)
        |         LEFT JOIN c USING (user_id))
        |GROUP BY 1""".stripMargin,

    // the batch CMS mirror over the same symbol derivation: streamed
    // register SUMS (exactly-once across batches) probed at the top-10
    // true frequencies
    "stream_e2e_cms" ->
      s"""WITH sy AS (
         |  SELECT CAST(user_id AS VARCHAR) AS symbol,
         |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
         |      AS BIGINT) % ${graft.ops.TextHash.P31} AS h
         |  FROM events WHERE event_type IN ('purchase', 'click')),
         |rws AS (SELECT * FROM ${ScaleQueries.cmsRowsDuck}),
         |sk AS (
         |  SELECT d, cell, COUNT(*) AS n FROM (
         |    SELECT r.d, ((t.h * r.a + r.b) % ${graft.ops.TextHash.P31})
         |      % ${graft.ops.CountMin.Width} AS cell
         |    FROM sy t, rws r)
         |  GROUP BY d, cell),
         |tops AS (
         |  SELECT symbol, h, COUNT(*) AS n_true FROM sy GROUP BY symbol, h
         |  ORDER BY n_true DESC, symbol LIMIT 10),
         |pr AS (
         |  SELECT t.symbol, t.n_true, r.d,
         |    ((t.h * r.a + r.b) % ${graft.ops.TextHash.P31})
         |      % ${graft.ops.CountMin.Width} AS cell
         |  FROM tops t, rws r)
         |SELECT p.symbol, CAST(p.n_true AS BIGINT) AS n_true,
         |  CAST(MIN(s.n) AS BIGINT) AS est
         |FROM pr p JOIN sk s ON p.d = s.d AND p.cell = s.cell
         |GROUP BY p.symbol, p.n_true""".stripMargin,

    // exact distinct per type, straight from the definition — the
    // streamed word-bitmap fold must agree with COUNT(DISTINCT)
    "stream_e2e_bitmap" ->
      """SELECT CASE WHEN event_type = 'purchase' THEN 'B' ELSE 'S' END
        |    AS trade_type,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct
        |FROM events WHERE event_type IN ('purchase', 'click')
        |GROUP BY 1""".stripMargin,

    // one-shot rebuild of the streamed bucket counts: identical integer
    // bucket arithmetic over the full row set, then the same p50/p95
    // pick — merge-across-micro-batches ≡ one-pass bucketing
    "stream_e2e_quantile" ->
      """WITH v AS (
        |  SELECT CASE WHEN event_type = 'purchase' THEN 'B' ELSE 'S' END
        |    AS g,
        |    CAST(floor(value * 100) AS BIGINT) AS v
        |  FROM events WHERE event_type IN ('purchase', 'click')),
        |b AS (
        |  SELECT g,
        |    CASE WHEN length(bin(v)) - 1 >= 2
        |         THEN (length(bin(v)) - 1) * 4
        |              + CAST(((v >> (length(bin(v)) - 3)) & 3) AS INT)
        |         ELSE CAST(v AS INT) END AS bucket
        |  FROM v),
        |c AS (SELECT g, bucket, COUNT(*) AS c FROM b GROUP BY 1, 2),
        |cum AS (
        |  SELECT g, bucket, c,
        |    SUM(c) OVER (PARTITION BY g ORDER BY bucket) AS cum,
        |    SUM(c) OVER (PARTITION BY g) AS n
        |  FROM c),
        |qs AS (SELECT * FROM (VALUES ('p50', 1, 2), ('p95', 19, 20))
        |       t(q, qn, qd)),
        |hit AS (
        |  SELECT cum.g, qs.q, cum.n, MIN(cum.bucket) AS bucket
        |  FROM cum, qs
        |  WHERE cum.cum >= (cum.n * qs.qn + qs.qd - 1) // qs.qd
        |  GROUP BY 1, 2, 3)
        |SELECT g AS trade_type, q, CAST(n AS BIGINT) AS n_rows, bucket,
        |  CASE WHEN bucket >= 8
        |    THEN (CAST(4 + bucket % 4 AS BIGINT) << (bucket // 4 - 2))
        |    ELSE CAST(bucket AS BIGINT) END AS est_cents
        |FROM hit""".stripMargin,

    // the batch HLL mirror over the same (type, symbol) derivation: the
    // streamed register table max-merged across micro-batches must fold
    // to EXACTLY the sketch built from the full row set in one pass
    "stream_e2e_hll" ->
      s"""WITH hashed AS (
         |  SELECT CASE WHEN event_type = 'purchase' THEN 'B' ELSE 'S' END
         |    AS g,
         |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
         |      AS BIGINT) AS h
         |  FROM events WHERE event_type IN ('purchase', 'click')),
         |${graft.ops.Hll.duckCtes}
         |SELECT g AS trade_type, n_set, s_total,
         |  ${graft.ops.Hll.estSql("s_total")} AS est_distinct
         |FROM hlls""".stripMargin,

    // batch mirror of the streamed leaderboard: top-5 by
    // (price DESC, sec ASC) over the deduped (symbol, second) ticks —
    // the total order the processor's merge sort uses
    "stream_e2e_topk" ->
      """WITH base AS (
        |  SELECT * FROM (
        |    SELECT user_id, epoch_us(ts) // 1000000 AS sec, value,
        |      row_number() OVER (PARTITION BY user_id, epoch_us(ts) // 1000000
        |                         ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_type IN ('purchase', 'click'))
        |  WHERE rn = 1),
        |r AS (
        |  SELECT user_id, sec, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY value DESC, sec) AS rank
        |  FROM base)
        |SELECT CAST(user_id AS VARCHAR) AS symbol, rank,
        |  value AS price, sec AS time_s
        |FROM r WHERE rank <= 5""".stripMargin,

    // batch mirror of the streamed tumbling rollup: hour truncation
    // over the deduped (symbol, second) ticks — Spark's window() start
    // is epoch-aligned, which for whole hours IS date_trunc
    // the on-time era ONLY — no straggler term appears anywhere: the
    // hash match IS the proof the engine dropped them
    "stream_e2e_late" ->
      """WITH base AS (
        |  SELECT * FROM (
        |    SELECT user_id, epoch_us(ts) // 1000000 AS sec, value,
        |      row_number() OVER (PARTITION BY user_id, epoch_us(ts) // 1000000
        |                         ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_type IN ('purchase', 'click'))
        |  WHERE rn = 1)
        |SELECT CAST(user_id AS VARCHAR) AS symbol,
        |  TIMESTAMP '1970-01-01' + (sec // 1800) * 1800 * INTERVAL 1 SECOND
        |    AS w_start,
        |  COUNT(*) AS n_ticks,
        |  CAST(SUM(CAST(floor(value) AS INT)) AS BIGINT) AS sum_vol
        |FROM base GROUP BY 1, 2""".stripMargin,

    // drop-count mirror: on-time = the full deduped tick base (every
    // era row must be admitted); dropped = one straggler per
    // (purchase user, 30-minute window) — exactly what the runner
    // plants, all ~99 days behind the advanced watermark, every one of
    // which the engine must meter as dropped
    "stream_e2e_late_audit" ->
      """WITH base AS (
        |  SELECT * FROM (
        |    SELECT user_id, epoch_us(ts) // 1000000 AS sec, event_type,
        |      row_number() OVER (PARTITION BY user_id, epoch_us(ts) // 1000000
        |                         ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_type IN ('purchase', 'click'))
        |  WHERE rn = 1)
        |SELECT (SELECT COUNT(*) FROM base) AS on_time_rows,
        |  (SELECT COUNT(DISTINCT (user_id, sec // 1800)) FROM base
        |   WHERE event_type = 'purchase') AS dropped_late""".stripMargin,

    // the meter surface's mirror: every count recomputed from the
    // events table alone — rows = era + one corrupt per purchase row
    // + 2 advancers + one straggler per purchase user; corrupt =
    // purchase rows; dropped = purchase users; on_time = era + 2
    "stream_e2e_meters" ->
      """WITH base AS (
        |  SELECT * FROM (
        |    SELECT user_id, epoch_us(ts) // 1000000 AS sec, event_type,
        |      row_number() OVER (PARTITION BY user_id, epoch_us(ts) // 1000000
        |                         ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_type IN ('purchase', 'click'))
        |  WHERE rn = 1),
        |n AS (SELECT
        |    (SELECT COUNT(*) FROM base) AS n_base,
        |    (SELECT COUNT(*) FROM base
        |       WHERE event_type = 'purchase') AS n_bad,
        |    (SELECT COUNT(DISTINCT user_id) FROM base
        |       WHERE event_type = 'purchase') AS n_drop)
        |SELECT CAST(n_base + n_bad + n_drop + 2 AS BIGINT) AS n_rows,
        |  CAST(n_bad AS BIGINT) AS n_corrupt,
        |  CAST(n_drop AS BIGINT) AS n_dropped_late,
        |  CAST(n_base + 2 AS BIGINT) AS n_on_time
        |FROM n""".stripMargin,

    "stream_e2e_tumbling" ->
      """WITH base AS (
        |  SELECT * FROM (
        |    SELECT user_id, epoch_us(ts) // 1000000 AS sec, value,
        |      row_number() OVER (PARTITION BY user_id, epoch_us(ts) // 1000000
        |                         ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_type IN ('purchase', 'click'))
        |  WHERE rn = 1)
        |SELECT CAST(user_id AS VARCHAR) AS symbol,
        |  TIMESTAMP '1970-01-01' + (sec // 3600) * 3600 * INTERVAL 1 SECOND
        |    AS h_start,
        |  COUNT(*) AS n_ticks,
        |  CAST(SUM(CAST(floor(value) AS INT)) AS BIGINT) AS sum_vol
        |FROM base GROUP BY 1, 2""".stripMargin,

    "stream_e2e_cumvol" -> cumvolOracle,

    // the paced feed lands on the same row set: cross-batch state
    // continuity is invisible in the result
    "stream_e2e_cumvol_paced" -> cumvolOracle,

    // the batch rolling-window mirror of the streamed ring: 24-event
    // frame per user over the deduped (user, second) ticks, |z| > 2σ in
    // exact HUGEINT (matches the processor's BigInt test), mean = the
    // same exact-integer division
    "stream_e2e_rolling" ->
      """WITH base AS (
        |  SELECT * FROM (
        |    SELECT user_id, epoch_us(ts) // 1000000 AS sec, value,
        |      row_number() OVER (PARTITION BY user_id, epoch_us(ts) // 1000000
        |                         ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_type IN ('purchase', 'click'))
        |  WHERE rn = 1),
        |q AS (
        |  SELECT user_id, sec, value,
        |    CAST(floor(value * 1e9) AS BIGINT) AS q,
        |    CAST(floor(value * value * 1e9) AS BIGINT) AS q2
        |  FROM base),
        |w AS (
        |  SELECT user_id, sec, value, q,
        |    COUNT(*) OVER win AS n_frame,
        |    CAST(SUM(q) OVER win AS BIGINT) AS sq,
        |    CAST(SUM(q2) OVER win AS BIGINT) AS sq2
        |  FROM q
        |  WINDOW win AS (PARTITION BY user_id ORDER BY sec
        |                 ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
        |SELECT CAST(user_id AS VARCHAR) AS symbol, sec AS time_s,
        |  n_frame, value,
        |  CAST(sq AS DOUBLE) / (1000000000.0 * CAST(n_frame AS DOUBLE))
        |    AS mean
        |FROM w
        |WHERE (CAST(q AS HUGEINT) * n_frame - sq)
        |      * (CAST(q AS HUGEINT) * n_frame - sq)
        |    > 4 * (CAST(sq2 AS HUGEINT) * n_frame * 1000000000
        |           - CAST(sq AS HUGEINT) * sq)""".stripMargin,

    // plain interval-join mirror of the watermarked stream-stream join:
    // deduped ticks × deduped book views within the 1-day lag
    "stream_e2e_join" ->
      """WITH t AS (
        |  SELECT * FROM (
        |    SELECT user_id, epoch_us(ts) // 1000000 AS sec, value,
        |      CASE WHEN event_type = 'purchase' THEN 'B' ELSE 'S' END AS typ,
        |      row_number() OVER (PARTITION BY user_id, epoch_us(ts) // 1000000
        |                         ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_type IN ('purchase', 'click'))
        |  WHERE rn = 1),
        |b AS (
        |  SELECT * FROM (
        |    SELECT user_id, epoch_us(ts) // 1000000 AS sec, value,
        |      row_number() OVER (
        |        PARTITION BY user_id, epoch_us(ts) // 1000000, value
        |        ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_type = 'view')
        |  WHERE rn = 1)
        |SELECT CAST(t.user_id AS VARCHAR) AS symbol,
        |  t.sec AS tick_time, t.value AS tick_price,
        |  CAST(floor(t.value) AS INT) AS tick_volume,
        |  t.typ AS trade_type,
        |  b.sec AS book_time, b.value AS book_price,
        |  CAST(floor(b.value) AS INT) AS book_volume,
        |  'VIEW' AS order_type
        |FROM t JOIN b ON t.user_id = b.user_id
        |  AND b.sec >= t.sec - 86400 AND b.sec <= t.sec""".stripMargin,

    // batch mirror of the stream-static enrichment: deduped ticks
    // inner-joined to the same customer projection
    "stream_e2e_enrich" ->
      """WITH base AS (
        |  SELECT * FROM (
        |    SELECT user_id, epoch_us(ts) // 1000000 AS sec, value,
        |      CASE WHEN event_type = 'purchase' THEN 'B' ELSE 'S' END AS typ,
        |      row_number() OVER (PARTITION BY user_id, epoch_us(ts) // 1000000
        |                         ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_type IN ('purchase', 'click'))
        |  WHERE rn = 1)
        |SELECT CAST(b.user_id AS VARCHAR) AS symbol, b.sec AS time_s,
        |  b.value AS price, b.typ AS trade_type,
        |  c.c_nationkey AS nation,
        |  CAST(floor(c.c_acctbal * 100) AS BIGINT) AS bal_cents
        |FROM base b JOIN customer c ON b.user_id = c.c_custkey""".stripMargin,

    "stream_e2e_asof" -> asofOracle,

    // the paced feed lands on the same row set: cross-batch state
    // continuity is invisible in the result
    "stream_e2e_asof_paced" -> asofOracle,

    // plain batch GROUP BY mirror of the streamed running totals
    "stream_e2e_counts" ->
      """SELECT CASE WHEN event_type = 'purchase' THEN 'B' ELSE 'S' END
        |    AS trade_type,
        |  COUNT(*) AS n_ticks,
        |  CAST(SUM(CAST(floor(value) AS INTEGER)) AS BIGINT) AS sum_vol
        |FROM events WHERE event_type IN ('purchase', 'click')
        |GROUP BY 1""".stripMargin,

    // the batch gaps-and-islands mirror of the streamed session_window
    // aggregation, over the same deduped (user, second) ticks
    "stream_e2e_session" ->
      """WITH base AS (
        |  SELECT * FROM (
        |    SELECT user_id, epoch_us(ts) // 1000000 AS sec,
        |      row_number() OVER (PARTITION BY user_id, epoch_us(ts) // 1000000
        |                         ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_type IN ('purchase', 'click'))
        |  WHERE rn = 1),
        |m AS (
        |  SELECT user_id, sec,
        |    CASE WHEN sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec)
        |           < 1800 THEN 0 ELSE 1 END AS new_s
        |  FROM base),
        |s0 AS (
        |  SELECT user_id, sec,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY sec
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT CAST(user_id AS VARCHAR) AS symbol,
        |  TIMESTAMP '1970-01-01' + MIN(sec) * INTERVAL 1 SECOND AS s_start,
        |  TIMESTAMP '1970-01-01' + (MAX(sec) + 1800) * INTERVAL 1 SECOND
        |    AS s_end,
        |  COUNT(*) AS n_events
        |FROM s0 GROUP BY user_id, sid""".stripMargin,

    // CDC mirror: last operation per key wins; delete tombstones purge
    // at read (the Cassandra compaction model the streaming register
    // table reproduces)
    "stream_e2e_cdc" ->
      """WITH dd AS (
        |  SELECT user_id, time_s, event_type FROM (
        |    SELECT user_id, epoch_us(ts) // 1000000 AS time_s, event_type,
        |      row_number() OVER (
        |        PARTITION BY user_id, epoch_us(ts) // 1000000
        |        ORDER BY event_id DESC) AS rn
        |    FROM events) WHERE rn = 1),
        |last AS (
        |  SELECT user_id, time_s, event_type FROM (
        |    SELECT user_id, time_s, event_type,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY time_s DESC) AS rn
        |    FROM dd) WHERE rn = 1)
        |SELECT CAST(user_id AS VARCHAR) AS symbol, time_s,
        |  CAST((user_id * 31 + time_s % 86400) % 1000 AS DOUBLE) / 10.0
        |    AS price,
        |  CASE WHEN event_type = 'signup' THEN 'I'
        |       WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
        |FROM last
        |WHERE event_type <> 'error'""".stripMargin,

    // plain DISTINCT over the same pure-function-of-key payload: the
    // streamed dropDuplicates must land on exactly this set
    "stream_e2e_dedup" ->
      """SELECT DISTINCT CAST(user_id AS VARCHAR) AS symbol,
        |  epoch_us(ts) // 1000000 AS time_s,
        |  CAST((user_id * 31 + (epoch_us(ts) // 1000000) % 86400) % 1000
        |       AS DOUBLE) / 10.0 AS price,
        |  CAST((user_id + epoch_us(ts) // 1000000) % 100 AS INT) AS volume,
        |  CASE WHEN user_id % 2 = 0 THEN 'B' ELSE 'S' END AS trade_type
        |FROM events WHERE event_type IN ('purchase', 'click')""".stripMargin,

    "stream_e2e_sink" ->
      """SELECT CAST(user_id AS VARCHAR) AS symbol,
        |  value AS price,
        |  epoch_us(ts) // 1000000 AS time_s,
        |  CAST(floor(value) AS INT) AS volume,
        |  upper(event_type) AS order_type
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY user_id, epoch_us(ts) // 1000000, value
        |        ORDER BY event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1""".stripMargin)
}
