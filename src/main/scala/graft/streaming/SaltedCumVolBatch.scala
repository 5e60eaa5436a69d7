package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DateType, LongType, StringType, StructField, StructType}

import graft.sink.LwwSink

/** Hot-key-safe streaming cumulative-volume enrichment — the salted
  * micro-batch path (VERDICT r9 task #3: the batch side's skew fix,
  * [[graft.ops.CumVol.salted]], extended into streaming).
  *
  * [[CumVolStatefulProcessor]] keys state by bare symbol, so a feed
  * where one symbol carries 90% of the rows serializes that symbol's
  * per-batch fold into ONE state-store task — the exact shape r8's
  * batch verdict flagged for `tick_cumvol` (the "SPY at the open"
  * histogram). State-store partitioning cannot help: the grouping key
  * IS the symbol, and more shuffle partitions just leave more of them
  * empty.
  *
  * This path runs each micro-batch through the SALTED batch prefix
  * scan instead (per-(key, day, coarse intra-day bucket) local running
  * sums + bucket-total exclusive prefix + broadcast offset attach — see
  * CumVol.salted's plan notes), so a hot key fans out across
  * `numBuckets` tasks per batch. Cross-batch continuity is a tiny
  * carry-in table — one (day, cumbuy, cumsell) row per live symbol —
  * maintained alongside the sink with the repo's idempotent-replay
  * discipline:
  *
  *   - batch N reads the newest committed state version < N, applies
  *     carry offsets to rows on the carried day (a broadcast join —
  *     the carry side is one row per symbol), and resets are implicit:
  *     rows on a LATER day simply don't match the join and start from
  *     the salted scan's own zero.
  *   - outputs land via [[LwwSink.upsertBatch]] (idempotent by PK +
  *     batch id), and the new carry state — per symbol, the enriched
  *     totals at that symbol's max event time, unioned with untouched
  *     carried symbols — is written as `v<N>` with an atomic
  *     rename-into-place (a crash mid-write leaves a `_tmp` dir the
  *     reader never looks at).
  *   - a replay of batch N re-reads the SAME version < N (state
  *     versions are never mutated, and `v<N>` itself is excluded by
  *     the strict `< N` bound), recomputes bit-identical outputs
  *     (the salted scan is deterministic), and re-renames the same
  *     `v<N>` — exactly-once end to end. Versions older than N−1 are
  *     pruned after commit; the streaming engine can only replay the
  *     last in-flight batch, so N−1 is the only version a recovery
  *     can need.
  *
  * Ordering contract (documented, matching the e2e feeds and any
  * watermark-disciplined ingest): event days are non-decreasing per
  * symbol ACROSS batches. The TWS fold folds a cross-batch
  * late-previous-day row into the CURRENT day's counters; this path
  * would start it a fresh day partition. Within a batch, order is
  * free — the salted scan sorts by (time, tiebreak) itself. For feeds
  * without that discipline, use [[CumVolStatefulProcessor]], the tick
  * pipeline's operator; this is the hot-key escape hatch, same
  * positioning as the batch `tick_cumvol_salted`.
  */
object SaltedCumVolBatch {

  private val StateSchema = StructType(Seq(
    StructField("c_sym", StringType),
    StructField("c_day", DateType),
    StructField("c_cb", LongType),
    StructField("c_cs", LongType)))

  /** Newest committed state version strictly below `batchId`; the
    * versioning/atomicity/prune contract lives in [[CarryState]]
    * (factored round-12, shared with [[SaltedAsofBatch]]).
    */
  private[graft] def readState(
      s: SparkSession, stateRoot: String, batchId: Long): DataFrame =
    CarryState.read(s, stateRoot, batchId, StateSchema)

  private def writeState(
      state: DataFrame, stateRoot: String, batchId: Long): Unit =
    CarryState.write(state, stateRoot, batchId)

  /** One micro-batch: salted prefix scan + carry offsets → sink +
    * next carry version. `batch` columns: symbol, bid, price, ask,
    * time (epoch seconds), volume (integral), tradeType.
    */
  private[graft] def processBatch(
      batch0: DataFrame,
      batchId: Long,
      sinkRoot: String,
      stateRoot: String,
      topic: String,
      kind: String,
      numBuckets: Int): Unit = {
    val s = batch0.sparkSession
    // pin: the salted scan reads its input twice (local sums + bucket
    // totals) and the enriched frame feeds both the sink and the carry
    // rollup — unpinned, each consumer re-reads the source files
    val batch = batch0.persist()
    try {
      val carry = readState(s, stateRoot, batchId)
      val enriched0 = graft.ops.CumVol.salted(
        batch,
        col("symbol"), timestamp_seconds(col("time")), col("time"),
        col("tradeType"), col("volume"), numBuckets = numBuckets)
        .withColumn("_day", to_date(timestamp_seconds(col("time"))))
      // offsets apply only to rows still on the carried day; a later
      // day misses the join (null → 0) — the daily reset for free, the
      // same move the batch form gets from putting day in the window key
      val enriched = enriched0
        .join(broadcast(carry),
          col("symbol") === col("c_sym") && col("_day") === col("c_day"),
          "left")
        .withColumn("cumbuy", col("cumbuy") + coalesce(col("c_cb"), lit(0L)))
        .withColumn("cumsell", col("cumsell") + coalesce(col("c_cs"), lit(0L)))
        .withColumn("cumdelta", col("cumbuy") - col("cumsell"))
        .drop("c_sym", "c_cb", "c_cs")
        .persist()
      try {
        LwwSink.upsertBatch(
          enriched.drop("_day", "c_day"), batchId, sinkRoot, topic, kind,
          Seq("symbol", "time", "price"))
        // new carry: per symbol, the enriched totals at max event time
        // (the deduped-PK feed contract makes `time` unique per symbol,
        // the same determinism leg every e2e runner documents)
        val fromBatch = enriched.groupBy(col("symbol").as("c_sym"))
          .agg(max_by(struct(col("_day").as("c_day"),
            col("cumbuy").as("c_cb"), col("cumsell").as("c_cs")),
            col("time")).as("w"))
          .select(col("c_sym"), col("w.c_day").as("c_day"),
            col("w.c_cb").as("c_cb"), col("w.c_cs").as("c_cs"))
        val untouched = carry.join(
          fromBatch.select(col("c_sym").as("_bs")),
          col("c_sym") === col("_bs"), "left_anti")
        writeState(fromBatch.unionByName(untouched), stateRoot, batchId)
      } finally enriched.unpersist()
    } finally batch.unpersist()
  }

  /** Start the salted tick pipeline over an envelope stream: parse →
    * dead-letter drop → per-micro-batch salted enrichment → LWW table
    * `{topic}_{kind}` under `sinkRoot`, carry state under `stateRoot`.
    */
  def start(
      env: DataFrame,
      sinkRoot: String,
      checkpointRoot: String,
      stateRoot: String,
      topic: String = "feed",
      kind: String = "tick_salted",
      numBuckets: Int = 32): StreamingQuery =
    Pipelines.parseTicks(env)
      .filter(!col("_corrupt"))
      .select("symbol", "bid", "price", "ask", "time", "volume", "tradeType")
      .writeStream.outputMode("append")
      .option("checkpointLocation", checkpointRoot)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            id: Long) =>
          processBatch(batch.toDF(), id, sinkRoot, stateRoot, topic, kind,
            numBuckets)
      }.start()
}
