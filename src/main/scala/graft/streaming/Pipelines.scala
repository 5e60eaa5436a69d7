package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

import graft.model.Schemas
import graft.sink.LwwSink

/** End-to-end assemblies of the reference's three pipelines (SURVEY §3):
  * envelope demux → type routing → parse → normalize/enrich. Pure
  * DataFrame transforms — the same code runs over a `readStream` source
  * (production), a `MemoryStream` (tests), or a batch DataFrame (oracle).
  *
  * Reference: demux main.rs:220-222, routing main.rs:75-76/106, book parse
  * + normalize main.rs:77-104, tick parse main.rs:107, mode gating
  * start.sh:3-14 (the reference *triplicates* the code per mode; here a
  * pipeline is just which transforms you compose — R2 for free).
  */
object Pipelines {

  /** R1 routing: envelopes with frameType BOOK. Unknown types drop here
    * for free (the reference's silent `_ => ()` arm, main.rs:167).
    */
  def bookEnvelopes(env: DataFrame): DataFrame =
    env.filter(col("frameType") === "BOOK")

  def tickEnvelopes(env: DataFrame): DataFrame =
    env.filter(col("frameType") === "TICK")

  /** F2+F3+F4: BOOK JSON-array payload → one row per ladder level, with
    * the serde rename (`type`→orderType) and `BOOK_TYPE_` prefix strip
    * (global replace — Rust `str::replace` semantics, main.rs:62-64).
    * Parse failures yield a null struct → routed to `_corrupt` = true
    * (K5 upgrade: dead-letter, not silent drop).
    */
  def parseBooks(env: DataFrame): DataFrame =
    bookEnvelopes(env)
      .withColumn("_levels",
        from_json(col("payload"), ArrayType(Schemas.bookJsonSchema)))
      // `payload` rides along so the dead-letter branch can quarantine
      // the raw bytes, not just the fact that something was corrupt
      .select(col("topic"), col("payload"),
        explode_outer(col("_levels")).as("l"))
      // corrupt AFTER the explode: a null ARRAY and an empty array both
      // explode_outer to one null `l` row. A level missing ANY field is
      // corrupt — the reference's serde parse is strict (main.rs:40-48:
      // no Option fields, a missing/mistyped key fails the whole
      // message), and the lenient alternative is worse on both axes a
      // sink cares about: a null PK component (symbol/time/price) makes
      // a row the null-unsafe keyed upsert can never replace (left_anti
      // on keys never matches NULL, so every replay APPENDS another
      // copy), and a null payload field would crash a typed consumer's
      // primitive encoder mid-batch instead of at the quarantine line.
      .withColumn("_corrupt", col("l").isNull ||
        Seq("symbol", "price", "time", "volume", "type")
          .map(f => col(s"l.$f").isNull).reduce(_ || _))
      .select(col("topic"), col("payload"), col("_corrupt"),
        col("l.symbol").as("symbol"), col("l.price").as("price"),
        col("l.time").as("time"), col("l.volume").as("volume"),
        regexp_replace(col("l.type"), "BOOK_TYPE_", "").as("orderType"))

  /** F1+F3: TICK single-object payload → typed rows; corrupt → flagged. */
  def parseTicks(env: DataFrame): DataFrame =
    tickEnvelopes(env)
      .withColumn("_t", from_json(col("payload"), Schemas.tickJsonSchema))
      // PERMISSIVE from_json yields a struct of nulls (not a null struct)
      // on malformed input. Any null field is corrupt, not just symbol:
      // PERMISSIVE also nulls a single MISTYPED field while the rest
      // parse ({"time":"oops",...} arrives with time=null, symbol
      // intact), and such a row would pass a symbol-only check and then
      // kill the query inside `.as[Tick]` (primitive Long/Double fields
      // reject null at deserialization) — a poison-pill crash loop on
      // checkpoint replay, the exact fatality the dead-letter path
      // exists to absorb. Strict-all-fields is also the reference's
      // contract: serde has no Option fields, so one bad key fails the
      // whole message into the error path (main.rs:50-60, 224-229).
      .withColumn("_corrupt",
        col("_t").isNull ||
          Seq("symbol", "bid", "price", "ask", "time", "volume", "type")
            .map(f => col(s"_t.$f").isNull).reduce(_ || _))
      .select(col("topic"), col("payload"), col("_corrupt"),
        col("_t.symbol").as("symbol"), col("_t.bid").as("bid"),
        col("_t.price").as("price"), col("_t.ask").as("ask"),
        col("_t.time").as("time"), col("_t.volume").as("volume"),
        col("_t.type").as("tradeType"))

  /** Full tick branch: parse → drop corrupt (to dead-letter elsewhere) →
    * stateful enrichment (A1+A2+F6) on [[CumVolStatefulProcessor]]. The
    * parse stage is `observe`d: per-micro-batch row/corrupt counts
    * surface in every `StreamingQueryProgress.observedMetrics` — the
    * monitoring signal the reference's log-line-per-error
    * (main.rs:224-229) cannot aggregate.
    *
    * transformWithState needs the RocksDB state store, so any other
    * provider fails here, at plan build, naming the provider it got.
    */
  def tickPipeline(env: DataFrame): Dataset[Schemas.EnrichedTick] = {
    import env.sparkSession.implicits._
    val provider = env.sparkSession.conf
      .getOption("spark.sql.streaming.stateStore.providerClass")
      .getOrElse("")
    require(provider ==
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      s"the tick pipeline requires the RocksDB state store provider, got '$provider'")
    val ticks = parseTicks(env)
      .observe("graft_ticks",
        count(lit(1)).as("rows"),
        count(when(col("_corrupt"), lit(1))).as("corrupt"))
      .filter(!col("_corrupt"))
      .select("symbol", "bid", "price", "ask", "time", "volume", "tradeType")
      .as[Schemas.Tick]
    tickWatermark(env) match {
      case Some(d) =>
        CumVolStatefulProcessor.enrichWithWatermark(ticks.toDF(), d)
      case None => CumVolStatefulProcessor.enrich(ticks)
    }
  }

  /** Optional tick-branch watermark (round-13): `spark.graft.tick
    * .watermark = "<delay>"` (e.g. "1 day") routes enrichment through
    * the watermarked variant — event-time state expiry at scale, and
    * late rows DROPPED (and metered: [[PipelineMeters]] surfaces the
    * engine's `numRowsDroppedByWatermark` as a per-pipeline
    * `dropped_late` counter) instead of re-seeding stale per-day
    * state. Unset keeps the reference-parity unbounded behavior. An
    * EXPLICIT conf: flipping it under an existing checkpoint changes
    * the stateful operator layout, so it must never be inferred.
    */
  private def tickWatermark(env: DataFrame): Option[String] =
    env.sparkSession.conf.getOption("spark.graft.tick.watermark")
      .map(_.trim).filter(_.nonEmpty)

  /** Idempotent dead-letter write: one `batch=<id>` partition per
    * micro-batch, OVERWRITTEN on replay. A blind append would duplicate
    * quarantine rows every time a crashed micro-batch re-runs — the
    * main sink is exactly-once per key, and the audit trail must not be
    * weaker (a duplicated corrupt row reads as "the feed sent this
    * twice"). Partition-dir granularity keeps replay a local rewrite,
    * and the read side sees a `kind`/`batch` partitioned table.
    */
  private[graft] def quarantine(
      batch: DataFrame, id: Long, sinkRoot: String, kind: String): Unit =
    batch.write.mode("overwrite")
      .parquet(s"$sinkRoot/_deadletter/kind=$kind/batch=$id")

  /** The sink tables' primary key: the reference's Cassandra PRIMARY KEY
    * (symbol, time, price), main.rs:87-88. */
  private val Keys = Seq("symbol", "time", "price")

  /** Quarantine a pinned, parsed book micro-batch's corrupt rows and
    * return the sorted topics of its clean rows. The topics are observed
    * by the quarantine write itself, so listing them costs no job. The
    * write runs even when nothing is corrupt: the quarantine dir is
    * overwritten per (kind, batch), and skipping empties would leave a
    * previous partial write of this batch id in place.
    */
  private[graft] def quarantineBooks(
      b: DataFrame, id: Long, sinkRoot: String): IndexedSeq[String] = {
    val seen = Observation()
    quarantine(
      b.observe(seen, collect_set(when(!col("_corrupt"), col("topic"))).as("topics"))
        .filter(col("_corrupt")).select(col("topic"), col("payload")),
      id, sinkRoot, "BOOK")
    seen.get("topics").asInstanceOf[Seq[String]].sorted.toIndexedSeq
  }

  /** Upsert a pinned, parsed book micro-batch's clean rows into one
    * `{topic}_book` table per topic of `topics`: one merge and one write
    * for all of them ([[LwwSink.upsertTables]]).
    */
  private[graft] def upsertBooks(
      b: DataFrame, id: Long, sinkRoot: String, topics: IndexedSeq[String]): Unit =
    LwwSink.upsertTables(
      b.filter(!col("_corrupt"))
        .withColumn(LwwSink.TableCol, LwwSink.tableIndex(topics, col("topic")))
        .drop("topic", "payload", "_corrupt"),
      id, sinkRoot, topics, "book", Keys)

  /** R2 mode gating (the reference compiles three binaries from
    * triplicated code and picks one via APP_MODE, start.sh:3-14; here a
    * mode is just which streaming queries start). Returns the started
    * queries: per topic-agnostic branch, `{topic}_tick` / `{topic}_book`
    * LWW tables under `sinkRoot`, plus a `_deadletter` table collecting
    * corrupt payloads with their topic and kind (K5: quarantined and
    * queryable, never silently dropped, never fatal).
    */
  def start(
      env: DataFrame,
      mode: String, // "full" | "tick" | "book"
      sinkRoot: String,
      checkpointRoot: String): Seq[org.apache.spark.sql.streaming.StreamingQuery] = {
    require(Seq("full", "tick", "book").contains(mode), s"bad mode $mode")
    val wantTick = mode == "full" || mode == "tick"
    val wantBook = mode == "full" || mode == "book"
    val queries = scala.collection.mutable.Buffer.empty[org.apache.spark.sql.streaming.StreamingQuery]
    if (wantTick) {
      // sinkRoot-qualified stable query NAMES (round-13): ids change
      // across checkpoint restarts, names don't — PipelineMeters keys
      // its (on_time, corrupt, dropped_late) counters on them, so the
      // meters keep accumulating across recoveries
      queries += tickPipeline(env).toDF()
        .writeStream.outputMode("append")
        .queryName(s"graft_tick:$sinkRoot")
        .option("checkpointLocation", s"$checkpointRoot/tick")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          LwwSink.upsertBatch(batch.toDF(), id, sinkRoot, "feed", "tick", Keys)
        }.start()
      // The tick dead-letter is a SEPARATE query (unlike book, which
      // splits inside its own foreachBatch): the typed stateful
      // enrichment sits between parse and sink here, and corrupt rows
      // cannot pass through `.as[Tick]` — the cost is one extra source
      // scan + parse on the tick path, paid for crash isolation.
      // Hive-style kind=… subdirectories keep concurrent dead-letter
      // writers off each other's _temporary committer dirs and read
      // back as a partitioned table with a `kind` column.
      queries += parseTicks(env).filter(col("_corrupt"))
        .select(col("topic"), col("payload"))
        .writeStream.outputMode("append")
        .queryName(s"graft_tick_dl:$sinkRoot")
        .option("checkpointLocation", s"$checkpointRoot/tick_dl")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          quarantine(batch.toDF(), id, sinkRoot, "TICK")
        }.start()
    }
    if (wantBook) {
      // K3 dynamic per-topic tables: the reference CREATEs `{topic}_book`
      // per message (main.rs:80-92); here each micro-batch upserts into
      // one table per topic it contains, all of them in one merge and one
      // write. The topic list is metadata (bounded by the subscription),
      // not data: the quarantine write observes it. The TICK branch stays
      // single-table: its keyed state is per-symbol like the reference,
      // which runs one topic prefix per process (start.sh:3-14) — topic
      // fan-out there is deployment-level.
      // ONE query carries both the upserts and the dead-letter split:
      // unlike the tick branch (whose typed stateful operator sits
      // between parse and sink, so corrupt rows cannot ride), nothing
      // stateful separates the book parse from its sink — splitting
      // inside foreachBatch quarantines corrupt rows from the SAME
      // parsed micro-batch, where a second streaming query would read
      // and JSON-parse the whole source again (at ingest scale the
      // double parse was the book path's largest avoidable cost).
      // Corrupt units: a null/empty/unparseable payload explodes to one
      // null row; a parseable array contributes one row per level
      // missing any field (strict serde contract, see parseBooks).
      queries += parseBooks(env)
        .observe("graft_books",
          count(lit(1)).as("rows"),
          count(when(col("_corrupt"), lit(1))).as("corrupt"))
        .writeStream.outputMode("append")
        .queryName(s"graft_book:$sinkRoot")
        .option("checkpointLocation", s"$checkpointRoot/book")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          // pin the batch: the quarantine write and the upsert are
          // separate actions — unpinned, each would re-parse the whole
          // micro-batch (and re-fire the observe metrics)
          val b = batch.toDF().persist()
          try upsertBooks(b, id, sinkRoot, quarantineBooks(b, id, sinkRoot))
          finally b.unpersist()
        }.start()
    }
    queries.toSeq
  }
}
