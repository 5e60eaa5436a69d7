package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryPack, Tables}
import graft.ops.{AsofJoin, CumVol, LwwDedup}

/** Batch analogs of the reference pipeline's operators over the `events`
  * fixture table (FIXTURES.md §B.1 mapping: user_id -> symbol, ts -> time,
  * floor(value) -> volume, event_type -> trade side with 'purchase' = buy,
  * 'click' = sell, everything else passthrough).
  */
object ReferenceQueries extends QueryPack {

  /** Shared prelude of the as-of family: LWW-deduped quotes (views) and
    * trades (purchases) — ONE definition of the dedup keys, version
    * order, and projections for both as-of queries and their mirrors.
    */
  private def quotesAndTrades(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e = Tables(s, dir, "events")
    val quotes = LwwDedup(
        e.filter(col("event_type") === "view"),
        Seq(col("user_id"), col("ts")), Seq(col("event_id")))
      .select(col("user_id"), col("ts"),
        unix_micros(col("ts")).as("q_us"), col("value").as("qprice"))
    val trades = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("value").as("tprice"))
    (quotes, trades)
  }

  /** Shared prelude: events projected into tick shape. */
  private def ticks(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .withColumn("symbol", col("user_id").cast("string"))
      .withColumn("volume", floor(col("value")).cast("int"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1+A2+F5+F6+R4: per-(symbol, UTC day) running cumulative buy/sell
    // volume with delta, emitted per input row (main.rs:107-130).
    "tick_cumvol" -> ((s, dir) => {
      CumVol(ticks(s, dir), col("user_id"), col("ts"), col("event_id"),
          col("event_type"), col("volume"), buyMark = "purchase", sellMark = "click")
        .select(
          col("symbol"),
          to_date(col("ts")).as("day"),
          unix_micros(col("ts")).as("time_us"),
          col("event_type"),
          col("volume"),
          col("cumbuy"), col("cumsell"), col("cumdelta"))
    }),

    // The SAME running cumulative through the skew-safe salted form
    // (round-9): [[CumVol.salted]] runs a two-pass distributed prefix
    // scan over (key, day, intra-day time bucket) with per-bucket
    // offset injection, so one hot symbol-day fans out across buckets
    // instead of serializing one task — the CumVol analog of
    // AsofJoin.salted, closing the r8 scale audit's second hot-key
    // window. Registered against the IDENTICAL oracle SQL as
    // tick_cumvol so the driver certifies the rewrite lands on the
    // same rows; the hot-key probe (ScaleProbe `cumvol_hotkey_salted`)
    // carries the skew evidence.
    "tick_cumvol_salted" -> ((s, dir) => {
      CumVol.salted(ticks(s, dir), col("user_id"), col("ts"),
          col("event_id"), col("event_type"), col("volume"),
          buyMark = "purchase", sellMark = "click", numBuckets = 32)
        .select(
          col("symbol"),
          to_date(col("ts")).as("day"),
          unix_micros(col("ts")).as("time_us"),
          col("event_type"),
          col("volume"),
          col("cumbuy"), col("cumsell"), col("cumdelta"))
    }),

    // F3+F4+R3: book branch batch analog (main.rs:95-104) — project events
    // into book shape, synthesize the reference's raw order_type vocabulary,
    // then strip the BOOK_TYPE_ prefix globally (Rust str::replace is
    // global, main.rs:62-64 — so is Spark regexp_replace; DuckDB needs the
    // 'g' flag).
    "book_normalize" -> ((s, dir) => {
      Tables(s, dir, "events")
        .select(
          col("user_id").cast("string").as("symbol"),
          col("value").as("price"),
          unix_micros(col("ts")).as("time_us"),
          floor(col("value")).cast("int").as("volume"),
          regexp_replace(
            concat(lit("BOOK_TYPE_"), upper(col("event_type"))),
            "BOOK_TYPE_", "").as("order_type"))
    }),

    // THE query shape the reference's entire storage design serves
    // (SURVEY §0: per-symbol time-range scans in reverse time order,
    // pre-materialized by PK (symbol, time DESC, price), main.rs:87-88):
    // one symbol, a time window, newest first, bounded. At scale this is
    // a partition-pruned scan + per-key sorted read, no shuffle of
    // anything but the ranked tail.
    "symbol_timerange_scan" -> ((s, dir) => {
      Tables(s, dir, "events")
        .filter(col("user_id") === 7 &&
          col("ts") >= lit("2024-01-01").cast("timestamp"))
        .select(col("user_id").cast("string").as("symbol"),
          unix_micros(col("ts")).as("time_us"),
          col("event_id"), col("value"))
        .orderBy(col("time_us").desc, col("event_id").desc)
        .limit(100)
    }),

    // The read pattern the reference's Cassandra layout exists to serve
    // (PK (symbol, time DESC, price), main.rs:87-88): latest state per
    // (symbol, price) level, then the top-N levels per symbol — i.e.
    // "current top of book". Engine-side: LWW dedup + ranking window.
    "book_depth_topn" -> ((s, dir) => {
      val levels = Tables(s, dir, "events").select(
        col("user_id").cast("string").as("symbol"),
        col("value").as("price"),
        unix_micros(col("ts")).as("time_us"),
        col("event_id"),
        floor(col("value")).cast("int").as("volume"))
      // ONE shuffle serves both windows: hash-clustering by symbol alone
      // satisfies the LWW window's ClusteredDistribution(symbol, price)
      // (partition keys ⊆ clustering keys) AND the rank window's
      // (symbol) — without this, Spark plans two exchanges. The final
      // window needs per-symbol clustering anyway, so this exposes no
      // skew the query didn't already have. Pinned by PlanAuditSuite.
      val bySymbol = levels.repartition(col("symbol"))
      val latest = LwwDedup(bySymbol,
        Seq(col("symbol"), col("price")),
        Seq(col("time_us"), col("event_id")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("symbol"))
        .orderBy(col("price").desc)
      latest.withColumn("depth_rank", row_number().over(w).cast("long"))
        .filter(col("depth_rank") <= 5)
        .select("symbol", "depth_rank", "price", "time_us", "volume")
    }),

    // Directory-level partition pruning ([[graft.ops.DayPartitioned]]):
    // a week's scan over a day-partitioned layout lists 7 directories
    // and never touches the rest — the time-axis pruning the
    // reference's Cassandra layout cannot do at all. PlanAuditSuite
    // asserts the day predicate lands in PartitionFilters (pruning),
    // not merely PushedFilters (row-group skipping).
    "scan_partition_pruned" -> ((s, dir) => {
      val path = graft.ops.DayPartitioned.ensure(Tables(s, dir, "events"),
        dir, "events", "ts")
      s.read.parquet(path)
        .filter(col("day") >= lit("2024-01-08").cast("date") &&
          col("day") <= lit("2024-01-14").cast("date"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          sum(floor(col("value")).cast("long")).as("sum_floor_value"))
    }),

    // F1: strict-schema JSON payload parse (serde analog, main.rs:107) over
    // the events.props JSON column.
    "json_parse_props" -> ((s, dir) => {
      Tables(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy("k")
        .agg(count(lit(1)).as("n"),
             sum(floor(col("value")).cast("long")).as("sum_floor_value"))
    }),

    // A3: last-writer-wins dedup by primary key (Cassandra-upsert semantics,
    // main.rs:87,145) — PK (user_id, ts), highest event_id wins.
    "lww_dedup" -> ((s, dir) => {
      LwwDedup(Tables(s, dir, "events"),
          Seq(col("user_id"), col("ts")), Seq(col("event_id")))
        .select(col("user_id"), unix_micros(col("ts")).as("time_us"),
          col("event_id"), col("event_type"), col("value"))
    }),

    // R1: frame-type demux — route each message to BOOK/TICK, silently drop
    // the rest (main.rs:75-76,106,167 catch-all).
    "route_counts" -> ((s, dir) => {
      Tables(s, dir, "events")
        .withColumn("frame_type",
          when(col("event_type").isin("purchase", "click"), "TICK")
            .when(col("event_type") === "view", "BOOK")
            .otherwise("DROP"))
        .filter(col("frame_type") =!= "DROP")
        .groupBy("frame_type")
        .agg(count(lit(1)).as("n"),
             countDistinct(col("user_id")).as("n_symbols"))
    }),

    // As-of join ([[AsofJoin]]): each trade (purchase) enriched with the
    // prevailing quote (latest view at or before the trade, per user).
    "asof_quote_trade" -> ((s, dir) => {
      val (quotes, trades) = quotesAndTrades(s, dir)
      AsofJoin(trades, quotes, "user_id", "ts", Seq("q_us", "qprice"))
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("t_us"), col("tprice"),
          col("q_us"), col("qprice"))
    }),

    // Trade classification over the as-of enrich — the tick-rule /
    // Lee-Ready shape the reference's (symbol, time DESC) store exists
    // to answer: each trade against its prevailing quote → buy (above
    // quote) / sell (below) / mid (equal) / unquoted (no quote yet),
    // rolled up per symbol with notional. The comparison is two
    // unmodified doubles (exact on both engines); the classification
    // is a pure projection on the one-shuffle as-of plan, and the
    // rollup re-keys on (symbol, side) with map-side partials — the
    // order-flow summary every microstructure dashboard starts from.
    "asof_trade_classify" -> ((s, dir) => {
      val (quotes, trades) = quotesAndTrades(s, dir)
      AsofJoin(trades, quotes, "user_id", "ts", Seq("q_us", "qprice"))
        .withColumn("side",
          when(col("qprice").isNull, "unquoted")
            .when(col("tprice") > col("qprice"), "buy")
            .when(col("tprice") < col("qprice"), "sell")
            .otherwise("mid"))
        .groupBy(col("user_id").as("symbol"), col("side"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("tprice") * 100).cast("long"))
            .as("notional_cents"))
    }),

    // The SAME as-of enrich through the whole-operator physical form
    // (round-6): [[AsofJoin.merge]] plans graft's own LogicalPlan →
    // Strategy → AsofMergeJoinExec (per-partition two-pointer merge of
    // the two sorted sides — no unioned exchange, no running window;
    // see the op's scaladoc for the cost contrast). Registered against
    // the IDENTICAL oracle SQL as asof_quote_trade, so the driver
    // itself certifies the custom operator against DuckDB's native
    // ASOF LEFT JOIN; PlanAuditSuite pins the plan shape.
    "asof_merge_quote_trade" -> ((s, dir) => {
      val (quotes, trades) = quotesAndTrades(s, dir)
      graft.ops.AsofJoin.merge(trades, quotes, "user_id", "ts",
          Seq("q_us", "qprice"))
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("t_us"), col("tprice"),
          col("q_us"), col("qprice"))
    }),

    // The SAME as-of enrich through the skew-safe salted form
    // (round-9): [[AsofJoin.salted]] partitions the running-carry
    // window on (key, coarse time bucket) with boundary-state
    // injection, so a hot symbol fans out across buckets instead of
    // serializing one task — the 100 TB answer for the reference's
    // per-symbol feed where hot symbols are the norm (main.rs:87-88).
    // Registered against the IDENTICAL oracle SQL as asof_quote_trade
    // so the driver certifies the salted rewrite against DuckDB's
    // native ASOF LEFT JOIN; the hot-key scale probe (ScaleProbe
    // `asof_hotkey_salted`) carries the skew evidence.
    "asof_salted_quote_trade" -> ((s, dir) => {
      val (quotes, trades) = quotesAndTrades(s, dir)
      AsofJoin.salted(trades, quotes, "user_id", "ts",
          Seq("q_us", "qprice"), numBuckets = 32)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("t_us"), col("tprice"),
          col("q_us"), col("qprice"))
    }),

    // Tolerance-bounded as-of: same enrich, but a quote older than 30
    // minutes is STALE and must not be attached — the staleness window
    // every real market-data join carries. Same one-shuffle union-scan
    // plan (tolerance is a post-carry projection, not a join-shape
    // change); the matched timestamp rides the payload struct, so
    // nulling a stale match nulls the WHOLE payload atomically.
    "asof_tolerance" -> ((s, dir) => {
      val (quotes, trades) = quotesAndTrades(s, dir)
      val tolUs = 1800L * 1000000L
      val fresh = unix_micros(col("ts")) - col("q_us") <= tolUs
      AsofJoin(trades, quotes, "user_id", "ts", Seq("q_us", "qprice"))
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("t_us"), col("tprice"),
          when(fresh, col("q_us")).as("q_us"),
          when(fresh, col("qprice")).as("qprice"))
    }),

    // OHLC bars — THE downstream consumer query of the reference's
    // stored ticks (charting candles): per (symbol, hour), open/close
    // are argmin/argmax over the (ts, event_id) tick order folded as
    // ONE struct-min/max aggregate (no ranking window — map-side
    // partials survive), high/low/count are plain aggregates. The
    // (ts, event_id, price) struct makes the tie order explicit, so
    // same-timestamp ticks fold identically on both engines.
    "ts_ohlc_bars" -> ((s, dir) => {
      Tables(s, dir, "events")
        .groupBy(col("user_id").as("symbol"),
          window(col("ts"), "1 hour").as("w"))
        .agg(
          min(struct(col("ts"), col("event_id"), col("value"))).as("o"),
          max(struct(col("ts"), col("event_id"), col("value"))).as("cl"),
          max(col("value")).as("high"), min(col("value")).as("low"),
          count(lit(1)).as("n_ticks"))
        .select(col("symbol"), col("w.start").as("bar_start"),
          col("o.value").as("open"), col("high"), col("low"),
          col("cl.value").as("close"), col("n_ticks"))
    }),

    // VWAP + order-flow imbalance per (symbol, hour) — the other two
    // bar-level statistics a tick store serves. Price enters the
    // weighted sum as fixed-point micros × integer volume (exact
    // BIGINT, ~10^12 per row), buy/sell volumes are exact integer
    // sums under the tick mapping (purchase = buy, click = sell), and
    // the two ratios are single divisions over exact integers with a
    // zero-denominator CASE on both engines.
    "ts_vwap_imbalance" -> ((s, dir) => {
      val vol = floor(col("value")).cast("long")
      val pFix = floor(col("value") * 1e6).cast("long")
      Tables(s, dir, "events")
        .groupBy(col("user_id").as("symbol"),
          window(col("ts"), "1 hour").as("w"))
        .agg(
          sum(pFix * vol).as("pv"),
          sum(vol).as("tot_vol"),
          sum(when(col("event_type") === "purchase", vol)
            .otherwise(0L)).as("buy_vol"),
          sum(when(col("event_type") === "click", vol)
            .otherwise(0L)).as("sell_vol"))
        .select(col("symbol"), col("w.start").as("bar_start"),
          col("tot_vol"), col("buy_vol"), col("sell_vol"),
          expr("CASE WHEN tot_vol > 0 THEN CAST(pv AS DOUBLE)" +
            " / (1e6 * CAST(tot_vol AS DOUBLE)) END").as("vwap"),
          expr("CASE WHEN buy_vol + sell_vol > 0 THEN" +
            " CAST(buy_vol - sell_vol AS DOUBLE)" +
            " / CAST(buy_vol + sell_vol AS DOUBLE) END").as("imbalance"))
    }),

    "asof_forward" -> ((s, dir) => {
      val (quotes, trades) = quotesAndTrades(s, dir)
      val qn = quotes.select(col("user_id"), (-col("q_us")).as("tneg"),
        col("q_us"), col("qprice"))
      val tn = trades.select(col("user_id"),
        (-unix_micros(col("ts"))).as("tneg"),
        col("event_id"), col("tprice"))
      AsofJoin(tn, qn, "user_id", "tneg", Seq("q_us", "qprice"))
        .select(col("user_id"), col("event_id"),
          (-col("tneg")).as("t_us"), col("tprice"),
          col("q_us"), col("qprice"))
    }),

    // Nearest-neighbor as-of — the third direction the family needs
    // (backward = prevailing quote, forward = next quote, NEAREST =
    // closest in either direction; sensor-fusion and bar-alignment
    // semantics pandas calls merge_asof(direction='nearest')). Built
    // from the SAME union-scan kernel run once per direction — each
    // side stays the one-shuffle-per-key plan — then one equi-join on
    // the unique trade id picks the closer match (ties → backward,
    // matching the inclusive-<= convention). A `side` column makes the
    // pick auditable in-row. DuckDB has no NEAREST mode, so the mirror
    // composes its own two ASOF JOINs with the identical CASE — the
    // hash match certifies the composition, not a restatement.
    "asof_nearest" -> ((s, dir) => {
      val (quotes, trades) = quotesAndTrades(s, dir)
      val back = AsofJoin(trades, quotes, "user_id", "ts",
        Seq("q_us", "qprice"))
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("t_us"), col("tprice"),
          col("q_us").as("b_us"), col("qprice").as("b_price"))
      val qn = quotes.select(col("user_id"), (-col("q_us")).as("tneg"),
        col("q_us"), col("qprice"))
      val tn = trades.select(col("user_id"),
        (-unix_micros(col("ts"))).as("tneg"),
        col("event_id"), col("tprice"))
      val fwd = AsofJoin(tn, qn, "user_id", "tneg", Seq("q_us", "qprice"))
        .select(col("user_id"), col("event_id"),
          col("q_us").as("f_us"), col("qprice").as("f_price"))
      val pickB = "b_us IS NOT NULL AND (f_us IS NULL" +
        " OR t_us - b_us <= f_us - t_us)"
      back.join(fwd, Seq("user_id", "event_id"))
        .select(col("user_id"), col("event_id"), col("t_us"),
          col("tprice"),
          expr(s"CASE WHEN $pickB THEN b_us ELSE f_us END").as("q_us"),
          expr(s"CASE WHEN $pickB THEN b_price ELSE f_price END")
            .as("qprice"),
          expr(s"""CASE WHEN b_us IS NULL AND f_us IS NULL THEN NULL
                   WHEN $pickB THEN 'B' ELSE 'F' END""").as("side"))
    }),

    // Range join with an equi-key: lineitems shipped within 30 days of
    // their order date. The equality on orderkey keeps this a hash join
    // with a residual range predicate — never a cross product.
    "range_join_ship_window" -> ((s, dir) => {
      Tables(s, dir, "lineitem").as("l")
        .join(Tables(s, dir, "orders").as("o"),
          expr("""l_orderkey = o_orderkey
                  AND l_shipdate >= o_orderdate
                  AND l_shipdate <= o_orderdate + INTERVAL 30 DAYS"""))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
             sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
               .as("sum_qty"))
    }),

    // F2 analog: array explode with position (the BOOK JSON-array flatten,
    // main.rs:77,95) over the embeddings vector column.
    "array_explode" -> ((s, dir) => {
      Tables(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "val")))
        .filter(col("pos") < 4)
        .select(col("vec_id"), col("pos"), col("val"))
    })
  )

  private val volumeSql = "CAST(floor(value) AS INT)"
  private def sideSumSql(mark: String) =
    s"CAST(SUM(CASE WHEN event_type = '$mark' THEN $volumeSql ELSE 0 END) OVER w AS BIGINT)"

  private val cumvolSql: String =
    s"""SELECT CAST(user_id AS VARCHAR) AS symbol,
       |  CAST(ts AS DATE) AS day,
       |  epoch_us(ts) AS time_us,
       |  event_type,
       |  $volumeSql AS volume,
       |  ${sideSumSql("purchase")} AS cumbuy,
       |  ${sideSumSql("click")} AS cumsell,
       |  ${sideSumSql("purchase")} - ${sideSumSql("click")} AS cumdelta
       |FROM events
       |WINDOW w AS (PARTITION BY user_id, CAST(ts AS DATE)
       |             ORDER BY ts, event_id
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin

  def oracles: Map[String, String] = Map(
    "tick_cumvol" -> cumvolSql,
    // deliberately the SAME SQL as tick_cumvol: the salted
    // (key, day, time-bucket) prefix scan must land on the identical
    // row set
    "tick_cumvol_salted" -> cumvolSql,

    "symbol_timerange_scan" ->
      """SELECT CAST(user_id AS VARCHAR) AS symbol, epoch_us(ts) AS time_us,
        |  event_id, value
        |FROM events
        |WHERE user_id = 7 AND ts >= TIMESTAMP '2024-01-01'
        |ORDER BY time_us DESC, event_id DESC LIMIT 100""".stripMargin,

    "book_depth_topn" ->
      """WITH latest AS (
        |  SELECT symbol, price, time_us, volume FROM (
        |    SELECT CAST(user_id AS VARCHAR) AS symbol, value AS price,
        |      epoch_us(ts) AS time_us,
        |      CAST(floor(value) AS INT) AS volume,
        |      row_number() OVER (PARTITION BY user_id, value
        |        ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |    FROM events)
        |  WHERE rn = 1)
        |SELECT symbol, depth_rank, price, time_us, volume FROM (
        |  SELECT symbol, price, time_us, volume,
        |    row_number() OVER (PARTITION BY symbol ORDER BY price DESC)
        |      AS depth_rank
        |  FROM latest)
        |WHERE depth_rank <= 5""".stripMargin,

    "book_normalize" ->
      """SELECT CAST(user_id AS VARCHAR) AS symbol,
        |  value AS price,
        |  epoch_us(ts) AS time_us,
        |  CAST(floor(value) AS INT) AS volume,
        |  regexp_replace('BOOK_TYPE_' || upper(event_type), 'BOOK_TYPE_', '', 'g') AS order_type
        |FROM events""".stripMargin,

    "scan_partition_pruned" ->
      """SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sum_floor_value
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
        |GROUP BY 1""".stripMargin,

    "json_parse_props" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sum_floor_value
        |FROM events GROUP BY 1""".stripMargin,

    "lww_dedup" ->
      """SELECT user_id, epoch_us(ts) AS time_us, event_id, event_type, value
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, ts
        |                                   ORDER BY event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1""".stripMargin,

    "route_counts" ->
      """SELECT CASE WHEN event_type IN ('purchase','click') THEN 'TICK'
        |            WHEN event_type = 'view' THEN 'BOOK' END AS frame_type,
        |  COUNT(*) AS n,
        |  COUNT(DISTINCT user_id) AS n_symbols
        |FROM events
        |WHERE event_type IN ('purchase','click','view')
        |GROUP BY 1""".stripMargin,

    "asof_quote_trade" ->
      """WITH quotes AS (
        |  SELECT user_id, ts, epoch_us(ts) AS q_us, value AS qprice
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, ts
        |                                     ORDER BY event_id DESC) AS rn
        |        FROM events WHERE event_type = 'view')
        |  WHERE rn = 1),
        |trades AS (
        |  SELECT user_id, ts, event_id, value AS tprice
        |  FROM events WHERE event_type = 'purchase')
        |SELECT t.user_id, t.event_id, epoch_us(t.ts) AS t_us, t.tprice,
        |       q.q_us, q.qprice
        |FROM trades t ASOF LEFT JOIN quotes q
        |  ON t.user_id = q.user_id AND q.ts <= t.ts""".stripMargin,

    "asof_trade_classify" ->
      """WITH quotes AS (
        |  SELECT user_id, ts, value AS qprice
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, ts
        |                                     ORDER BY event_id DESC) AS rn
        |        FROM events WHERE event_type = 'view')
        |  WHERE rn = 1),
        |trades AS (
        |  SELECT user_id, ts, value AS tprice
        |  FROM events WHERE event_type = 'purchase'),
        |e AS (
        |  SELECT t.user_id, t.tprice, q.qprice
        |  FROM trades t ASOF LEFT JOIN quotes q
        |    ON t.user_id = q.user_id AND q.ts <= t.ts)
        |SELECT user_id AS symbol,
        |  CASE WHEN qprice IS NULL THEN 'unquoted'
        |       WHEN tprice > qprice THEN 'buy'
        |       WHEN tprice < qprice THEN 'sell'
        |       ELSE 'mid' END AS side,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(floor(tprice * 100) AS BIGINT)) AS BIGINT)
        |    AS notional_cents
        |FROM e GROUP BY 1, 2""".stripMargin,

    // deliberately the SAME SQL as asof_quote_trade: the salted
    // (key, time-bucket) rewrite must land on the identical row set
    "asof_salted_quote_trade" ->
      """WITH quotes AS (
        |  SELECT user_id, ts, epoch_us(ts) AS q_us, value AS qprice
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, ts
        |                                     ORDER BY event_id DESC) AS rn
        |        FROM events WHERE event_type = 'view')
        |  WHERE rn = 1),
        |trades AS (
        |  SELECT user_id, ts, event_id, value AS tprice
        |  FROM events WHERE event_type = 'purchase')
        |SELECT t.user_id, t.event_id, epoch_us(t.ts) AS t_us, t.tprice,
        |       q.q_us, q.qprice
        |FROM trades t ASOF LEFT JOIN quotes q
        |  ON t.user_id = q.user_id AND q.ts <= t.ts""".stripMargin,

    // deliberately the SAME SQL as asof_quote_trade: the custom
    // physical operator must land on the identical row set
    "asof_merge_quote_trade" ->
      """WITH quotes AS (
        |  SELECT user_id, ts, epoch_us(ts) AS q_us, value AS qprice
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, ts
        |                                     ORDER BY event_id DESC) AS rn
        |        FROM events WHERE event_type = 'view')
        |  WHERE rn = 1),
        |trades AS (
        |  SELECT user_id, ts, event_id, value AS tprice
        |  FROM events WHERE event_type = 'purchase')
        |SELECT t.user_id, t.event_id, epoch_us(t.ts) AS t_us, t.tprice,
        |       q.q_us, q.qprice
        |FROM trades t ASOF LEFT JOIN quotes q
        |  ON t.user_id = q.user_id AND q.ts <= t.ts""".stripMargin,

    "ts_ohlc_bars" ->
      """WITH r AS (
        |  SELECT user_id AS symbol, date_trunc('hour', ts) AS bar_start,
        |    value, event_id,
        |    row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
        |                       ORDER BY ts, event_id) AS rf,
        |    row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
        |                       ORDER BY ts DESC, event_id DESC) AS rl
        |  FROM events)
        |SELECT symbol, bar_start,
        |  MIN(CASE WHEN rf = 1 THEN value END) AS open,
        |  MAX(value) AS high, MIN(value) AS low,
        |  MIN(CASE WHEN rl = 1 THEN value END) AS close,
        |  COUNT(*) AS n_ticks
        |FROM r GROUP BY 1, 2""".stripMargin,

    "ts_vwap_imbalance" ->
      """WITH sums AS (
        |  SELECT user_id AS symbol, date_trunc('hour', ts) AS bar_start,
        |    CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)
        |      * CAST(floor(value) AS BIGINT)) AS BIGINT) AS pv,
        |    CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS tot_vol,
        |    CAST(SUM(CASE WHEN event_type = 'purchase'
        |      THEN CAST(floor(value) AS BIGINT) ELSE 0 END) AS BIGINT)
        |      AS buy_vol,
        |    CAST(SUM(CASE WHEN event_type = 'click'
        |      THEN CAST(floor(value) AS BIGINT) ELSE 0 END) AS BIGINT)
        |      AS sell_vol
        |  FROM events GROUP BY 1, 2)
        |SELECT symbol, bar_start, tot_vol, buy_vol, sell_vol,
        |  CASE WHEN tot_vol > 0
        |    THEN CAST(pv AS DOUBLE) / (1e6 * CAST(tot_vol AS DOUBLE))
        |  END AS vwap,
        |  CASE WHEN buy_vol + sell_vol > 0
        |    THEN CAST(buy_vol - sell_vol AS DOUBLE)
        |      / CAST(buy_vol + sell_vol AS DOUBLE)
        |  END AS imbalance
        |FROM sums""".stripMargin,

    "asof_forward" ->
      """WITH quotes AS (
        |  SELECT user_id, ts, epoch_us(ts) AS q_us, value AS qprice
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, ts
        |                                     ORDER BY event_id DESC) AS rn
        |        FROM events WHERE event_type = 'view')
        |  WHERE rn = 1),
        |trades AS (
        |  SELECT user_id, ts, event_id, value AS tprice
        |  FROM events WHERE event_type = 'purchase')
        |SELECT t.user_id, t.event_id, epoch_us(t.ts) AS t_us, t.tprice,
        |       q.q_us, q.qprice
        |FROM trades t ASOF LEFT JOIN quotes q
        |  ON t.user_id = q.user_id AND q.ts >= t.ts""".stripMargin,

    "asof_nearest" ->
      """WITH quotes AS (
        |  SELECT user_id, ts, epoch_us(ts) AS q_us, value AS qprice
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, ts
        |                                     ORDER BY event_id DESC) AS rn
        |        FROM events WHERE event_type = 'view')
        |  WHERE rn = 1),
        |trades AS (
        |  SELECT user_id, ts, event_id, value AS tprice
        |  FROM events WHERE event_type = 'purchase'),
        |b AS (
        |  SELECT t.user_id, t.event_id, epoch_us(t.ts) AS t_us,
        |    t.tprice, q.q_us AS b_us, q.qprice AS b_price
        |  FROM trades t ASOF LEFT JOIN quotes q
        |    ON t.user_id = q.user_id AND q.ts <= t.ts),
        |f AS (
        |  SELECT t.user_id, t.event_id, q.q_us AS f_us,
        |    q.qprice AS f_price
        |  FROM trades t ASOF LEFT JOIN quotes q
        |    ON t.user_id = q.user_id AND q.ts >= t.ts)
        |SELECT b.user_id, b.event_id, b.t_us, b.tprice,
        |  CASE WHEN b_us IS NOT NULL AND (f_us IS NULL
        |           OR t_us - b_us <= f_us - t_us)
        |       THEN b_us ELSE f_us END AS q_us,
        |  CASE WHEN b_us IS NOT NULL AND (f_us IS NULL
        |           OR t_us - b_us <= f_us - t_us)
        |       THEN b_price ELSE f_price END AS qprice,
        |  CASE WHEN b_us IS NULL AND f_us IS NULL THEN NULL
        |       WHEN b_us IS NOT NULL AND (f_us IS NULL
        |           OR t_us - b_us <= f_us - t_us)
        |       THEN 'B' ELSE 'F' END AS side
        |FROM b JOIN f USING (user_id, event_id)""".stripMargin,

    "asof_tolerance" ->
      """WITH quotes AS (
        |  SELECT user_id, ts, epoch_us(ts) AS q_us, value AS qprice
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, ts
        |                                     ORDER BY event_id DESC) AS rn
        |        FROM events WHERE event_type = 'view')
        |  WHERE rn = 1),
        |trades AS (
        |  SELECT user_id, ts, event_id, value AS tprice
        |  FROM events WHERE event_type = 'purchase')
        |SELECT t.user_id, t.event_id, epoch_us(t.ts) AS t_us, t.tprice,
        |  CASE WHEN epoch_us(t.ts) - q.q_us <= 1800000000
        |    THEN q.q_us END AS q_us,
        |  CASE WHEN epoch_us(t.ts) - q.q_us <= 1800000000
        |    THEN q.qprice END AS qprice
        |FROM trades t ASOF LEFT JOIN quotes q
        |  ON t.user_id = q.user_id AND q.ts <= t.ts""".stripMargin,

    "range_join_ship_window" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders
        |  ON l_orderkey = o_orderkey
        | AND l_shipdate >= o_orderdate
        | AND l_shipdate <= o_orderdate + INTERVAL 30 DAY
        |GROUP BY l_returnflag""".stripMargin,

    "array_explode" ->
      """SELECT vec_id, pos, val FROM (
        |  SELECT vec_id,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
        |    unnest(embedding) AS val
        |  FROM embeddings)
        |WHERE pos < 4""".stripMargin
  )
}
