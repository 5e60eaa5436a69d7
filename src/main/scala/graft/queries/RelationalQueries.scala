package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryPack, Tables}

/** Relational operator surface inherited from Spark SQL, exercised over the
  * TPC-H-shaped fixture tables (SURVEY.md §7.2 step 2): grouped aggregation,
  * every join strategy, rollup/cube, ranking/analytic windows, sorts/top-k,
  * set operations, and subquery shapes. The reference itself has none of
  * these (SURVEY.md §2.7) — they are what its external Cassandra consumers
  * would run, re-expressed engine-side.
  *
  * Oracle-parity discipline (driver hash-compares values exactly):
  *   - never SUM a double: cast to DECIMAL first — exact in both engines and
  *     independent of partial-aggregation order (Spark sums doubles in
  *     arbitrary partition order; last-ulp drift would fail the hash).
  *   - averages = exact decimal sum cast to double, divided by a count: one
  *     IEEE division on identical operands is bit-exact cross-engine.
  *   - every top-k ordering carries a unique tie-break key.
  *
  * Scale notes (100 TB): dimension joins (region/nation/customer/supplier/
  * part) are explicitly `broadcast()` — at production scale these stay
  * O(MB–GB) while lineitem/orders/events grow; fact-fact joins shuffle on
  * the join key and rely on AQE for skew. Windows partition by bounded keys
  * (customer, segment), never globally except final top-k LIMITs, which
  * Spark executes as a per-partition TakeOrdered + driver merge of k rows.
  */
object RelationalQueries extends QueryPack {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  // Exact money arithmetic: double -> decimal before aggregation.
  private def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")

  /** q21's per-order sole-late-shipper aggregate over explicit frames
    * (shared by the registered query and the ScaleProbe q21_sole_late
    * arm — the probe rule: arms call the query's own helper, never a
    * re-expression). Returns orders with >1 supplier where exactly one
    * supplier shipped late: (l_orderkey, n_supp, n_late_supp,
    * late_supp, n_late_lines). Two-level rollup instead of a
    * multi-DISTINCT aggregate: the (orderkey, suppkey) pre-aggregate
    * is map-side combinable and avoids Catalyst's Expand (which
    * triples the shuffled rows for two distinct columns — measured
    * 1.8s vs 1.1s at sf0.1); level 2 regroups the already-shuffled
    * keys without a second wide exchange.
    */
  def q21SoleLate(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val fOrd = orders.filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("odate"))
    lineitem
      .select(col("l_orderkey"), col("l_suppkey"),
        to_date(col("l_shipdate")).as("sdate"))
      .join(fOrd, col("l_orderkey") === col("o_orderkey"))
      .withColumn("late",
        (datediff(col("sdate"), col("odate")) > 60).cast("long"))
      .groupBy("l_orderkey", "l_suppkey")
      .agg(sum(col("late")).as("late_lines"))
      .groupBy("l_orderkey")
      .agg(
        count(lit(1)).as("n_supp"),
        sum(when(col("late_lines") > 0, 1L).otherwise(0L))
          .as("n_late_supp"),
        min(when(col("late_lines") > 0, col("l_suppkey")))
          .as("late_supp"),
        sum(col("late_lines")).as("n_late_lines"))
      .filter(col("n_supp") > 1 && col("n_late_supp") === 1)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- grouped aggregation -------------------------------------------
    // TPC-H Q1 shape: multi-measure hash aggregate; map-side partial agg
    // then one shuffle on the (low-cardinality) group key.
    "q1_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * (lit(1.0) - col("l_discount"))
            .cast("decimal(18,6)")).cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"),
          (sum(dec(col("l_quantity"))).cast("double") / count(lit(1)))
            .as("avg_qty"))
    }),

    "agg_distinct" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
    }),

    // Grouped argmax ("best row per group") as an AGGREGATE, not a
    // ranking window: max_by with a composite version makes the winner
    // deterministic under price ties, and partial aggregation reduces
    // each task to one candidate per group before the exchange — the
    // same asymptotics as LwwDedup.argmax.
    "agg_argmax" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          // exact long tie-break, no double cast: keys above 2^53 that
          // round to the same double would make the winner
          // partial-agg-order dependent where the oracle's BIGINT
          // ORDER BY stays deterministic
          max_by(col("o_orderkey"),
            struct(col("o_totalprice"), col("o_orderkey")))
            .as("best_orderkey"),
          max(col("o_totalprice")).as("max_price"),
          count(lit(1)).as("n"))
    }),

    // Typed-Aggregator UDAF surface: bounded-buffer top-k per group
    // (map-side partial top-k; k candidates per partition reach the
    // shuffle, never a per-group global sort).
    "agg_topk_udaf" -> ((s, dir) => {
      import s.implicits._
      val topk = new graft.ops.TopKAggregator(3)
      t(s, dir, "orders")
        .select(col("o_orderstatus"), col("o_totalprice"), col("o_orderkey"))
        .as[(String, Double, Long)]
        .groupByKey(_._1)
        .mapValues(v => (v._2, v._3))
        .agg(topk.toColumn.name("topk"))
        .flatMap { case (status, hits) =>
          hits.zipWithIndex.map { case ((price, key), i) =>
            (status, (i + 1).toLong, price, key)
          }
        }
        .toDF("o_orderstatus", "rnk", "price", "o_orderkey")
    }),

    "agg_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
             count(lit(1)).as("n"),
             grouping_id().as("gid"))
    }),

    "agg_cube" -> ((s, dir) => {
      t(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(sum(dec(col("o_totalprice"))).cast("double").as("sum_price"),
             count(lit(1)).as("n"),
             grouping_id().as("gid"))
    }),

    // Manual pivot via conditional aggregation (engine-portable form).
    "agg_pivot_manual" -> ((s, dir) => {
      val e = t(s, dir, "events")
      e.groupBy(col("user_id").mod(100).as("cohort"))
        .agg(
          sum(when(col("event_type") === "click", 1).otherwise(0)).as("clicks"),
          sum(when(col("event_type") === "purchase", 1).otherwise(0)).as("purchases"),
          sum(when(col("event_type") === "view", 1).otherwise(0)).as("views"),
          count(lit(1)).as("total"))
    }),

    // Native pivot API with PINNED values: `pivot(col, values)` avoids
    // the extra distinct-values job AND makes the output schema static
    // — the form you run at scale (unpinned pivot = a driver collect of
    // the key domain first).
    "agg_pivot_native" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("user_id").mod(100).as("cohort"))
        .pivot("event_type", Seq("click", "purchase", "view"))
        .agg(count(lit(1)).as("n"))
        .na.fill(0L, Seq("click", "purchase", "view"))
    }),

    // RANGE frame: per-customer 30-day trailing order-value sum —
    // value-based frame bounds (all peers within the range), not
    // row-counted ones; ordered on epoch-day so both engines frame on
    // identical integers.
    "window_range_frame" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("d"))
        .rangeBetween(-30, 0)
      t(s, dir, "orders")
        .withColumn("d", datediff(col("o_orderdate"), lit("1970-01-01").cast("date")).cast("long"))
        .withColumn("trail30",
          sum(dec(col("o_totalprice"))).over(w).cast("double"))
        .select(col("o_orderkey"), col("o_custkey"), col("d"),
          col("trail30"))
    }),

    // ---- joins ----------------------------------------------------------
    // Dim-chain broadcast: region ⋈ nation ⋈ customer with both dims
    // broadcast — no shuffle of the fact side at any scale.
    "join_broadcast_dims" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_cust"),
             sum(dec(col("c_acctbal"))).cast("double").as("sum_bal"))
    }),

    // TPC-H Q3 shape: fact-fact shuffle join + broadcast dim filter + top-k.
    "q3_shipping_priority" -> ((s, dir) => {
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      // customer broadcast applies BEFORE the fact-fact shuffle: the
      // segment filter keeps ~1/5 of orders, so the orderkey exchange
      // ships a fifth of the orders side — the right order at any
      // scale (r9: the old li⋈ord-first shape shuffled ALL of orders
      // and only then dropped 4/5 of the joined rows)
      li.join(
          ord.join(broadcast(cust), col("o_custkey") === col("c_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(sum((dec(col("l_extendedprice")) *
          (lit(1.0) - col("l_discount")).cast("decimal(18,6)")))
          .cast("double").as("revenue"))
        .orderBy(desc("revenue"), asc("l_orderkey"))
        .limit(10)
    }),

    // TPC-H Q5 shape: five-way join, dims broadcast, one fact-fact shuffle.
    "q5_local_supplier" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
      val sup = t(s, dir, "supplier")
      val nat = t(s, dir, "nation")
      val reg = t(s, dir, "region")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg.filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(sum(dec(col("l_extendedprice")) *
          (lit(1.0) - col("l_discount")).cast("decimal(18,6)"))
          .cast("double").as("revenue"))
        .orderBy(desc("revenue"), asc("n_name"))
    }),

    // TPC-H Q6 (forecasting revenue change, dates shifted to the
    // fixture's 1995–2001 l_shipdate range): the benchmark's pure
    // scan-kernel query — single table, three row-level predicates,
    // one global sum, NO join and NO groupBy. At scale this is the
    // query where pushdown is everything: all three predicates reach
    // the parquet scan (min/max row-group skipping on l_shipdate), the
    // ReadSchema is 4 columns of 11, and the aggregate is one
    // map-side partial per task + a single-row final — no shuffle of
    // data, only of partial sums. Decimal discipline as q1/q5: sum in
    // DECIMAL (exact, order-independent), cast to double at the edge.
    "q6_forecast_revenue" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(
          sum(dec(col("l_extendedprice")) *
            col("l_discount").cast("decimal(18,6)"))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_rows"))
    }),

    // Per-group modal value (most frequent event type per user) with a
    // deterministic tiebreak — the argmax folds as ONE struct-min
    // aggregate over the (user, type) counts (min of (−n, type) ≡
    // count desc, type asc), so the second phase is a map-side-partial
    // agg on the user key, not a ranking window.
    "agg_mode" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"))
        .groupBy("user_id")
        .agg(min(struct((-col("n")).as("neg"),
          col("event_type").as("t"))).as("m"))
        .select(col("user_id"), col("m.t").as("mode_type"),
          (-col("m.neg")).as("n"))
    }),

    // TPC-H Q10 shape — returned-item revenue per customer: one
    // fact-fact shuffle join (lineitem⋈orders on orderkey), customer
    // and nation broadcast, returned-flag filter pushed to the
    // lineitem scan, top 20 by revenue via TakeOrdered (never a global
    // sort). Decimal money math routed through VARCHAR like every
    // other revenue oracle.
    "q10_returned_revenue" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      val ord = t(s, dir, "orders")
      val cust = t(s, dir, "customer")
      val nat = t(s, dir, "nation")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(sum(dec(col("l_extendedprice")) *
          (lit(1.0) - col("l_discount")).cast("decimal(18,6)"))
          .cast("double").as("revenue"))
        .orderBy(desc("revenue"), asc("c_custkey"))
        .limit(20)
    }),

    // TPC-H Q18 shape — large-volume orders: the group-by-HAVING
    // pre-aggregation runs on the fact FIRST (one shuffle on orderkey,
    // map-side partial sums), and only the few qualifying orderkeys
    // join back to orders/customer — never the raw lineitem rows.
    "q18_large_orders" -> ((s, dir) => {
      val big = t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(sum(dec(col("l_quantity"))).as("total_qty"))
        .filter(col("total_qty") > 150)
      val ord = t(s, dir, "orders")
      val cust = t(s, dir, "customer")
      big.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"),
          col("total_qty").cast("double").as("total_qty"))
        .orderBy(desc("total_qty"), asc("o_orderkey"))
        .limit(50)
    }),

    // Fact ⋈ fact with NO runtime exchange: both sides pre-bucketed on
    // the join key ([[graft.ops.Bucketing]]), so the scan itself
    // satisfies the join's required distribution — the 100 TB answer to
    // a join run every day on the same key. The shuffle is paid once at
    // write time; PlanAuditSuite asserts the join runs exchange-free.
    "join_bucketed_colocated" -> ((s, dir) => {
      import graft.ops.Bucketing
      val li = Bucketing.ensureBucketed(
        t(s, dir, "lineitem").select("l_orderkey", "l_quantity"),
        dir, "li", "l_orderkey", 8)
      val ord = Bucketing.ensureBucketed(
        t(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
        dir, "ord", "o_orderkey", 8)
      s.table(li).join(s.table(ord),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
    }),

    // Skew-breaking salted join ([[graft.ops.SaltedJoin.skewAware]]):
    // the hot-key escape hatch when the dim side is too big to
    // broadcast and AQE's adaptive skew split isn't available (static
    // planning, streaming micro-batches). Only rows of detected-hot
    // keys are salted; the cold majority joins normally. Result
    // multiset identical to the plain join — which is exactly what the
    // oracle checks.
    "join_salted_skew" -> ((s, dir) => {
      import graft.ops.SaltedJoin
      val fact = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("k"), col("l_quantity"))
      val dim = t(s, dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_orderpriority"))
      SaltedJoin.skewAware(fact, dim, "k", saltBy = col("l_quantity"),
          hotKeyThreshold = 5L, salts = 8)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
    }),

    // AQE adaptive skew split — the mechanism a 100 TB hot-symbol
    // shuffle actually leans on (SURVEY §7.3.5), complementing the
    // manual [[graft.ops.SaltedJoin]] escape hatch above. The fact side
    // is made adversarially skewed ON PURPOSE: every even l_orderkey
    // collapses onto key 1, so one join key carries ~50% of the rows
    // and its hash partition dwarfs the median — exactly the shape
    // OptimizeSkewedJoin exists to split (PlanAuditSuite pins the
    // `isSkewJoin` rewrite firing at fixture scale with the size
    // thresholds scaled down; in production the 256 MB default
    // thresholds trip on real data). Two fixture-vs-scale stand-ins,
    // both sized UP not down: (1) merge hints keep the join sort-merge —
    // a broadcast would dodge the skew; the dim stands in for one too
    // big to broadcast. (2) the fact is an 8-branch self-union: AQE
    // splits a skewed partition at MAP-OUTPUT boundaries, and the
    // fixture parquet is one row group = ONE map task, which would make
    // the split structurally impossible no matter the thresholds (r6
    // mapStats probe) — at 100 TB the fact table IS thousands of
    // splits, so the union models the real mapper layout, not an extra
    // pass. Correctness is AQE-independent: the split replicates the
    // matching dim rows per sub-partition, leaving the join's result
    // multiset unchanged — which is what the oracle checks (8× the
    // plain-join totals).
    "join_skew_aqe" -> ((s, dir) => {
      val branch = t(s, dir, "lineitem").select(
        when(col("l_orderkey") % 2 === 0, lit(1L))
          .otherwise(col("l_orderkey")).as("k"),
        col("l_quantity"))
      val fact = (1 to 8).map(_ => branch).reduce(_ union _)
      val dim = t(s, dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_orderpriority"))
      fact.hint("merge").join(dim.hint("merge"), Seq("k"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
    }),

    // Left semi: orders having at least one big lineitem. At scale a
    // shuffle-hash semi join on l_orderkey; semi stops at first match and
    // never duplicates the left side.
    "join_semi" -> ((s, dir) => {
      val big = t(s, dir, "lineitem").filter(col("l_quantity") >= 45)
      t(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(dec(col("o_totalprice"))).cast("double").as("sum_price"))
    }),

    // Left anti: customers with no orders.
    "join_anti" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"),
          "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_custs_no_orders"))
    }),

    // Left outer join preserving unmatched left rows.
    "join_outer" -> ((s, dir) => {
      val li45 = t(s, dir, "lineitem").filter(col("l_quantity") >= 45)
        .groupBy("l_orderkey").agg(count(lit(1)).as("n_big"))
      t(s, dir, "orders")
        .join(li45, col("o_orderkey") === col("l_orderkey"), "left_outer")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
             sum(coalesce(col("n_big"), lit(0))).as("n_big_items"))
    }),

    // ---- windows --------------------------------------------------------
    // Top-3 orders per market segment by price: rank + unique tie-break.
    "window_rank_topn" -> ((s, dir) => {
      val joined = t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      joined
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("c_mktsegment"), col("rn"), col("o_orderkey"),
          col("o_totalprice").as("price"))
    }),

    // lag/lead: per-customer inter-order gap in days.
    "window_lag_gap" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("prev_date", lag(col("o_orderdate"), 1).over(w))
        .withColumn("gap_days",
          datediff(to_date(col("o_orderdate")), to_date(col("prev_date"))))
        .select(col("o_custkey"), col("o_orderkey"),
          to_date(col("o_orderdate")).as("od"), col("gap_days"))
    }),

    // Running total per customer (rows-unbounded-preceding scan).
    "window_running_total" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .withColumn("run_spend", sum(dec(col("o_totalprice"))).over(w).cast("double"))
        .select(col("o_custkey"), col("o_orderkey"), col("run_spend"))
    }),

    // ntile quartiles over account balance. Exact ntile semantics but no
    // single-partition window: GlobalRank range-partitions + sorts in
    // parallel (Spark's own ORDER BY machinery), assigns row numbers from
    // per-partition offsets, and derives the tile scan-side.
    "window_ntile" -> ((s, dir) => {
      graft.ops.GlobalRank.withNtile(
          t(s, dir, "customer"), "quartile", 4,
          Seq(col("c_acctbal"), col("c_custkey")))
        .groupBy("quartile")
        .agg(count(lit(1)).as("n"),
             min(col("c_acctbal")).as("min_bal"),
             max(col("c_acctbal")).as("max_bal"))
        .orderBy("quartile")
    }),

    "window_first_last" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "orders")
        .withColumn("first_key", first(col("o_orderkey")).over(w))
        .withColumn("last_key", last(col("o_orderkey")).over(w))
        .groupBy("o_custkey", "first_key", "last_key")
        .agg(count(lit(1)).as("n_orders"))
    }),

    // nth_value completes the positional-window family next to
    // first/last: each customer's SECOND order key over the full frame
    // (null for single-order customers on both engines — nth_value's
    // missing-position semantics, not a sentinel). Same single
    // customer-keyed window shuffle as window_first_last.
    "window_nth_value" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "orders")
        .withColumn("second_key", nth_value(col("o_orderkey"), 2).over(w))
        .groupBy("o_custkey", "second_key")
        .agg(count(lit(1)).as("n_orders"))
    }),

    // ---- sorts / top-k --------------------------------------------------
    // Global top-10: TakeOrderedAndProject — k rows per partition to the
    // driver, never a full sort at any scale.
    "sort_topk" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .orderBy(desc("l_extendedprice"), asc("l_orderkey"), asc("l_linenumber"))
        .limit(10)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice").as("price"))
    }),

    // 2-D skyline: parts on the (cheap, large) Pareto frontier — no other
    // part is both at-most-as-expensive and at-least-as-big with one
    // strict. The oracle runs the textbook quadratic NOT EXISTS; the
    // Spark plan is the linear level-maxima + two-level prefix-max
    // reduction (see ops/Skyline) — the hash-match proves the reduction
    // IS the dominance semantics, including whole tied groups surviving
    // together (duplicate points never dominate each other).
    "sort_skyline" -> ((s, dir) => {
      graft.ops.Skyline(t(s, dir, "part"), "p_retailprice", "p_size")
        .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
    }),

    // ---- set operations -------------------------------------------------
    "set_union" -> ((s, dir) => {
      val custNations = t(s, dir, "customer").select(col("c_nationkey").as("nk"))
      val suppNations = t(s, dir, "supplier").select(col("s_nationkey").as("nk"))
      custNations.union(suppNations).distinct().orderBy("nk")
    }),

    "set_intersect" -> ((s, dir) => {
      val a = t(s, dir, "customer").select(col("c_nationkey").as("nk"))
      val b = t(s, dir, "supplier").select(col("s_nationkey").as("nk"))
      a.intersect(b).orderBy("nk")
    }),

    "set_except" -> ((s, dir) => {
      val a = t(s, dir, "customer").select(col("c_nationkey").as("nk"))
      val b = t(s, dir, "supplier").select(col("s_nationkey").as("nk"))
      a.except(b).orderBy("nk")
    }),

    // Multiset (ALL) variants: bag semantics preserve multiplicity —
    // EXCEPT ALL keeps max(0, count_a - count_b) copies per value.
    // Summarized by value so the oracle row set is deterministic.
    "set_except_all" -> ((s, dir) => {
      val a = t(s, dir, "customer").select(col("c_nationkey").as("nk"))
      val b = t(s, dir, "supplier").select(col("s_nationkey").as("nk"))
      a.exceptAll(b).groupBy("nk").agg(count(lit(1)).as("n"))
    }),

    "set_intersect_all" -> ((s, dir) => {
      val a = t(s, dir, "customer").select(col("c_nationkey").as("nk"))
      val b = t(s, dir, "supplier").select(col("s_nationkey").as("nk"))
      a.intersectAll(b).groupBy("nk").agg(count(lit(1)).as("n"))
    }),

    // ---- subqueries -----------------------------------------------------
    // Scalar subquery: orders above the global average price. The average
    // is an exact decimal sum / count (cross-join of a 1-row aggregate —
    // broadcast, no shuffle).
    "subquery_scalar" -> ((s, dir) => {
      val ord = t(s, dir, "orders")
      val avgP = ord.agg(
        (sum(dec(col("o_totalprice"))).cast("double") / count(lit(1)))
          .as("avg_price"))
      ord.crossJoin(broadcast(avgP))
        .filter(col("o_totalprice") > col("avg_price"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_above_avg"))
    }),

    // ---- TPC-H plan families (round-5 breadth) -------------------------
    // Q2 shape — correlated MIN-subquery, decorrelated: "cheapest
    // EUROPE offer per part" becomes a per-part MIN window over the
    // offer set + an equality filter. The window decorrelation beats
    // the agg+re-join form on scans: the offer frame (built with
    // broadcast dims only) is consumed ONCE — min and filter ride the
    // same (partkey) exchange — where agg+join would re-scan lineitem
    // and every dim for the probe side. vs the naive correlated form's
    // per-row subquery re-execution. (Fixture has no partsupp table;
    // lineitem price plays supplycost, same shape.)
    "q2_min_cost_supplier" -> ((s, dir) => {
      val eusup = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region").filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
      val promo = t(s, dir, "part").filter(col("p_type") === "PROMO")
        .select("p_partkey")
      t(s, dir, "lineitem")
        .join(broadcast(promo), col("l_partkey") === col("p_partkey"))
        .join(broadcast(eusup), col("l_suppkey") === col("s_suppkey"))
        .select(col("p_partkey"), col("s_suppkey"), col("s_name"),
          col("s_acctbal"), col("n_name"), col("l_extendedprice").as("price"))
        .withColumn("min_price",
          min(col("price")).over(Window.partitionBy(col("p_partkey"))))
        .filter(col("price") === col("min_price"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "s_suppkey",
          "min_price")
        .distinct()
        .orderBy(desc("s_acctbal"), asc("s_suppkey"), asc("p_partkey"))
        .limit(100)
    }),

    // Q7 shape — volume shipping: multi-join with an OR'd nation-pair
    // predicate and a date-range filter. Both nation sides pre-filter
    // to the two nations of interest BEFORE broadcasting (the OR
    // collapses to "different nation" once both sides are restricted),
    // so the broadcast payload is 2/25ths of each dim and the ship-date
    // range is the only filter left on the fact scan (pushed down).
    "q7_volume_shipping" -> ((s, dir) => {
      val pair = Seq("NATION_1", "NATION_2")
      val sup = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")
            .filter(col("n_name").isin(pair: _*))
            .select(col("n_nationkey").as("sn_key"),
              col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("sn_key"))
        .select("s_suppkey", "supp_nation")
      val cust = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")
            .filter(col("n_name").isin(pair: _*))
            .select(col("n_nationkey").as("cn_key"),
              col("n_name").as("cust_nation"))),
          col("c_nationkey") === col("cn_key"))
        .select("c_custkey", "cust_nation")
      t(s, dir, "lineitem")
        .filter(col("l_shipdate").between("1996-01-01", "1999-12-31"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("int").as("l_year"))
        .agg(sum(dec(col("l_extendedprice")) *
          (lit(1.0) - col("l_discount")).cast("decimal(18,6)"))
          .cast("double").as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),

    // Q13 shape — outer-join-groupby distribution: the join predicate
    // carries an extra filter on the RIGHT side (so unmatched customers
    // still count with c_count=0 — a WHERE would wrongly drop them).
    // One shuffle on custkey; the count-of-counts regroup is on a
    // ~dozen-value key and costs nothing at any scale.
    "q13_customer_distribution" -> ((s, dir) => {
      val ord = t(s, dir, "orders")
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select("o_orderkey", "o_custkey")
      t(s, dir, "customer").select("c_custkey")
        .join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))
    }),

    // Q17 shape — nested per-group aggregate subquery: "lineitems below
    // 20% of their part's average quantity". Decorrelated to a per-part
    // window (exact decimal sum / count, so both engines derive the
    // bit-identical double threshold — see pack Scaladoc); sum and
    // count share one Window node and one (partkey) exchange, and the
    // filtered rows fold straight into the global one-row aggregate —
    // one corpus scan total, where the agg+re-join form would take two.
    "q17_small_qty_revenue" -> ((s, dir) => {
      val selp = t(s, dir, "part")
        .filter(col("p_brand") === "Brand#1" && col("p_type") === "MEDIUM")
        .select("p_partkey")
      val w = Window.partitionBy(col("l_partkey"))
      t(s, dir, "lineitem")
        .join(broadcast(selp), col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
        .withColumn("qty_threshold",
          (sum(dec(col("l_quantity"))).over(w).cast("double")
            / count(lit(1)).over(w)) * lit(0.2))
        .filter(col("l_quantity") < col("qty_threshold"))
        .agg((sum(dec(col("l_extendedprice"))).cast("double") / lit(7.0))
          .as("avg_yearly"))
    }),

    // Q21 shape — suppliers in EUROPE who were the SOLE late shipper
    // on a multi-supplier completed order ("late" = shipped >60 days
    // after the order date; fixture has no commit/receipt dates, same
    // shape). The mirror keeps the definitional exists/not-exists
    // double self-join; the engine runs the per-order-aggregate
    // rewrite instead (round-11, VERDICT r10 task #4): the exists
    // ("another supplier has a line") and not-exists ("no OTHER
    // supplier was late") conditions are functions of ONE groupBy
    // over the late-flagged lineitem⋈orders frame — n_supp > 1 ∧
    // n_late_supp = 1 — and numwait's row multiplicity is the order's
    // late-line count (all late lines belong to the sole late
    // supplier by construction). One lineitem scan + one orderkey
    // shuffle replaces the previous THREE lineitem subtrees (the
    // late-join executed twice as probe and anti build, plus a bare
    // semi build). Bit-identical to the mirror (oracle re-verified at
    // both SFs); sf0.1 solo wall TIES the join plan (~1.0s — the
    // fixture is scan-bound and AQE broadcast every build side), the
    // win is structural at scale: one wide shuffle instead of three,
    // measured sub-linear by the q21_sole_late probe arm.
    "q21_waiting_suppliers" -> ((s, dir) => {
      val perOrder = q21SoleLate(
        t(s, dir, "lineitem"), t(s, dir, "orders"))
      val eusup = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region").filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select("s_suppkey", "s_name")
      perOrder
        .join(broadcast(eusup), col("late_supp") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(sum(col("n_late_lines")).as("numwait"))
        .orderBy(desc("numwait"), asc("s_name"))
        .limit(100)
    }),

    // Q4 shape — order priority checking: a date-sliced order scan
    // semi-joined to its "late" lineitems (lateness is a derived
    // cross-table predicate, so it lives in the join condition). Semi
    // stops at the first late line and never duplicates an order.
    "q4_order_priority" -> ((s, dir) => {
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= "1996-01-01" &&
          col("o_orderdate") < "1996-04-01")
      ord.join(t(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey") &&
            datediff(to_date(col("l_shipdate")),
              to_date(col("o_orderdate"))) > 30,
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),

    // Q8 shape — national market share: an 8-relation join (both
    // nation roles) feeding a CASE-ratio aggregate. Numerator and
    // denominator are separate exact decimal sums; the share is ONE
    // double division of identically-derived operands.
    "q8_market_share" -> ((s, dir) => {
      val vol = dec(col("l_extendedprice")) *
        (lit(1.0) - col("l_discount")).cast("decimal(18,6)")
      val amCust = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region").filter(col("r_name") === "AMERICA")),
          col("n_regionkey") === col("r_regionkey"))
        .select("c_custkey")
      val supN = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")
            .select(col("n_nationkey").as("sn_key"),
              col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("sn_key"))
        .select("s_suppkey", "supp_nation")
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(amCust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "part")
            .filter(col("p_type") === "ECONOMY").select("p_partkey")),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).cast("int").as("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_5", vol).otherwise(lit(0)))
            .cast("double").as("nation_rev"),
          sum(vol).cast("double").as("total_rev"))
        .withColumn("mkt_share", col("nation_rev") / col("total_rev"))
        .orderBy("o_year")
    }),

    // Q9 shape — product-type profit by (nation, year): the 6-way join
    // grouped on derived keys. No partsupp in the fixture, so retail
    // price × quantity plays supply cost — same plan, and the profit
    // is the DIFFERENCE OF TWO exact decimal sums taken in double
    // (subtracting mixed-scale decimals inside one aggregate would
    // cross Spark's precision cap and silently round).
    "q9_product_profit" -> ((s, dir) => {
      val supN = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")
            .select(col("n_nationkey").as("sn_key"),
              col("n_name").as("nation"))),
          col("s_nationkey") === col("sn_key"))
        .select("s_suppkey", "nation")
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")
            .filter(col("p_name").contains("red"))
            .select("p_partkey", "p_retailprice")),
          col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("nation"), year(col("o_orderdate")).cast("int").as("o_year"))
        .agg(
          sum(dec(col("l_extendedprice")) *
            (lit(1.0) - col("l_discount")).cast("decimal(18,6)"))
            .cast("double").as("rev"),
          sum(dec(col("p_retailprice")) * dec(col("l_quantity")))
            .cast("double").as("cost"))
        .select(col("nation"), col("o_year"),
          (col("rev") - col("cost")).as("sum_profit"))
        .orderBy(asc("nation"), desc("o_year"))
    }),

    // Q11 shape — important stock: per-key value vs a scalar fraction
    // of the global total (scalar subquery in HAVING). The total is a
    // 1-row re-aggregate of the per-part frame, broadcast back — two
    // aggregates over one shuffle, never a second lineitem scan.
    "q11_important_stock" -> ((s, dir) => {
      val n3sup = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation").filter(col("n_name") === "NATION_3")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey")
      val vals = t(s, dir, "lineitem")
        .join(broadcast(n3sup), col("l_suppkey") === col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(sum(dec(col("l_extendedprice"))).as("vd"))
      val tot = vals.agg(sum(col("vd")).as("td"))
      vals.crossJoin(broadcast(tot))
        .filter(col("vd").cast("double") > col("td").cast("double") * lit(1e-3))
        .select(col("l_partkey").as("p_partkey"),
          col("vd").cast("double").as("value"))
        .orderBy(desc("value"), asc("p_partkey"))
    }),

    // Q12 shape — shipping-speed priority split: a fact-fact join with
    // a derived bucket key and two complementary CASE-count aggregates.
    // (No l_shipmode in the fixture; ship latency plays the mode.)
    "q12_ship_speed" -> ((s, dir) => {
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= "1996-01-01" &&
          col("l_shipdate") < "1998-01-01")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .withColumn("speed",
          when(datediff(to_date(col("l_shipdate")),
            to_date(col("o_orderdate"))) <= 30, "FAST").otherwise("SLOW"))
        .groupBy("speed")
        .agg(
          sum(when(hi, 1).otherwise(0)).as("high_line_count"),
          sum(when(hi, 0).otherwise(1)).as("low_line_count"))
        .orderBy("speed")
    }),

    // Q14 shape — promo revenue share: one month of lineitem against
    // the part dim, a CASE-sum ratio scaled to percent. Same exact-
    // operand division discipline as q8.
    "q14_promo_revenue" -> ((s, dir) => {
      val vol = dec(col("l_extendedprice")) *
        (lit(1.0) - col("l_discount")).cast("decimal(18,6)")
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= "1996-03-01" &&
          col("l_shipdate") < "1996-04-01")
        .join(broadcast(t(s, dir, "part").select("p_partkey", "p_type")),
          col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO", vol).otherwise(lit(0)))
            .cast("double").as("promo_rev"),
          sum(vol).cast("double").as("total_rev"))
        .withColumn("promo_share",
          col("promo_rev") / col("total_rev") * lit(100.0))
    }),

    // Q15 shape — top supplier: a revenue "view" re-aggregated to its
    // max, equality-joined back on the EXACT decimal (ties all kept,
    // no double rounding at the boundary), supplier dim broadcast.
    "q15_top_supplier" -> ((s, dir) => {
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= "1996-01-01" &&
          col("l_shipdate") < "1996-04-01")
        .groupBy("l_suppkey")
        .agg(sum(dec(col("l_extendedprice")) *
          (lit(1.0) - col("l_discount")).cast("decimal(18,6)")).as("rd"))
      val mx = rev.agg(max(col("rd")).as("mx"))
      rev.crossJoin(broadcast(mx))
        .filter(col("rd") === col("mx"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("rd").cast("double").as("total_rev"))
        .orderBy("s_suppkey")
    }),

    // Q16 shape — supplier-count distribution: DISTINCT count per part
    // attribute triple with a NOT-IN exclusion set (negative-balance
    // suppliers play the complaint list), planned as a broadcast anti
    // join — never a per-row subquery.
    "q16_supplier_cnt" -> ((s, dir) => {
      val bad = t(s, dir, "supplier").filter(col("s_acctbal") < 0)
        .select(col("s_suppkey").as("bad_sk"))
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")
            .filter(col("p_brand") =!= "Brand#1")
            .select("p_partkey", "p_brand", "p_type", "p_size")),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(bad), col("l_suppkey") === col("bad_sk"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(desc("supplier_cnt"), asc("p_brand"), asc("p_type"),
          asc("p_size"))
    }),

    // Q19 shape — disjunctive bracketed predicates: three OR'd
    // (brand, size-range, quantity-range) conjuncts spanning BOTH join
    // sides, carried in the join condition so the part-side half
    // pushes to the dim scan while the quantity half filters the probe.
    "q19_disjunctive_rev" -> ((s, dir) => {
      val cond =
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 20)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
          col("l_quantity").between(10, 40)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(20, 50) &&
          col("l_quantity").between(20, 50))
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey") && cond)
        .agg(sum(dec(col("l_extendedprice")) *
          (lit(1.0) - col("l_discount")).cast("decimal(18,6)"))
          .cast("double").as("revenue"))
    }),

    // Q20 shape — excess stock: a semi-join CHAIN whose inner member-
    // ship test is itself a nested grouped-aggregate comparison
    // ("suppliers who shipped >50% of some promo part's year volume").
    // Both rollups aggregate the SAME joined frame — the per-(part,
    // supp) and per-part sums share one scan and the re-join rides the
    // partkey partitioning; the qualifying supplier-key set is bounded
    // by supplier cardinality, so the final semi is broadcast-sized.
    // (No partsupp availqty in the fixture; shipped-share plays it.)
    "q20_excess_stock" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= "1996-01-01" &&
          col("l_shipdate") < "1997-01-01")
        .join(broadcast(t(s, dir, "part")
            .filter(col("p_type") === "PROMO").select("p_partkey")),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), col("l_suppkey"), dec(col("l_quantity")).as("q"))
      val bySupp = li.groupBy("l_partkey", "l_suppkey")
        .agg(sum(col("q")).as("sq"))
      val byPart = li.groupBy(col("l_partkey").as("tp"))
        .agg(sum(col("q")).as("tq"))
      val dominant = bySupp.join(byPart, col("l_partkey") === col("tp"))
        .filter(col("sq").cast("double") > col("tq").cast("double") * lit(0.5))
        .select(col("l_suppkey").as("dk")).distinct()
      t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(dominant, col("s_suppkey") === col("dk"), "left_semi")
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_suppkey")
    }),

    // Q22 shape — global sales opportunity: scalar-average subquery
    // gate + anti join + derived-code rollup. (Every fixture customer
    // has orders, so "no orders at all" is vacuous — "no URGENT
    // orders" keeps the anti join load-bearing; nationkey mod 5 plays
    // the phone country code.)
    "q22_sales_opportunity" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val avgBal = cust.filter(col("c_acctbal") > 0)
        .agg((sum(dec(col("c_acctbal"))).cast("double") / count(lit(1)))
          .as("avg_bal"))
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("uk"))
      cust.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(urgent, col("c_custkey") === col("uk"), "left_anti")
        .groupBy((col("c_nationkey") % 5).as("cntrycode"))
        .agg(count(lit(1)).as("numcust"),
          sum(dec(col("c_acctbal"))).cast("double").as("totacctbal"))
        .orderBy("cntrycode")
    }),

    // NULL-AWARE anti join — the NOT-IN shape engines get wrong: SQL's
    // three-valued logic makes `x NOT IN (list containing NULL)` never
    // true, so ONE null in the subquery empties the result. Spark
    // plans this as a null-aware anti join (a distinct physical family
    // from the plain LeftAnti q16/q22 use — the null check needs the
    // whole build side); the clean/poisoned pair pins both branches in
    // one oracle row. Written in SQL because NOT IN's null semantics
    // ARE the SQL surface under test.
    "subquery_not_in_nullaware" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("cust_naaj")
      t(s, dir, "supplier").createOrReplaceTempView("supp_naaj")
      s.sql(
        """SELECT
          |  (SELECT COUNT(*) FROM cust_naaj
          |   WHERE c_nationkey NOT IN
          |     (SELECT s_nationkey FROM supp_naaj WHERE s_suppkey < 40))
          |    AS n_clean,
          |  (SELECT COUNT(*) FROM cust_naaj
          |   WHERE c_nationkey NOT IN
          |     (SELECT CASE WHEN s_acctbal < 0 THEN NULL ELSE s_nationkey END
          |      FROM supp_naaj)) AS n_poisoned""".stripMargin)
    }),

    // IN-subquery shape: lineitems of parts in a brand (semi join).
    "subquery_in" -> ((s, dir) => {
      val brandParts = t(s, dir, "part")
        .filter(col("p_brand") === "Brand#1").select("p_partkey")
      t(s, dir, "lineitem")
        .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"),
          "left_semi")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
    }),

    // Market-basket association rules: pairwise co-occurrence of parts
    // within an order → support / confidence / lift, top-50 by lift.
    // The frequent-itemset shape a training-data pipeline runs for
    // co-occurrence mining (tag pairs, domain pairs, dataset-mixture
    // diagnostics). Scale design: the pair generator is a SELF-JOIN ON
    // THE BASKET KEY — cost Σ sz², so one hot basket (a crawl dump
    // where one "order" holds 10⁵ items) would go quadratic. The
    // window-counted basket-size cap (32; TPC-H maxes at 17, so a
    // fixture no-op — the guard is for the 100 TB tail) bounds every
    // basket's pair fan-out before the join; supports and N stay
    // measured over ALL baskets so capping only prunes pair
    // GENERATION, never biases a denominator. Item supports are
    // dim-scale (one row per part) → broadcast to the pair stream; the
    // scalar N rides the pack's crossJoin(broadcast) convention.
    // Determinism: conf/lift are single IEEE divisions of exact int64
    // products (n_orders·supp ≤ 2⁶³ until well past 10¹² baskets), and
    // the top-50 carries the unique (pa, pb) tie-break.
    "basket_pair_rules" -> ((s, dir) =>
      basketRules(t(s, dir, "lineitem")))
  )

  /** `basket_pair_rules` body on an explicit lineitem frame — shared
    * with ScaleProbe's weak-scaling arm (the probe must measure the
    * registered query's own plan).
    *
    * Pair generation is WITHIN-GROUP ARRAY EXPANSION, not a self-join:
    * one groupBy(ok) builds each basket's sorted item set, the size
    * cap filters whole baskets, and a codegen'd
    * transform/slice/flatten expands the ≤C(cap,2) ordered pairs
    * scan-side — one pass over lineitem and three shuffles total
    * (basket build, pair rollup, item rollup) versus the self-join
    * form's five with a doubled basket subtree. The aggregation
    * buffer holds one basket's distinct items, so like any
    * collect-based basket build a DEGENERATE basket (10⁹ items) needs
    * a count-and-anti-join pre-pass before this operator; the cap
    * then bounds the quadratic expansion itself.
    */
  def basketRules(li: DataFrame): DataFrame = {
    // The basket substrate has THREE consumers below (pair expansion,
    // item supports, the n_orders scalar). Unpinned, AQE reused only
    // the shuffle: the collect_set final aggregation re-ran per
    // consumer and the n_orders branch re-scanned lineitem with its
    // own exchange (round-16 plan audit). One localCheckpoint
    // materializes the basket build once; at cluster scale this is the
    // standard substrate materialization before a multi-consumer
    // fan-out (reliable-storage checkpoint), same trade as the pinned
    // graph projections. Result rows unchanged — the consumers read
    // the identical frame.
    val baskets = li
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .groupBy("ok")
      .agg(sort_array(collect_set(col("pk"))).as("arr"))
      .localCheckpoint()
    val pairs = baskets
      .filter(size(col("arr")) <= 32)
      .select(explode(expr(
        "flatten(transform(arr, (x, i) -> " +
          "transform(slice(arr, i + 2, size(arr)), " +
          "y -> struct(x AS pa, y AS pb))))")).as("p"))
      .select(col("p.pa").as("pa"), col("p.pb").as("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("supp_ab"))
    // supports and the transaction total over ALL baskets (capping
    // prunes pair generation, never a denominator)
    val item = baskets.select(explode(col("arr")).as("pk"))
      .groupBy("pk").agg(count(lit(1)).as("supp"))
    val n = baskets.select(count(lit(1)).as("n_orders"))
    pairs
      .join(broadcast(item.select(col("pk").as("pa"),
        col("supp").as("supp_a"))), Seq("pa"))
      .join(broadcast(item.select(col("pk").as("pb"),
        col("supp").as("supp_b"))), Seq("pb"))
      .crossJoin(broadcast(n))
      .filter(col("supp_ab") >= 2)
      .select(col("pa"), col("pb"), col("supp_ab"),
        col("supp_a"), col("supp_b"),
        (col("supp_ab").cast("double") / col("supp_a").cast("double"))
          .as("conf_ab"),
        ((col("n_orders") * col("supp_ab")).cast("double") /
          (col("supp_a") * col("supp_b")).cast("double")).as("lift"))
      .orderBy(col("lift").desc, col("pa"), col("pb"))
      .limit(50)
  }

  def oracles: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_qty
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "agg_distinct" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    // DuckDB arg_max has no composite-key form; the deterministic
    // equivalent is the rank-1 row under (price DESC, orderkey DESC)
    "agg_argmax" ->
      """SELECT o_orderpriority, best_orderkey, max_price, n FROM (
        |  SELECT o_orderpriority, o_orderkey AS best_orderkey,
        |    max(o_totalprice) OVER (PARTITION BY o_orderpriority) AS max_price,
        |    count(*) OVER (PARTITION BY o_orderpriority) AS n,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
        |  FROM orders)
        |WHERE rn = 1""".stripMargin,

    "agg_topk_udaf" ->
      """SELECT o_orderstatus, CAST(rnk AS BIGINT) AS rnk,
        |  o_totalprice AS price, o_orderkey
        |FROM (SELECT o_orderstatus, o_totalprice, o_orderkey,
        |        row_number() OVER (PARTITION BY o_orderstatus
        |          ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |      FROM orders)
        |WHERE rnk <= 3""".stripMargin,

    "agg_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n,
        |  GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,

    "agg_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_price,
        |  COUNT(*) AS n,
        |  GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS gid
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin,

    "agg_pivot_manual" ->
      """SELECT user_id % 100 AS cohort,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS views,
        |  COUNT(*) AS total
        |FROM events GROUP BY user_id % 100""".stripMargin,

    "join_broadcast_dims" ->
      """SELECT r_name, COUNT(*) AS n_cust,
        |  CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,

    "q3_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin,

    "q5_local_supplier" ->
      """SELECT n_name,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name ASC""".stripMargin,

    "q6_forecast_revenue" ->
      """SELECT
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,

    "agg_mode" ->
      """WITH c AS (
        |  SELECT user_id, event_type, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, event_type AS mode_type, n FROM (
        |  SELECT user_id, event_type, n,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY n DESC, event_type) AS r
        |  FROM c)
        |WHERE r = 1""".stripMargin,

    "q10_returned_revenue" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, c_custkey ASC
        |LIMIT 20""".stripMargin,

    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS tq
        |  FROM lineitem GROUP BY 1
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150)
        |SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
        |  CAST(CAST(tq AS VARCHAR) AS DOUBLE) AS total_qty
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_qty DESC, o_orderkey ASC
        |LIMIT 50""".stripMargin,

    "join_bucketed_colocated" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,

    // identical relational content to the bucketed variant by design:
    // salting must not change the join's result multiset
    "join_salted_skew" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,

    // the even-key collapse mirrors the Spark side's deliberate skew;
    // orders keys are unique so the hot key joins ONE dim row and the
    // multiset stays linear in the fact side. generate_series(1,8)
    // mirrors the 8-branch self-union (same multiset: every fact row
    // ×8) without spelling out eight UNION ALL arms.
    "join_skew_aqe" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty
        |FROM (SELECT CASE WHEN l_orderkey % 2 = 0 THEN 1
        |                  ELSE l_orderkey END AS k, l_quantity
        |      FROM lineitem CROSS JOIN generate_series(1, 8)) f
        |JOIN orders ON f.k = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,

    "join_semi" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
        |GROUP BY o_orderstatus""".stripMargin,

    "join_anti" ->
      """SELECT c_mktsegment, COUNT(*) AS n_custs_no_orders
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment""".stripMargin,

    "join_outer" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(COALESCE(n_big, 0)) AS BIGINT) AS n_big_items
        |FROM orders
        |LEFT OUTER JOIN (
        |  SELECT l_orderkey, COUNT(*) AS n_big FROM lineitem
        |  WHERE l_quantity >= 45 GROUP BY l_orderkey
        |) b ON o_orderkey = b.l_orderkey
        |GROUP BY o_orderpriority""".stripMargin,

    "window_rank_topn" ->
      """SELECT c_mktsegment, rn, o_orderkey, price FROM (
        |  SELECT c_mktsegment,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rn,
        |    o_orderkey, o_totalprice AS price
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |) WHERE rn <= 3""".stripMargin,

    "window_lag_gap" ->
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS od,
        |  CAST(datediff('day',
        |    CAST(LAG(o_orderdate, 1) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS DATE),
        |    CAST(o_orderdate AS DATE)) AS INT) AS gap_days
        |FROM orders""".stripMargin,

    "window_running_total" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS run_spend
        |FROM orders""".stripMargin,

    "window_ntile" ->
      """SELECT quartile, COUNT(*) AS n,
        |  MIN(c_acctbal) AS min_bal,
        |  MAX(c_acctbal) AS max_bal
        |FROM (SELECT c_acctbal,
        |        CAST(NTILE(4) OVER (ORDER BY c_acctbal, c_custkey) AS INT) AS quartile
        |      FROM customer)
        |GROUP BY quartile ORDER BY quartile""".stripMargin,

    "window_first_last" ->
      """SELECT o_custkey,
        |  FIRST_VALUE(o_orderkey) OVER w AS first_key,
        |  LAST_VALUE(o_orderkey) OVER w AS last_key,
        |  COUNT(*) OVER w AS n_orders
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) = 1""".stripMargin,

    "window_nth_value" ->
      """SELECT o_custkey,
        |  NTH_VALUE(o_orderkey, 2) OVER w AS second_key,
        |  COUNT(*) OVER w AS n_orders
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey
        |  ORDER BY o_orderdate, o_orderkey) = 1""".stripMargin,

    "sort_topk" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_extendedprice AS price
        |FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
        |LIMIT 10""".stripMargin,

    // deliberately the quadratic dominance definition, not the
    // prefix-max algorithm — independent semantics check
    "sort_skyline" ->
      """SELECT p_partkey, p_retailprice, p_size FROM part p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part q
        |  WHERE q.p_retailprice <= p.p_retailprice
        |    AND q.p_size >= p.p_size
        |    AND (q.p_retailprice < p.p_retailprice
        |         OR q.p_size > p.p_size))""".stripMargin,

    "set_union" ->
      """SELECT DISTINCT nk FROM (
        |  SELECT c_nationkey AS nk FROM customer
        |  UNION ALL SELECT s_nationkey AS nk FROM supplier
        |) ORDER BY nk""".stripMargin,

    "set_intersect" ->
      """SELECT c_nationkey AS nk FROM customer
        |INTERSECT SELECT s_nationkey AS nk FROM supplier ORDER BY nk""".stripMargin,

    "set_except" ->
      """SELECT c_nationkey AS nk FROM customer
        |EXCEPT SELECT s_nationkey AS nk FROM supplier ORDER BY nk""".stripMargin,

    "agg_pivot_native" ->
      """SELECT user_id % 100 AS cohort,
        |  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
        |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  COUNT(*) FILTER (WHERE event_type = 'view') AS "view"
        |FROM events GROUP BY 1""".stripMargin,

    "window_range_frame" ->
      """SELECT o_orderkey, o_custkey, d,
        |  CAST(CAST(s AS VARCHAR) AS DOUBLE) AS trail30
        |FROM (
        |  SELECT o_orderkey, o_custkey,
        |    date_diff('day', DATE '1970-01-01', o_orderdate) AS d,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |      PARTITION BY o_custkey
        |      ORDER BY date_diff('day', DATE '1970-01-01', o_orderdate)
        |      RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS s
        |  FROM orders)""".stripMargin,

    "set_except_all" ->
      """SELECT nk, COUNT(*) AS n FROM (
        |  SELECT c_nationkey AS nk FROM customer
        |  EXCEPT ALL SELECT s_nationkey FROM supplier)
        |GROUP BY nk""".stripMargin,

    "set_intersect_all" ->
      """SELECT nk, COUNT(*) AS n FROM (
        |  SELECT c_nationkey AS nk FROM customer
        |  INTERSECT ALL SELECT s_nationkey FROM supplier)
        |GROUP BY nk""".stripMargin,

    "subquery_scalar" ->
      """SELECT o_orderstatus, COUNT(*) AS n_above_avg
        |FROM orders,
        |  (SELECT CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
        |          / COUNT(*) AS avg_price FROM orders) a
        |WHERE o_totalprice > a.avg_price
        |GROUP BY o_orderstatus""".stripMargin,

    // Written in the CORRELATED form on purpose: DuckDB decorrelates it
    // itself, so the oracle independently validates the Spark-side
    // manual decorrelation (min-agg + re-join) against the subquery
    // semantics rather than against a re-statement of the same plan.
    "q2_min_cost_supplier" ->
      """SELECT s_acctbal, s_name, n_name, p_partkey, s_suppkey, min_price
        |FROM (
        |  SELECT DISTINCT s.s_acctbal, s.s_name, n.n_name, p.p_partkey,
        |    s.s_suppkey, l.l_extendedprice AS min_price
        |  FROM part p, supplier s, lineitem l, nation n, region r
        |  WHERE p.p_partkey = l.l_partkey AND s.s_suppkey = l.l_suppkey
        |    AND p.p_type = 'PROMO'
        |    AND s.s_nationkey = n.n_nationkey
        |    AND n.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE'
        |    AND l.l_extendedprice = (
        |      SELECT min(l2.l_extendedprice)
        |      FROM lineitem l2, supplier s2, nation n2, region r2
        |      WHERE l2.l_partkey = p.p_partkey AND s2.s_suppkey = l2.l_suppkey
        |        AND s2.s_nationkey = n2.n_nationkey
        |        AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE'))
        |ORDER BY s_acctbal DESC, s_suppkey, p_partkey
        |LIMIT 100""".stripMargin,

    "q7_volume_shipping" ->
      """SELECT supp_nation, cust_nation, l_year,
        |  CAST(CAST(SUM(vol) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    CAST(year(l.l_shipdate) AS INT) AS l_year,
        |    CAST(l.l_extendedprice AS DECIMAL(18,2))
        |      * CAST(1.0 - l.l_discount AS DECIMAL(18,6)) AS vol
        |  FROM supplier s, lineitem l, orders o, customer c,
        |       nation n1, nation n2
        |  WHERE s.s_suppkey = l.l_suppkey AND o.o_orderkey = l.l_orderkey
        |    AND c.c_custkey = o.o_custkey
        |    AND s.s_nationkey = n1.n_nationkey
        |    AND c.c_nationkey = n2.n_nationkey
        |    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |    AND l.l_shipdate BETWEEN TIMESTAMP '1996-01-01'
        |                         AND TIMESTAMP '1999-12-31')
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,

    "q13_customer_distribution" ->
      """SELECT c_count, custdist FROM (
        |  SELECT c_count, COUNT(*) AS custdist FROM (
        |    SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        |    FROM customer c LEFT OUTER JOIN orders o
        |      ON c.c_custkey = o.o_custkey
        |      AND o.o_orderpriority <> '1-URGENT'
        |    GROUP BY c.c_custkey)
        |  GROUP BY c_count)
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    // Correlated form (DuckDB decorrelates); the inner average is the
    // same exact decimal-sum / count as the Spark side so the derived
    // double threshold is bit-identical. 2e-1 not 0.2: e-notation
    // parses as DOUBLE in both grammars (decimal-literal trap).
    "q17_small_qty_revenue" ->
      """SELECT CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
        |    / 7e0 AS avg_yearly
        |FROM lineitem l, part p
        |WHERE p.p_partkey = l.l_partkey
        |  AND p.p_brand = 'Brand#1' AND p.p_type = 'MEDIUM'
        |  AND l.l_quantity < (
        |    SELECT (CAST(CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
        |            / COUNT(*)) * 2e-1
        |    FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)""".stripMargin,

    "q21_waiting_suppliers" ->
      """SELECT s_name, numwait FROM (
        |  SELECT s.s_name, COUNT(*) AS numwait
        |  FROM supplier s, lineitem l1, orders o, nation n, region r
        |  WHERE s.s_suppkey = l1.l_suppkey AND o.o_orderkey = l1.l_orderkey
        |    AND o.o_orderstatus = 'F'
        |    AND date_diff('day', CAST(o.o_orderdate AS DATE),
        |                  CAST(l1.l_shipdate AS DATE)) > 60
        |    AND s.s_nationkey = n.n_nationkey
        |    AND n.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE'
        |    AND EXISTS (SELECT 1 FROM lineitem l2
        |                WHERE l2.l_orderkey = l1.l_orderkey
        |                  AND l2.l_suppkey <> l1.l_suppkey)
        |    AND NOT EXISTS (SELECT 1 FROM lineitem l3, orders o3
        |                    WHERE l3.l_orderkey = l1.l_orderkey
        |                      AND o3.o_orderkey = l3.l_orderkey
        |                      AND l3.l_suppkey <> l1.l_suppkey
        |                      AND date_diff('day', CAST(o3.o_orderdate AS DATE),
        |                            CAST(l3.l_shipdate AS DATE)) > 60)
        |  GROUP BY s.s_name)
        |ORDER BY numwait DESC, s_name
        |LIMIT 100""".stripMargin,

    "q4_order_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND date_diff('day', CAST(o_orderdate AS DATE),
        |                      CAST(l_shipdate AS DATE)) > 30)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q8_market_share" ->
      """WITH vol AS (
        |  SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
        |    CAST(l.l_extendedprice AS DECIMAL(18,2))
        |      * CAST(1.0 - l.l_discount AS DECIMAL(18,6)) AS v,
        |    n1.n_name AS supp_nation
        |  FROM lineitem l, orders o, customer c, nation n2, region r2,
        |       supplier s, part p, nation n1
        |  WHERE l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey
        |    AND c.c_nationkey = n2.n_nationkey
        |    AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'AMERICA'
        |    AND l.l_partkey = p.p_partkey AND p.p_type = 'ECONOMY'
        |    AND l.l_suppkey = s.s_suppkey
        |    AND s.s_nationkey = n1.n_nationkey)
        |SELECT o_year,
        |  CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN v ELSE 0 END)
        |    AS VARCHAR) AS DOUBLE) AS nation_rev,
        |  CAST(CAST(SUM(v) AS VARCHAR) AS DOUBLE) AS total_rev,
        |  CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN v ELSE 0 END)
        |    AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST(SUM(v) AS VARCHAR) AS DOUBLE) AS mkt_share
        |FROM vol GROUP BY 1 ORDER BY 1""".stripMargin,

    "q9_product_profit" ->
      """WITH j AS (
        |  SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
        |    CAST(l.l_extendedprice AS DECIMAL(18,2))
        |      * CAST(1.0 - l.l_discount AS DECIMAL(18,6)) AS rev,
        |    CAST(p.p_retailprice AS DECIMAL(18,2))
        |      * CAST(l.l_quantity AS DECIMAL(18,2)) AS cost
        |  FROM lineitem l, part p, orders o, supplier s, nation n
        |  WHERE l.l_partkey = p.p_partkey AND p.p_name LIKE '%red%'
        |    AND l.l_orderkey = o.o_orderkey
        |    AND l.l_suppkey = s.s_suppkey
        |    AND s.s_nationkey = n.n_nationkey)
        |SELECT nation, o_year,
        |  CAST(CAST(SUM(rev) AS VARCHAR) AS DOUBLE)
        |    - CAST(CAST(SUM(cost) AS VARCHAR) AS DOUBLE) AS sum_profit
        |FROM j GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,

    "q11_important_stock" ->
      """WITH v AS (
        |  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS vd
        |  FROM lineitem l
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  WHERE n.n_name = 'NATION_3'
        |  GROUP BY 1),
        |t AS (SELECT SUM(vd) AS td FROM v)
        |SELECT l_partkey AS p_partkey,
        |  CAST(CAST(vd AS VARCHAR) AS DOUBLE) AS value
        |FROM v, t
        |WHERE CAST(CAST(vd AS VARCHAR) AS DOUBLE)
        |    > CAST(CAST(td AS VARCHAR) AS DOUBLE) * 1e-3
        |ORDER BY value DESC, p_partkey""".stripMargin,

    "q12_ship_speed" ->
      """SELECT speed,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM (
        |  SELECT o.o_orderpriority,
        |    CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
        |        CAST(l.l_shipdate AS DATE)) <= 30
        |      THEN 'FAST' ELSE 'SLOW' END AS speed
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l.l_shipdate < TIMESTAMP '1998-01-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q14_promo_revenue" ->
      """WITH j AS (
        |  SELECT p.p_type,
        |    CAST(l.l_extendedprice AS DECIMAL(18,2))
        |      * CAST(1.0 - l.l_discount AS DECIMAL(18,6)) AS v
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
        |    AND l.l_shipdate < TIMESTAMP '1996-04-01')
        |SELECT
        |  CAST(CAST(SUM(CASE WHEN p_type = 'PROMO' THEN v ELSE 0 END)
        |    AS VARCHAR) AS DOUBLE) AS promo_rev,
        |  CAST(CAST(SUM(v) AS VARCHAR) AS DOUBLE) AS total_rev,
        |  CAST(CAST(SUM(CASE WHEN p_type = 'PROMO' THEN v ELSE 0 END)
        |    AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST(SUM(v) AS VARCHAR) AS DOUBLE) * 1e2 AS promo_share
        |FROM j""".stripMargin,

    "q15_top_supplier" ->
      """WITH r AS (
        |  SELECT l_suppkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * CAST(1.0 - l_discount AS DECIMAL(18,6))) AS rd
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1),
        |m AS (SELECT MAX(rd) AS mx FROM r)
        |SELECT s.s_suppkey, s.s_name,
        |  CAST(CAST(r.rd AS VARCHAR) AS DOUBLE) AS total_rev
        |FROM r, m, supplier s
        |WHERE r.rd = m.mx AND s.s_suppkey = r.l_suppkey
        |ORDER BY s.s_suppkey""".stripMargin,

    "q16_supplier_cnt" ->
      """SELECT p_brand, p_type, p_size,
        |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE p.p_brand <> 'Brand#1'
        |  AND l.l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "q19_disjunctive_rev" ->
      """SELECT CAST(CAST(SUM(
        |    CAST(l_extendedprice AS DECIMAL(18,2))
        |      * CAST(1.0 - l_discount AS DECIMAL(18,6)))
        |  AS VARCHAR) AS DOUBLE) AS revenue
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
        |        AND l.l_quantity BETWEEN 1 AND 20)
        |   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
        |        AND l.l_quantity BETWEEN 10 AND 40)
        |   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
        |        AND l.l_quantity BETWEEN 20 AND 50)""".stripMargin,

    "q20_excess_stock" ->
      """WITH li AS (
        |  SELECT l.l_partkey, l.l_suppkey,
        |    CAST(l.l_quantity AS DECIMAL(18,2)) AS q
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE p.p_type = 'PROMO'
        |    AND l.l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l.l_shipdate < TIMESTAMP '1997-01-01'),
        |bs AS (SELECT l_partkey, l_suppkey, SUM(q) AS sq
        |       FROM li GROUP BY 1, 2),
        |bp AS (SELECT l_partkey, SUM(q) AS tq FROM li GROUP BY 1),
        |dom AS (
        |  SELECT DISTINCT bs.l_suppkey
        |  FROM bs JOIN bp USING (l_partkey)
        |  WHERE CAST(CAST(bs.sq AS VARCHAR) AS DOUBLE)
        |      > CAST(CAST(bp.tq AS VARCHAR) AS DOUBLE) * 5e-1)
        |SELECT s.s_suppkey, s.s_name, n.n_name
        |FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
        |WHERE s.s_suppkey IN (SELECT l_suppkey FROM dom)
        |ORDER BY s.s_suppkey""".stripMargin,

    "q22_sales_opportunity" ->
      """WITH a AS (
        |  SELECT CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2)))
        |      AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_bal
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT c_nationkey % 5 AS cntrycode, COUNT(*) AS numcust,
        |  CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS VARCHAR)
        |    AS DOUBLE) AS totacctbal
        |FROM customer, a
        |WHERE c_acctbal > a.avg_bal
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "subquery_not_in_nullaware" ->
      """SELECT
        |  (SELECT COUNT(*) FROM customer
        |   WHERE c_nationkey NOT IN
        |     (SELECT s_nationkey FROM supplier WHERE s_suppkey < 40))
        |    AS n_clean,
        |  (SELECT COUNT(*) FROM customer
        |   WHERE c_nationkey NOT IN
        |     (SELECT CASE WHEN s_acctbal < 0 THEN NULL ELSE s_nationkey END
        |      FROM supplier)) AS n_poisoned""".stripMargin,

    "subquery_in" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#1')
        |GROUP BY l_returnflag""".stripMargin,

    "basket_pair_rules" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |sized AS (
        |  SELECT ok, pk FROM (
        |    SELECT ok, pk, COUNT(*) OVER (PARTITION BY ok) AS bsz FROM items)
        |  WHERE bsz <= 32),
        |pairs AS (
        |  SELECT a.pk AS pa, b.pk AS pb, COUNT(*) AS supp_ab
        |  FROM sized a JOIN sized b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2),
        |item AS (SELECT pk, COUNT(*) AS supp FROM items GROUP BY 1),
        |n AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM items)
        |SELECT pa, pb, supp_ab, ia.supp AS supp_a, ib.supp AS supp_b,
        |  CAST(supp_ab AS DOUBLE) / CAST(ia.supp AS DOUBLE) AS conf_ab,
        |  CAST(n.n_orders * supp_ab AS DOUBLE)
        |    / CAST(ia.supp * ib.supp AS DOUBLE) AS lift
        |FROM pairs
        |JOIN item ia ON pa = ia.pk
        |JOIN item ib ON pb = ib.pk
        |CROSS JOIN n
        |WHERE supp_ab >= 2
        |ORDER BY lift DESC, pa, pb LIMIT 50""".stripMargin
  )
}
