package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unrolled-round graph iteration kernels shared by the GraphQueries
  * pack and its suite: k-core peeling and synchronous label
  * propagation. Both take an UNDIRECTED adjacency as a (u, v) edge
  * list carrying BOTH orientations, run a fixed round count (unrolled
  * identically in the DuckDB mirrors), and are deterministic by
  * construction — every per-round step is a grouped exact count plus
  * joins, and the one argmax (LPA's label vote) is a struct-min with a
  * total tie order. At cluster scale the fixed unroll becomes a
  * loop-to-fixpoint with the [[ConnectedComponents]] discipline
  * (per-round `localCheckpoint` + block release); rounds here are few
  * and the fixture graphs small, so plain composition keeps the whole
  * chain in one job.
  */
object GraphIter {

  /** User–user co-engagement edges from the events fixture (low→high,
    * distinct): two users connect if they bought the SAME item on the
    * SAME day. The (item, day) blocking keeps the projection sparse
    * and `maxPop` caps the quadratic per-block pairing (blocks more
    * popular than the cap carry no community signal — the stop-gram
    * move). ONE definition serves the registered queries and the
    * weak-scaling probe, so the probe measures the plan it claims to.
    */
  def coEngagementEdges(events: DataFrame, maxPop: Int): DataFrame = {
    val pur = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("u"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        col("ts").cast("date").as("day"))
      .distinct()
    val keep = pur.groupBy("k", "day").agg(count(lit(1)).as("pop"))
      .filter(col("pop") <= maxPop)
    val pi = pur.join(broadcast(keep.select("k", "day")), Seq("k", "day"))
    pi.select(col("k"), col("day"), col("u").as("ua"))
      .join(pi.select(col("k"), col("day"), col("u").as("ub")),
        Seq("k", "day"))
      .filter(col("ua") < col("ub"))
      .select("ua", "ub").distinct()
  }

  /** Directed "best next item" graph from the events fixture: for each
    * catalog item, ONE edge to the item users most often purchase next
    * (consecutive purchases per user, self-loops dropped, ties broken
    * by min target id — a total order, so the graph is deterministic).
    * A functional graph's SCCs are its cycles — the recurrent sets of
    * the purchase chain — the directed substrate for [[Scc]]. ONE
    * definition serves the registered query and the weak-scaling
    * probe (the [[coEngagementEdges]] discipline).
    */
  def bestNextItemEdges(events: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val ev = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
    val nxt = W.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    ev.withColumn("b", lead(col("k"), 1).over(nxt))
      .filter(col("b").isNotNull && col("b") =!= col("k"))
      .groupBy(col("k").as("a"), col("b"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(
        W.partitionBy("a").orderBy(col("n").desc, col("b"))))
      .filter(col("rn") === 1)
      .select(col("a").as("src"), col("b").as("dst"))
  }

  /** Both orientations of a (ua, ub) edge list — the undirected (u, v)
    * adjacency the iteration kernels consume. An EXPLODE, not a
    * two-branch union: the union form scans its input twice, and when
    * the input is the un-pinned quadratic co-engagement projection the
    * whole pairing would run once per branch (review finding) —
    * ReuseExchange is not guaranteed to dedup the subplans. The
    * 1→2 generator reads each edge exactly once, scan-side.
    */
  def undirected(e: DataFrame): DataFrame =
    e.select(explode(array(
      struct(col("ua").as("u"), col("ub").as("v")),
      struct(col("ub").as("u"), col("ua").as("v")))).as("uv"))
      .select(col("uv.u").as("u"), col("uv.v").as("v"))

  /** Per-node two-hop reach |{w : dist ≤ 2, w ≠ u}| over an
    * undirected adjacency (u, v): one wedge join (volume Σ deg²,
    * bounded by whatever hub cap produced the adjacency), a (u, w)
    * distinct, and a per-u count; 1-hop degree rides the same frame.
    * Suite-checkable on constructed graphs; graph_two_hop_reach feeds
    * it the pinned co-engagement adjacency.
    */
  def twoHopReach(adj: DataFrame): DataFrame = {
    val deg = adj.groupBy(col("u"))
      .agg(count(lit(1)).as("n_1hop"))
    // enumerate each reachable pair UNORDERED (u < w) and credit both
    // endpoints after the dedup — halves the wedge rows entering the
    // distinct exchange vs emitting both orientations (measured 7.3 s
    // → the dominant cost was that shuffle, not the join)
    val two = adj.toDF("u", "m")
      .join(adj.toDF("m2", "w"), col("m") === col("m2"))
      .select(col("u"), col("w"))
      .filter(col("u") < col("w"))
    val oneHop = adj.filter(col("u") < col("v")).toDF("u", "w")
    val reach = oneHop.unionAll(two).distinct()
      .select(explode(array(col("u"), col("w"))).as("u"))
      .groupBy("u").agg(count(lit(1)).as("n_reach2"))
    deg.join(reach, Seq("u"))
  }

  /** Two-hop reach by per-node HLL sketch (round-13, VERDICT r12 task
    * #3) — the 100 TB shape for REACH COUNTING: [[twoHopReach]] pays
    * an exact-distinct shuffle on the full wedge set (the measured
    * dominant cost, 3.26s at sf0.1 — every (u, w) candidate pair
    * crosses the exchange to be deduped), while reach estimation only
    * needs the CARDINALITY of each node's ≤2-hop set. Same wedge
    * enumeration (volume Σ deg², hub-cap bounded), but each candidate
    * endpoint contributes one scalar (bucket, ρ) register part,
    * map-side-combined to ≤512 long rows per node before the
    * exchange — so the shuffle is bounded regardless of wedge volume
    * (duplicates never cross; MAX absorbs them pre-shuffle), where the
    * exact arm's distinct state and exchange grow with the reach set.
    * Standard error 1.04/√512 ≈ 4.6%. Estimate determinism is the
    * [[Hll]] contract, so the row is fully oracle-mirrorable;
    * accuracy is grounded against the exact arm in TwoHopSketchSuite
    * (the dedup_eval pattern).
    *
    * Self-exclusion parity with the exact arm: the wedge filter drops
    * w = u and the adjacency carries no self-loops, so the sketched
    * set is exactly {w : dist(u,w) ≤ 2, w ≠ u}.
    */
  def twoHopReachSketch(adj: DataFrame): DataFrame = {
    val deg = adj.groupBy(col("u"))
      .agg(count(lit(1)).as("n_1hop"))
    // Two measured design points (sf0.1), both rejected:
    //  - packed 512-byte registers per candidate row: allocation-bound
    //    (16.2s) — the packed layout pays off for ITERATIVE state
    //    (HyperBall re-crosses the exchange every round), not one-shot
    //    aggregation;
    //  - md5 per candidate row (Hll.registers over the wedge set):
    //    Σ deg² hash computations dominate (15.2s).
    // The shape that works: hash each adjacency endpoint ONCE (E
    // md5s) and let the wedge join PROPAGATE h; the (bucket, ρ)
    // derivation runs per candidate row but is two bit ops + an msb
    // intrinsic (Hll.bucketOf/rhoOf — no string, no allocation).
    // A fourth variant — propagating the derived (bucket, ρ) ints
    // through the join instead of h — measured consistently SLOWER
    // (5.7–6.4s vs 3.8–4.4s over repeated runs; the wider build side
    // appears to flip the join strategy), so h-propagation stands on
    // measurement. Identical estimates either way (the derivation is
    // a pure function of the endpoint), so the oracle mirror derives
    // them wherever SQL finds convenient.
    val adjH = adj.select(col("u"), col("v"), Hll.raw60(col("v")).as("h"))
    val two = adj.toDF("u", "m")
      .join(adjH.toDF("m2", "w", "h"), col("m") === col("m2"))
      .filter(col("u") =!= col("w"))
      .select(col("u").as("g"), col("h"))
    val one = adjH.select(col("u").as("g"), col("h"))
    val est = Hll.estimate(Hll.registersFromHash(one.unionAll(two)))
      .select(col("g").as("u"), col("n_set"), col("s_total"),
        col("est_distinct").as("est_reach2"))
    deg.join(est, Seq("u"))
  }

  /** Exact triangle count over a deduplicated low→high edge list
    * (ua < ub), by DEGREE-ORDERED orientation: rank nodes by
    * (degree, id) — a total order — and orient every edge from its
    * lower- to its higher-ranked endpoint. Each triangle then appears
    * as exactly one wedge at its lowest-ranked vertex, and every
    * vertex's OUT-degree is O(√m) (a vertex of out-degree t has t
    * higher-ranked neighbors, each of degree ≥ t, so t² ≤ 2m) — the
    * wedge join is bounded m^1.5 REGARDLESS of hub skew, where the
    * id-ordered orientation this replaces left hub wedges quadratic in
    * hub degree (a power-law graph at 100 TB has hubs; the (deg, id)
    * rank is the standard compact-forward fix). The two rank-attach
    * joins are against the node-sized degree table — broadcastable
    * here, co-partitioned on node id at scale. Output: one row,
    * `n_triangles` BIGINT.
    */
  def triangleCount(e: DataFrame): DataFrame =
    triangleCount(e,
      e.select(col("ua").as("u"))
        .unionAll(e.select(col("ub").as("u")))
        .groupBy("u").agg(count(lit(1)).as("d")))

  /** As above with a caller-supplied degree table `(u, d)` — callers
    * that already aggregate degrees (graph_triangles computes the
    * wedge-count scalar from the same table) pass it in rather than
    * paying the rollup twice.
    */
  def triangleCount(e: DataFrame, deg: DataFrame): DataFrame =
    triangleRows(e, deg).agg(count(lit(1)).as("n_triangles"))

  /** One row per triangle `(a, b, c)` — the same degree-ordered
    * enumeration as [[triangleCount]] (a = the lowest-ranked apex, so
    * each triangle appears exactly once), kept per-row so consumers
    * can attribute triangles to their member NODES (local clustering
    * coefficients, per-node truss-ness) instead of only counting.
    */
  def triangleRows(e: DataFrame, deg: DataFrame): DataFrame = {
    val o = e
      .join(deg.select(col("u").as("ua"), col("d").as("da")), Seq("ua"))
      .join(deg.select(col("u").as("ub"), col("d").as("db")), Seq("ub"))
      .select(
        when(col("da") < col("db") ||
            (col("da") === col("db") && col("ua") < col("ub")),
          struct(col("ua").as("s"), col("ub").as("t"), col("db").as("dt")))
          .otherwise(
            struct(col("ub").as("s"), col("ua").as("t"), col("da").as("dt")))
          .as("o"))
      .select(col("o.s").as("s"), col("o.t").as("t"), col("o.dt").as("dt"))
    // wedge (u, w) at apex s, ordered by the same (deg, id) rank so
    // the closing oriented edge — if present — is exactly (u → w)
    val wedges = o.select(col("s").as("apex"), col("t").as("u"),
        col("dt").as("du"))
      .join(o.select(col("s").as("apex"), col("t").as("w"),
        col("dt").as("dw")), Seq("apex"))
      .filter(col("du") < col("dw") ||
        (col("du") === col("dw") && col("u") < col("w")))
      .select(col("apex"), col("u").as("s"), col("w").as("t"))
    wedges.join(o.select("s", "t"), Seq("s", "t"), "left_semi")
      .select(col("apex").as("a"), col("s").as("b"), col("t").as("c"))
  }

  /** Per-edge triangle support over the canonical (ua < ub) edge list
    * — the k-truss initialization: each [[triangleRows]] triangle
    * explodes to its 3 member edges in (least, greatest) id order
    * (matching the canonical form), one rollup counts per edge, and a
    * left join puts support-0 edges back. (ua, ub, support).
    */
  def edgeSupport(e: DataFrame, deg: DataFrame): DataFrame = {
    val te = triangleRows(e, deg).select(explode(array(
        struct(least(col("a"), col("b")).as("ua"),
          greatest(col("a"), col("b")).as("ub")),
        struct(least(col("a"), col("c")).as("ua"),
          greatest(col("a"), col("c")).as("ub")),
        struct(least(col("b"), col("c")).as("ua"),
          greatest(col("b"), col("c")).as("ub")))).as("ed"))
      .select(col("ed.ua").as("ua"), col("ed.ub").as("ub"))
      .groupBy("ua", "ub").agg(count(lit(1)).as("support"))
    e.join(te, Seq("ua", "ub"), "left")
      .select(col("ua"), col("ub"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** `rounds` synchronous peeling steps toward the k-core: each round
    * drops every edge touching a node of current degree < k. The
    * surviving edge set after round i is the exact synchronous-peel
    * state, so any two engines agree row-for-row. Returns the
    * surviving adjacency (both orientations, like the input).
    */
  def kcoreEdges(adj: DataFrame, k: Int, rounds: Int): DataFrame =
    (1 to rounds).foldLeft(adj) { (e, _) =>
      val kept = e.groupBy("u").agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select("u")
      e.join(kept, Seq("u"), "left_semi")
        .join(kept.withColumnRenamed("u", "v"), Seq("v"), "left_semi")
        .select("u", "v")
    }

  /** `rounds` synchronous steps of Luby's maximal-independent-set
    * algorithm with DETERMINISTIC per-round hash priorities
    * (pr(u, r) = h31(u ++ ":" ++ r) — reproducible on any engine, the
    * repo's hash-universe contract, where Luby's classical form draws
    * fresh randomness). Each round, an undecided node enters the MIS
    * iff its priority is strictly below every undecided neighbor's
    * (no undecided neighbor ⇒ enters — this is what drives
    * maximality); undecided neighbors of entrants drop out. Adjacent
    * nodes can never both enter (their strict comparisons would
    * contradict), so independence holds by construction at every
    * round, and the fixed synchronous schedule makes the state after
    * `rounds` exact on both engines — the kcore/ktruss discipline, so
    * the oracle unrolls as a CTE chain. Returns (u, st) with st in
    * {'in', 'out', 'und'}; 'und' nonempty just means more rounds
    * would refine it (Luby converges in O(log n) rounds w.h.p.).
    *
    * Plan per round: two exchanges and one pin, so three Spark jobs.
    * The node state `(u, st)` is pinned hash-partitioned on u and the
    * message edges on v, both with the session's shuffle partition
    * count and through `Bridge.localCheckpointPartitioned` (which keeps
    * that partitioning), so a message from v to u joins v's state
    * without an exchange; the only shuffles are the two groupBy(u)
    * message steps a Luby round needs: the min priority over undecided
    * neighbours, then "entered, or has a neighbour that entered". The
    * message edges are the adjacency plus one self row `(u, u)` per
    * node, so the second step tells a node both facts at once: each
    * round's entrants feed ONE consumer, and no subplan is planned (and
    * run) twice — a pinned frame read by two branches of one plan is
    * not deduplicated, because its scan's partitioning is not
    * normalized when exchanges are compared for reuse.
    * The round's new state is ONE pin over every node (a decided node
    * keeps its st), so the undecided frontier is a filter of it and the
    * last round's pin is the answer — no separate decided/undecided
    * pins and no closing union or join. Joins are hinted `shuffle_hash`
    * so a small frontier is never broadcast (a broadcast is a job of
    * its own). Each superseded state is released once the next is
    * pinned.
    */
  def lubyMis(adj: DataFrame, rounds: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    val parts =
      adj.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    def pr(node: Column, r: Int): Column =
      TextHash.h31(concat(node.cast("string"), lit(s":$r")))
    var state = adj.select(col("u")).repartition(parts, col("u"))
      .distinct().select(col("u"), lit("und").as("st"))
      .transform(Bridge.localCheckpointPartitioned)
    val msgs = adj.select(col("u"), col("v"), lit(false).as("self"))
      .unionAll(state.select(col("u"), col("u").as("v"), lit(true)))
      .repartition(parts, col("v"))
      .transform(Bridge.localCheckpointPartitioned)
    for (r <- 1 to rounds) {
      val und = state.filter(col("st") === "und").select("u")
      val mn = msgs.filter(!col("self"))
        .join(und.select(col("u").as("v"), pr(col("u"), r).as("prv"))
          .hint("shuffle_hash"), "v")
        .groupBy("u").agg(min(col("prv")).as("mn"))
      val entered = und.join(mn.hint("shuffle_hash"), Seq("u"), "left")
        .filter(col("mn").isNull || pr(col("u"), r) < col("mn"))
        .select(col("u").as("v"))
      val told = msgs.join(entered.hint("shuffle_hash"), "v")
        .groupBy("u")
        .agg(max(col("self")).as("enter"), max(!col("self")).as("hit"))
      val next = state.join(told.hint("shuffle_hash"), Seq("u"), "left")
        .select(col("u"),
          when(col("enter"), lit("in"))
            .when(col("st") === "und" && col("hit"), lit("out"))
            .otherwise(col("st")).as("st"))
        .transform(Bridge.localCheckpointPartitioned)
      Bridge.releaseLocalCheckpoint(state)
      state = next
    }
    Bridge.releaseLocalCheckpoint(msgs)
    state
  }

  /** `rounds` Bellman-Ford min-plus relaxation steps over a weighted
    * directed adjacency `adjW(src, dst, w)` from `seeds(node, dist)` —
    * distributed SSSP, one frontier⋈adjacency join + one grouped
    * integer MIN per round (order-free, map-side combinable; distances
    * only decrease, so at cluster scale the unroll becomes the
    * checkpoint-per-round loop with a sum-of-dists fixpoint test).
    * Returns (node, dist) for nodes reachable within `rounds` edges.
    */
  def ssspRelax(adjW: DataFrame, seeds: DataFrame, rounds: Int): DataFrame =
    (1 to rounds).foldLeft(seeds) { (d, _) =>
      d.join(adjW, d("node") === adjW("src"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
        .unionByName(d)
        .groupBy("node").agg(min(col("dist")).as("dist"))
    }

  /** `rounds` synchronous LPA steps: each node adopts the most
    * frequent label among its neighbors, ties to the SMALLEST label
    * (struct-min over (-count, label) — a total order, so the vote
    * can never depend on aggregation order). Initial label = node id.
    * Returns (node, label).
    */
  def labelProp(adj: DataFrame, rounds: Int): DataFrame = {
    val l0 = adj.select(col("u").as("node")).distinct()
      .withColumn("label", col("node"))
    (1 to rounds).foldLeft(l0) { (lab, _) =>
      adj.join(lab, adj("v") === lab("node"))
        .groupBy(col("u"), col("label")).agg(count(lit(1)).as("c"))
        .groupBy(col("u").as("node"))
        .agg(min(struct((-col("c")).as("nc"), col("label").as("l")))
          .as("m"))
        .select(col("node"), col("m.l").as("label"))
    }
  }
}
