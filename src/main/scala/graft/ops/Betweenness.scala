package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-pivot, depth-bounded betweenness centrality (Brandes 2001,
  * restricted to k source pivots and paths of length ≤ depth — the
  * standard approximation pair for graphs where exact all-sources
  * betweenness is O(V·E) and unthinkable at 100 TB; Bader et al.'s
  * pivot sampling with the deterministic twist that pivots are the k
  * SMALLEST source ids, so both engines pick the identical set).
  *
  * Determinism is the hard part, engineered out up front: Brandes'
  * backward dependency pass sums σ_v/σ_w ratios — a float SUM over a
  * group, whose accumulation order Spark does not fix, so a naive port
  * could never hash-match DuckDB. Here the ENTIRE computation is
  * integer: path counts σ are exact sums, and dependencies accumulate
  * in fixed point — the per-successor term is
  *
  *   t(v→w) = ⌊ σ_v · (SCALE + δ_w) / σ_w ⌋
  *
  * computed in DECIMAL(38,0) (HUGEINT in the mirror) with integral
  * division, then δ_v = Σ t — an exact integer sum, order-free. All
  * operands are positive and σ_w ≥ σ_v for any DAG successor (σ_w sums
  * its predecessors' σ), so the quotient is ≤ SCALE + δ_w and the
  * product stays far inside DECIMAL(38,0) at any realistic degree.
  * Spark `div` truncates toward zero and DuckDB `//` floors — equal on
  * the all-positive domain. The quantization (≤ 1/SCALE per edge term,
  * SCALE = 2^20) is deliberate and identical on both engines: this is
  * a fixed-point DEFINITION of the score, not a float approximation of
  * one.
  *
  * Plan shape (the 100 TB story): forward = one frontier⋈adjacency
  * join + one map-side-combinable (pivot, node) rollup + one anti-join
  * per level; backward = one level⋈adjacency⋈next-level join + one
  * integer rollup per level. Everything is keyed by (pivot, node) —
  * the k pivots ride in the key, so one pivot's BFS tree fans out
  * across the cluster instead of serializing, and `depth` is a
  * compile-time unroll exactly like graph_bfs_levels. No floats, no
  * driver loops, no collect.
  */
object Betweenness {

  /** Fixed-point scale: δ = 1.0 ≡ 2^20. */
  val Scale: Long = 1L << 20

  /** @param adj   directed adjacency (src: long, dst: long), deduped
    * @param pivots number of source pivots (the k smallest distinct
    *               src ids)
    * @param depth  BFS truncation — paths longer than this don't
    *               contribute (bounded-distance betweenness)
    * @return (node, bc_fix): Σ over pivots of the node's fixed-point
    *         dependency; every node reached at levels 1..depth
    *         appears, zeros included (pivot rows excluded — a source
    *         has no dependency under its own tree)
    */
  def apply(adj: DataFrame, pivots: Int, depth: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    require(pivots >= 1, s"betweenness: pivots $pivots < 1")
    require(depth >= 2, s"betweenness: depth $depth < 2 never " +
      "accumulates (level-depth nodes carry delta 0 by definition)")
    // Every level frame has MULTIPLE consumers (next level's frontier,
    // the visited anti-join, the backward join, the final union) —
    // unpinned, each consumer re-executes the whole level-chain prefix
    // (measured 3× wall on the registered query). Per-level
    // localCheckpoint + one final caller-owned checkpoint, superseded
    // pins released — the Scc/Hits discipline.
    val pinned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint(); pinned += c; c
    }
    // The adjacency joins into EVERY forward and backward level —
    // 2·depth − 1 plan copies. Left unpinned, each copy re-analyzes and
    // re-executes the caller's whole adjacency subtree; on the 100×
    // weak-scaling probe (a 100-leaf id-shifted union) that unrolled
    // re-analysis was the 23s driver floor VERDICT r10 task #3 flagged.
    // One eager pin truncates the logical plan to a LogicalRDD (the Scc
    // `live` discipline) — measured at 100×: floor 23s → 6.5s, wall
    // 189s → 61.5s, adj_in 0.34 → 0.17; sf0.01 oracle hash unchanged
    // (docs/NOTES.md round-11).
    val adjP = pin(adj.select(col("src"), col("dst")))
    val pv = adjP.select(col("src")).distinct()
      .orderBy(col("src")).limit(pivots)
      .select(col("src").as("p"))
    val f0 = pin(pv
      .select(col("p"), col("p").as("node"), lit(1L).as("sig")))
    // forward: byLevel(l) = (p, node, sig) discovered at distance l
    val byLevel = scala.collection.mutable.ArrayBuffer(f0)
    var visited = f0.select(col("p"), col("node"))
    for (_ <- 1 to depth) {
      val frontier = byLevel.last
      val cand = frontier
        .join(adjP, frontier("node") === adjP("src"))
        .groupBy(col("p"), col("dst"))
        .agg(sum(col("sig")).as("sig"))
      val nw = pin(cand
        .join(visited.select(col("p").as("_vp"), col("node").as("_vn")),
          col("p") === col("_vp") && col("dst") === col("_vn"),
          "left_anti")
        .select(col("p"), col("dst").as("node"), col("sig")))
      byLevel += nw
      visited = visited.unionByName(nw.select(col("p"), col("node")))
    }
    // backward: deepest level carries delta 0; each shallower level
    // folds its successors' (sig, delta) through the fixed-point term
    var deltaNext = byLevel(depth).withColumn("delta", lit(0L))
    val withDelta =
      scala.collection.mutable.ArrayBuffer[DataFrame](deltaNext)
    for (l <- (depth - 1) to 1 by -1) {
      val vl = byLevel(l)
      val terms = vl
        .join(adjP, vl("node") === adjP("src"))
        .join(deltaNext.select(col("p").as("_wp"), col("node").as("_wn"),
            col("sig").as("_wsig"), col("delta").as("_wd")),
          col("p") === col("_wp") && col("dst") === col("_wn"))
        .groupBy(col("p").as("_tp"), vl("node").as("_tn"))
        .agg(sum(expr(
          s"CAST(CAST(sig AS DECIMAL(38,0)) * (${Scale}L + _wd)" +
            " div CAST(_wsig AS DECIMAL(38,0)) AS BIGINT)")).as("_s"))
      val dl = pin(vl.join(terms,
          vl("p") === col("_tp") && vl("node") === col("_tn"), "left")
        .select(vl("p"), vl("node"), vl("sig"),
          coalesce(col("_s"), lit(0L)).as("delta")))
      withDelta += dl
      deltaNext = dl
    }
    // one caller-owned block set (memoize or release); intermediates go
    val res = withDelta.map(_.select(col("node"), col("delta")))
      .reduce(_ unionByName _)
      .groupBy("node")
      .agg(count(lit(1)).as("n_pivots_reached"),
        sum(col("delta")).as("bc_fix"))
      .localCheckpoint()
    pinned.foreach(Bridge.releaseLocalCheckpoint)
    res
  }

  /** DuckDB mirror as a WITH body over an adjacency CTE
    * `adjCte(src, dst)`: unrolled forward levels f0..f{depth} (NOT
    * EXISTS anti-joins against the union of shallower levels),
    * backward d{depth}..d1 with the identical HUGEINT fixed-point
    * term, ending in `bc(node, n_pivots_reached, bc_fix)`.
    */
  def duckCtes(pivots: Int, depth: Int, adjCte: String = "edges"): String = {
    val pv =
      s"""pv AS (SELECT src AS p FROM (
         |  SELECT DISTINCT src FROM $adjCte ORDER BY src LIMIT $pivots))""".stripMargin
    val f0 = "f0 AS (SELECT p, p AS node, CAST(1 AS BIGINT) AS sig FROM pv)"
    val fwd = (1 to depth).map { l =>
      val prev = (0 until l).map(i => s"SELECT p, node FROM f$i")
        .mkString(" UNION ALL ")
      s"""c$l AS (
         |  SELECT f.p, e.dst AS node, CAST(SUM(f.sig) AS BIGINT) AS sig
         |  FROM f${l - 1} f JOIN $adjCte e ON f.node = e.src
         |  GROUP BY 1, 2),
         |f$l AS (
         |  SELECT c.p, c.node, c.sig FROM c$l c
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM ($prev) v
         |    WHERE v.p = c.p AND v.node = c.node))""".stripMargin
    }
    val dDeep =
      s"d$depth AS (SELECT p, node, sig, CAST(0 AS BIGINT) AS delta FROM f$depth)"
    val back = ((depth - 1) to 1 by -1).map { l =>
      s"""t$l AS (
         |  SELECT v.p, v.node,
         |    CAST(SUM(CAST(v.sig AS HUGEINT) * ($Scale + w.delta)
         |      // CAST(w.sig AS HUGEINT)) AS BIGINT) AS s
         |  FROM f$l v JOIN $adjCte e ON v.node = e.src
         |    JOIN d${l + 1} w ON w.p = v.p AND w.node = e.dst
         |  GROUP BY 1, 2),
         |d$l AS (
         |  SELECT v.p, v.node, v.sig, COALESCE(t.s, CAST(0 AS BIGINT)) AS delta
         |  FROM f$l v LEFT JOIN t$l t ON t.p = v.p AND t.node = v.node)""".stripMargin
    }
    val union = (1 to depth).map(l => s"SELECT node, delta FROM d$l")
      .mkString(" UNION ALL ")
    val bc =
      s"""bc AS (
         |  SELECT node, COUNT(*) AS n_pivots_reached,
         |    CAST(SUM(delta) AS BIGINT) AS bc_fix
         |  FROM ($union)
         |  GROUP BY 1)""".stripMargin
    (Seq(pv, f0) ++ fwd ++ Seq(dDeep) ++ back :+ bc).mkString(",\n")
  }
}
