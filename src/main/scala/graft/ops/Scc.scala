package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graftbridge.Bridge

/** Strongly connected components of a DIRECTED edge list — the
  * forward-backward min-label peel (the FW-BW family every distributed
  * SCC engine uses; cf. Orzan's coloring / ISPAN):
  *
  *   1. F(v) = min id over {v} ∪ ancestors of v (min-label propagated
  *      ALONG edge direction to fixpoint), B(v) = the same over
  *      descendants (reversed edges);
  *   2. F(v) = B(v) = m proves m reaches v AND v reaches m, so the
  *      node set {v : F(v) = B(v) = m} is EXACTLY the SCC of m — peel
  *      those nodes, drop their incident edges, repeat on the rest.
  *
  * Each fixpoint uses [[ConnectedComponents]]' discipline — propagate
  * + POINTER JUMP (sound here because a label is always an
  * ancestor-or-self, and an ancestor's ancestor is an ancestor:
  * L(L(v)) may replace L(v)), giving O(log diameter) inner rounds —
  * per-round `localCheckpoint` with block release, and the
  * sum-of-labels fixpoint test (labels only decrease).
  *
  * A TRIM phase runs before each peel (the standard FB-Trim pairing):
  * nodes with no remaining in-edges or no remaining out-edges cannot
  * sit on a cycle — they are singleton SCCs by definition — and
  * cascade out in rounds costing two anti-joins each, an order of
  * magnitude cheaper than an F/B fixpoint round. Trim is what drains
  * the acyclic shell (tree tributaries, inter-SCC paths, the
  * id-decreasing chain) so the F/B peels only ever work on cycle
  * cores; measured on the best-next-item fixture it cut the loop from
  * 10 peels / 82 fixpoint rounds to 2 peels (sf0.1). Trim soundness
  * leans on peel completeness: F=B peels remove whole SCCs, so the
  * live subgraph always contains every edge of every remaining SCC.
  *
  * Scale: state is O(V) label rows; each round (trim or fixpoint)
  * shuffles O(V + E) by node id. Both loops fail LOUDLY at their
  * bound rather than return a partial labeling.
  */
object Scc {

  /** @param edges directed (src, dst) rows, src ≠ dst
    * @return (node, scc_id): scc_id = min node id in the SCC;
    *         every node incident to an edge appears exactly once
    */
  def apply(
      edges: DataFrame,
      maxPeel: Int = 32,
      maxProp: Int = 64): DataFrame = {
    var live = edges.select(col("src"), col("dst")).localCheckpoint()
    var nodes = live.select(col("src").as("node"))
      .unionByName(live.select(col("dst").as("node")))
      .distinct().localCheckpoint()
    var out: DataFrame = null
    val pinnedDones = scala.collection.mutable.ListBuffer.empty[DataFrame]
    var peel = 0

    // record a finished (node, scc_id) batch and shrink the live graph
    def emitAndShrink(done: DataFrame): Unit = {
      pinnedDones += done
      out = if (out == null) done else out.unionByName(done)
      val rest = nodes.join(done, Seq("node"), "left_anti")
        .localCheckpoint()
      val restEdges = live
        .join(rest.withColumnRenamed("node", "src"), Seq("src"),
          "left_semi")
        .join(rest.withColumnRenamed("node", "dst"), Seq("dst"),
          "left_semi")
        .select("src", "dst").localCheckpoint()
      Bridge.releaseLocalCheckpoint(nodes)
      Bridge.releaseLocalCheckpoint(live)
      nodes = rest
      live = restEdges
    }

    while (nodes.limit(1).count() > 0) {
      peel += 1
      if (peel > maxPeel)
        throw new IllegalStateException(
          s"scc did not peel out in $maxPeel rounds")
      // ---- trim: cascade the acyclic shell out as singleton SCCs.
      // Capped, not converged — a leftover shell is not an error, the
      // F/B peel below handles whatever trim didn't reach.
      var trimming = true
      var trimRound = 0
      while (trimming && trimRound < maxProp) {
        trimRound += 1
        val srcs = live.select(col("src").as("node")).distinct()
        val dsts = live.select(col("dst").as("node")).distinct()
        val dead = nodes
          .join(srcs, Seq("node"), "left_anti")
          .unionByName(nodes.join(dsts, Seq("node"), "left_anti"))
          .distinct()
          .select(col("node"), col("node").as("scc_id"))
          .localCheckpoint()
        if (dead.limit(1).count() == 0) {
          trimming = false
          Bridge.releaseLocalCheckpoint(dead)
        } else emitAndShrink(dead)
      }
      if (nodes.limit(1).count() > 0) {
        val f = minReach(live, nodes, maxProp)
        val b = minReach(
          live.select(col("dst").as("src"), col("src").as("dst")),
          nodes, maxProp)
        val done = f.join(b.withColumnRenamed("m", "mb"), Seq("node"))
          .filter(col("m") === col("mb"))
          .select(col("node"), col("m").as("scc_id"))
          .localCheckpoint()
        Bridge.releaseLocalCheckpoint(f)
        Bridge.releaseLocalCheckpoint(b)
        emitAndShrink(done)
      }
    }
    Bridge.releaseLocalCheckpoint(nodes)
    Bridge.releaseLocalCheckpoint(live)
    if (out == null) // edgeless input: no incident nodes to label
      return edges.select(col("src").as("node"),
        col("src").as("scc_id")).limit(0)
    // collapse the per-peel pins into ONE block set the caller owns
    // (memoize or release) — leaving every peel's `done` pinned is the
    // accumulation shape ADVICE r8 flagged on graph_triangles
    val res = out.localCheckpoint()
    pinnedDones.foreach(Bridge.releaseLocalCheckpoint)
    res
  }

  /** Longest-path layering of a DAG: layer(v) = 0 for sources,
    * else 1 + max(layer(pred)) — the topological depth a scheduler
    * (or lineage/build system) assigns before running layers in
    * parallel. Iterative max-relaxation with the loop discipline of
    * [[apply]]; layers only INCREASE and are bounded by the DAG
    * depth, so the sum-of-layers fixpoint test is sound and the bound
    * is the loud-fail. Feeding a CYCLIC graph would never converge —
    * run [[apply]] first and condense (that pairing is graph_topo_layers).
    *
    * @param edges directed acyclic (src, dst) rows
    * @return (node, layer)
    */
  def topoLayers(edges: DataFrame, maxDepth: Int = 64): DataFrame = {
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    var lay = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct()
      .withColumn("layer", lit(0L))
      .localCheckpoint()
    var sum = -1L
    var iter = 0
    var converged = false
    while (!converged) {
      iter += 1
      if (iter > maxDepth)
        throw new IllegalStateException(
          s"topo layering did not converge in $maxDepth rounds — " +
            "cyclic input? condense SCCs first")
      val viaPred = e
        .join(lay.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), (col("layer") + 1L).as("layer"))
      val next = lay.unionByName(viaPred)
        .groupBy("node").agg(max("layer").as("layer"))
        .localCheckpoint()
      val nextSum = next.agg(coalesce(
        org.apache.spark.sql.functions.sum("layer"), lit(0L)))
        .head().getLong(0)
      converged = nextSum == sum
      sum = nextSum
      val prev = lay
      lay = next
      Bridge.releaseLocalCheckpoint(prev)
    }
    Bridge.releaseLocalCheckpoint(e)
    lay
  }

  /** Min id over ancestors-or-self under `edges`, to fixpoint:
    * (node, m). Propagate (m flows src→dst) + pointer jump, converge
    * when sum(m) stops falling.
    */
  private def minReach(
      edges: DataFrame, nodes: DataFrame,
      maxProp: Int): DataFrame = {
    var lab = nodes.withColumn("m", col("node")).localCheckpoint()
    var sum = lab.agg(coalesce(org.apache.spark.sql.functions.sum("m"),
      lit(0L))).head().getLong(0)
    var iter = 0
    var converged = false
    while (!converged) {
      iter += 1
      if (iter > maxProp)
        throw new IllegalStateException(
          s"scc min-reach did not converge in $maxProp rounds")
      val viaEdge = edges
        .join(lab.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), col("m"))
      val cand = lab.unionByName(viaEdge)
        .groupBy("node").agg(min("m").as("m"))
      val jumped = cand
        .join(cand.select(col("node").as("m"), col("m").as("_mm")),
          Seq("m"), "left")
        .select(col("node"), coalesce(col("_mm"), col("m")).as("m"))
      val next = jumped.localCheckpoint()
      val nextSum = next.agg(coalesce(
        org.apache.spark.sql.functions.sum("m"), lit(0L)))
        .head().getLong(0)
      converged = nextSum == sum
      sum = nextSum
      val prev = lab
      lab = next
      Bridge.releaseLocalCheckpoint(prev)
    }
    lab
  }
}
