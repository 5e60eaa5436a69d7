package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryPack, Tables}
import graft.ops.{KcenterInit, PcaPower, Pq, VectorOps}
import graft.util.SessionCache

/** Compressed-index vector operators for the regime past IVF: product
  * quantization (store 4-byte codes instead of 256-byte vectors, probe
  * via per-query lookup tables). See [[graft.ops.Pq]] for the math and
  * the determinism discipline.
  */
object VectorQueries extends QueryPack {

  private val K = 10

  /** SemDeDup prune threshold. The synthetic corpus's closest pairs sit
    * at cos≈0.5 (see DedupQueries' embedding scaladoc); production
    * semantic dedup runs ≥0.9 — the math and plan are threshold-blind.
    */
  private val CosThreshold = 0.4

  /** The single definition of the coarse-centroid seed (stride 101) —
    * assignCells, the outlier gate's centroid re-attach, and the
    * DuckDB mirror's cents CTE must all agree on it.
    */
  private val seedPred = col("vec_id") % 101 === 0

  /** emb_kmeans_train iteration count — fixed so the DuckDB oracle can
    * unroll it as a CTE chain (the [[graft.ops.PageRank.duckCtes]]
    * pattern).
    */
  private val KmeansTrainRounds = 3

  /** The unrolled Lloyd's chain as a WITH body: c0 = seed rows, round r
    * = argmin assignment (a$r) + quantized update (u$r) + REAL-cast
    * re-centroid (c$r) — ends at `u$KmeansTrainRounds` /
    * `c$KmeansTrainRounds`. Shared by the train and trained-IVF oracles.
    */
  private lazy val kmeansTrainCtes: String = {
    val c0 =
      """c0 AS (
        |  SELECT vec_id AS cid, embedding AS cv FROM embeddings
        |  WHERE vec_id % 101 = 0)""".stripMargin
    val rounds = (1 to KmeansTrainRounds).map { r =>
      s"""a$r AS (
         |  SELECT vec_id, embedding, cell FROM (
         |    SELECT e.vec_id, e.embedding, c.cid AS cell,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${VectorOps.l2FixDuck("e.embedding", "c.cv")},
         |          c.cid) AS r
         |    FROM embeddings e CROSS JOIN c${r - 1} c)
         |  WHERE r = 1),
         |u$r AS (
         |  SELECT cell, pos, COUNT(*) AS n_vecs,
         |    SUM(q) AS sq
         |  FROM (SELECT cell, ps.pos,
         |          CAST(floor(CAST(embedding[ps.pos + 1] AS DOUBLE)
         |            * 1000000000.0) AS BIGINT) AS q
         |        FROM a$r, (SELECT unnest(range(0, 64)) AS pos) ps)
         |  GROUP BY cell, pos),
         |c$r AS (
         |  SELECT cell AS cid,
         |    list(CAST(CAST(sq AS DOUBLE)
         |          / (1000000000.0 * CAST(n_vecs AS DOUBLE)) AS REAL)
         |         ORDER BY pos) AS cv
         |  FROM u$r GROUP BY cell)""".stripMargin
    }
    (c0 +: rounds).mkString(",\n")
  }

  /** Deterministic coarse centroids ([[seedPred]]) and the per-vector
    * cell assignment by fixed-point L2 argmin. The centroid set is
    * collapsed to ONE broadcast row (id-sorted ids + vectors), so
    * assignment is a pure scan-side fold ([[VectorOps.argminL2Index]])
    * — no per-(vector, centroid) row explosion, no argmin window
    * shuffle; the tiebreak matches the oracle's `ORDER BY dfix,
    * cent_id`. Shared by `dedup_semantic` and `emb_kmeans_step` — the
    * SemDeDup paper's "cluster, then act within cells" shape IS the
    * k-means E-step.
    */
  private def assignCells(s: SparkSession, dir: String): DataFrame =
    VectorOps.l2Cells(Tables(s, dir, "embeddings"), "vec_id", "embedding",
      seedPred)

  /** Pinned assignment for MULTI-CONSUMER queries (review finding:
    * dedup_semantic consumed the unpinned frame three times — both
    * sides of the within-cell pair join plus the survivor re-attach —
    * re-running the corpus scan + argmin fold per consumer; ivfpqRanked
    * feeds codes and LUTs from it too). The GraphQueries memo
    * discipline: one pinned copy per (session, dir), a
    * `SessionCache.result` memo. At cluster scale the pin becomes a
    * reliable-storage checkpoint or a cached assignment table — the
    * SemDeDup paper's own assign-once-act-twice shape.
    */
  private def assignCellsPinned(s: SparkSession, dir: String): DataFrame =
    SessionCache.result(s, dir, "assignCells")(
      assignCells(s, dir).localCheckpoint())

  /** Pinned Lloyd's training result (round-16 optimization): the
    * multi-round k-means loop is consumed by TWO registered queries —
    * emb_kmeans_train returns it verbatim and ann_ivf_trained derives
    * its centroid frame from it — and each invocation re-ran the full
    * training loop. Training once and serving the index from the
    * trained model is the production shape (ScaleProbe still rebuilds
    * per run for the un-amortized cost). Deterministic, so memoizing
    * cannot change either row set.
    */
  private def kmeansTrainPinned(s: SparkSession, dir: String): DataFrame =
    SessionCache.result(s, dir, "kmeansTrain")(
      graft.ops.KmeansTrain(Tables(s, dir, "embeddings"),
        "vec_id", "embedding", seedPred, KmeansTrainRounds)
        .localCheckpoint())

  /** Rerank slate width for ann_ivfpq_rerank: candidates nominated by
    * the compressed index before exact re-scoring.
    */
  private val RerankR = 30

  /** The IVF-PQ asymmetric-distance pipeline through the full ranking
    * (q_id, n_id, afix, rnk) — shared by the top-k cut and the
    * rerank's candidate slate.
    */
  private def ivfpqRanked(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val assigned = assignCellsPinned(s, dir) // codes + LUTs both read it
    val cbr = Pq.codebookRow(e)
    val codes = assigned.crossJoin(broadcast(cbr))
      .select(col("vec_id"), col("cell"),
        Pq.codesCol(col("embedding"), col("cvs")).as("codes"))
    val luts = assigned.filter(col("vec_id") < 20)
      .crossJoin(broadcast(cbr))
      .select(col("vec_id").as("q_id"), col("cell"),
        Pq.lutCol(col("embedding"), col("cvs")).as("lut"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("afix"), col("n_id"))
    codes.join(broadcast(luts), Seq("cell"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        Pq.adistFix(col("codes"), col("lut")).as("afix"))
      .withColumn("rnk", row_number().over(w).cast("long"))
  }

  /** DuckDB mirror of [[ivfpqRanked]] minus the final window: a WITH
    * body ending in `ad(q_id, n_id, afix)` — shared by the top-k and
    * rerank oracles so the asymmetric-distance math exists once.
    */
  private lazy val ivfpqAdCtes: String =
    s"""$assignCellsDuck,
       |cb AS (
       |  SELECT CAST(vec_id // 31 AS INT) AS cent_id, embedding AS cv
       |  FROM embeddings WHERE vec_id % 31 = 0 AND vec_id < ${31 * Pq.KC}),
       |sub AS (
       |  SELECT e.vec_id, c.cent_id, ms.m,
       |    ${Pq.subDistFixDuck("e.embedding", "c.cv", "ms.m")} AS dfix
       |  FROM embeddings e, cb c,
       |       (SELECT unnest(range(0, ${Pq.M})) AS m) ms),
       |codes AS (
       |  SELECT vec_id, m, cent_id AS code FROM (
       |    SELECT vec_id, m, cent_id,
       |      row_number() OVER (PARTITION BY vec_id, m
       |        ORDER BY dfix, cent_id) AS r
       |    FROM sub) WHERE r = 1),
       |lutq AS (
       |  SELECT vec_id AS q_id, m, cent_id, dfix FROM sub
       |  WHERE vec_id < 20),
       |ad AS (
       |  SELECT l.q_id, c.vec_id AS n_id, CAST(SUM(l.dfix) AS BIGINT) AS afix
       |  FROM codes c
       |  JOIN assign ca ON ca.vec_id = c.vec_id
       |  JOIN lutq l ON l.m = c.m AND l.cent_id = c.code
       |   AND l.q_id <> c.vec_id
       |  JOIN assign qa ON qa.vec_id = l.q_id AND qa.cell = ca.cell
       |  GROUP BY 1, 2)""".stripMargin

  /** DuckDB mirror of [[assignCells]] as a WITH body ending in
    * `assign(vec_id, embedding, cell)`.
    */
  private val assignCellsDuck: String =
    s"""cents AS (
       |  SELECT vec_id AS cent_id, embedding AS cv FROM embeddings
       |  WHERE vec_id % 101 = 0),
       |assign AS (
       |  SELECT vec_id, embedding, cell FROM (
       |    SELECT e.vec_id, e.embedding, c.cent_id AS cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${VectorOps.l2FixDuck("e.embedding", "c.cv")},
       |          c.cent_id) AS r
       |    FROM embeddings e CROSS JOIN cents c)
       |  WHERE r = 1)""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // PQ ANN: the codebook collapses to ONE broadcast row, so encoding is
    // a pure scan-side fold (no argmin shuffle at all), and the probe is
    // ONE pass over the 4-byte-per-vector code table × a broadcast of 20
    // query LUTs — no full-vector I/O at query time, the plan PQ exists
    // for. The only corpus-sized shuffle in the whole query is the final
    // top-k window. Distances are exact-integer end to end (fixed-point
    // quantization before argmin and sum), so the result is hash-exact
    // against DuckDB despite being an "approximate" index.
    "ann_pq_topk" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val cbr = Pq.codebookRow(e)
      val codes = Pq.encodeScan(e, cbr)
      val luts = Pq.lutScan(e.filter(col("vec_id") < 20), cbr)
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("afix"), col("n_id"))
      codes.crossJoin(broadcast(luts))
        .filter(col("q_id") =!= col("vec_id"))
        .select(col("q_id"), col("vec_id").as("n_id"),
          Pq.adistFix(col("codes"), col("lut")).as("afix"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= K)
        .select(col("q_id"), col("n_id"),
          (col("afix").cast("double") / Pq.Scale).as("adist"), col("rnk"))
    }),

    // IVF-PQ — the composition production ANN indexes actually ship
    // (FAISS's IndexIVFPQ): coarse cells bound WHICH codes each query
    // scans (cost ∝ cell occupancy, not corpus), PQ codes bound WHAT is
    // scanned (4 bytes/vector, no full-vector I/O at probe time). Both
    // stages are the already-verified pieces: scan-side cell assignment
    // (l2Cells) + scan-side PQ encode against one broadcast codebook;
    // the probe joins codes to broadcast LUTs ON THE CELL KEY. Integer
    // distances end to end → hash-exact oracle.
    "ann_ivfpq_topk" -> ((s, dir) => {
      ivfpqRanked(s, dir)
        .filter(col("rnk") <= K)
        .select(col("q_id"), col("n_id"),
          (col("afix").cast("double") / Pq.Scale).as("adist"), col("rnk"))
    }),

    // Two-stage IVF-PQ: the production ANN serving shape (Jégou et
    // al.'s IVFADC + rerank) — the compressed index NOMINATES a wide
    // candidate slate (PQ asymmetric distance, top-30), then the
    // EXACT cosine re-scores only those 30 full vectors per query.
    // This is the answer to PQ's honest limitation (quantization
    // error reorders close neighbors): full-precision vectors are
    // touched for |Q|·R rows total instead of the whole corpus, so
    // the rerank costs nothing at 100 TB while recovering
    // full-precision ORDER within the slate. Candidates re-attach
    // vectors by id join; queries broadcast.
    "ann_ivfpq_rerank" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val cand = ivfpqRanked(s, dir)
        .filter(col("rnk") <= RerankR).select("q_id", "n_id")
      val qv = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      val nv = e.select(col("vec_id").as("n_id"), col("embedding").as("nv"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("n_id"))
      cand.join(nv, Seq("n_id")).join(broadcast(qv), Seq("q_id"))
        .withColumn("cos", VectorOps.cosine(col("qv"), col("nv")))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= K)
        .select("q_id", "n_id", "cos", "rnk")
    }),

    // SemDeDup (Abbas et al. 2023): cluster the corpus into coarse cells,
    // then drop any vector with a LOWER-id within-cell neighbor above the
    // cosine threshold. The pairwise work is quadratic only in CELL size
    // (corpus/centroids) — the cluster count is the knob that keeps each
    // cell's pair join bounded at 100 TB; cross-cell pairs are never
    // formed. Survivor policy (min vec_id) matches the dedup family.
    "dedup_semantic" -> ((s, dir) => {
      val assigned = assignCellsPinned(s, dir)
      val dropped = VectorOps.withinCellCosinePairs(
          assigned, "vec_id", "embedding", CosThreshold)
        .select(col("vb").as("vec_id")).distinct()
        .withColumn("dup", lit(true))
      assigned.join(dropped, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"),
          coalesce(col("dup"), lit(false)) === false).toDF(
          "vec_id", "cell", "kept")
    }),

    // One k-means Lloyd iteration over the same cells: the M-step that
    // turns the sampled seed centroids into trained ones (iterate = run
    // again with the output as the next seed set; PQ codebooks train the
    // same way per-subspace). Float sums are fixed-point-quantized
    // scan-side so the per-(cell, pos) mean is exact and
    // aggregation-order-independent — the identical discipline to
    // emb_label_centroids, keyed by LEARNED cell instead of given label.
    "emb_kmeans_step" -> ((s, dir) => {
      assignCells(s, dir)
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .select(col("cell"), col("pos"),
          floor(col("x").cast("double") * 1e9).cast("long").as("q"))
        .groupBy("cell", "pos")
        // DECIMAL(38,0)/HUGEINT — the emb_label_centroids overflow
        // discipline, keyed by learned cell (skew can concentrate the
        // corpus into one cell, so the per-group bound is the corpus)
        .agg(count(lit(1)).as("n_vecs"),
          sum(expr("CAST(q AS DECIMAL(38,0))")).as("sq"))
        .select(col("cell"), col("pos"), col("n_vecs"),
          (col("sq").cast("double") /
            (lit(1.0e9) * col("n_vecs").cast("double"))).as("c"))
    }),

    // Multi-iteration Lloyd's k-means (round-5: the training-loop form
    // of emb_kmeans_step) — see [[graft.ops.KmeansTrain]] for the
    // per-round plan and the float32 re-centroid determinism note.
    // Output = the final round's update table, hash-compared against a
    // fully UNROLLED DuckDB CTE chain.
    "emb_kmeans_train" -> ((s, dir) => kmeansTrainPinned(s, dir)),

    // IVF probe over TRAINED centroids (round-5: the training loop and
    // the index it exists to feed, certified together): the Lloyd's
    // loop's final centroid frame drives one more scan-side argmin
    // assignment, queries probe only their own trained cell, cosine
    // top-k within it. Same plan as ann_ivf_topk — the index build is
    // a scan-side fold against one broadcast centroid row, query cost
    // ∝ trained-cell occupancy — but the cells now come from data, not
    // a seed stride.
    "ann_ivf_trained" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val cents = graft.ops.KmeansTrain.centroidFrame(
        kmeansTrainPinned(s, dir))
      val assigned = VectorOps.assignToCentroids(e, "vec_id", "embedding",
        cents)
      val q = assigned.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
          col("cell"))
      val c = assigned.select(col("vec_id").as("n_id"),
        col("embedding").as("nv"), col("cell"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("n_id"))
      c.join(broadcast(q), Seq("cell"))
        .filter(col("q_id") =!= col("n_id"))
        .withColumn("cos", VectorOps.cosine(col("qv"), col("nv")))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= K)
        .select("q_id", "n_id", "cos", "rnk")
    }),

    // Embedding sanity gate: flag vectors whose fixed-point L2 distance
    // to their own centroid exceeds their cell's p99 rank statistic —
    // the corrupt-embedding detector a pipeline runs after any encoder
    // change (a zeroed, clipped, or wrong-model vector lands far from
    // every centroid). Distances are exact integers (l2Fix), the p99
    // bound is the value at integer rank ⌈99n/100⌉ within the cell
    // (same exact-rank discipline as agg_winsorized_stats), so the
    // flag cannot diverge on a boundary. One keyed window shuffle on
    // the cell; the centroid re-attach is a broadcast.
    "emb_outlier_distance" -> ((s, dir) => {
      val cents = Tables(s, dir, "embeddings").filter(seedPred)
        .select(col("vec_id").as("cell"), col("embedding").as("cv"))
      val dists = assignCells(s, dir)
        .join(broadcast(cents), Seq("cell"))
        .select(col("vec_id"), col("cell"),
          VectorOps.l2Fix(col("embedding"), col("cv")).as("dfix"))
      val W = org.apache.spark.sql.expressions.Window
      val w = W.partitionBy("cell").orderBy(col("dfix"), col("vec_id"))
      dists
        .withColumn("r", row_number().over(w).cast("long"))
        .withColumn("n_cell", count(lit(1)).over(W.partitionBy("cell")))
        .withColumn("p99",
          max(when(col("r") === expr("(99 * n_cell + 99) DIV 100"),
            col("dfix"))).over(W.partitionBy("cell")))
        .filter(col("dfix") > col("p99"))
        .select("vec_id", "cell", "dfix", "n_cell")
    }),

    // Int8 symmetric quantization audit — the serving-time compression
    // check (absmax scaling, the llm.int8/GPTQ-baseline scheme): per
    // dimension, the scale (absmax), how many values SATURATE at ±127,
    // and the reconstruction MSE. Exactness: the quantized code is
    // floor(q·127/absmax + 0.5) — round-half-up in one IEEE sequence
    // both engines share (the operands are exact in double: |q·127| ≈
    // 10⁸ ≪ 2⁵³) — and the reconstruction error is kept RATIONAL:
    // err·127 = 127·q − c·absmax is an exact integer, so SSE sums
    // exactly in DECIMAL(38,0)/HUGEINT and converts to double once.
    // A constant-zero dimension quantizes to 0 by the absmax=0 guard,
    // never a NULL/NaN divide. Plan: same shape as emb_dim_stats (the
    // exchange carries (dim, q) longs), plus one broadcast of the
    // 64-row absmax table back onto the scan.
    "emb_quantize_int8" -> ((s, dir) => {
      val q = Tables(s, dir, "embeddings")
        .select(posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("dim"),
          floor(col("v").cast("double") * 1e6).cast("long").as("q"))
      val am = q.groupBy("dim").agg(max(abs(col("q"))).as("absmax"))
      q.join(broadcast(am), Seq("dim"))
        .withColumn("c", expr(
          "CASE WHEN absmax = 0 THEN CAST(0 AS BIGINT)" +
            " ELSE GREATEST(CAST(-127 AS BIGINT), LEAST(CAST(127 AS BIGINT)," +
            " CAST(floor(CAST(q AS DOUBLE) * 127e0" +
            " / CAST(absmax AS DOUBLE) + 5e-1) AS BIGINT))) END"))
        .withColumn("errs",
          expr("CAST(127 * q - c * absmax AS DECIMAL(38,0))"))
        .groupBy("dim")
        .agg(count(lit(1)).as("n"), max(col("absmax")).as("absmax"),
          sum(when(abs(col("c")) === 127, 1L).otherwise(0L)).as("n_sat"),
          sum(expr("errs * errs")).as("sse"))
        .select(col("dim"), col("n"), col("absmax"), col("n_sat"),
          expr("CAST(sse AS DOUBLE)" +
            " / (CAST(n AS DOUBLE) * 127e0 * 127e0 * 1e12)").as("mse"))
    }),

    // Per-dimension standardization statistics — the (mean, variance)
    // table a feature pipeline computes ONCE over the corpus and
    // broadcasts into every normalizing map stage (z-scoring at 100 TB
    // is exactly this rollup plus a scan-side apply). posexplode keys
    // the shuffle on the DIMENSION index (64 keys, embeddings never
    // travel whole — the exchange carries (dim, q) longs), values
    // quantize to fixed-point millionths, and Σq / Σq² accumulate in
    // DECIMAL(38,0)/HUGEINT (unbounded row count; the agg_corr
    // discipline). Mean and variance convert from the exact sums
    // once — n·Σq² − (Σq)² stays integer until the final cast.
    "emb_dim_stats" -> ((s, dir) => {
      Tables(s, dir, "embeddings")
        .select(posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("dim"),
          floor(col("v").cast("double") * 1e6).cast("long").as("q"))
        .groupBy("dim")
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(q AS DECIMAL(38,0))")).as("sq"),
          sum(expr("CAST(q AS DECIMAL(38,0)) * q")).as("sqq"))
        .select(col("dim"), col("n"),
          expr("CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) / 1e6").as("mean"),
          expr("CAST(CAST(n AS DECIMAL(38,0)) * sqq - sq * sq AS DOUBLE)" +
            " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 1e12")
            .as("variance"))
    }),

    // PQ reconstruction distortion (round-12): the codebook-QA number
    // every compressed-index deployment watches — mean asymmetric
    // self-distance (each vector scored against its OWN codes), per
    // label. High distortion in one label = that region of space is
    // under-covered by the codebook and its ANN recall will sag
    // (ann_eval_recall measures the symptom; this localizes the
    // cause). One corpus scan × the broadcast one-row codebook; codes
    // AND self-LUT are projections of the SAME row, so the error is
    // scan-side with no self-join — exact longs until the one final
    // division.
    "emb_pq_distortion" -> ((s, dir) =>
      pqDistortion(Tables(s, dir, "embeddings"))),

    // Cluster-cohesion histogram (round-12): distribution of each
    // vector's cosine to its OWN label centroid, 0.05-wide buckets —
    // the "are my clusters tight or mush" readout embedding QA
    // dashboards lead with (emb_label_centroids computes the centers;
    // this scores the membership). Determinism discipline: centroids
    // come from [[graft.ops.Centroids.quantizedSums]]' exact integer
    // sums (so the per-element double c_i = sq/(1e9·n) is identical
    // cross-engine), and the cosine is [[VectorOps.cosine]]'s
    // index-order left fold, mirrored fold-for-fold in DuckDB. The
    // bucket edge is floor(20·cos) on identically-computed doubles.
    // Scale shape: one label-keyed aggregate (O(labels·dim) state),
    // broadcast back, cosine + bucket scan-side, one (label, bucket)
    // rollup — linear end to end, no pairwise anything.
    "emb_centroid_cosine_hist" -> ((s, dir) =>
      centroidCosineHist(Tables(s, dir, "embeddings"))),

    // Embedding-distribution drift between two corpus snapshots —
    // the re-embed / re-crawl monitoring check: did the vector
    // distribution move? Linear-kernel MMD² reduces to
    // ‖mean_a − mean_b‖², which needs only PER-GROUP MEAN VECTORS —
    // O(labels · 2 · dim) aggregation state, one narrow shuffle on
    // (label, grp, dim), never a pairwise kernel matrix (the quadratic
    // general-kernel estimator is exactly what a 100 TB monitor can't
    // run; the linear kernel is the standard production fallback and
    // detects any mean shift). Snapshots are the vec_id parity halves.
    // Determinism: numerators are exact integers end to end — per-dim
    // fixed sums (q = floor(v·1e6), the emb_dim_stats convention),
    // cross-multiplied diff = sq_a·n_b − sq_b·n_a in DECIMAL(38,0)
    // (≈1e14 at sf0.1; Σ diff² ≈ 6e29 ≪ 10³⁸ — at 10¹² rows/group
    // normalize per-snapshot counts first), then ONE double division
    // with textually identical association on both engines, and sqrt
    // (IEEE-correctly-rounded in both JVM and C). top_dim is the
    // exact-integer argmax drift dimension, tie-broken to the lowest
    // dim on both sides.
    "emb_drift_mmd" -> ((s, dir) =>
      driftMmd(Tables(s, dir, "embeddings"))),

    // Hard triplet mining — the metric-learning batch builder: for each
    // anchor (every 10th vector = "the batch"), the HARDEST positive is
    // its nearest same-label vector and the hardest negative its
    // nearest other-label vector; margin = d_neg − d_pos is the
    // triplet-loss violation signal. Distances are exact fixed-point
    // integers (l2Fix) and both argmins fold as ONE struct-min each
    // ((dfix, id) — lowest id on ties), so no ranking window touches
    // the pair table. Plan: anchors BROADCAST against the corpus (the
    // batch×corpus product is the operator's defining cost; at 100 TB
    // the pool side is pre-pruned to the anchor's IVF probe cells —
    // ann_ivf_topk's machinery — which changes recall, not this plan
    // shape), one grouped aggregate, no shuffle of the pair table.
    "emb_triplet_mining" -> ((s, dir) => {
      // distance via the norm identity |a|²+|b|²−2a·b: the norms are
      // computed ONCE per vector scan-side and the per-pair work is a
      // single native-codegen dot product (DotProductF) — measured 4.3 s
      // → well under 1 s vs the per-pair zip_with/aggregate HOF fold.
      // The fixed-point floor happens AFTER the 3-term combination, and
      // the oracle mirrors the identical IEEE sequence, so the argmin
      // order is still deterministic cross-engine.
      val emb = Tables(s, dir, "embeddings")
        .withColumn("n2", VectorOps.dot(col("embedding"), col("embedding")))
      val anchors = emb.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("a"), col("label").as("la"),
          col("embedding").as("ea"), col("n2").as("na2"))
      val pool = emb.select(col("vec_id").as("b"), col("label").as("lb"),
        col("embedding").as("eb"), col("n2").as("nb2"))
      pool.join(broadcast(anchors), col("a") =!= col("b"))
        .withColumn("dfix",
          floor((col("na2") + col("nb2") -
            lit(2.0) * VectorOps.dot(col("ea"), col("eb"))) * 1e9)
            .cast("long"))
        .groupBy("a", "la")
        .agg(
          min(when(col("la") === col("lb"),
            struct(col("dfix"), col("b")))).as("pos"),
          min(when(col("la") =!= col("lb"),
            struct(col("dfix"), col("b")))).as("neg"))
        .filter(col("pos").isNotNull && col("neg").isNotNull)
        .select(col("a").as("anchor"), col("la").as("label"),
          col("pos.b").as("pos_id"), col("pos.dfix").as("d_pos"),
          col("neg.b").as("neg_id"), col("neg.dfix").as("d_neg"),
          (col("neg.dfix") - col("pos.dfix")).as("margin"))
    }),

    // Farthest-first traversal (Gonzalez) — deterministic k-center
    // seeding: the k maximally-spread exemplars plus the selection-radius
    // certificate (r_fix at round r = covering radius of the first r−1
    // centers; OPT ≥ r_fix/2). Complements emb_kmeans_train's
    // parity-seeded Lloyd's with the spread-maximizing initializer a
    // diverse few-shot pool or coreset build starts from. Plan per
    // round: one corpus scan and one job (the driver-held centres as a
    // literal array, native argmin fold + one l2Fix re-fold) reduced
    // through TakeOrdered(1) — k passes, no shuffle of the corpus,
    // O(r) driver state at round r. The DuckDB
    // mirror unrolls the same greedy rounds as CTEs over the identical
    // fixed-point distance fold. See [[graft.ops.KcenterInit]].
    "emb_kcenter_init" -> ((s, dir) =>
      KcenterInit(Tables(s, dir, "embeddings"), "vec_id", "embedding",
        KcenterK)),

    // Top principal component by fixed-point power iteration: ONE
    // corpus pass of exact second moments (2080 DECIMAL cells through a
    // map-side-combined exchange), then the iteration runs on bounded
    // driver metadata with the PageRank/Hits quantization discipline —
    // PC1 loadings plus the explained-variance share. See
    // [[graft.ops.PcaPower]] for the determinism argument.
    "emb_pca_power" -> ((s, dir) =>
      PcaPower.fromSolved(s, pcaSolved(s, dir), dims = 64)),

    // Per-vector projection onto the solved PC1 — the drift-direction
    // score an embedding audit ranks by. Exact integer dot products
    // (no float fold order), one shuffle-free row pass after the two
    // moment scans. See [[graft.ops.PcaPower.project]].
    "emb_pca_project" -> ((s, dir) =>
      PcaPower.projectSolved(Tables(s, dir, "embeddings"), "vec_id",
        "embedding", pcaSolved(s, dir)))
  )

  /** ONE PC1 solve per (session, fixture): the two moment scans behind
    * BOTH PCA queries (power + project) ran once per invocation each —
    * 4 solves per bench — for an identical driver-side result. The
    * value is bounded driver metadata (65 longs + a double), so the
    * memo holds no executor storage.
    */
  private def pcaSolved(s: SparkSession, dir: String): (Array[Long], Double) =
    SessionCache.result(s, dir, "pca")(
      PcaPower.solve(Tables(s, dir, "embeddings"), "embedding",
        dims = 64, iters = PcaIters))

  /** emb_pca_power iteration count — fixed so the oracle unrolls the
    * same trajectory.
    */
  private val PcaIters = 12

  /** emb_kcenter_init round count — fixed so the DuckDB oracle unrolls
    * the same trajectory.
    */
  private[graft] val KcenterK = 8

  /** `emb_drift_mmd` body on an explicit embeddings frame — shared
    * with ScaleProbe's weak-scaling arm (the probe must measure the
    * registered query's own plan). See the query entry's scaladoc for
    * the determinism discipline.
    */
  def driftMmd(e: DataFrame): DataFrame = {
    val sums = e
      .select(col("label"), (col("vec_id") % 2).as("grp"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("label"), col("grp"), col("dim"),
        floor(col("v").cast("double") * 1e6).cast("long").as("q"))
      .groupBy("label", "grp", "dim")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(q AS DECIMAL(38,0))")).as("sq"))
    val a = sums.filter(col("grp") === 0).select(col("label"),
      col("dim"), col("n").as("n_a"), col("sq").as("sq_a"))
    val b = sums.filter(col("grp") === 1).select(col("label"),
      col("dim"), col("n").as("n_b"), col("sq").as("sq_b"))
    a.join(b, Seq("label", "dim"))
      .withColumn("diff", expr("sq_a * n_b - sq_b * n_a"))
      .withColumn("d2", expr("diff * diff"))
      .groupBy("label")
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        sum(col("d2")).as("num"),
        // composite argmax key in ONE exact integer — (d2, lowest
        // dim) lexicographic, since 63−dim < 64 (DuckDB 1.0's
        // arg_max has no multi-key form)
        max_by(col("dim"), expr("d2 * 64 + (63 - dim)")).as("top_dim"))
      .select(col("label"), col("n_a"), col("n_b"),
        expr("CAST(num AS DOUBLE) / (CAST(n_a AS DOUBLE)" +
          " * CAST(n_b AS DOUBLE) * CAST(n_a AS DOUBLE)" +
          " * CAST(n_b AS DOUBLE) * 1e12)").as("mmd2"),
        sqrt(expr("CAST(num AS DOUBLE) / (CAST(n_a AS DOUBLE)" +
          " * CAST(n_b AS DOUBLE) * CAST(n_a AS DOUBLE)" +
          " * CAST(n_b AS DOUBLE) * 1e12)")).as("shift_l2"),
        col("top_dim"))
  }

  /** emb_pq_distortion's pipeline over an explicit embeddings frame
    * (vec_id, embedding, label) — split out so the suite can feed a
    * corpus that IS the codebook (distortion exactly 0) and perturbed
    * variants. Codes and self-LUT are projections of the same row, so
    * the error is scan-side with no self-join.
    */
  private[graft] def pqDistortion(e: DataFrame): DataFrame = {
    val cbr = Pq.codebookRow(e)
    e.crossJoin(broadcast(cbr))
      .select(col("label"),
        Pq.adistFix(Pq.codesCol(col("embedding"), col("cvs")),
          Pq.lutCol(col("embedding"), col("cvs"))).as("efix"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(expr("CAST(efix AS DECIMAL(38,0))")).as("se"))
      .select(col("label"), col("n_vecs"),
        (col("se").cast("double") /
          (lit(1.0e9) * col("n_vecs").cast("double")))
          .as("mean_distortion"))
  }

  /** emb_centroid_cosine_hist's pipeline over an explicit embeddings
    * frame (vec_id, embedding, label) — split out so the suite can
    * feed constructed vectors with hand-computable centroid cosines.
    * HOF dot folds, not the native kernel: DotProductF is
    * float[]-only and the centroid is (correctly) double — the HOF
    * casts elementwise and folds in the same index order as the
    * DuckDB mirror.
    */
  private[graft] def centroidCosineHist(e: DataFrame): DataFrame = {
    val cents = graft.ops.Centroids
      .quantizedSums(e, "label", "embedding")
      .select(col("label"),
        transform(col("sv"), sq => sq.cast("double") /
          (lit(1.0e9) * col("n_vecs").cast("double"))).as("cv"))
    def d(a: org.apache.spark.sql.Column,
        b: org.apache.spark.sql.Column) = VectorOps.dotHof(a, b)
    val v = col("embedding")
    e.join(broadcast(cents), Seq("label"))
      .select(col("label"),
        floor(d(v, col("cv")) /
          (sqrt(d(v, v)) * sqrt(d(col("cv"), col("cv"))))
          * 20).cast("long").as("bucket"))
      .groupBy("label", "bucket")
      .agg(count(lit(1)).as("n_vecs"))
  }

  def oracles: Map[String, String] = Map(
    // same codebook/argmin-codes CTEs as ann_pq_topk; the self-LUT is
    // sub's own (vec, m, code) row
    "emb_pq_distortion" ->
      s"""WITH cb AS (
         |  SELECT CAST(vec_id // 31 AS INT) AS cent_id,
         |    embedding AS cv
         |  FROM embeddings
         |  WHERE vec_id % 31 = 0 AND vec_id < ${31 * Pq.KC}),
         |sub AS (
         |  SELECT e.vec_id, c.cent_id, ms.m,
         |    ${Pq.subDistFixDuck("e.embedding", "c.cv", "ms.m")}
         |      AS dfix
         |  FROM embeddings e, cb c,
         |       (SELECT unnest(range(0, ${Pq.M})) AS m) ms),
         |codes AS (
         |  SELECT vec_id, m, cent_id AS code FROM (
         |    SELECT vec_id, m, cent_id,
         |      row_number() OVER (PARTITION BY vec_id, m
         |        ORDER BY dfix, cent_id) AS r
         |    FROM sub) WHERE r = 1),
         |err AS (
         |  SELECT s.vec_id, CAST(SUM(s.dfix) AS BIGINT) AS efix
         |  FROM codes c JOIN sub s
         |    ON s.vec_id = c.vec_id AND s.m = c.m
         |   AND s.cent_id = c.code
         |  GROUP BY 1)
         |SELECT e.label, COUNT(*) AS n_vecs,
         |  CAST(CAST(SUM(r.efix) AS BIGINT) AS DOUBLE)
         |    / (1000000000.0 * CAST(COUNT(*) AS DOUBLE))
         |    AS mean_distortion
         |FROM err r JOIN embeddings e ON e.vec_id = r.vec_id
         |GROUP BY 1""".stripMargin,

    // same exact-integer centroid, same index-order cosine fold,
    // same floor(20·cos) edge
    "emb_centroid_cosine_hist" ->
      s"""WITH q AS (
         |  SELECT label, pos,
         |    CAST(floor(CAST(embedding[pos + 1] AS DOUBLE)
         |      * 1000000000.0) AS BIGINT) AS q
         |  FROM embeddings, (SELECT unnest(range(0, 64)) AS pos) ps),
         |s AS (
         |  SELECT label, pos, COUNT(*) AS n,
         |    CAST(SUM(q) AS BIGINT) AS sq
         |  FROM q GROUP BY 1, 2),
         |cent AS (
         |  SELECT label,
         |    list(CAST(sq AS DOUBLE)
         |      / (1000000000.0 * CAST(n AS DOUBLE)) ORDER BY pos)
         |      AS cv
         |  FROM s GROUP BY 1)
         |SELECT e.label,
         |  CAST(floor(${VectorOps.cosDuck("e.embedding", "c.cv")}
         |    * 20) AS BIGINT) AS bucket,
         |  COUNT(*) AS n_vecs
         |FROM embeddings e JOIN cent c ON e.label = c.label
         |GROUP BY 1, 2""".stripMargin,

    // argmins as row_number ranks — a different algorithm than the
    // Spark struct-min fold, same (dfix, id) order
    "emb_triplet_mining" ->
      s"""WITH e AS (SELECT vec_id, label, embedding,
         |             ${VectorOps.dotDuck("embedding", "embedding")} AS n2
         |           FROM embeddings),
         |anc AS (SELECT vec_id AS a, label AS la, embedding AS ea,
         |          n2 AS na2 FROM e WHERE vec_id % 10 = 0),
         |pool AS (SELECT vec_id AS b, label AS lb, embedding AS eb,
         |           n2 AS nb2 FROM e),
         |d AS (SELECT a, la, b, lb,
         |        CAST(floor((na2 + nb2
         |          - 2.0 * ${VectorOps.dotDuck("ea", "eb")}) * 1e9)
         |          AS BIGINT) AS dfix
         |      FROM anc JOIN pool ON a <> b),
         |pos AS (SELECT a, b, dfix FROM (
         |  SELECT a, b, dfix,
         |    row_number() OVER (PARTITION BY a ORDER BY dfix, b) AS r
         |  FROM d WHERE la = lb) WHERE r = 1),
         |neg AS (SELECT a, b, dfix FROM (
         |  SELECT a, b, dfix,
         |    row_number() OVER (PARTITION BY a ORDER BY dfix, b) AS r
         |  FROM d WHERE la <> lb) WHERE r = 1)
         |SELECT anc.a AS anchor, anc.la AS label,
         |  pos.b AS pos_id, pos.dfix AS d_pos,
         |  neg.b AS neg_id, neg.dfix AS d_neg,
         |  neg.dfix - pos.dfix AS margin
         |FROM anc JOIN pos ON anc.a = pos.a JOIN neg ON anc.a = neg.a""".stripMargin,

    // The oracle mirrors the MATH (fold order, fixed-point quantization,
    // integer argmin/sum) in the relational join form; plan shape is
    // free to differ — integer arithmetic makes order irrelevant.
    "ann_pq_topk" ->
      s"""WITH cb AS (
         |  SELECT CAST(vec_id // 31 AS INT) AS cent_id, embedding AS cv
         |  FROM embeddings WHERE vec_id % 31 = 0 AND vec_id < ${31 * Pq.KC}),
         |sub AS (
         |  SELECT e.vec_id, c.cent_id, ms.m,
         |    ${Pq.subDistFixDuck("e.embedding", "c.cv", "ms.m")} AS dfix
         |  FROM embeddings e, cb c,
         |       (SELECT unnest(range(0, ${Pq.M})) AS m) ms),
         |codes AS (
         |  SELECT vec_id, m, cent_id AS code FROM (
         |    SELECT vec_id, m, cent_id,
         |      row_number() OVER (PARTITION BY vec_id, m
         |        ORDER BY dfix, cent_id) AS r
         |    FROM sub) WHERE r = 1),
         |lut AS (
         |  SELECT vec_id AS q_id, m, cent_id, dfix FROM sub
         |  WHERE vec_id < 20),
         |ad AS (
         |  SELECT l.q_id, c.vec_id AS n_id, CAST(SUM(l.dfix) AS BIGINT) AS afix
         |  FROM codes c
         |  JOIN lut l ON l.m = c.m AND l.cent_id = c.code
         |   AND l.q_id <> c.vec_id
         |  GROUP BY 1, 2)
         |SELECT q_id, n_id, afix / 1e9 AS adist, rnk FROM (
         |  SELECT q_id, n_id, afix,
         |    row_number() OVER (PARTITION BY q_id ORDER BY afix, n_id) AS rnk
         |  FROM ad) WHERE rnk <= $K""".stripMargin,

    "ann_ivfpq_topk" ->
      s"""WITH $ivfpqAdCtes
         |SELECT q_id, n_id, afix / 1e9 AS adist, rnk FROM (
         |  SELECT q_id, n_id, afix,
         |    row_number() OVER (PARTITION BY q_id ORDER BY afix, n_id) AS rnk
         |  FROM ad) WHERE rnk <= $K""".stripMargin,

    "ann_ivfpq_rerank" ->
      s"""WITH $ivfpqAdCtes,
         |cand AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY afix, n_id) AS r
         |    FROM ad) WHERE r <= $RerankR),
         |rr AS (
         |  SELECT c.q_id, c.n_id,
         |    ${VectorOps.cosDuck("q.embedding", "n.embedding")} AS cos
         |  FROM cand c
         |  JOIN embeddings q ON q.vec_id = c.q_id
         |  JOIN embeddings n ON n.vec_id = c.n_id)
         |SELECT q_id, n_id, cos, rnk FROM (
         |  SELECT q_id, n_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id)
         |      AS rnk
         |  FROM rr) WHERE rnk <= $K""".stripMargin,

    "dedup_semantic" ->
      s"""WITH $assignCellsDuck,
         |dropped AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM assign a JOIN assign b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE ${VectorOps.cosDuck("a.embedding", "b.embedding")}
         |    >= $CosThreshold)
         |SELECT a.vec_id, a.cell, d.vec_id IS NULL AS kept
         |FROM assign a LEFT JOIN dropped d ON a.vec_id = d.vec_id""".stripMargin,

    "emb_kmeans_step" ->
      s"""WITH $assignCellsDuck
         |SELECT cell, pos, COUNT(*) AS n_vecs,
         |  CAST(SUM(q) AS DOUBLE)
         |    / (1000000000.0 * CAST(COUNT(*) AS DOUBLE)) AS c
         |FROM (SELECT cell,  ps.pos,
         |        CAST(floor(CAST(embedding[ps.pos + 1] AS DOUBLE)
         |          * 1000000000.0) AS BIGINT) AS q
         |      FROM assign, (SELECT unnest(range(0, 64)) AS pos) ps)
         |GROUP BY cell, pos""".stripMargin,

    // fully unrolled Lloyd's chain: c0 = seed rows; round r = argmin
    // assignment vs c(r−1) + quantized update + REAL-cast re-centroid.
    // The final SELECT reads the last update table — identical math to
    // the Spark loop, derived independently by DuckDB.
    "emb_kmeans_train" ->
      s"""WITH $kmeansTrainCtes
         |SELECT cell, pos, n_vecs,
         |  CAST(sq AS DOUBLE) / (1000000000.0 * CAST(n_vecs AS DOUBLE)) AS c
         |FROM u$KmeansTrainRounds""".stripMargin,

    // trained-IVF probe: the SAME unrolled chain feeds one more argmin
    // assignment against the final centroids, then the within-cell
    // cosine top-k — training loop and index probe certified together
    "ann_ivf_trained" ->
      s"""WITH $kmeansTrainCtes,
         |af AS (
         |  SELECT vec_id, embedding, cell FROM (
         |    SELECT e.vec_id, e.embedding, c.cid AS cell,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${VectorOps.l2FixDuck("e.embedding", "c.cv")},
         |          c.cid) AS r
         |    FROM embeddings e CROSS JOIN c$KmeansTrainRounds c)
         |  WHERE r = 1),
         |qs AS (
         |  SELECT vec_id AS q_id, embedding AS qv, cell
         |  FROM af WHERE vec_id < 20)
         |SELECT q_id, n_id, cos, rnk FROM (
         |  SELECT q.q_id, a.vec_id AS n_id,
         |    ${VectorOps.cosDuck("q.qv", "a.embedding")} AS cos,
         |    CAST(row_number() OVER (PARTITION BY q.q_id
         |      ORDER BY ${VectorOps.cosDuck("q.qv", "a.embedding")} DESC,
         |        a.vec_id) AS BIGINT) AS rnk
         |  FROM af a JOIN qs q ON a.cell = q.cell AND a.vec_id <> q.q_id)
         |WHERE rnk <= $K""".stripMargin,

    "emb_outlier_distance" ->
      s"""WITH $assignCellsDuck,
         |d AS (
         |  SELECT a.vec_id, a.cell,
         |    ${VectorOps.l2FixDuck("a.embedding", "c.cv")} AS dfix
         |  FROM assign a
         |  JOIN cents c ON a.cell = c.cent_id),
         |r AS (
         |  SELECT vec_id, cell, dfix,
         |    row_number() OVER (PARTITION BY cell
         |                       ORDER BY dfix, vec_id) AS r,
         |    COUNT(*) OVER (PARTITION BY cell) AS n_cell
         |  FROM d),
         |b AS (
         |  SELECT cell,
         |    MAX(CASE WHEN r = (99 * n_cell + 99) // 100 THEN dfix END)
         |      AS p99
         |  FROM r GROUP BY 1)
         |SELECT vec_id, r.cell, dfix, n_cell
         |FROM r JOIN b ON r.cell = b.cell
         |WHERE dfix > p99""".stripMargin,

    "emb_quantize_int8" ->
      """WITH x AS (
        |  SELECT ps.pos AS dim,
        |    CAST(floor(CAST(embedding[ps.pos + 1] AS DOUBLE) * 1e6)
        |      AS BIGINT) AS q
        |  FROM embeddings, (SELECT unnest(range(0, 64)) AS pos) ps),
        |am AS (SELECT dim, MAX(abs(q)) AS absmax FROM x GROUP BY 1),
        |j AS (SELECT x.dim, q, absmax FROM x JOIN am ON x.dim = am.dim),
        |cq AS (
        |  SELECT dim, q, absmax,
        |    CASE WHEN absmax = 0 THEN CAST(0 AS BIGINT)
        |         ELSE GREATEST(CAST(-127 AS BIGINT), LEAST(CAST(127 AS BIGINT),
        |           CAST(floor(CAST(q AS DOUBLE) * 127e0
        |             / CAST(absmax AS DOUBLE) + 5e-1) AS BIGINT))) END AS c
        |  FROM j),
        |e AS (
        |  SELECT dim, absmax, c,
        |    CAST(127 * q - c * absmax AS HUGEINT) AS errs
        |  FROM cq)
        |SELECT dim, COUNT(*) AS n, MAX(absmax) AS absmax,
        |  CAST(SUM(CASE WHEN abs(c) = 127 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_sat,
        |  CAST(CAST(SUM(errs * errs) AS VARCHAR) AS DOUBLE)
        |    / (CAST(COUNT(*) AS DOUBLE) * 127e0 * 127e0 * 1e12) AS mse
        |FROM e GROUP BY dim""".stripMargin,

    "emb_dim_stats" ->
      """WITH x AS (
        |  SELECT ps.pos AS dim,
        |    CAST(floor(CAST(embedding[ps.pos + 1] AS DOUBLE) * 1e6)
        |      AS BIGINT) AS q
        |  FROM embeddings, (SELECT unnest(range(0, 64)) AS pos) ps),
        |a AS (
        |  SELECT dim, COUNT(*) AS n,
        |    SUM(CAST(q AS HUGEINT)) AS sq,
        |    SUM(CAST(q AS HUGEINT) * q) AS sqq
        |  FROM x GROUP BY 1)
        |SELECT dim, n,
        |  CAST(CAST(sq AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) / 1e6
        |    AS mean,
        |  CAST(CAST(CAST(n AS HUGEINT) * sqq - sq * sq AS VARCHAR)
        |    AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 1e12
        |    AS variance
        |FROM a""".stripMargin,

    "emb_drift_mmd" ->
      """WITH x AS (
        |  SELECT label, vec_id % 2 AS grp, ps.pos AS dim,
        |    CAST(floor(CAST(embedding[ps.pos + 1] AS DOUBLE) * 1e6)
        |      AS BIGINT) AS q
        |  FROM embeddings, (SELECT unnest(range(0, 64)) AS pos) ps),
        |s AS (
        |  SELECT label, grp, dim, COUNT(*) AS n,
        |    SUM(CAST(q AS HUGEINT)) AS sq
        |  FROM x GROUP BY 1, 2, 3),
        |j AS (
        |  SELECT a.label AS label, a.dim AS dim, a.n AS n_a, b.n AS n_b,
        |    a.sq * b.n - b.sq * a.n AS diff
        |  FROM s a JOIN s b ON a.label = b.label AND a.dim = b.dim
        |  WHERE a.grp = 0 AND b.grp = 1),
        |g AS (
        |  SELECT label, MAX(n_a) AS n_a, MAX(n_b) AS n_b,
        |    SUM(diff * diff) AS num,
        |    arg_max(dim, diff * diff * 64 + (63 - dim)) AS top_dim
        |  FROM j GROUP BY 1)
        |SELECT label, n_a, n_b,
        |  CAST(CAST(num AS VARCHAR) AS DOUBLE) / (CAST(n_a AS DOUBLE)
        |    * CAST(n_b AS DOUBLE) * CAST(n_a AS DOUBLE)
        |    * CAST(n_b AS DOUBLE) * 1e12) AS mmd2,
        |  sqrt(CAST(CAST(num AS VARCHAR) AS DOUBLE) / (CAST(n_a AS DOUBLE)
        |    * CAST(n_b AS DOUBLE) * CAST(n_a AS DOUBLE)
        |    * CAST(n_b AS DOUBLE) * 1e12)) AS shift_l2,
        |  top_dim
        |FROM g""".stripMargin,

    // emb_kcenter_init: the same k greedy rounds unrolled as CTEs —
    // per-point min fixed-point distance to the selected set, argmax
    // with the DESC-dist / ASC-id tie-break, selected set carried
    // forward by UNION ALL.
    "emb_kcenter_init" ->
      s"""WITH ${KcenterInit.duckCtes(KcenterK)}
         |SELECT round, vec_id, r_fix FROM s$KcenterK""".stripMargin,

    // emb_pca_power: identical exact moments, string-routed
    // decimal→double covariance normalization, and unrolled quantized
    // matvec/pivot rounds.
    "emb_pca_power" ->
      s"""WITH ${PcaPower.duckCtes(64, PcaIters)}
         |SELECT dim, loading_fix, lambda_ratio FROM out""".stripMargin,

    // emb_pca_project: the same solved v$PcaIters loadings, then one
    // exact integer dot product per vector (x already carries vec_id).
    "emb_pca_project" ->
      s"""WITH ${PcaPower.duckCtes(64, PcaIters)}
         |SELECT x.vec_id,
         |  CAST(SUM(CAST(x.q AS HUGEINT) * v.vq) AS BIGINT) AS proj_fix
         |FROM x JOIN v$PcaIters v ON x.i = v.dim
         |GROUP BY 1""".stripMargin
  )
}
