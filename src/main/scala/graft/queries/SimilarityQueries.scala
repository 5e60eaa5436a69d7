package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

import graft.{QueryPack, Tables}
import graft.ops.VectorOps
import graft.util.SessionCache

/** Approximate-nearest-neighbor search over the `embeddings` fixture
  * (64-dim float vectors).
  *
  * Three shapes, each a different point on the exactness/scale curve:
  *  - `ann_brute_topk`: exact top-k — broadcast the (small) query set and
  *    stream the corpus past it: ONE pass, no corpus shuffle, the shuffle
  *    is only the |Q|·|corpus| scored rows → top-k window on q_id. The
  *    correct plan whenever |Q| is broadcast-able, at any corpus size.
  *  - `ann_lsh_topk`: banded sign-LSH (8 bands × 16 bits, OR across
  *    bands) — comparisons scale with per-band bucket occupancy
  *    (~corpus/2^16), not corpus size (the 100 TB path; recall < 1 by
  *    design but amplified across bands).
  *  - `knn_label_vote`: downstream consumer shape — majority label of the
  *    exact top-k (deterministic vote: count desc, label asc).
  */
object SimilarityQueries extends QueryPack {

  private val K = 10

  /** ann_range_search cosine threshold (mirrored in the oracle);
    * fixture cosines top out ≈ 0.46 with p99 ≈ 0.29, so 0.25 keeps the
    * true high-similarity tail without degenerating to top-k.
    */
  private val RangeTau = 0.25

  private def scored(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val c = e.select(col("vec_id").as("n_id"), col("embedding").as("nv"),
      col("label"))
    c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("cos", VectorOps.cosine(col("qv"), col("nv")))
  }

  private def topk(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id"))
    df.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= K)
  }

  /** Pinned exact-arm ranking for the eval queries and MMR: the
    * `ann_brute_topk` rows (q_id, n_id, cos, rnk) plus each neighbour's
    * vector `nv` — 50 rows, a `SessionCache.result` memo, left
    * hash-partitioned on q_id by the top-k window.
    */
  private def brutePinned(s: SparkSession, dir: String): DataFrame =
    SessionCache.result(s, dir, "brute")(
      topk(scored(s, dir)).select("q_id", "n_id", "cos", "rnk", "nv")
        .transform(Bridge.localCheckpointPartitioned))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "ann_brute_topk" -> ((s, dir) =>
      topk(scored(s, dir)).select("q_id", "n_id", "cos", "rnk")),

    // Banded sign-LSH probe (8 bands × 16 bits): candidates are corpus
    // vectors sharing ANY band bucket with the query — the band explode
    // ships only (id, band, bucket), candidate pairs are deduped as ids,
    // and vectors re-attach by id for the exact-cosine rerank. Per-band
    // occupancy ~corpus/2^16 keeps the probe join narrow at 100 TB;
    // 8-band OR keeps recall (1−(1−s^16)^8) where one 16-bit bucket
    // alone would miss most true neighbors.
    "ann_lsh_topk" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val bands = e
        .select(col("vec_id"), posexplode(VectorOps.signBands(col("embedding"))))
        .toDF("vec_id", "band", "bucket")
      val qb = bands.filter(col("vec_id") < 50).toDF("q_id", "band", "bucket")
      val cand = bands.join(broadcast(qb), Seq("band", "bucket"))
        .filter(col("q_id") =!= col("vec_id"))
        .select(col("q_id"), col("vec_id").as("n_id"))
        .distinct()
      val qv = e.filter(col("vec_id") < 50)
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

    // RANGE search (radius query) — the other retrieval mode: ALL
    // neighbors above a similarity floor, not a fixed k (dedup sweeps
    // and recall-oriented retrieval want "everything ≥ τ", where top-k
    // silently truncates dense neighborhoods and pads sparse ones).
    // Same banded sign-LSH candidate generation as ann_lsh_topk — the
    // bucket join bounds comparisons by band occupancy, never corpus
    // size — then an exact-cosine threshold instead of a rank window:
    // NO per-query sort at all, the filter is scan-shaped over the
    // candidate stream. The mirror replicates candidates + threshold,
    // so the hash match certifies the full approximate pipeline.
    "ann_range_search" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val bands = e
        .select(col("vec_id"),
          posexplode(VectorOps.signBands(col("embedding"))))
        .toDF("vec_id", "band", "bucket")
      val qb = bands.filter(col("vec_id") < 50)
        .toDF("q_id", "band", "bucket")
      val cand = bands.join(broadcast(qb), Seq("band", "bucket"))
        .filter(col("q_id") =!= col("vec_id"))
        .select(col("q_id"), col("vec_id").as("n_id"))
        .distinct()
      val qv = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      val nv = e.select(col("vec_id").as("n_id"), col("embedding").as("nv"))
      cand.join(nv, Seq("n_id")).join(broadcast(qv), Seq("q_id"))
        .withColumn("cos", VectorOps.cosine(col("qv"), col("nv")))
        .filter(col("cos") >= RangeTau)
        .select("q_id", "n_id", "cos")
    }),

    // IVF (inverted-file) ANN: deterministic coarse centroids (every
    // 101st vector), one broadcast argmax pass assigns each vector to
    // its nearest cell, queries probe ONLY their own cell (nProbe=1).
    // The 100 TB path when even LSH bucket joins are too wide: the
    // index build is one corpus scan x small centroid set, and query
    // cost scales with cell occupancy (~corpus/centroids).
    "ann_ivf_topk" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val cents = e.filter(col("vec_id") % 101 === 0)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cv"))
      val wAssign = Window.partitionBy(col("vec_id"))
        .orderBy(col("ccos").desc, col("cent_id"))
      val assigned = e.crossJoin(broadcast(cents))
        .withColumn("ccos", VectorOps.cosine(col("embedding"), col("cv")))
        .withColumn("r", row_number().over(wAssign))
        .filter(col("r") === 1)
        .select(col("vec_id"), col("embedding"), col("cent_id").as("cell"))
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

    // IVF with multi-probe (nProbe=2): queries search their TWO nearest
    // cells instead of one. The recall upgrade over nProbe=1 costs one
    // more broadcast-joined cell per query — candidate volume doubles,
    // the index build is unchanged (one ranked corpus × centroid pass
    // feeds both the r=1 assignment and the r≤2 probe set). Each corpus
    // vector lives in exactly one cell, so the two probes can't yield
    // duplicate candidates and no dedup shuffle is needed.
    "ann_ivf_multiprobe" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val cents = e.filter(col("vec_id") % 101 === 0)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cv"))
      val wAssign = Window.partitionBy(col("vec_id"))
        .orderBy(col("ccos").desc, col("cent_id"))
      val ranked = e.crossJoin(broadcast(cents))
        .withColumn("ccos", VectorOps.cosine(col("embedding"), col("cv")))
        .withColumn("r", row_number().over(wAssign))
      val assigned = ranked.filter(col("r") === 1)
        .select(col("vec_id").as("n_id"), col("embedding").as("nv"),
          col("cent_id").as("cell"))
      val probes = ranked.filter(col("vec_id") < 20 && col("r") <= 2)
        .select(col("vec_id").as("q_id"), col("cent_id").as("cell"))
      val qv = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("n_id"))
      assigned.join(broadcast(probes), Seq("cell"))
        .filter(col("q_id") =!= col("n_id"))
        .join(broadcast(qv), Seq("q_id"))
        .withColumn("cos", VectorOps.cosine(col("qv"), col("nv")))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= K)
        .select("q_id", "n_id", "cos", "rnk")
    }),

    // ANN quality gate: per-(method, query) recall of the three
    // approximate probes against the exact brute-force top-10 — the
    // acceptance check run before trusting an approximate index (the
    // embedding counterpart of dedup_eval_recall's MinHash-vs-Jaccard
    // check). On this corpus it shows the documented trade honestly:
    // 16-bit sign-LSH bands recall ~0 at the fixture's cos≈0.5 nearest
    // neighbors (per-band s^16 with s≈0.67 — the scheme is built for
    // the ≥0.9 production regime), while IVF's cell-mates keep a
    // nontrivial share and the two-level hierarchy gives back a few
    // points of recall for its fixed assignment budget (smaller cells
    // probe fewer true neighbors) — the measured cost of the caveat
    // fix. Counts exact; the rate is one IEEE division.
    "ann_eval_recall" -> ((s, dir) => {
      // the exact arm grounds three probe arms and is consumed TWICE
      // per arm (hit join + per-query denominator) — six executions of
      // the corpus×query cosine scan unpinned; memoize the 50-row
      // ranking per (session, dir), the GraphQueries pin discipline
      val brute = brutePinned(s, dir).select(col("q_id"), col("n_id"))
      def evalOf(name: String, probe: DataFrame): DataFrame = {
        val hits = brute.join(probe, Seq("q_id", "n_id"))
          .groupBy("q_id").agg(count(lit(1)).as("n_hit"))
        brute.groupBy("q_id").agg(count(lit(1)).as("n_brute"))
          .join(hits, Seq("q_id"), "left")
          .select(lit(name).as("method"), col("q_id"), col("n_brute"),
            coalesce(col("n_hit"), lit(0L)).as("n_hit"),
            (coalesce(col("n_hit"), lit(0L)).cast("double") /
              col("n_brute").cast("double")).as("recall"))
      }
      evalOf("lsh", queries("ann_lsh_topk")(s, dir)
          .filter(col("q_id") < 5).select(col("q_id"), col("n_id")))
        .union(evalOf("ivf", queries("ann_ivf_topk")(s, dir)
          .filter(col("q_id") < 5).select(col("q_id"), col("n_id"))))
        .union(evalOf("ivf_hier", queries("ann_ivf_hier")(s, dir)
          .filter(col("q_id") < 5).select(col("q_id"), col("n_id"))))
    }),

    // Rank-QUALITY gate: recall counts how many true neighbors an
    // approximate index returns; NDCG@k also scores WHERE it puts them
    // (a hit buried at rank 10 is worth less than one at rank 1).
    // Graded relevance of an approx result = K+1−(its exact brute
    // rank), 0 for non-neighbors; discount 1/log₂(p+1) comes from a
    // literal table (the dq_benford convention — both engines parse
    // identical IEEE doubles, no runtime transcendentals), and each
    // gain is micro-floored to an exact integer BEFORE the sum so the
    // aggregation is order-free (float Σ is not). dcg_micro is the
    // exact integer; ndcg its one IEEE division by the same-floored
    // ideal. Scale: |Q|·K rows joined against the brute top-k — the
    // metric costs nothing beyond the probes it grades.
    "ann_eval_ndcg" -> ((s, dir) => {
      val brute = brutePinned(s, dir)
        .select(col("q_id"), col("n_id"), col("rnk").as("brute_rnk"))
      def ndcgOf(name: String, probe: DataFrame): DataFrame = {
        val gains = probe.join(brute, Seq("q_id", "n_id"), "left")
          .withColumn("rel",
            coalesce(lit(K + 1) - col("brute_rnk"), lit(0L)).cast("long"))
          .withColumn("gain_micro", expr(
            s"CAST(floor(CAST(rel AS DOUBLE) * ($NdcgDiscCase) * 1e6) AS BIGINT)"))
          .groupBy("q_id").agg(sum(col("gain_micro")).as("dcg_micro"))
        brute.select("q_id").distinct()
          .join(gains, Seq("q_id"), "left")
          .select(lit(name).as("method"), col("q_id"),
            coalesce(col("dcg_micro"), lit(0L)).as("dcg_micro"),
            (coalesce(col("dcg_micro"), lit(0L)).cast("double") /
              lit(IdcgMicro.toDouble)).as("ndcg"))
      }
      ndcgOf("lsh", queries("ann_lsh_topk")(s, dir)
          .filter(col("q_id") < 5).select("q_id", "n_id", "rnk"))
        .union(ndcgOf("ivf", queries("ann_ivf_topk")(s, dir)
          .filter(col("q_id") < 5).select("q_id", "n_id", "rnk")))
    }),

    // Matryoshka prefix-dim audit (the MRL serving question: how few
    // leading dimensions can the index serve before recall degrades?):
    // exact top-k with only the first P dims of the same embeddings,
    // graded against the full-dim brute truth, for P ∈ {8, 16, 32}.
    // Each arm reuses the brute plan shape — broadcast query set, one
    // corpus pass over `slice(embedding, 1, P)` (column pruning still
    // reaches the scan; the slice is per-row), |Q|·K rows into the
    // grade join — so the audit costs three narrow passes, nothing
    // quadratic. Cosines go through the same pinned left-fold kernel
    // on the sliced arrays, so both engines cut the same top-k.
    "ann_matryoshka_recall" -> ((s, dir) => {
      val brute = brutePinned(s, dir)
        .select(col("q_id"), col("n_id"))
      val e = Tables(s, dir, "embeddings")
      def prefixTopk(p: Int): DataFrame = {
        val q = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"),
            slice(col("embedding"), 1, p).as("qv"))
        val c = e.select(col("vec_id").as("n_id"),
          slice(col("embedding"), 1, p).as("nv"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("n_id"))
        c.join(broadcast(q), col("q_id") =!= col("n_id"))
          .withColumn("cos", VectorOps.cosine(col("qv"), col("nv")))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= K)
          .select(col("q_id"), col("n_id"))
      }
      def evalOf(p: Int): DataFrame = {
        val hits = brute.join(prefixTopk(p), Seq("q_id", "n_id"))
          .groupBy("q_id").agg(count(lit(1)).as("n_hit"))
        brute.groupBy("q_id").agg(count(lit(1)).as("n_brute"))
          .join(hits, Seq("q_id"), "left")
          .select(lit(p.toLong).as("prefix_dims"), col("q_id"),
            col("n_brute"), coalesce(col("n_hit"), lit(0L)).as("n_hit"),
            (coalesce(col("n_hit"), lit(0L)).cast("double") /
              col("n_brute").cast("double")).as("recall"))
      }
      MatryoshkaPrefixes.map(evalOf).reduce(_ union _)
    }),

    "knn_label_vote" -> ((s, dir) => {
      val votes = topk(scored(s, dir))
        .groupBy(col("q_id"), col("label"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("n").desc, col("label"))
      votes.withColumn("r", row_number().over(w))
        .filter(col("r") === 1)
        .select(col("q_id"), col("label").as("pred_label"), col("n"))
    }),

    // Hierarchical (two-level) IVF — the FIXED-BUDGET answer to the
    // scan-side argmin's honest caveat: flat assignment is
    // O(rows × cells), so growing the cell count with the corpus makes
    // the scan quadratic overall. Here every vector compares against
    // S1 super-centroids plus only the ~S2/S1 fine centroids of ITS
    // super-cell — per-row work stays O(S1 + S2/S1) (minimized at
    // S1 ≈ √S2) no matter how many fine cells the corpus needs. Both
    // argmins are scan-side fixed-point folds against broadcast
    // centroid rows (level 2's grouped per super-cell and attached by
    // a broadcast join); the fine centroids' own super-assignment
    // falls out of the level-1 pass since they ARE corpus vectors. No
    // shuffle anywhere in the index build; the probe is the same
    // cell-join + exact-rerank shape as flat IVF.
    "ann_ivf_hier" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val a2 = VectorOps.l2CellsHier(e, "vec_id", "embedding",
        col("vec_id") % 251 === 0, col("vec_id") % 47 === 0)
      val q = a2.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
          col("cell"))
      val c = a2.select(col("vec_id").as("n_id"),
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

    // Reciprocal-rank fusion (Cormack/Clarke/Buettcher, SIGIR'09) over
    // the two approximate arms that share a query space (LSH and flat
    // IVF, q_id < 20): score(d) = Σ_arms 1/(60 + rank_arm(d)), the
    // standard hybrid-retrieval combiner — rank-based, so arms with
    // incomparable score scales (cosine vs BM25 vs anything) fuse
    // without calibration. Determinism: 1/(60+r) for r ≤ K are
    // rationals with denominators 61..70, so scores are kept as EXACT
    // integer numerators over the shared denominator lcm(61..70) —
    // the fused order is exact integer comparison, never a float sum
    // whose associativity the two engines could exercise differently.
    // Scale: input is |Q|·K rows PER ARM (the probes' outputs, already
    // paid for); the fusion itself is one narrow groupBy — free at any
    // corpus size.
    "ann_rrf_fusion" -> ((s, dir) => {
      val arms =
        queries("ann_lsh_topk")(s, dir).select("q_id", "n_id", "rnk")
          .unionByName(
            queries("ann_ivf_topk")(s, dir).select("q_id", "n_id", "rnk"))
          .filter(col("q_id") < RrfQ)
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("rrf_num").desc, col("n_id"))
      arms
        .withColumn("contrib", expr(s"CAST($RrfLcm AS BIGINT) div (60 + rnk)"))
        .groupBy("q_id", "n_id")
        .agg(sum(col("contrib")).as("rrf_num"),
          count(lit(1)).as("n_arms"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= K)
        .select("q_id", "n_id", "n_arms", "rrf_num", "rnk")
    }),

    // Maximal Marginal Relevance (Carbonell/Goldstein, SIGIR'98):
    // diversified selection from the exact top-k pool — pick 5 of 10,
    // each round taking argmax of λ·rel − (1−λ)·max-sim-to-selected
    // (λ = 0.5). The de-dup a retrieval feed runs so five near-copies
    // of one answer don't crowd out the second topic. Iterative by
    // definition (greedy over a growing selected set), but a query's
    // whole round state is its ≤ k-row pool, so the 5 greedy rounds run
    // INSIDE one grouped pass: the pinned exact-arm memo (brutePinned,
    // which carries each neighbour's vector and is hash-partitioned on
    // q_id by its top-k window, so the group needs no exchange) folds
    // each query's pool into one array, and a fixed 5-step aggregate
    // over it appends each round's argmax (score DESC, n_id) — no
    // driver loop, no per-round join or checkpoint, one job when the
    // memo is warm, and a million queries still diversify as one plan.
    // Float discipline: rel and sim are the engines' bit-identical
    // cosines (sim = cosine(candidate, picked)), the score is the fixed
    // op sequence 5e-1·rel − 5e-1·msim on both sides, max over
    // identical doubles is order-free — the pick argmax compares equal
    // bits.
    "ann_mmr_rerank" -> ((s, dir) => {
      val pick = StructType(Seq(StructField("n_id", LongType),
        StructField("score", DoubleType),
        StructField("nv", ArrayType(FloatType))))
      // candidate c's round score given the picks so far
      def score(c: Column, picks: Column): Column =
        when(size(picks) === 0, lit(5e-1) * c("rel"))
          .otherwise(lit(5e-1) * c("rel") - lit(5e-1) * array_max(
            transform(picks, p => VectorOps.cosine(c("nv"), p("nv")))))
      // one greedy round: append the open candidate of highest score
      // (ties to the smallest n_id), or nothing once the pool is spent
      def round(cs: Column)(picks: Column): Column = {
        val open = filter(cs, c => !exists(picks, p => p("n_id") === c("n_id")))
        val best = aggregate(open, lit(null).cast(pick), (b, c) => {
          val sc = score(c, picks)
          when(b.isNull || sc > b("score") ||
              (sc === b("score") && c("n_id") < b("n_id")),
            struct(c("n_id"), sc.as("score"), c("nv"))).otherwise(b)
        })
        when(best.isNull, picks).otherwise(concat(picks, array(best)))
      }
      brutePinned(s, dir)
        .groupBy("q_id")
        .agg(collect_list(struct(col("n_id"), col("cos").as("rel"),
          col("nv"))).as("cs"))
        .select(col("q_id"), posexplode(aggregate(
          sequence(lit(1), lit(MmrM)), array().cast(ArrayType(pick)),
          (picks, _) => round(col("cs"))(picks))))
        .select(col("q_id"), col("col.n_id").as("n_id"),
          (col("pos") + 1).cast("long").as("pick"),
          col("col.score").as("score"))
    })
  )

  /** MMR rounds: diversified picks per query from the 10-deep pool. */
  private val MmrM = 5

  /** Fusion query space: the intersection of the arms' probe sets
    * (LSH probes q_id < 50, IVF q_id < 20).
    */
  private val RrfQ = 20

  /** lcm(61..70) — the shared denominator that makes RRF's
    * Σ 1/(60+rank) an exact int64 sum for ranks 1..K.
    */
  private val RrfLcm: Long = (61L to 70L).foldLeft(1L) { (a, b) =>
    @annotation.tailrec def gcd(x: Long, y: Long): Long =
      if (y == 0) x else gcd(y, x % y)
    a / gcd(a, b) * b
  }

  /** 1/log₂(p+1) for p = 1..K as a simple-CASE over a column `rnk`,
    * rendered as e-notation literals (the dq_benford convention) so
    * both grammars parse the identical IEEE doubles.
    */
  private val NdcgDiscCase: String =
    (1 to K).map { p =>
      f"WHEN $p THEN ${1.0 / (math.log(p + 1.0) / math.log(2.0))}%.17e"
    }.mkString("CASE rnk ", " ", " ELSE 0e0 END")

  /** Ideal DCG in micro units: the same per-position micro-floor the
    * engines apply, summed exactly in Scala — one shared integer.
    */
  private val IdcgMicro: Long =
    (1 to K).map { p =>
      val disc = 1.0 / (math.log(p + 1.0) / math.log(2.0))
      math.floor((K + 1 - p).toDouble * disc * 1e6).toLong
    }.sum

  // ---- DuckDB mirrors --------------------------------------------------
  // thin aliases over the ONE fold text in VectorOps (review finding:
  // byte-identical private copies had re-appeared here — a fold-order
  // or widening fix in VectorOps would have silently left these oracles
  // on the old sequence)
  private def cosOf(a: String, b: String) = VectorOps.cosDuck(a, b)
  private val cosAB = cosOf("qv", "nv")

  /** ann_matryoshka_recall prefix lengths (mirrored in the oracle). */
  private val MatryoshkaPrefixes = Seq(8, 16, 32)


  private val bruteTopkCte =
    s"""sc AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, c.label,
       |    $cosAB AS cos
       |  FROM (SELECT vec_id, embedding AS qv FROM embeddings WHERE vec_id < 5) q
       |  JOIN (SELECT vec_id, embedding AS nv, label FROM embeddings) c
       |    ON q.vec_id <> c.vec_id),
       |tk AS (
       |  SELECT q_id, n_id, label, cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |  FROM sc)""".stripMargin

  /** DuckDB mirror of the two-level assignment (shared by the
    * ann_ivf_hier oracle and the recall evaluation): ends in
    * `a2(vec_id, embedding, cell)`.
    */
  private val hierAssignDuck: String =
    s"""s1 AS (
       |  SELECT vec_id AS sid, embedding AS sv FROM embeddings
       |  WHERE vec_id % 251 = 0),
       |a1 AS (
       |  SELECT vec_id, embedding, sc FROM (
       |    SELECT e.vec_id, e.embedding, s.sid AS sc,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${VectorOps.l2FixDuck("e.embedding", "s.sv")},
       |          s.sid) AS r
       |    FROM embeddings e CROSS JOIN s1 s)
       |  WHERE r = 1),
       |fg AS (
       |  SELECT vec_id AS cent_id, embedding AS cv, sc FROM a1
       |  WHERE vec_id % 47 = 0 OR vec_id % 251 = 0),
       |a2 AS (
       |  SELECT vec_id, embedding, cell FROM (
       |    SELECT a.vec_id, a.embedding, f.cent_id AS cell,
       |      row_number() OVER (PARTITION BY a.vec_id
       |        ORDER BY ${VectorOps.l2FixDuck("a.embedding", "f.cv")},
       |          f.cent_id) AS r
       |    FROM a1 a JOIN fg f ON a.sc = f.sc)
       |  WHERE r = 1)"""
      .stripMargin

  /** LSH approximate top-k as a CTE chain ending in
    * `ltk(q_id, n_id, rnk)` — shared by the recall and NDCG oracles.
    * Expects the `bands` CTE (signBandsDuckCte) in scope.
    */
  private val lshTopkCtes: String =
    s"""lcand AS (
       |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id
       |  FROM (SELECT * FROM bands WHERE vec_id < 50) q
       |  JOIN bands c
       |    ON q.band = c.band AND q.bucket = c.bucket
       |   AND q.vec_id <> c.vec_id),
       |lsc AS (
       |  SELECT q_id, n_id, $cosAB AS cos
       |  FROM lcand
       |  JOIN (SELECT vec_id, embedding AS qv FROM embeddings) q
       |    ON q.vec_id = q_id
       |  JOIN (SELECT vec_id, embedding AS nv FROM embeddings) c
       |    ON c.vec_id = n_id),
       |ltk AS (
       |  SELECT q_id, n_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id)
       |      AS rnk
       |  FROM lsc)""".stripMargin

  /** Flat-IVF approximate top-k as a CTE chain ending in
    * `itk(q_id, n_id, rnk)` — shared by the recall and NDCG oracles.
    */
  private val ivfTopkCtes: String =
    s"""icents AS (
       |  SELECT vec_id AS cent_id, embedding AS cv FROM embeddings
       |  WHERE vec_id % 101 = 0),
       |iassign AS (
       |  SELECT vec_id, embedding, cell FROM (
       |    SELECT e.vec_id, e.embedding, c.cent_id AS cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosOf("e.embedding", "c.cv")} DESC, c.cent_id) AS r
       |    FROM embeddings e CROSS JOIN icents c)
       |  WHERE r = 1),
       |isc AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, $cosAB AS cos
       |  FROM (SELECT vec_id, embedding AS qv, cell FROM iassign
       |        WHERE vec_id < 20) q
       |  JOIN (SELECT vec_id, embedding AS nv, cell FROM iassign) c
       |    ON q.cell = c.cell AND q.vec_id <> c.vec_id),
       |itk AS (
       |  SELECT q_id, n_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id)
       |      AS rnk
       |  FROM isc)""".stripMargin

  def oracles: Map[String, String] = Map(
    // The greedy selection unrolled: per round, a NOT-EXISTS prune of
    // already-picked candidates, a MAX over pairwise cosines to the
    // selected set, and an argmax window — the bpeTrainCtes convention
    // (iterative op ⇒ generated round CTEs) applied to retrieval.
    "ann_mmr_rerank" -> {
      val rounds = (2 to MmrM).map { r =>
        val selu = (1 until r).map(i =>
          s"SELECT q_id, n_id FROM s$i").mkString(" UNION ALL ")
        s"""selu${r - 1} AS ($selu),
           |m$r AS (
           |  SELECT c.q_id, c.n_id, c.rel,
           |    MAX(${cosOf("c.nv", "sv.sv")}) AS msim
           |  FROM bv c
           |  JOIN (SELECT s.q_id, v.embedding AS sv FROM selu${r - 1} s
           |        JOIN embeddings v ON v.vec_id = s.n_id) sv
           |    ON sv.q_id = c.q_id
           |  WHERE NOT EXISTS (SELECT 1 FROM selu${r - 1} x
           |                    WHERE x.q_id = c.q_id AND x.n_id = c.n_id)
           |  GROUP BY c.q_id, c.n_id, c.rel),
           |s$r AS (
           |  SELECT q_id, n_id, $r AS pick, score FROM (
           |    SELECT q_id, n_id, 5e-1 * rel - 5e-1 * msim AS score,
           |      row_number() OVER (PARTITION BY q_id
           |        ORDER BY 5e-1 * rel - 5e-1 * msim DESC, n_id) AS rr
           |    FROM m$r) WHERE rr = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH $bruteTopkCte,
         |base AS (SELECT q_id, n_id, cos AS rel FROM tk WHERE rnk <= $K),
         |bv AS (SELECT b.q_id, b.n_id, b.rel, e.embedding AS nv
         |       FROM base b JOIN embeddings e ON e.vec_id = b.n_id),
         |s1 AS (
         |  SELECT q_id, n_id, 1 AS pick, 5e-1 * rel AS score FROM (
         |    SELECT q_id, n_id, rel,
         |      row_number() OVER (PARTITION BY q_id
         |        ORDER BY rel DESC, n_id) AS r
         |    FROM base) WHERE r = 1),
         |$rounds
         |SELECT q_id, n_id, pick, score
         |FROM (${(1 to MmrM).map(i => s"SELECT * FROM s$i")
                  .mkString(" UNION ALL ")})""".stripMargin
    },

    "ann_rrf_fusion" ->
      s"""WITH ${VectorOps.signBandsDuckCte()},
         |$lshTopkCtes,
         |$ivfTopkCtes,
         |u AS (SELECT q_id, n_id, rnk FROM ltk
         |      WHERE rnk <= $K AND q_id < $RrfQ
         |      UNION ALL
         |      SELECT q_id, n_id, rnk FROM itk
         |      WHERE rnk <= $K AND q_id < $RrfQ),
         |f AS (SELECT q_id, n_id, COUNT(*) AS n_arms,
         |        CAST(SUM(CAST($RrfLcm AS BIGINT) // (60 + rnk))
         |          AS BIGINT) AS rrf_num
         |      FROM u GROUP BY 1, 2),
         |r AS (SELECT q_id, n_id, n_arms, rrf_num,
         |        row_number() OVER (PARTITION BY q_id
         |          ORDER BY rrf_num DESC, n_id) AS rnk
         |      FROM f)
         |SELECT q_id, n_id, n_arms, rrf_num, rnk FROM r
         |WHERE rnk <= $K""".stripMargin,

    "ann_eval_ndcg" -> {
      def gainsOf(tkName: String) =
        s"""SELECT l.q_id,
           |    CAST(floor(CAST(CASE WHEN t.brnk IS NOT NULL
           |        THEN ${K + 1} - t.brnk ELSE 0 END AS DOUBLE)
           |      * ($NdcgDiscCase) * 1e6) AS BIGINT) AS gm
           |  FROM (SELECT q_id, n_id, rnk FROM $tkName
           |        WHERE rnk <= $K AND q_id < 5) l
           |  LEFT JOIN bt t ON t.q_id = l.q_id AND t.n_id = l.n_id""".stripMargin
      s"""WITH ${VectorOps.signBandsDuckCte()},
         |$lshTopkCtes,
         |$ivfTopkCtes,
         |$bruteTopkCte,
         |bt AS (SELECT q_id, n_id, rnk AS brnk FROM tk WHERE rnk <= $K),
         |gl AS (${gainsOf("ltk")}),
         |gi AS (${gainsOf("itk")}),
         |dl AS (SELECT q_id, CAST(SUM(gm) AS BIGINT) AS dcg_micro
         |       FROM gl GROUP BY 1),
         |di AS (SELECT q_id, CAST(SUM(gm) AS BIGINT) AS dcg_micro
         |       FROM gi GROUP BY 1),
         |qs AS (SELECT DISTINCT q_id FROM bt)
         |SELECT 'lsh' AS method, qs.q_id,
         |  COALESCE(dcg_micro, 0) AS dcg_micro,
         |  CAST(COALESCE(dcg_micro, 0) AS DOUBLE) / ${IdcgMicro}e0 AS ndcg
         |FROM qs LEFT JOIN dl ON qs.q_id = dl.q_id
         |UNION ALL
         |SELECT 'ivf' AS method, qs.q_id,
         |  COALESCE(dcg_micro, 0) AS dcg_micro,
         |  CAST(COALESCE(dcg_micro, 0) AS DOUBLE) / ${IdcgMicro}e0 AS ndcg
         |FROM qs LEFT JOIN di ON qs.q_id = di.q_id""".stripMargin
    },

    // ann_matryoshka_recall: same brute truth, per-prefix sliced-list
    // top-k (DuckDB `embedding[1:P]` ≡ Spark `slice(embedding, 1, P)`),
    // same pinned cosine fold on the sliced lists.
    "ann_matryoshka_recall" -> {
      val arms = MatryoshkaPrefixes.map { p =>
        s"""psc$p AS (
           |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, $cosAB AS cos
           |  FROM (SELECT vec_id, embedding[1:$p] AS qv FROM embeddings
           |        WHERE vec_id < 5) q
           |  JOIN (SELECT vec_id, embedding[1:$p] AS nv FROM embeddings) c
           |    ON q.vec_id <> c.vec_id),
           |ptk$p AS (
           |  SELECT q_id, n_id FROM (
           |    SELECT q_id, n_id, row_number() OVER (
           |      PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
           |    FROM psc$p)
           |  WHERE rnk <= $K),
           |hit$p AS (
           |  SELECT bt.q_id, COUNT(*) AS n_hit
           |  FROM bt JOIN ptk$p p ON bt.q_id = p.q_id AND bt.n_id = p.n_id
           |  GROUP BY 1),
           |ev$p AS (
           |  SELECT CAST($p AS BIGINT) AS prefix_dims, nb.q_id, nb.n_brute,
           |    CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
           |    CAST(COALESCE(n_hit, 0) AS DOUBLE)
           |      / CAST(nb.n_brute AS DOUBLE) AS recall
           |  FROM nb LEFT JOIN hit$p h ON nb.q_id = h.q_id)""".stripMargin
      }
      s"""WITH $bruteTopkCte,
         |bt AS (SELECT q_id, n_id FROM tk WHERE rnk <= $K),
         |nb AS (SELECT q_id, COUNT(*) AS n_brute FROM bt GROUP BY 1),
         |${arms.mkString(",\n")}
         |${MatryoshkaPrefixes.map(p => s"SELECT * FROM ev$p")
          .mkString("\nUNION ALL\n")}""".stripMargin
    },

    "ann_eval_recall" ->
      s"""WITH ${VectorOps.signBandsDuckCte()},
         |$lshTopkCtes,
         |$ivfTopkCtes,
         |$bruteTopkCte,
         |b AS (SELECT q_id, COUNT(*) AS n_brute FROM tk
         |      WHERE rnk <= $K GROUP BY 1),
         |hl AS (
         |  SELECT t.q_id, COUNT(*) AS n_hit
         |  FROM tk t JOIN ltk l
         |    ON t.q_id = l.q_id AND t.n_id = l.n_id
         |  WHERE t.rnk <= $K AND l.rnk <= $K AND l.q_id < 5
         |  GROUP BY 1),
         |hi AS (
         |  SELECT t.q_id, COUNT(*) AS n_hit
         |  FROM tk t JOIN itk i
         |    ON t.q_id = i.q_id AND t.n_id = i.n_id
         |  WHERE t.rnk <= $K AND i.rnk <= $K AND i.q_id < 5
         |  GROUP BY 1),
         |$hierAssignDuck,
         |ysc AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, $cosAB AS cos
         |  FROM (SELECT vec_id, embedding AS qv, cell FROM a2
         |        WHERE vec_id < 20) q
         |  JOIN (SELECT vec_id, embedding AS nv, cell FROM a2) c
         |    ON q.cell = c.cell AND q.vec_id <> c.vec_id),
         |ytk AS (
         |  SELECT q_id, n_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id)
         |      AS rnk
         |  FROM ysc),
         |hy AS (
         |  SELECT t.q_id, COUNT(*) AS n_hit
         |  FROM tk t JOIN ytk y
         |    ON t.q_id = y.q_id AND t.n_id = y.n_id
         |  WHERE t.rnk <= $K AND y.rnk <= $K AND y.q_id < 5
         |  GROUP BY 1)
         |SELECT 'lsh' AS method, b.q_id, b.n_brute,
         |  COALESCE(hl.n_hit, 0) AS n_hit,
         |  CAST(COALESCE(hl.n_hit, 0) AS DOUBLE)
         |    / CAST(b.n_brute AS DOUBLE) AS recall
         |FROM b LEFT JOIN hl ON b.q_id = hl.q_id
         |UNION ALL
         |SELECT 'ivf' AS method, b.q_id, b.n_brute,
         |  COALESCE(hi.n_hit, 0) AS n_hit,
         |  CAST(COALESCE(hi.n_hit, 0) AS DOUBLE)
         |    / CAST(b.n_brute AS DOUBLE) AS recall
         |FROM b LEFT JOIN hi ON b.q_id = hi.q_id
         |UNION ALL
         |SELECT 'ivf_hier' AS method, b.q_id, b.n_brute,
         |  COALESCE(hy.n_hit, 0) AS n_hit,
         |  CAST(COALESCE(hy.n_hit, 0) AS DOUBLE)
         |    / CAST(b.n_brute AS DOUBLE) AS recall
         |FROM b LEFT JOIN hy ON b.q_id = hy.q_id""".stripMargin,

    "ann_brute_topk" ->
      s"""WITH $bruteTopkCte
         |SELECT q_id, n_id, cos, rnk FROM tk WHERE rnk <= $K""".stripMargin,

    "ann_range_search" ->
      s"""WITH ${VectorOps.signBandsDuckCte()},
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id
         |  FROM (SELECT * FROM bands WHERE vec_id < 50) q
         |  JOIN bands c
         |    ON q.band = c.band AND q.bucket = c.bucket
         |   AND q.vec_id <> c.vec_id)
         |SELECT q_id, n_id, cos FROM (
         |  SELECT q_id, n_id, $cosAB AS cos
         |  FROM cand
         |  JOIN (SELECT vec_id, embedding AS qv FROM embeddings) q
         |    ON q.vec_id = q_id
         |  JOIN (SELECT vec_id, embedding AS nv FROM embeddings) c
         |    ON c.vec_id = n_id)
         |WHERE cos >= $RangeTau""".stripMargin,

    "ann_lsh_topk" ->
      s"""WITH ${VectorOps.signBandsDuckCte()},
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id
         |  FROM (SELECT * FROM bands WHERE vec_id < 50) q
         |  JOIN bands c
         |    ON q.band = c.band AND q.bucket = c.bucket
         |   AND q.vec_id <> c.vec_id),
         |sc AS (
         |  SELECT q_id, n_id, $cosAB AS cos
         |  FROM cand
         |  JOIN (SELECT vec_id, embedding AS qv FROM embeddings) q
         |    ON q.vec_id = q_id
         |  JOIN (SELECT vec_id, embedding AS nv FROM embeddings) c
         |    ON c.vec_id = n_id)
         |SELECT q_id, n_id, cos, rnk FROM (
         |  SELECT q_id, n_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
         |  FROM sc)
         |WHERE rnk <= $K""".stripMargin,

    "ann_ivf_topk" ->
      s"""WITH cents AS (
         |  SELECT vec_id AS cent_id, embedding AS cv FROM embeddings
         |  WHERE vec_id % 101 = 0),
         |assign AS (
         |  SELECT vec_id, embedding, cell FROM (
         |    SELECT e.vec_id, e.embedding, c.cent_id AS cell,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosOf("e.embedding", "c.cv")} DESC, c.cent_id) AS r
         |    FROM embeddings e CROSS JOIN cents c)
         |  WHERE r = 1),
         |sc AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, $cosAB AS cos
         |  FROM (SELECT vec_id, embedding AS qv, cell FROM assign
         |        WHERE vec_id < 20) q
         |  JOIN (SELECT vec_id, embedding AS nv, cell FROM assign) c
         |    ON q.cell = c.cell AND q.vec_id <> c.vec_id)
         |SELECT q_id, n_id, cos, rnk FROM (
         |  SELECT q_id, n_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
         |  FROM sc)
         |WHERE rnk <= $K""".stripMargin,

    "ann_ivf_multiprobe" ->
      s"""WITH cents AS (
         |  SELECT vec_id AS cent_id, embedding AS cv FROM embeddings
         |  WHERE vec_id % 101 = 0),
         |ranked AS (
         |  SELECT e.vec_id, e.embedding, c.cent_id,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${cosOf("e.embedding", "c.cv")} DESC, c.cent_id) AS r
         |  FROM embeddings e CROSS JOIN cents c),
         |assign AS (
         |  SELECT vec_id AS n_id, embedding AS nv, cent_id AS cell
         |  FROM ranked WHERE r = 1),
         |probes AS (
         |  SELECT vec_id AS q_id, cent_id AS cell
         |  FROM ranked WHERE r <= 2 AND vec_id < 20),
         |sc AS (
         |  SELECT p.q_id, a.n_id, $cosAB AS cos
         |  FROM assign a JOIN probes p ON a.cell = p.cell
         |   AND p.q_id <> a.n_id
         |  JOIN (SELECT vec_id, embedding AS qv FROM embeddings) q
         |    ON q.vec_id = p.q_id)
         |SELECT q_id, n_id, cos, rnk FROM (
         |  SELECT q_id, n_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
         |  FROM sc)
         |WHERE rnk <= $K""".stripMargin,

    "knn_label_vote" ->
      s"""WITH $bruteTopkCte,
         |votes AS (
         |  SELECT q_id, label, count(*) AS n FROM tk WHERE rnk <= $K
         |  GROUP BY q_id, label)
         |SELECT q_id, label AS pred_label, n FROM (
         |  SELECT q_id, label, n,
         |    row_number() OVER (PARTITION BY q_id ORDER BY n DESC, label) AS r
         |  FROM votes)
         |WHERE r = 1""".stripMargin,

    "ann_ivf_hier" ->
      s"""WITH $hierAssignDuck,
         |sc2 AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, $cosAB AS cos
         |  FROM (SELECT vec_id, embedding AS qv, cell FROM a2
         |        WHERE vec_id < 20) q
         |  JOIN (SELECT vec_id, embedding AS nv, cell FROM a2) c
         |    ON q.cell = c.cell AND q.vec_id <> c.vec_id)
         |SELECT q_id, n_id, cos, rnk FROM (
         |  SELECT q_id, n_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id)
         |      AS rnk
         |  FROM sc2)
         |WHERE rnk <= $K""".stripMargin
  )
}
