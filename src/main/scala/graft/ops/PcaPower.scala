package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** Top principal component of an embedding column by fixed-point power
  * iteration — the PCA primitive an embedding pipeline uses for drift
  * direction, whitening prep, and "is this corpus one-dimensional"
  * audits (explained-variance share of PC1).
  *
  * Two-phase shape, and only phase 1 touches the corpus:
  *
  *  1. ONE pass computes exact second moments: per-dim sums Σq_i and
  *     the upper-triangle pair sums Σq_i·q_j over fixed-point
  *     `q = floor(v·1e6)` longs, accumulated in DECIMAL(38,0) (n·Σqq
  *     reaches ~1e36 at 10¹² rows — inside DECIMAL(38,0), far past
  *     int64; the agg_corr/HUGEINT discipline). The scan-side pair
  *     explode is d(d+1)/2 rows per vector — per-row compute, while
  *     the exchange carries only d(d+1)/2 ≈ 2080 partial-sum cells
  *     (map-side combine), nothing proportional to the corpus.
  *  2. The covariance C_ij = n·Σq_iq_j − Σq_i·Σq_j is d×d bounded
  *     driver metadata (2080 exact integers — the GlobalRank
  *     collect discipline); the power iteration runs on it in pure
  *     driver arithmetic, mirrored by unrolled CTEs in the oracle.
  *
  * Cross-engine determinism (the [[PageRank]]/[[Hits]] quantization
  * discipline, on a matrix): the iterate lives as fixed-point longs
  * (1.0 ≡ 1e6), each matvec term is `floor((C_ij / Cmax) · v_j)` —
  * one divide, one multiply, one floor on identical IEEE doubles —
  * summed exactly as integers (order-free), and each round
  * re-normalizes by the SIGNED pivot component (largest |w_i|, ties to
  * the lowest dim), which fixes the eigenvector's sign convention for
  * free. DECIMAL→double conversions go through the decimal string
  * (correctly-rounded in both engines; DuckDB's direct HUGEINT→DOUBLE
  * cast is not — the emb_drift_mmd finding).
  *
  * Determinism beats convergence speed here: the start vector is the
  * dim-0 unit (a production solver uses a random start and/or
  * deflation for more components; any start with a nonzero PC1
  * loading converges, and `iters` is fixed so both engines stop at
  * the same place regardless).
  */
object PcaPower {

  /** @return one row per dimension: `(dim: long, loading_fix: long,
    *         lambda_ratio: double)` — the PC1 loading as fixed-point
    *         (pivot component ≡ 1e6) and the Rayleigh-quotient share of
    *         total variance (constant across rows).
    */
  def apply(df: DataFrame, vecCol: String, dims: Int, iters: Int): DataFrame =
    fromSolved(df.sparkSession, solve(df, vecCol, dims, iters), dims)

  /** [[apply]] from an already-solved (loadings, ratio) pair — the
    * memoized-callers entry point (both registered PCA queries share
    * one solve per (session, fixture) via a `SessionCache.result` memo;
    * unmemoized, each invocation re-ran the two moment scans).
    */
  def fromSolved(spark: org.apache.spark.sql.SparkSession,
      solved: (Array[Long], Double), dims: Int): DataFrame = {
    val (v, ratio) = solved
    val schema = StructType(Seq(
      StructField("dim", LongType, nullable = false),
      StructField("loading_fix", LongType, nullable = false),
      StructField("lambda_ratio", DoubleType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        (0 until dims).map(i => Row(i.toLong, v(i), ratio)), 1),
      schema)
  }

  /** Per-row projection onto PC1: `proj_fix = Σ_j q_j · v_j` over the
    * fixed-point image `q = floor(e·1e6)` and the solved loadings —
    * EXACT integer arithmetic per row (|q|≤~1e6 · |v|≤1e6 · 64 dims
    * keeps the sum ≪ 2^63), so both engines agree bit-for-bit with no
    * float fold order to pin. Uncentered deliberately: centering
    * shifts every score by one corpus constant (rank-invariant), and
    * keeping the row pass constant-free keeps it a pure map — the
    * whole op is the two moment scans plus ONE shuffle-free projection
    * scan, nothing proportional to the corpus on the exchange.
    */
  def project(df: DataFrame, idCol: String, vecCol: String, dims: Int,
      iters: Int): DataFrame =
    projectSolved(df, idCol, vecCol, solve(df, vecCol, dims, iters))

  /** [[project]] from an already-solved pair (see [[fromSolved]]). */
  def projectSolved(df: DataFrame, idCol: String, vecCol: String,
      solved: (Array[Long], Double)): DataFrame = {
    val (v, _) = solved
    val loads = array(v.toIndexedSeq.map(lit): _*)
    df.select(col(idCol),
      aggregate(
        zip_with(col(vecCol), loads, (e, l) =>
          floor(e.cast("double") * 1e6).cast("long") * l),
        lit(0L), (acc, x) => acc + x).as("proj_fix"))
  }

  /** Driver-side solve: PC1 loadings (fixed-point, pivot ≡ 1e6) and
    * the Rayleigh explained-variance share. Touches the corpus twice
    * (per-dim sums; upper-triangle pair sums), both scans reducing to
    * d(d+1)/2 partial-sum cells on the exchange.
    */
  def solve(df: DataFrame, vecCol: String, dims: Int,
      iters: Int): (Array[Long], Double) = {
    require(iters >= 1, s"pca: iters $iters < 1")
    val q = df.select(posexplode(col(vecCol)).as(Seq("i", "v")))
      .select(col("i"), floor(col("v").cast("double") * 1e6)
        .cast("long").as("q"))
    // one grouped pass for n + Σq_i; the pair sums ride a second scan —
    // both exchanges carry only per-cell partials
    val sums = q.groupBy("i").agg(count(lit(1)).as("n"),
      sum(expr("CAST(q AS DECIMAL(38,0))")).as("s"))
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), BigDecimal(r.getDecimal(2)))).toMap
    require(sums.nonEmpty, "pca: empty input")
    require(sums.size == dims,
      s"pca: expected $dims dims, scan found ${sums.size}")
    val n = sums(0)._1
    // upper-triangle pair sums from the vector column directly:
    // explode (i, j>=i) index pairs scan-side, one product each
    val pairSums = df.select(col(vecCol).as("e"))
      .select(explode(expr(
        """flatten(transform(sequence(0, size(e) - 1), i ->
          |  transform(sequence(i, size(e) - 1), j ->
          |    struct(i AS i, j AS j,
          |      floor(CAST(e[i] AS DOUBLE) * 1e6) *
          |      floor(CAST(e[j] AS DOUBLE) * 1e6) AS p))))""".stripMargin))
        .as("c"))
      .groupBy(col("c.i").as("i"), col("c.j").as("j"))
      .agg(sum(expr("CAST(c.p AS DECIMAL(38,0))")).as("sp"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        BigDecimal(r.getDecimal(2))).toMap

    // exact integer covariance (scaled by n): C_ij = n·Σqq − Σq_i·Σq_j
    val nBig = BigDecimal(n)
    def cov(i: Int, j: Int): BigDecimal = {
      val (a, b) = (math.min(i, j), math.max(i, j))
      nBig * pairSums((a, b)) - sums(i)._2 * sums(j)._2
    }
    val cMax = (for (i <- 0 until dims; j <- i until dims)
      yield cov(i, j).abs).max
    require(cMax.signum > 0, "pca: zero covariance matrix")
    // normalized covariance in doubles via the decimal string (the
    // correctly-rounded path both engines share)
    val cn = Array.tabulate(dims, dims) { (i, j) =>
      cov(i, j).toDouble / cMax.toDouble }

    var v = Array.tabulate(dims)(i => if (i == 0) 1000000L else 0L)
    var w = new Array[Long](dims)
    def matvec(): Unit = {
      var i = 0
      while (i < dims) {
        var acc = 0L
        var j = 0
        while (j < dims) {
          acc += math.floor(cn(i)(j) * v(j).toDouble).toLong
          j += 1
        }
        w(i) = acc
        i += 1
      }
    }
    def pivot(): Long = {
      var best = 0
      var i = 1
      while (i < dims) {
        if (math.abs(w(i)) > math.abs(w(best))) best = i
        i += 1
      }
      w(best)
    }
    for (_ <- 1 to iters) {
      matvec()
      val p = pivot()
      require(p != 0L, "pca: iterate vanished (degenerate start)")
      v = w.map(x => math.floor(x.toDouble / p.toDouble * 1e6).toLong)
      w = new Array[Long](dims)
    }
    // Rayleigh quotient of the final iterate against Cn — numerator and
    // denominator are exact integer sums, one division each; the
    // explained-variance share divides by the quantized trace
    matvec()
    val num = (0 until dims).map(i => BigInt(v(i)) * BigInt(w(i))).sum
    val den = (0 until dims).map(i => BigInt(v(i)) * BigInt(v(i))).sum
    val traceQ = (0 until dims).map(i =>
      BigInt(math.floor(cn(i)(i) * 1e9).toLong)).sum
    val lambda = BigDecimal(num).toDouble / BigDecimal(den).toDouble
    val trace = BigDecimal(traceQ).toDouble / 1e9
    (v, lambda / trace)
  }

  /** DuckDB mirror as a WITH body over an `embeddings(embedding)` view:
    * the same exact moments (pair self-join on vec_id), the same
    * string-routed decimal→double normalized covariance, the same
    * unrolled quantized matvec/pivot rounds, ending in
    * `out(dim, loading_fix, lambda_ratio)`.
    */
  def duckCtes(dims: Int, iters: Int): String = {
    val d1 = dims - 1
    val base =
      s"""x AS MATERIALIZED (
         |  SELECT vec_id, ps.pos AS i,
         |    CAST(floor(CAST(embedding[ps.pos + 1] AS DOUBLE) * 1e6)
         |      AS BIGINT) AS q
         |  FROM embeddings, (SELECT unnest(range(0, $dims)) AS pos) ps),
         |s AS (SELECT i, COUNT(*) AS n, SUM(CAST(q AS HUGEINT)) AS sq
         |      FROM x GROUP BY 1),
         |p AS (
         |  SELECT a.i AS i, b.i AS j,
         |    SUM(CAST(a.q AS HUGEINT) * b.q) AS sp
         |  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
         |  GROUP BY 1, 2),
         |ct AS (
         |  SELECT p.i, p.j,
         |    (SELECT MAX(n) FROM s) * sp - sa.sq * sb.sq AS c
         |  FROM p JOIN s sa ON p.i = sa.i JOIN s sb ON p.j = sb.i),
         |cfull AS (
         |  SELECT i, j, c FROM ct
         |  UNION ALL SELECT j AS i, i AS j, c FROM ct WHERE i <> j),
         |cmax AS (SELECT MAX(abs(c)) AS m FROM cfull),
         |cn AS MATERIALIZED (
         |  SELECT i, j,
         |    CAST(CAST(c AS VARCHAR) AS DOUBLE)
         |      / CAST(CAST(m AS VARCHAR) AS DOUBLE) AS cn
         |  FROM cfull, cmax),
         |v0 AS (
         |  SELECT pos AS dim,
         |    CASE WHEN pos = 0 THEN CAST(1000000 AS BIGINT)
         |      ELSE CAST(0 AS BIGINT) END AS vq
         |  FROM (SELECT unnest(range(0, $dims)) AS pos))""".stripMargin
    // Each round CTE is MATERIALIZED: DuckDB inlines plain CTEs at
    // every reference, and w_r is referenced twice (pivot + rescale) —
    // an unrolled chain of plain CTEs re-expands the corpus-scan base
    // 2^iters times (measured: minutes at 500 rows before this fix).
    val steps = (1 to iters).map { r =>
      s"""w$r AS MATERIALIZED (
         |  SELECT cn.i AS dim,
         |    CAST(SUM(CAST(floor(cn.cn * CAST(v.vq AS DOUBLE))
         |      AS BIGINT)) AS BIGINT) AS w
         |  FROM cn JOIN v${r - 1} v ON cn.j = v.dim
         |  GROUP BY 1),
         |pv$r AS (
         |  SELECT w FROM w$r
         |  ORDER BY abs(w) DESC, dim ASC LIMIT 1),
         |v$r AS MATERIALIZED (
         |  SELECT dim, CAST(floor(CAST(w AS DOUBLE)
         |    / CAST((SELECT w FROM pv$r) AS DOUBLE) * 1e6) AS BIGINT) AS vq
         |  FROM w$r)""".stripMargin
    }
    val tail =
      s"""wf AS (
         |  SELECT cn.i AS dim,
         |    CAST(SUM(CAST(floor(cn.cn * CAST(v.vq AS DOUBLE))
         |      AS BIGINT)) AS BIGINT) AS w
         |  FROM cn JOIN v$iters v ON cn.j = v.dim
         |  GROUP BY 1),
         |ray AS (
         |  SELECT SUM(CAST(v.vq AS HUGEINT) * wf.w) AS num,
         |    SUM(CAST(v.vq AS HUGEINT) * v.vq) AS den
         |  FROM v$iters v JOIN wf ON v.dim = wf.dim),
         |tr AS (
         |  SELECT SUM(CAST(floor(cn * 1e9) AS HUGEINT)) AS tq
         |  FROM cn WHERE i = j),
         |out AS (
         |  SELECT v.dim, v.vq AS loading_fix,
         |    (CAST(CAST(num AS VARCHAR) AS DOUBLE)
         |      / CAST(CAST(den AS VARCHAR) AS DOUBLE))
         |    / (CAST(CAST(tq AS VARCHAR) AS DOUBLE) / 1e9) AS lambda_ratio
         |  FROM v$iters v, ray, tr)""".stripMargin
    (base +: steps :+ tail).mkString(",\n")
  }
}
