package graft.ops

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Farthest-first traversal (Gonzalez 1985) over an embedding column —
  * the deterministic k-center seeding a training-data pipeline uses to
  * pick maximally-spread exemplars (diverse few-shot pools, k-means++
  * style initialization without the randomness, coreset anchors). The
  * greedy rule — start from a fixed seed, then repeatedly add the point
  * farthest from the chosen set — is a provable 2-approximation for the
  * k-center objective, and the selection radii it emits are the
  * certificate: r_fix at round r is the covering radius of the
  * (r−1)-center solution, and the true optimum is ≥ r_fix/2.
  *
  * Shapes the reference's per-symbol feed never needs, but the
  * `embeddings` fixture exists exactly for this tier (SURVEY §2 LLM
  * additions).
  *
  * Determinism: distances are [[VectorOps.l2Fix]] fixed-point longs
  * (exact IEEE sequence both engines share), the seed is the minimum
  * id, and the per-round argmax breaks ties on the smallest id — so the
  * whole trajectory is reproducible cross-engine and the DuckDB mirror
  * unrolls the same k rounds as CTEs.
  *
  * Scale shape (the rescan form): round r is ONE pass over the corpus
  * and ONE Spark job. The chosen ≤ k centres are round state the driver
  * already holds (their ids, and the winning vector each round's
  * `TakeOrdered(1)` returns with its id), so they enter the scan as a
  * typed literal array: the per-row nearest centre is the native
  * [[VectorOps.argminL2Index]] fold over that literal, the min distance
  * one more [[VectorOps.l2Fix]] fold against `element_at` of it, and the
  * argmax reduces through `TakeOrdered(1)` (per-partition top-1,
  * single-row driver result — the [[GlobalRank]] bounded-metadata
  * discipline). No aggregate, broadcast or join re-derives the centre
  * set, so a k-round selection costs k + 1 jobs: the input pin, then one
  * per round (the seed round included). Total work is k scans with
  * O(r)-per-row folds: no per-(point, center) row explosion, no
  * quadratic join, nothing proportional to a hot cell. The alternative —
  * materializing a running min-distance column — saves the re-fold but
  * rewrites the corpus k times; at 100 TB the rescan form wins whenever
  * k · fold-cost < k · corpus-write-cost, i.e. essentially always for
  * the k ≤ 64 this seeding is used at.
  */
object KcenterInit {

  /** Greedy k-center selection.
    *
    * @return one row per selected center, `(round: long, vec_id: long,
    *         r_fix: long)` — `r_fix` is the selected point's min
    *         fixed-point L2 distance to the previously chosen set (0
    *         for the seed). Fewer than k rows when the input runs out
    *         of points first.
    */
  def apply(df: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    require(k >= 1, s"kcenter: k $k < 1")
    val spark = df.sparkSession
    // consumed k times (one assignment pass per round) — pin once so
    // round r does not re-derive the upstream plan r times
    val pinned = df
      .select(col(idCol).cast(LongType).as("vec_id"), col(vecCol).as("v"))
      .localCheckpoint()
    try {
      val seed = pinned.orderBy(col("vec_id")).limit(1).collect()
      require(seed.nonEmpty, "kcenter: empty input")
      // (vec_id, r_fix, vector) per chosen centre, in selection order
      val chosen = ArrayBuffer((seed.head.getLong(0), 0L,
        seed.head.getSeq[Float](1)))
      var exhausted = false
      for (_ <- 2 to k if !exhausted) {
        val cvs = typedLit(chosen.map(_._3).toSeq)
        // argmin gives the NEAREST chosen center; one more fold against
        // that center's vector IS the min distance (ties in the argmin
        // cannot change it — tied centers are equidistant)
        val next = pinned
          .filter(!col("vec_id").isin(chosen.map(_._1).toSeq: _*))
          .select(col("vec_id"),
            VectorOps.l2Fix(col("v"), element_at(cvs,
              VectorOps.argminL2Index(col("v"), cvs) + 1)).as("dfix"),
            col("v"))
          .orderBy(col("dfix").desc, col("vec_id"))
          .limit(1).collect()
        if (next.isEmpty) exhausted = true // k > distinct points: stop
        else chosen += ((next.head.getLong(0), next.head.getLong(1),
          next.head.getSeq[Float](2)))
      }
      val schema = StructType(Seq(
        StructField("round", LongType, nullable = false),
        StructField("vec_id", LongType, nullable = false),
        StructField("r_fix", LongType, nullable = false)))
      spark.createDataFrame(
        chosen.zipWithIndex.map { case ((id, d, _), i) =>
          Row((i + 1).toLong, id, d)
        }.asJava,
        schema)
    } finally {
      org.apache.spark.sql.graftbridge.Bridge.releaseLocalCheckpoint(pinned)
    }
  }

  /** DuckDB mirror as a WITH body over an `embeddings(vec_id,
    * embedding)` view: unrolls the same k greedy rounds (s1..sk carry
    * the selected set; d_r is the per-point min distance to s_{r-1};
    * c_r the argmax with the same DESC-dist, ASC-id tie-break), ends in
    * `s$k(round, vec_id, r_fix, cv)`.
    */
  def duckCtes(k: Int): String = {
    val base =
      """s1 AS (SELECT CAST(1 AS BIGINT) AS round, vec_id,
        |         CAST(0 AS BIGINT) AS r_fix, embedding AS cv
        |       FROM embeddings ORDER BY vec_id LIMIT 1)""".stripMargin
    val steps = (2 to k).map { r =>
      s"""d$r AS (
         |  SELECT e.vec_id,
         |    MIN(${VectorOps.l2FixDuck("e.embedding", "s.cv")}) AS mind
         |  FROM embeddings e CROSS JOIN s${r - 1} s
         |  GROUP BY e.vec_id),
         |c$r AS (
         |  SELECT CAST($r AS BIGINT) AS round, d.vec_id, d.mind AS r_fix,
         |    e.embedding AS cv
         |  FROM d$r d JOIN embeddings e USING (vec_id)
         |  WHERE d.vec_id NOT IN (SELECT vec_id FROM s${r - 1})
         |  ORDER BY d.mind DESC, d.vec_id LIMIT 1),
         |s$r AS (SELECT * FROM s${r - 1} UNION ALL SELECT * FROM c$r)""".stripMargin
    }
    (base +: steps).mkString(",\n")
  }
}
