package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}

import graft.streaming.LshBucketProcessor.{BandHit, PairRow}

/** Streaming MinHash-LSH near-duplicate pair emission — incremental
  * dedup at INGEST, the state shape a training-data pipeline runs so a
  * crawl never has to re-LSH the whole corpus to learn what a new
  * document collides with. The batch arm ([[graft.ops.MinHashLSH
  * .candidatePairs]]) expands each (band, signature) bucket to its
  * C(n,2) pairs in one pass; this processor maintains the same buckets
  * as keyed state and emits exactly the NEW pairs each arrival creates:
  * (old member, new id) for every current member plus the new batch's
  * own combinations.
  *
  * Determinism is structural: the union of emissions over any
  * file→batch grouping and any arrival order is C(final membership, 2)
  * per bucket — the same set the batch arm produces — because each
  * unordered pair {a, b} is emitted exactly once, by whichever of a/b
  * arrives second (ties inside one batch resolved by the new-new
  * combination walk). A pair colliding in several bands is emitted once
  * per band-bucket; the LWW sink's (doc_a, doc_b) PK collapses those,
  * exactly as the batch arm's `distinct()` does. Replay after a crash
  * re-emits a suffix of pairs against rolled-back state; the PK upsert
  * absorbs it (same idempotence contract as every other e2e row).
  *
  * Scale: state per bucket is its member-id list — bounded by true
  * near-dup cluster size, the LSH guarantee that makes this the 100 TB
  * plan (unrelated docs don't share a signature w.h.p., so buckets stay
  * small while the corpus grows without bound). Pair emission work is
  * quadratic only in that bounded membership, matching the batch arm's
  * within-bucket expansion. For an unbounded crawl where even near-dup
  * clusters churn, the TTL seam below expires idle buckets (a doc then
  * only pairs against the cluster's live window — the usual
  * freshness/recall trade, stated rather than hidden); the e2e harness
  * keeps state for the whole run, matching the batch oracle.
  */
class LshBucketProcessor(ttl: TTLConfig = TTLConfig.NONE)
    extends StatefulProcessor[String, BandHit, PairRow] {

  // ListState, not ValueState[List]: membership only ever GROWS, and
  // RocksDB's list append is a merge operand — each batch writes O(new
  // ids), where a value rewrite writes O(total membership) per touch
  // (quadratic state I/O over a hot bucket's lifetime)
  @transient private var state: ListState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getListState[Long]("bucket", Encoders.scalaLong, ttl)

  override def handleInputRows(
      bucket: String,
      rows: Iterator[BandHit],
      timerValues: TimerValues): Iterator[PairRow] = {
    val seen = state.get().toArray
    val seenSet = seen.toSet
    // sorted + deduped so the new-new walk emits each in-batch pair once
    val fresh = rows.map(_.docId).toArray.distinct.sorted
      .filterNot(seenSet)
    if (fresh.isEmpty) Iterator.empty
    else {
      val out = Seq.newBuilder[PairRow]
      var i = 0
      while (i < fresh.length) {
        val n = fresh(i)
        seen.foreach { o =>
          out += PairRow(math.min(o, n), math.max(o, n))
        }
        var j = i + 1
        while (j < fresh.length) { // fresh is sorted: fresh(i) < fresh(j)
          out += PairRow(n, fresh(j))
          j += 1
        }
        i += 1
      }
      state.appendList(fresh)
      out.result().iterator
    }
  }
}

object LshBucketProcessor {

  /** One (band, signature) collision: `bucket` = "band|sig". */
  case class BandHit(bucket: String, docId: Long)

  /** One candidate near-dup pair, doc_a < doc_b. */
  case class PairRow(doc_a: Long, doc_b: Long)

  /** The near-dup dataflow: DOC envelopes → [[bandHits]] → bucket
    * state → one (doc_a, doc_b) row per new pair, for an update-mode
    * sink. The registered query `stream_e2e_neardup`, StreamBench's
    * `neardup` arm and the restart suite all run this one chain, so the
    * bench and the restart proof run the code the oracle checks.
    */
  def pairs(env: DataFrame): DataFrame = {
    val sp = env.sparkSession
    import sp.implicits._
    bandHits(env).groupByKey(_.bucket)
      .transformWithState(new LshBucketProcessor(),
        TimeMode.None(), OutputMode.Update())
      .toDF()
  }

  /** DOC-envelope → band-hit projection: the one place the parse
    * schema, LSH parameters and bucket encoding live.
    */
  def bandHits(
      env: DataFrame,
      shingleK: Int = 3,
      perms: Int = 16,
      bands: Int = 4): Dataset[BandHit] = {
    val sp = env.sparkSession
    import sp.implicits._
    val parsed = env.filter(col("frameType") === "DOC")
      .select(from_json(col("payload"),
        graft.model.Schemas.docJsonSchema).as("d"))
      .select(col("d.doc_id").as("doc_id"), col("d.text").as("text"))
      // a DOC with a missing/mistyped doc_id (PERMISSIVE from_json
      // nulls just that field) must drop HERE: it would survive the
      // signature stage's text-length filter and then kill the whole
      // ingest query at `.as[BandHit]` (docId is a primitive Long) —
      // a poison-pill crash loop on replay, with no tick-style
      // dead-letter branch on this path to absorb it
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
    graft.ops.MinHashLSH
      .signatures(parsed, "doc_id", "text", shingleK, perms, bands)
      .select(concat_ws("|", col("band"), col("sig")).as("bucket"),
        col("doc_id").cast("long").as("docId"))
      .as[BandHit]
  }
}
