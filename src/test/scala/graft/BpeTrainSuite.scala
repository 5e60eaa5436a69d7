package graft

import org.apache.spark.sql.functions._

import graft.ops.BpeTrain

/** Multi-round BPE trainer + the merge-table artifact memo (round-6:
  * the tokenizer face must reuse a trained table instead of re-running
  * training — at 100 TB the table ships to the tokenize job, not the
  * corpus).
  */
class BpeTrainSuite extends SparkSpec {

  private val safeRe = "^[a-z0-9_]+ [a-z0-9_]+$"

  private def corpus = {
    import spark.implicits._
    Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat ran to the cat"),
      (3L, "a dog saw the cat run")
    ).toDF("doc_id", "text")
  }

  test("trainer picks the most frequent pair per round, merges greedily") {
    val t = BpeTrain(corpus, "doc_id", "text", rounds = 2, safeRe)
      .orderBy("merge_rank").collect()
    assert(t.length == 2)
    // round 1: "the cat" appears 4 times — the unique argmin winner
    assert(t(0).getLong(0) == 1L && t(0).getString(1) == "the cat" &&
      t(0).getLong(2) == 4L)
    // round 2 trains on the MERGED corpus: "the_cat" is one token now,
    // so the winner is a pair over the rewritten text, not "cat sat"
    assert(t(1).getLong(0) == 2L && t(1).getString(1) != "the cat")
  }

  /** Driver-side 1-merge-per-round reference (the pre-round-9
    * semantics, also the oracle's CTE chain): exact argmin by
    * (count desc, pair asc), guard-checked winner, \b-bounded rewrite,
    * halt once an unsafe winner surfaces.
    */
  private def seqReference(docs0: Seq[String], rounds: Int,
      re: String = safeRe): Seq[(Long, String, Long)] = {
    var docs = docs0
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    var halted = false
    for (r <- 1 to rounds if !halted) {
      val counts = docs
        .flatMap(_.split(' ').sliding(2).filter(_.length == 2)
          .map(_.mkString(" ")))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      if (counts.isEmpty) halted = true
      else {
        val (pair, n) = counts.minBy { case (g, c) => (-c, g) }
        if (!pair.matches(re)) halted = true // corpus frozen: no more rows
        else {
          out += ((r.toLong, pair, n))
          docs = docs.map(_.replaceAll("\\b" + java.util.regex.Pattern.quote(pair) + "\\b",
            pair.replace(' ', '_')))
        }
      }
    }
    out.toSeq
  }

  private def trainOn(texts: Seq[String], rounds: Int): Seq[(Long, String, Long)] = {
    import spark.implicits._
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    BpeTrain(df, "doc_id", "text", rounds, safeRe).orderBy("merge_rank")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
  }

  test("batched training equals the sequential form on an interference corpus") {
    // adjacent chains: the top pair's neighbors rank right behind it,
    // so every rollup's batch must trim to one merge — the worst case
    // that must still be EXACTLY the 1-merge table
    val texts =
      Seq.fill(9)("a b c d e") ++ Seq.fill(7)("b c d") ++
        Seq.fill(5)("c d e a b") ++ Seq.fill(3)("e a")
    assert(trainOn(texts, 4) === seqReference(texts, 4))
  }

  test("batched training equals the sequential form on a disjoint-top corpus") {
    // pairwise-disjoint frequent pairs with distinct counts: one
    // rollup legitimately serves all rounds — and the table must still
    // match the sequential form row for row (ranks, pairs, counts)
    val texts =
      Seq.fill(10)("aa bb x cc dd y ee ff") ++ Seq.fill(4)("cc dd z") ++
        Seq.fill(2)("ee ff")
    assert(trainOn(texts, 3) === seqReference(texts, 3))
  }

  test("batched training halts like the sequential form on an unsafe winner") {
    // the most frequent pair carries punctuation (fails the guard):
    // training must stop merging and emit no rows from that point on
    val texts = Seq.fill(8)("x! y?") ++ Seq.fill(5)("p q") ++
      Seq.fill(3)("r s")
    assert(trainOn(texts, 3) === seqReference(texts, 3))
    assert(trainOn(texts, 3).isEmpty) // the unsafe pair was rank 1
  }

  test("cachedMerges reuses a trained table without retraining") {
    val dir = "bpe-suite-dir-" + System.nanoTime()
    val trained = BpeTrain(corpus, "doc_id", "text", 2, safeRe)
      .orderBy("merge_rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(BpeTrain.cachedMerges(corpus, dir, "doc_id", "text", 2,
      safeRe) == trained)
    // hand cachedMerges an EMPTY corpus under the same key: a memo hit
    // returns the trained table verbatim; a retrain would return Nil
    val empty = corpus.filter(lit(false))
    assert(BpeTrain.cachedMerges(empty, dir, "doc_id", "text", 2,
      safeRe) == trained)
    // a different dir is a miss — trains on what it was given
    assert(BpeTrain.cachedMerges(empty, dir + "-other", "doc_id", "text",
      2, safeRe).isEmpty)
  }
}
