package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.{GraphQueries, VectorQueries}
import graft.sink.LwwSink
import graft.streaming.Pipelines
import graft.util.JobCount

/** Warm Spark-job budgets of the iterative rows and of the sink. Each
  * query is built and collected once (its memos warm), then built and
  * collected again while a listener counts the jobs started; the count
  * must stay within the row's per-round shape. Each job costs tens of milliseconds of
  * driver time whatever its size, so a row that drifts back to a job
  * per broadcast or per exchange fails here before it shows up as time.
  */
class JobBudgetSuite extends SparkSpec {

  private val Fixture = "/root/testdata/sf0.001"

  private def warmJobs(q: String): Int = {
    SparkEntry.queries(q)(spark, Fixture).collect()
    JobCount(spark)(SparkEntry.queries(q)(spark, Fixture).collect())._2.started
  }

  test("emb_kcenter_init: one job per round plus the input pin") {
    val jobs = warmJobs("emb_kcenter_init")
    assert(jobs <= VectorQueries.KcenterK + 2, s"$jobs jobs")
  }

  test("ann_mmr_rerank: the greedy rounds run in one pass over the memo") {
    val jobs = warmJobs("ann_mmr_rerank")
    assert(jobs <= 2, s"$jobs jobs")
  }

  test("graph_mis_luby: three jobs per round") {
    // two pins (node state, message edges), each an exchange and a
    // write; per round two message exchanges and one pin; the collect
    val jobs = warmJobs("graph_mis_luby")
    assert(jobs <= 4 + 3 * GraphQueries.MisRounds + 1, s"$jobs jobs")
  }

  test("graph_pagerank: two jobs per round") {
    // two pins (edges with out-degree, node universe), each an exchange
    // and a write; per round one exchange and one pin; the collect
    val jobs = warmJobs("graph_pagerank")
    assert(jobs <= 4 + 2 * GraphQueries.Iters + 1, s"$jobs jobs")
  }

  /** A parsed, pinned book micro-batch: 40 symbols of ten levels on each
    * of topics t0 and t1 (800 rows a topic), every key at volume `v`. */
  private def books(v: Int) = {
    import spark.implicits._
    Pipelines.parseBooks((for (tp <- Seq("t0", "t1"); s <- 0 until 40) yield {
      val levels = (0 until 10).map(l =>
        s"""{"symbol": "${tp.toUpperCase}_$s", "price": ${1.0 + l}, "time": ${100 + l}, "volume": $v, "type": "BOOK_TYPE_BUY"}""")
      (tp, "BOOK", levels.mkString("[", ",", "]"))
    }).toDF("topic", "frameType", "payload")).persist()
  }

  /** Jobs of the sink work of the second of two book micro-batches
    * (everything after the quarantine write), as the book branch runs
    * it, and of one `upsertBatch` of the same rows into one table. */
  private lazy val bookSinkJobs: (Int, Int) = {
    val merged = Files.createTempDirectory("budget_books").toString
    val single = Files.createTempDirectory("budget_one").toString
    def clean(b: DataFrame) = b.filter(!col("_corrupt")).drop("topic", "payload", "_corrupt")
    (0 to 1).map { id =>
      val b = books(id)
      try {
        val topics = Pipelines.quarantineBooks(b, id.toLong, merged)
        assert(topics === Seq("t0", "t1"))
        val two = JobCount(spark)(Pipelines.upsertBooks(b, id.toLong, merged, topics))._2
        val one = JobCount(spark)(LwwSink.upsertBatch(clean(b), id.toLong, single,
          "t", "book", Seq("symbol", "time", "price")))._2
        (two.started, one.started)
      } finally b.unpersist()
    }.last
  }

  test("book micro-batch: all topics' upserts cost one table's job set") {
    // a loop of one upsert per topic started 16 jobs here, two job sets
    // plus the topic collect
    val (two, one) = bookSinkJobs
    assert(two <= one, s"two topics: $two jobs, one table: $one jobs")
  }

  test("one-table upsert: the tick path pays no job for the merge") {
    // the batch's keys collect (it also fills the pin), their broadcast
    // for the stored rows' anti-join, the bucket shuffle the dedup rides
    // and the write
    val (_, one) = bookSinkJobs
    assert(one <= 4, s"$one jobs")
  }
}
