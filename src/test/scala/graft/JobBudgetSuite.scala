package graft

import graft.queries.{GraphQueries, VectorQueries}
import graft.util.JobCount

/** Warm Spark-job budgets of the iterative rows. Each query is built
  * and collected once (its memos warm), then built and collected again
  * while a listener counts the jobs started; the count must stay within
  * the row's per-round shape. Each job costs tens of milliseconds of
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
}
