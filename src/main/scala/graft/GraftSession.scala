package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration every graft entry point runs under:
  * Verify, Bench, StreamBench, ScaleProbe, ExplainQuery and the test
  * JVM (`SparkSpec`) all build their session here, so a plan printed,
  * verified, benchmarked or tested runs under the same settings. `cpus`
  * is the per-entry-point deployment setting (`SPARK_GRAFT_CPUS`);
  * nothing else varies.
  */
object GraftSession {

  def settings(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    // events.ts has shipped as TIMESTAMP(NANOS) and TIMESTAMP_NTZ
    // across fixture regens; this flag serves the NANOS case and
    // Tables.normalizeTs handles every known encoding.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // parallelismFirst stays at Spark's DEFAULT (true). The closeout
    // flipped it to false on a "measured neutral" claim; re-measured
    // on window-heavy small-key queries it is NOT neutral — with
    // false, AQE coalesces a 3-group window shuffle to ONE partition
    // and serializes the per-group sorts (agg_winsorized_stats
    // 2.89 s vs 1.65 s at sf0.1, A/B-tested; scan-shaped queries
    // unchanged). At real scale partitions exceed the advisory size
    // either way, so the default costs nothing there. The round-5
    // profile attribution stands: the per-query floor is EXECUTION
    // (run2 0.10–0.26 s), not analysis (0.02–0.08 s).
    "spark.sql.adaptive.enabled" -> "true",
    // the state store is an engine setting, not a per-query one: the
    // tick pipeline's transformWithState operator requires RocksDB
    // (Pipelines.tickPipeline fails at plan build under any other)
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  def apply(cpus: Int): SparkSession =
    settings(cpus).foldLeft(SparkSession.builder()) { case (b, (k, v)) =>
      b.config(k, v)
    }.getOrCreate()
}
