package graft.tools

import graft.util.JobCount

/** Dev tool: print the formatted physical plan of registered queries
  * (`tools/run.sh graft.tools.ExplainQuery <name> [name...]`) — the
  * plan-audit loop every new operator goes through before its scale
  * note is written. Each query is built and collected twice; the lines
  * after its header give the jobs each build and collect started and
  * the milliseconds each took, the first run paying any memo the query
  * builds on, the second reading it. The plan printed is the second
  * run's AQE-final plan.
  */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftExtensions.register(spark)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.01")
    def timed[T](body: => T): (T, String) = {
      val t0 = System.nanoTime()
      val (v, jobs) = JobCount(spark)(body)
      (v, f"${jobs.started}%d jobs ${(System.nanoTime() - t0) / 1e6}%.0f ms")
    }
    args.foreach { q =>
      def run() = {
        val (df, build) = timed(graft.SparkEntry.queries(q)(spark, dir))
        val (_, collect) = timed(df.collect())
        (df, s"build $build, collect $collect")
      }
      val (_, first) = run()
      val (df, second) = run()
      println(s"===== $q =====")
      println(s"first run: $first")
      println(s"second run: $second")
      df.explain("formatted")
    }
  }
}
