package graft.tools

import graft.util.JobCount

/** Dev tool: print the formatted physical plan of registered queries
  * (`tools/run.sh graft.tools.ExplainQuery <name> [name...]`) — the
  * plan-audit loop every new operator goes through before its scale
  * note is written. Each query is built and collected twice; the line
  * after its header gives the jobs each build and collect started, the
  * first run paying any memo the query builds on, the second reading
  * it. The plan printed is the second build's.
  */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftExtensions.register(spark)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.01")
    args.foreach { q =>
      def run() = {
        val (df, build) =
          JobCount(spark)(graft.SparkEntry.queries(q)(spark, dir))
        val (_, collect) = JobCount(spark)(df.collect())
        (df, s"build=$build collect=$collect")
      }
      val (_, first) = run()
      val (df, second) = run()
      println(s"===== $q =====")
      println(s"jobs: first run $first; second run $second")
      df.explain("formatted")
    }
  }
}
