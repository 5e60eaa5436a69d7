package graft.tools

/** Dev tool: print the formatted physical plan of registered queries
  * (`tools/run.sh graft.tools.ExplainQuery <name> [name...]`) — the
  * plan-audit loop every new operator goes through before its scale
  * note is written.
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
      println(s"===== $q =====")
      graft.SparkEntry.queries(q)(spark, dir).explain("formatted")
    }
  }
}
