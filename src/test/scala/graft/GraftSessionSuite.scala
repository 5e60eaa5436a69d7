package graft

/** The test JVM runs under the production session settings, and the
  * stream runners whose operators need the RocksDB state store take it
  * from those settings instead of setting it around their own run.
  */
class GraftSessionSuite extends SparkSpec {

  private val providerKey = "spark.sql.streaming.stateStore.providerClass"

  test("the test session reads back every shared setting") {
    GraftSession.settings(SparkSpec.Cpus).foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, s"$k")
    }
  }

  Seq("stream_e2e_funnel", "stream_e2e_asof", "stream_e2e_meters",
    "stream_e2e_topk", "stream_e2e_cumvol", "stream_e2e_rolling",
    "stream_e2e_neardup").foreach { name =>
    test(s"$name returns rows and leaves the state store setting alone") {
      GraftExtensions.register(spark)
      val before = spark.conf.getOption(providerKey)
      val rows = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
        .count()
      assert(rows > 0)
      assert(spark.conf.getOption(providerKey) == before)
    }
  }
}
