package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  *
  * {{{
  * perfbench.Main --workload ingest|query_mix
  *   --seed N --seconds S --trace 0|1 --work DIR --out FILE [--tables DIR]
  * }}}
  *
  * Writes the run's raw readings to `--out` and, when traced, its spans
  * next to it (`<out>.spans.json`). `perfbench/run.py` turns them into
  * the benchmark's metrics.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = new Trace(opts("trace") == "1")
    val work = Paths.get(opts("work")).toAbsolutePath
    val out = Paths.get(opts("out")).toAbsolutePath
    Files.createDirectories(work)
    val cpus = Runtime.getRuntime.availableProcessors()
    // the session settings StreamBench's pipeline arm uses (RocksDB state
    // store, transformWithState cumvol), plus the fixture-read setting
    // Bench and Verify use; every scratch path stays under --work
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.graft.cumvol.tws", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    val code = try {
      spark.sparkContext.setLogLevel("ERROR")
      graft.GraftExtensions.register(spark)
      val sessionS = Jvm.sinceStartS
      val result = workload match {
        case "ingest" => Ingest.run(spark, seed, seconds, trace, work, sessionS)
        case "query_mix" =>
          QueryMix.run(spark, seed, seconds, trace, work, opts("tables"), sessionS)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      Json.writeFile(out, result)
      if (trace.enabled)
        Json.writeFile(Paths.get(s"$out.spans.json"), trace.toJson)
      0
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    } finally spark.stop()
    System.exit(code)
  }
}
