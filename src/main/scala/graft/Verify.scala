package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet // optional query-name filter (dev runs)
    // fail fast on unknown names (the Bench/ScaleProbe discipline): a
    // typo'd filter would otherwise run zero queries and still print
    // "1/1 ok" — the silent-shrinkage shape the summary exists to catch
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"Verify: unknown queries ${unknown.mkString(", ")}")
    val spark = GraftSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(spark) // native fns + optimizer rewrites
    new java.io.File(outDir).mkdirs()
    var failed = List.empty[String]
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.nonEmpty && !only.contains(name)) ()
      else try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed ::= name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // One unmissable summary line: r7's fixture drift failed 28 queries
    // one at a time, and per-query stderr lines were easy to scroll
    // past while the driver silently omitted the absent rows. The
    // outage-shaped signal is the COUNT.
    val ran = if (only.nonEmpty) only.size else SparkEntry.queries.size
    if (failed.nonEmpty) System.err.println(
      s"[verify] SUMMARY: ${failed.size}/$ran FAILED — " +
        failed.sorted.mkString(", "))
    else System.err.println(s"[verify] SUMMARY: $ran/$ran ok")
    // Machine-readable failure channel (ADVICE r8): the stderr summary
    // is for humans; anything gating programmatically reads this file
    // — always written, `[]` on a clean run, so its ABSENCE also means
    // something (the dump never reached the summary). The exit code
    // stays 0 on partial failure deliberately: the driver's DuckDB
    // compare over the queries that DID dump is the round's
    // correctness signal, and a non-zero exit that aborted it would
    // convert one flaky query into a zeroed round.
    def q(s: String): String = graft.util.JsonStrings.quote(s)
    Files.writeString(Paths.get(s"$outDir/verify_failed.json"),
      failed.sorted.map(q).mkString("[", ",", "]"))
    // full JSON escape (control chars included) — a tab or CR in
    // builder-authored SQL would otherwise make the driver's json.load
    // fail and silently zero the round's correctness.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
