package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters

import graft.SparkEntry
import graft.util.SessionCache

/** The analytics surface: 16 fixed queries from `SparkEntry.queries`,
  * each built and executed through `queryExecution.toRdd`. One cold mix
  * (after `SessionCache.evictAllForCold()`, and the first execution of
  * most queries in the process) is followed by warm mixes until the
  * run's time is up.
  */
object QueryMix {
  val Names: Seq[String] = Seq(
    // reference shapes
    "tick_cumvol", "lww_dedup", "book_depth_topn", "asof_quote_trade",
    "symbol_timerange_scan",
    // relational
    "q1_pricing_summary", "q18_large_orders", "window_rank_topn",
    // heavy rows
    "graph_two_hop_reach_sketch", "graph_mis_luby", "graph_pagerank",
    "dedup_minhash_pairs", "dedup_cluster_survivors", "text_pii_redact",
    "ann_mmr_rerank", "emb_kcenter_init")

  /** Minimum number of warm mixes in a run. */
  val MinWarmMixes = 1

  def run(spark: SparkSession, seed: Long, seconds: Int, trace: Trace,
      work: Path, tables: String, sessionS: Double): Json.Obj = {
    val tasks = new TaskLog
    spark.sparkContext.addSparkListener(tasks)

    // each query's answer from its latest execution
    val lastResult = mutable.Map.empty[String,
      (org.apache.spark.sql.types.StructType, Array[org.apache.spark.sql.catalyst.InternalRow])]

    /** Build, plan and execute one query; one per-query row. */
    def exec(name: String, mode: String, rep: Int, parent: String): Json.Obj = {
      val fn = SparkEntry.queries(name)
      val tag = s"q:$name:$mode:$rep"
      val tr = s"$name/$mode/$rep"
      val id = s"$tr:query"
      val s0 = Clock.ms
      val (df, b1, p1, out) = TaskLog.tag(spark, tag) {
        trace.span(id, "query", "query", parent, tr) {
          val df = trace.span(s"$tr:build", "query.build", "query", id, tr)(fn(spark, tables))
          val b1 = Clock.ms
          trace.span(s"$tr:plan", "query.plan", "query", id, tr)(df.queryExecution.executedPlan)
          val p1 = Clock.ms
          // the rows come back for the oracle compare; they are small next
          // to each query's work, so this is Bench's toRdd execution
          val out = trace.span(s"$tr:exec", "query.exec", "query", id, tr) {
            df.queryExecution.toRdd.map(_.copy()).collect()
          }
          (df, b1, p1, out)
        }
      }
      val e1 = Clock.ms
      lastResult(name) = (df.schema, out)
      val phases = df.queryExecution.tracker.phases
      def phase(k: String) = phases.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      Json.obj("query" -> name, "mode" -> mode, "rep" -> rep, "tag" -> tag,
        "start_ms" -> s0, "end_ms" -> e1, "trace" -> tr,
        "total_ms" -> (e1 - s0), "build_ms" -> (b1 - s0),
        "analysis_ms" -> phase("analysis"),
        "optimization_ms" -> phase("optimization"),
        "planning_ms" -> phase("planning"),
        "exec_ms" -> (e1 - p1), "rows" -> out.length)
    }

    // --- set-up: three cold executions of the first query, each after a
    // cache eviction
    val setupReps = (0 until 3).map { r =>
      SessionCache.evictAllForCold()
      val s0 = Clock.ms
      exec(Names.head, "setup", r, "setup")
      (Clock.ms - s0) / 1000
    }
    val failures = mutable.Map.empty[String, String]

    // --- measured mixes
    Jvm.resetHeapPeak()
    val gc0 = Jvm.gcMs
    val t0 = Clock.ms
    val deadline = t0 + seconds * 1000.0
    val rows = mutable.ArrayBuffer.empty[Json.Obj]
    val mixMs = mutable.ArrayBuffer.empty[(String, Double)]
    def mix(mode: String, rep: Int): Unit = {
      if (mode == "cold") SessionCache.evictAllForCold()
      val m0 = Clock.ms
      val mixId = s"mix/$mode/$rep"
      Names.foreach { n =>
        try rows += exec(n, mode, rep, mixId)
        catch { case e: Throwable =>
          failures(s"$n/$mode/$rep") = s"${e.getClass.getSimpleName}: ${e.getMessage}"
        }
      }
      val m1 = Clock.ms
      trace.add(Span(mixId, s"mix.$mode", "wait", m0, m1, "run", mixId))
      mixMs += mode -> (m1 - m0)
    }
    mix("cold", 0)
    var rep = 0
    while (rep < MinWarmMixes || Clock.ms < deadline) {
      mix("warm", rep)
      rep += 1
    }
    val tEnd = Clock.ms
    trace.add(Span("run", "run", "wait", t0, tEnd, null, "run"))
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val gcMs = Jvm.gcMs - gc0
    val heapMb = Jvm.heapPeakMb
    val rssMb = Jvm.peakRssMb

    // --- results for the oracle compare (untimed): each query's answer
    // from the last warm mix, the state a long-lived session serves from
    val results = work.resolve("results")
    lastResult.foreach { case (n, (schema, out)) =>
      val conv = CatalystTypeConverters.createToScalaConverter(schema)
      spark.createDataFrame(out.toSeq.map(r => conv(r).asInstanceOf[Row]).asJava, schema)
        .coalesce(1).write.mode("overwrite").parquet(results.resolve(n).toString)
    }
    val oracle = SparkEntry.oracleSql
    Json.writeFile(results.resolve("oracle_sql.json"),
      Json.Obj(Names.flatMap(n => oracle.get(n).map(n -> _))))

    // task-level columns and the job spans under each execution
    val full = rows.map { r =>
      val f = r.fields.toMap
      val st = tasks.take(f("tag").asInstanceOf[String])
      val tr = f("trace").asInstanceOf[String]
      // overlapping jobs merge into one busy span, charged to the phase
      // (build, plan or exec) in which it started
      val b1 = f("start_ms").asInstanceOf[Double] + f("build_ms").asInstanceOf[Double]
      val p1 = f("end_ms").asInstanceOf[Double] - f("exec_ms").asInstanceOf[Double]
      TaskLog.merged(st.intervals.toSeq).zipWithIndex.foreach { case ((s, e), i) =>
        val phase = if (s < b1) "build" else if (s < p1) "plan" else "exec"
        trace.add(Span(s"$tr:jobs$i", "jobs", "query.jobs", s, e, s"$tr:$phase", tr))
      }
      val busy = st.busyMs
      Json.Obj(r.fields ++ Seq(
        "driver_floor_ms" -> (f("total_ms").asInstanceOf[Double] - busy),
        "jobs" -> st.jobs, "stages" -> st.stages, "tasks" -> st.tasks,
        "executor_cpu_ms" -> st.cpuNs / 1e6, "executor_run_ms" -> st.runMs,
        "shuffle_read_bytes" -> st.shuffleRead,
        "shuffle_write_bytes" -> st.shuffleWrite, "spill_bytes" -> st.spill))
    }
    spark.sparkContext.removeSparkListener(tasks)

    Json.obj(
      "workload" -> "query_mix",
      "seed" -> seed,
      "trace" -> trace.enabled,
      "session_s" -> sessionS,
      "setup_reps_s" -> setupReps,
      "setup_s" -> (sessionS + setupReps.sorted.apply(setupReps.size / 2)),
      "results_dir" -> results.toString,
      "queries" -> full.toSeq,
      "mix_ms" -> mixMs.map { case (m, v) => Json.obj("mode" -> m, "ms" -> v) }.toSeq,
      "attempted" -> (rows.size + failures.size),
      "failed" -> failures.size,
      "failures" -> failures.toMap,
      "wall_ms" -> (tEnd - t0),
      "peak_rss_mb" -> rssMb,
      "layers" -> Map("jvm.gc_ms" -> gcMs.toDouble, "jvm.heap_used_mb" -> heapMb))
  }
}
