package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.{CumVol, LwwDedup}
import graft.sink.LwwSink
import graft.source.EnvelopeSourceProvider
import graft.streaming.{PipelineMeters, Pipelines}

/** The ingest workload, in two phases that each drive one pipeline of
  * `Pipelines.start`:
  *
  *  - tick: a TICK-only feed, Zipf-skewed over 20k symbols across several
  *    UTC days with about 1% malformed payloads; keyed cumvol state does
  *    most of the work;
  *  - book: multi-level BOOK ladders over two topics, half the messages
  *    re-sending existing primary keys, in small micro-batches.
  *
  * Set-up starts each pipeline on a first spool file and stops it once
  * that file is committed. Each measured phase restarts its pipeline on
  * the same checkpoint and drains a pre-sealed backlog; the book phase
  * then takes an open-loop feed, one spool file per tick of the
  * generator's schedule. Then, with both pipelines stopped, a closed loop
  * runs the reference's range query over the book tables the phases left.
  */
object Ingest {

  /** Input sizes of one phase, in spool lines: ticks, or BOOK messages of
    * about [[BookLevels]] levels each.
    */
  final case class Phase(kind: String, backlogFiles: Int,
      maxFilesPerTrigger: Int, backlogLines: Int, onlineShare: Double,
      onlineFilesPerSec: Double, onlineLines: Int, firstLines: Int)

  // `onlineShare` is the share of the run's seconds given to the phase's
  // open-loop feed. The tick phase has none: the wait for its last commit
  // alone would cost several seconds of every run.
  val TickPhase = Phase("tick", backlogFiles = 16, maxFilesPerTrigger = 8,
    backlogLines = 500, onlineShare = 0, onlineFilesPerSec = 10, onlineLines = 20,
    firstLines = 200)
  val BookPhase = Phase("book", backlogFiles = 8, maxFilesPerTrigger = 4,
    backlogLines = 40, onlineShare = 0.4, onlineFilesPerSec = 1, onlineLines = 10,
    firstLines = 8)

  // 2024-01-01T20:00:00Z: the tick clock crosses UTC midnights
  val T0 = 1704139200L
  val TickSymbols = 20000
  val TickStepSec = 4L
  val Topics = Seq("t0", "t1")
  val BookSymbolsPerTopic = 40
  val BookLevels = 10
  val ReadWindowSec = 300L
  val ReadLimit = 50
  /** Share of the run's seconds given to the read loop. Its first third
    * warms the read path, whose latency keeps falling for several seconds
    * as the JIT compiles it; those reads are checked, not timed. The rest
    * is timed and takes at least [[MinReads]] reads, the samples the
    * end-to-end tail needs.
    */
  val ReadShare = 0.8
  val MinReads = 40
  /** Reads run during set-up so the timed ones find the read path compiled. */
  val WarmUpReads = 20
  val Keys = Seq("symbol", "time", "price")
  private val TimeoutMs = 120000.0

  /** The phase's feed; the first BOOK messages carry every topic, so each
    * topic's table exists once the set-up's micro-batch commits.
    */
  private def feed(kind: String, seed: Long): () => Line =
    if (kind == "tick") {
      val f = new TickFeed(seed, TickSymbols, T0, TickStepSec, 0.01)
      () => f.next()
    } else {
      val f = new BookFeed(seed ^ 0x600dL, Topics, BookSymbolsPerTopic,
        BookLevels, 0.5, 0.01, T0, 1)
      val first = mutable.Queue(Topics.map(f.next(_)): _*)
      () => if (first.nonEmpty) first.dequeue() else f.next()
    }

  /** The queries `Pipelines.start` names, the sink query first. */
  private def names(kind: String, sinkRoot: String): Seq[String] =
    if (kind == "tick") Seq(s"graft_tick:$sinkRoot", s"graft_tick_dl:$sinkRoot")
    else Seq(s"graft_book:$sinkRoot")

  /** Layer timings collected by the traced pipeline replica. */
  private final class Traced {
    val materializeMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val upsertMs = mutable.ArrayBuffer.empty[Double]
    var rowsUpserted = 0L
    var bucketsRewritten = 0L
    // (phase, batch id) → foreachBatch body interval
    val addBatch = new ConcurrentHashMap[(String, Long), (Double, Double)]()
  }

  private def bucketFiles(table: Path): Map[String, Set[String]] =
    if (!Files.isDirectory(table)) Map.empty
    else graft.util.Fs.list(table)
      .filter(_.getFileName.toString.startsWith("kb="))
      .map(d => d.getFileName.toString ->
        graft.util.Fs.list(d).map(_.getFileName.toString).toSet).toMap

  /** `LwwSink.upsertBatch`, timed, with the buckets it rewrote counted. */
  private def tracedUpsert(spark: SparkSession, trace: Trace, t: Traced,
      batch: DataFrame, id: Long, sinkRoot: String, topic: String,
      kind: String, parent: String, tr: String): Double = {
    val table = Paths.get(LwwSink.tablePath(sinkRoot, topic, kind))
    val before = bucketFiles(table)
    val t0 = Clock.ms
    trace.span(trace.nextId(s"$tr:upsert"), s"upsert:$topic", "sink", parent, tr) {
      TaskLog.tag(spark, "sink") {
        LwwSink.upsertBatch(batch, id, sinkRoot, topic, kind, Keys)
      }
    }
    val after = bucketFiles(table)
    t.bucketsRewritten += after.count { case (k, fs) => !before.get(k).contains(fs) }
    Clock.ms - t0
  }

  /** Start a phase's pipeline. Untraced, this is `Pipelines.start` itself.
    * Traced, it is a replica of the same assembly (the public
    * `tickPipeline`/`parseTicks`/`parseBooks` transforms, the same query
    * names, checkpoints and sink calls) whose `foreachBatch` bodies time
    * the materialised batch and each `LwwSink.upsertBatch` separately.
    */
  private def start(spark: SparkSession, ph: Phase, spool: String,
      root: Path, trace: Trace, t: Traced): Seq[StreamingQuery] = {
    val sinkRoot = root.resolve("sink").toString
    val ckpt = root.resolve("ckpt").toString
    val env = spark.readStream
      .format(classOf[EnvelopeSourceProvider].getName)
      .option("path", spool)
      .option("maxFilesPerTrigger", ph.maxFilesPerTrigger.toString)
      .load()
    if (!trace.enabled) return Pipelines.start(env, ph.kind, sinkRoot, ckpt)
    val qn = names(ph.kind, sinkRoot)
    def quarantine(b: DataFrame, id: Long, kind: String): Unit =
      TaskLog.tag(spark, "deadletter") {
        b.write.mode("overwrite").parquet(s"$sinkRoot/_deadletter/kind=$kind/batch=$id")
      }
    def timed(id: Long)(f: (String, String) => Unit): Unit = {
      val tr = s"${ph.kind}:b$id"
      val s0 = Clock.ms
      f(s"$tr:addBatch", tr)
      t.addBatch.put((ph.kind, id), (s0, Clock.ms))
    }
    def materialize(df: DataFrame, layer: String, parent: String, tr: String): Long = {
      val m0 = Clock.ms
      val n = trace.span(trace.nextId(s"$tr:materialize"), "materialize", layer,
        parent, tr) { TaskLog.tag(spark, layer)(df.count()) }
      t.materializeMs.getOrElseUpdate(layer, mutable.ArrayBuffer.empty) += Clock.ms - m0
      n
    }
    if (ph.kind == "tick") {
      val tick = Pipelines.tickPipeline(env).toDF()
        .writeStream.outputMode("append").queryName(qn(0))
        .option("checkpointLocation", s"$ckpt/tick")
        .foreachBatch { (batch: Dataset[Row], id: Long) =>
          timed(id) { (parent, tr) =>
            val p = batch.toDF().persist()
            try {
              t.rowsUpserted += materialize(p, "state", parent, tr)
              t.upsertMs += tracedUpsert(spark, trace, t, p, id, sinkRoot,
                "feed", "tick", parent, tr)
            } finally p.unpersist()
          }
        }.start()
      val dl = Pipelines.parseTicks(env).filter(col("_corrupt"))
        .select(col("topic"), col("payload"))
        .writeStream.outputMode("append").queryName(qn(1))
        .option("checkpointLocation", s"$ckpt/tick_dl")
        .foreachBatch { (batch: Dataset[Row], id: Long) =>
          quarantine(batch.toDF(), id, "TICK")
        }.start()
      Seq(tick, dl)
    } else {
      val book = Pipelines.parseBooks(env)
        .observe("graft_books",
          count(lit(1)).as("rows"),
          count(when(col("_corrupt"), lit(1))).as("corrupt"))
        .writeStream.outputMode("append").queryName(qn(0))
        .option("checkpointLocation", s"$ckpt/book")
        .foreachBatch { (batch: Dataset[Row], id: Long) =>
          timed(id) { (parent, tr) =>
            val b = batch.toDF().persist()
            try {
              materialize(b, "parse", parent, tr)
              trace.span(trace.nextId(s"$tr:quarantine"), "quarantine", "sink",
                parent, tr) {
                quarantine(b.filter(col("_corrupt"))
                  .select(col("topic"), col("payload")), id, "BOOK")
              }
              val clean = b.filter(!col("_corrupt"))
              val topics = clean.select("topic").distinct()
                .collect().map(_.getString(0)).sorted
              var ms = 0.0
              topics.foreach { tp =>
                val rows = clean.filter(col("topic") === tp)
                  .drop("topic", "payload", "_corrupt")
                t.rowsUpserted += rows.count()
                ms += tracedUpsert(spark, trace, t, rows, id, sinkRoot, tp,
                  "book", parent, tr)
              }
              t.upsertMs += ms
            } finally b.unpersist()
          }
        }.start()
      Seq(book)
    }
  }

  /** Closed-loop reader of the reference query over the book tables. */
  private final class Reader(spark: SparkSession, sinkRoot: String,
      seed: Long, maxTime: Long, trace: Trace) {
    val latMs = mutable.ArrayBuffer.empty[Double]
    val planMs = mutable.ArrayBuffer.empty[Double]
    val execMs = mutable.ArrayBuffer.empty[Double]
    val filesRead = mutable.ArrayBuffer.empty[Double]
    val errors = mutable.Map.empty[String, Int]
    var attempted = 0
    var failed = 0
    var wrong = 0
    var firstWrong = ""

    private val zipf = new Zipf(BookSymbolsPerTopic, 1.0)

    /** A read target: topic, symbol and time range. */
    private def target(rng: SplittableRandom): (String, String, Long, Long) = {
      val topic = Topics(rng.nextInt(Topics.size))
      val sym = f"${topic.toUpperCase}%s_${zipf.sample(rng)}%03d"
      val hi = T0 + rng.nextLong(maxTime - T0 + 1)
      (topic, sym, hi - ReadWindowSec, hi)
    }

    private def query(topic: String, sym: String, lo: Long, hi: Long): DataFrame =
      LwwSink.read(spark, sinkRoot, topic, "book")
        .filter(col("symbol") === sym && col("time").between(lo, hi))
        .orderBy(col("time").desc, col("price").asc)
        .limit(ReadLimit)
        .select("symbol", "time", "price")

    /** Untimed reads that compile and warm the read path (set-up). */
    def warmUp(n: Int): Unit = {
      val rng = new SplittableRandom(~seed)
      (0 until n).foreach { _ =>
        val (topic, sym, lo, hi) = target(rng)
        query(topic, sym, lo, hi).collect()
      }
    }

    /** Reads until `untilMs` on [[Clock]]; those that start after
      * `warmUntilMs` are timed, and at least [[MinReads]] of them are made.
      */
    def loop(warmUntilMs: Double, untilMs: Double): Unit = {
      val rng = new SplittableRandom(seed)
      val t0 = Clock.ms
      var timed = 0
      while (Clock.ms < untilMs || timed < MinReads) {
        attempted += 1
        val warm = Clock.ms < warmUntilMs
        if (!warm) timed += 1
        val (topic, sym, lo, hi) = target(rng)
        val tr = s"read$attempted"
        val id = s"$tr:read"
        val s0 = Clock.ms
        try {
          val rows = trace.span(id, "read", "read", "reads", tr) {
            val df = trace.span(s"$tr:plan", "read.plan", "read", id, tr) {
              val d = query(topic, sym, lo, hi)
              if (trace.enabled) {
                d.queryExecution.executedPlan
                filesRead += d.inputFiles.length
              }
              d
            }
            val e0 = Clock.ms
            val r = trace.span(s"$tr:exec", "read.exec", "read", id, tr)(df.collect())
            planMs += e0 - s0
            execMs += Clock.ms - e0
            r
          }
          val lat = Clock.ms - s0
          Checks.readViolation(
            rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq,
            sym, lo, hi, ReadLimit) match {
            case None => if (!warm) latMs += lat
            case Some(v) =>
              failed += 1; wrong += 1
              if (firstWrong.isEmpty) firstWrong = s"$topic/$sym [$lo,$hi]: $v"
          }
        } catch {
          // counted, never retried: a read that fails is not a fast read
          case e: Throwable =>
            failed += 1
            val k = rootCause(e).getClass.getSimpleName
            errors(k) = errors.getOrElse(k, 0) + 1
        }
      }
      trace.add(Span("reads", "reads", "wait", t0, Clock.ms, null, "reads"))
    }
  }

  private def rootCause(e: Throwable): Throwable = {
    var c = e
    while (c.getCause != null && c.getCause != c) c = c.getCause
    c
  }

  private def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** A phase's generated inputs: spool file 0 (set-up), the backlog, and
    * the online files (more than the phase can use; it takes what fits).
    */
  private final case class Inputs(ph: Phase, spool: Path, root: Path,
      first: Seq[Line], backlog: Seq[Seq[Line]], online: Seq[Seq[Line]]) {
    def sinkRoot: String = root.resolve("sink").toString
    def queries: Seq[String] = names(ph.kind, sinkRoot)
  }

  /** Readings of one measured phase, on [[Clock]]. */
  private final case class PhaseRun(in: Inputs, t0: Double, drainEnd: Double,
      tEnd: Double, nOnline: Int, due: Seq[Double], emitted: Seq[Double],
      freshness: Seq[Double]) {
    def lines: Seq[Line] = (in.first +: (in.backlog ++ in.online.take(nOnline))).flatten
  }

  def run(spark: SparkSession, seed: Long, seconds: Int, trace: Trace,
      work: Path, sessionS: Double): Json.Obj = {
    import spark.implicits._
    // --- inputs (not part of set-up time)
    val g0 = Clock.ms
    val inputs = Seq(TickPhase, BookPhase).map { ph =>
      val next = feed(ph.kind, seed)
      val in = Inputs(ph, work.resolve(s"${ph.kind}/spool"), work.resolve(s"${ph.kind}/run"),
        Seq.fill(ph.firstLines)(next()),
        Seq.fill(ph.backlogFiles)(Seq.fill(ph.backlogLines)(next())),
        Seq.fill(math.ceil(seconds * ph.onlineShare * ph.onlineFilesPerSec).toInt)(
          Seq.fill(ph.onlineLines)(next())))
      Spool.write(in.spool, 0, in.first)
      in
    }
    val Seq(tickIn, bookIn) = inputs
    val genS = (Clock.ms - g0) / 1000
    val maxTime = (bookIn.first ++ (bookIn.backlog ++ bookIn.online).flatten)
      .flatMap(_.levels.map(_.time)).max

    // --- set-up: start each pipeline and drain its first spool file, then
    // warm the read path; set-up time is their sum. One start per pipeline:
    // a cold start costs about 10 s, and a median of several would not fit
    // the benchmark's time budget
    val meters = PipelineMeters.register(spark)
    val setupReps = inputs.map { in =>
      val s0 = Clock.ms
      val qs = start(spark, in.ph, in.spool.toString, in.root, new Trace(false), new Traced)
      try qs.foreach(_.processAllAvailable()) finally qs.foreach(_.stop())
      (Clock.ms - s0) / 1000
    }
    val reader = new Reader(spark, bookIn.sinkRoot, seed ^ 0x5eedL, maxTime, trace)
    val w0 = Clock.ms
    reader.warmUp(WarmUpReads)
    val warmUpS = (Clock.ms - w0) / 1000
    inputs.foreach(in => in.backlog.zipWithIndex.foreach { case (ls, i) =>
      Spool.write(in.spool, 1 + i, ls) })

    // --- measured phases: each restarts its pipeline on its checkpoint
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val tasks = new TaskLog
    spark.sparkContext.addSparkListener(tasks)
    val traced = new Traced
    Jvm.resetHeapPeak()
    val gc0 = Jvm.gcMs
    val tStart = Clock.ms
    def runPhase(in: Inputs, onlineMs: Double): PhaseRun = {
      val kind = in.ph.kind
      val t0 = Clock.ms
      val qs = start(spark, in.ph, in.spool.toString, in.root, trace, traced)
      def stopAll(): Unit = qs.foreach(_.stop())
      val lastBacklog = Spool.name(in.backlog.size)
      val drainEnd = try in.queries.map(n => progress.await(n, lastBacklog, qs, TimeoutMs)).max
        catch { case e: Throwable => stopAll(); throw e }
      val tOn = Clock.ms
      val n = math.min(in.online.size,
        math.round(onlineMs / 1000 * in.ph.onlineFilesPerSec).toInt)
      val due = new Array[Double](n)
      val emitted = new Array[Double](n)
      var genError: Throwable = null
      val gen = new Thread(() => {
        val period = 1000.0 / in.ph.onlineFilesPerSec
        try (0 until n).foreach { k =>
          due(k) = tOn + k * period
          val wait = due(k) - Clock.ms
          if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
          trace.span(s"gen:$kind:$k", "gen.write", "gen", s"gen:$kind", s"gen:$kind:$k") {
            Spool.write(in.spool, 1 + in.backlog.size + k, in.online(k))
          }
          emitted(k) = Clock.ms
        } catch { case e: Throwable => genError = e }
      }, "perfbench-generator")
      val last = Spool.name(in.backlog.size + n)
      val tEnd = try {
        gen.start()
        gen.join()
        if (genError != null) throw genError
        in.queries.map(q => progress.await(q, last, qs, TimeoutMs)).max
      } finally stopAll()
      if (n > 0)
        trace.add(Span(s"gen:$kind", s"gen:$kind", "wait", tOn, tEnd, null, s"gen:$kind"))
      val fresh = (0 until n).map(k =>
        progress.committedAt(in.queries.head, Spool.name(1 + in.backlog.size + k)).get - due(k))
      PhaseRun(in, t0, drainEnd, tEnd, n, due.toSeq, emitted.toSeq, fresh)
    }
    val runs = inputs.map(in => runPhase(in, seconds * 1000.0 * in.ph.onlineShare))
    val Seq(tickRun, bookRun) = runs
    // reads run once no pipeline writes: a read beside an LwwSink bucket
    // swap on its table can fail (see README, known defect), and a failure
    // that comes and goes with thread timing makes the run's count unsteady
    val r0 = Clock.ms
    reader.loop(r0 + seconds * 1000.0 * ReadShare / 3, r0 + seconds * 1000.0 * ReadShare)
    val tReadEnd = Clock.ms
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val gcMs = Jvm.gcMs - gc0
    val heapMb = Jvm.heapPeakMb
    val rssMb = Jvm.peakRssMb // before the checks collect rows

    // --- per-batch stream readings of the two sink queries
    def dur(p: Progress, k: String): Double = p.durations.getOrElse(k, 0L).toDouble
    def sinkBatches(r: PhaseRun) =
      progress.forQuery(r.in.queries.head).filter(_.inputRows > 0)
    val batches = runs.flatMap(sinkBatches)
    val tickBatches = sinkBatches(tickRun)
    if (trace.enabled) runs.foreach { r =>
      // one root per phase: its sink query's batches run in turn
      val q = r.in.ph.kind
      trace.add(Span(q, q, "wait", r.t0, r.tEnd, null, q))
      sinkBatches(r).foreach { p =>
        val tr = s"$q:b${p.batchId}"
        val (s, e) = (p.arrival - dur(p, "triggerExecution"), p.arrival)
        trace.add(Span(s"$tr:batch", "batch", "stream", s, e, q, tr))
        val (ab0, ab1) = Option(traced.addBatch.get((q, p.batchId)))
          .getOrElse((s, s + dur(p, "addBatch")))
        // the engine reports these phases as durations; they run in this
        // order before and after the foreachBatch body
        var cur = ab0
        Seq("queryPlanning" -> "stream", "getBatch" -> "source",
            "walCommit" -> "stream", "latestOffset" -> "source").foreach {
          case (k, layer) =>
            trace.add(Span(s"$tr:$k", k, layer, cur - dur(p, k), cur, s"$tr:batch", tr))
            cur -= dur(p, k)
        }
        trace.add(Span(s"$tr:addBatch", "addBatch", "stream", ab0, ab1, s"$tr:batch", tr))
        trace.add(Span(s"$tr:commitOffsets", "commitOffsets", "stream", ab1,
          ab1 + dur(p, "commitOffsets"), s"$tr:batch", tr))
      }
    }

    // --- output checks (untimed)
    val checks = mutable.ArrayBuffer.empty[Check]
    def deadLetters(r: PhaseRun, kind: String) =
      spark.read.parquet(s"${r.in.sinkRoot}/_deadletter").filter(col("kind") === kind).count()
    checks += Checks.sameCount("TICK dead letters = corrupt ticks injected",
      tickRun.lines.map(_.corrupt).sum, deadLetters(tickRun, "TICK"))
    checks += Checks.sameCount("BOOK dead letters = corrupt levels injected",
      bookRun.lines.map(_.corrupt).sum, deadLetters(bookRun, "BOOK"))
    val tickCols = Seq("symbol", "bid", "price", "ask", "time", "volume",
      "tradeType", "cumbuy", "cumsell", "cumdelta").map(col)
    def tickRows(df: DataFrame) = df.select(tickCols: _*)
      .as[(String, Double, Double, Double, Long, Int, String, Long, Long, Long)]
      .collect().toSeq
    val tickOracle = LwwDedup(
      CumVol(tickRun.lines.flatMap(_.ticks).toDF()
          .withColumn("ts", timestamp_seconds(col("time"))),
        col("symbol"), col("ts"), col("price"), col("tradeType"), col("volume")),
      Keys.map(col), Seq(col("time")))
    val tickSink = tickRows(LwwSink.read(spark, tickIn.sinkRoot, "feed", "tick"))
    checks += Checks.sameRows("tick sink = CumVol + LwwDedup oracle",
      tickRows(tickOracle), tickSink)
    checks += Checks.sameCount("PipelineMeters on_time = tick sink rows",
      tickSink.size, meters(tickIn.queries.head).onTime)
    val bookCols = Seq("symbol", "price", "time", "volume", "orderType").map(col)
    val bookOracle = LwwDedup(bookRun.lines.flatMap(_.levels).toDF(),
        Seq("topic", "symbol", "time", "price").map(col), Seq(col("seq")))
      .select((col("topic") +: bookCols): _*)
      .as[(String, String, Double, Long, Int, String)].collect().toSeq
    val bookSink = Topics.flatMap(tp =>
      LwwSink.read(spark, bookIn.sinkRoot, tp, "book").select(bookCols: _*)
        .as[(String, Double, Long, Int, String)].collect()
        .map { case (s, p, t, v, o) => (tp, s, p, t, v, o) })
    checks += Checks.sameRows("book sinks = LwwDedup oracle", bookOracle, bookSink)
    checks += Check("reads in symbol, range, order and limit", reader.wrong == 0,
      if (reader.wrong == 0) s"${reader.attempted - reader.failed} reads checked"
      else s"${reader.wrong} wrong reads, first: ${reader.firstWrong}")
    spark.streams.removeListener(progress)
    spark.streams.removeListener(meters)
    spark.sparkContext.removeSparkListener(tasks)

    // --- per-layer readings (traced run); source and parse rates come from
    // timed batch reads of the same spools
    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (trace.enabled) {
      def envOf(in: Inputs) = spark.read.format(classOf[EnvelopeSourceProvider].getName)
        .option("path", in.spool.toString).load()
      val r0 = Clock.ms
      val nEnv = inputs.map(envOf(_).count()).sum
      val srcS = (Clock.ms - r0) / 1000
      val p0 = Clock.ms
      val parsed = Seq(Pipelines.parseTicks(envOf(tickIn)), Pipelines.parseBooks(envOf(bookIn)))
        .map(_.agg(count(lit(1)), count(when(col("_corrupt"), lit(1)))).collect().head)
      val parseS = (Clock.ms - p0) / 1000
      val sinkStats = tasks.take("sink")
      val files = (Seq((tickIn, "feed", "tick")) ++ Topics.map((bookIn, _, "book"))).map {
        case (in, tp, k) => graft.util.Fs.walk(Paths.get(LwwSink.tablePath(in.sinkRoot, tp, k)))
          .count(_.toString.endsWith(".parquet"))
      }.sum
      layers ++= Seq(
        "source.read_rows_per_s" -> nEnv / srcS,
        "source.latest_offset_ms" -> mean(batches.map(dur(_, "latestOffset"))),
        "source.get_batch_ms" -> mean(batches.map(dur(_, "getBatch"))),
        "stream.batches" -> batches.size.toDouble,
        "stream.rows_per_batch" -> mean(batches.map(_.inputRows.toDouble)),
        "stream.query_planning_ms" -> mean(batches.map(dur(_, "queryPlanning"))),
        "stream.wal_commit_ms" -> mean(batches.map(dur(_, "walCommit"))),
        "stream.commit_offsets_ms" -> mean(batches.map(dur(_, "commitOffsets"))),
        "stream.trigger_ms" -> mean(batches.map(dur(_, "triggerExecution"))),
        "parse.rows_per_s" -> parsed.map(_.getLong(0)).sum / parseS,
        "parse.corrupt_rows" -> parsed.map(_.getLong(1)).sum.toDouble,
        "state.enrich_ms" -> mean(traced.materializeMs.getOrElse("state", Nil)),
        "state.rows_total" -> tickBatches.lastOption.map(_.stateRowsTotal.toDouble).getOrElse(0.0),
        "state.rows_updated" -> tickBatches.map(_.stateRowsUpdated.toDouble).sum,
        "state.memory_bytes" -> tickBatches.lastOption.map(_.stateMemoryBytes.toDouble).getOrElse(0.0),
        "state.commit_ms" -> mean(tickBatches.map(_.stateCommitMs.toDouble)),
        "sink.upsert_ms" -> mean(traced.upsertMs),
        "sink.buckets_rewritten" -> traced.bucketsRewritten.toDouble,
        "sink.bytes_written" -> sinkStats.bytesWritten.toDouble,
        "sink.write_amp" -> sinkStats.recordsWritten.toDouble / math.max(1L, traced.rowsUpserted),
        "sink.files" -> files.toDouble,
        "sink.table_rows" -> (tickSink.size + bookSink.size).toDouble,
        "read.plan_ms" -> mean(reader.planMs),
        "read.exec_ms" -> mean(reader.execMs),
        "read.files_read" -> mean(reader.filesRead),
        "read.failed" -> reader.failed.toDouble,
        "jvm.gc_ms" -> gcMs.toDouble,
        "jvm.heap_used_mb" -> heapMb,
        "gen.rows_offered" -> runs.flatMap(r => r.in.online.take(r.nOnline).flatten)
          .map(l => l.ticks.size + l.levels.size + l.corrupt).sum.toDouble)
    }

    val files = runs.map(r => 1 + r.in.backlog.size + r.nOnline).sum
    // a wrong sink fails every ingested file: none of them is a fast success
    val sinkOk = checks.filterNot(_.name.startsWith("reads")).forall(_.ok)
    Json.obj(
      "workload" -> "ingest",
      "seed" -> seed,
      "trace" -> trace.enabled,
      "session_s" -> sessionS,
      "setup_reps_s" -> setupReps,
      "read_warm_up_s" -> warmUpS,
      "setup_s" -> (sessionS + setupReps.sum + warmUpS),
      "gen_s" -> genS,
      // both backlogs, each drained by its restarted pipeline
      "batch_s" -> runs.map(r => r.drainEnd - r.t0).sum / 1000,
      "drain_s" -> runs.map(r => r.in.ph.kind -> (r.drainEnd - r.t0) / 1000).toMap,
      "backlog_rows" -> runs.map(_.in.backlog.flatten.map(l => l.ticks.size + l.levels.size).sum).sum,
      "op" -> "read",
      "op_ms" -> reader.latMs.toSeq,
      "freshness_ms" -> runs.map(r => r.in.ph.kind -> r.freshness).toMap,
      "due_ms" -> runs.flatMap(_.due),
      "emitted_ms" -> runs.flatMap(_.emitted),
      "attempted" -> (files + reader.attempted),
      "failed" -> ((if (sinkOk) 0 else files) + reader.failed),
      "correct" -> checks.forall(_.ok),
      "checks" -> checks.map(_.toJson).toSeq,
      "read_errors" -> reader.errors.toMap,
      "wall_ms" -> (tReadEnd - tStart),
      "peak_rss_mb" -> rssMb,
      "layers" -> layers)
  }
}
