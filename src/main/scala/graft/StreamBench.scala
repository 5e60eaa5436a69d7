package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sink.LwwSink
import graft.source.Spooled

/** End-to-end streaming ingest throughput, one arm per dataflow, each
  * wall-clocked from stream start to drain over a spool drained several
  * files per micro-batch:
  *   - `socket`: loopback wire feeder → multipart frame decode → spool
  *     → the production tick assembly ([[graft.streaming.Pipelines
  *     .start]]: parse → keyed cumulative state → LWW sink). This is the
  *     number to put against BASELINE.md's reference throughput bound
  *     (~10³–10⁴ rows/s: fully serialized recv loop with one awaited
  *     CQL round-trip per row, the reference's main.rs:219-230);
  *   - `neardup`, `cdc`: the `stream_e2e_neardup` and `stream_e2e_cdc`
  *     dataflows ([[graft.streaming.LshBucketProcessor.pairs]],
  *     [[graft.queries.StreamE2EQueries.cdcLatest]]) at volume;
  *   - `hotkey`, `hotkey_asof`: 90%-one-symbol feeds through the cumvol
  *     and as-of state-store operators;
  *   - `recovery`: restart on a checkpoint → first committed batch.
  * Every arm runs through [[graft.source.Spooled]], and each arm whose
  * result is fully determined by its feed (socket, hotkey, cdc,
  * neardup's planted pairs) fails loudly on a short result.
  *
  * Measurement quality, the vocabulary of bench.json:
  *   - Bench's CPU calibration kernel sampled (median-of-3) before
  *     the first arm and after the last → `calib` + `host_factor`;
  *   - pinned per-arm reference RATES (`graft/stream_ref.tsv`,
  *     rate<TAB>rows_per_sec<TAB>slack): on a run the pins describe (see
  *     [[bandedRun]]), an arm whose rate falls below pin / (slack ×
  *     hf_guard) is RESAMPLED (≤2 fresh full re-runs, best rate kept —
  *     the estimand is the uncontended throughput) and, if still under,
  *     FLAGGED with the observed rate, the floor, and an
  *     immediately-taken kernel sample;
  *   - `promotable`: true iff the run is banded and every banded arm
  *     ended inside its floor with a live calibration channel.
  *
  * Output: one JSON line to stdout and to a file (first argument,
  * default `stream_bench.json`) — `{"metric":"stream_rows_per_sec",
  * "cpus":…,"socket":{…},…,"promotable":…}`.
  * Env: SPARK_GRAFT_STREAM_ROWS (default 200000), SPARK_GRAFT_STREAM_DOCS
  * (20000), SPARK_GRAFT_STREAM_KEYS (20000), SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_STREAM_ARMS (comma-subset of [[AllArms]] for isolation
  * runs — a filtered run emits only the chosen arms and records the
  * subset under "arms").
  */
object StreamBench {

  private[graft] val AllArms = Seq("socket", "neardup", "cdc", "hotkey",
    "hotkey_asof", "recovery")

  /** Arm → the name of the rate it is banded on; an arm absent here
    * (`recovery`, a latency) is unbanded.
    */
  private[graft] val BandedRates: Map[String, String] = Map(
    "socket" -> "socket", "neardup" -> "neardup", "cdc" -> "cdc",
    "hotkey" -> "hotkey_tws", "hotkey_asof" -> "hotkey_asof_tws")

  /** The feed sizes the pins were taken at: rows (socket, cdc, hot-key
    * arms), docs (neardup), keys (recovery).
    */
  private[graft] val DefaultRows = 200000
  private[graft] val DefaultDocs = 20000
  private[graft] val DefaultKeys = 20000

  /** Whether the pins describe this run: every arm, at the default
    * sizes. Only such a run resamples, flags, or can be promotable; a
    * filtered or resized run reports its numbers once, unjudged.
    */
  private[graft] def bandedRun(arms: Seq[String], rows: Int, docs: Int,
      keys: Int): Boolean =
    arms == AllArms && rows == DefaultRows && docs == DefaultDocs &&
      keys == DefaultKeys

  /** Pinned per-arm steady reference rates: rate name → (rows/s pin,
    * slack). Loaded from the classpath resource
    * `graft/stream_ref.tsv` (see its header for provenance and the
    * per-arm slack rationale). Missing resource ⇒ empty map ⇒ no arm
    * is ever banded (disclosed via ref_tsv.sha256 = "").
    */
  private[graft] lazy val RefRates: Map[String, (Double, Double)] = {
    val in = getClass.getResourceAsStream("/graft/stream_ref.tsv")
    if (in == null) Map.empty
    else try {
      scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .flatMap { l =>
          l.split('\t') match {
            case Array(n, p, s) =>
              scala.util.Try(n -> ((p.toDouble, s.toDouble))).toOption
            case _ => None
          }
        }.toMap
    } finally in.close()
  }

  /** SHA-256 of the stream_ref.tsv resource (band provenance, the
    * bench_ref.tsv discipline): "" when the resource is absent.
    */
  private[graft] lazy val RefTsvSha: String = {
    val in = getClass.getResourceAsStream("/graft/stream_ref.tsv")
    if (in == null) ""
    else try {
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(in.readAllBytes()).map("%02x".format(_)).mkString
    } finally in.close()
  }

  /** The floor a rate must reach: pin / (slack × hf_guard). A slow host
    * (hf_guard > 1) lowers the floor proportionally, exactly as Bench
    * widens its seconds band; a guard below 1 never tightens it.
    */
  private def floorOf(pin: (Double, Double), hfGuard: Double): Double =
    pin._1 / (pin._2 * math.max(1.0, hfGuard))

  /** Under-band test for a RATE (higher is better — the mirror of
    * Bench.overBand's seconds test); an unpinned rate never flags.
    */
  private[graft] def underRate(rate: Double, pin: Option[(Double, Double)],
      hfGuard: Double): Boolean =
    pin.exists(p => rate < floorOf(p, hfGuard))

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val nRows = sys.env.get("SPARK_GRAFT_STREAM_ROWS").fold(DefaultRows)(_.toInt)
    val nDocs = sys.env.get("SPARK_GRAFT_STREAM_DOCS").fold(DefaultDocs)(_.toInt)
    val nKeys = sys.env.get("SPARK_GRAFT_STREAM_KEYS").fold(DefaultKeys)(_.toInt)
    // optional arm subset for isolation runs (the SPARK_GRAFT_ONLY
    // pattern, fail-fast on typos)
    val armsFilter = sys.env.get("SPARK_GRAFT_STREAM_ARMS")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    armsFilter.foreach { s =>
      val unknown = s.diff(AllArms.toSet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_STREAM_ARMS: unknown arms ${unknown.mkString(", ")}")
    }
    def enabled(a: String): Boolean = armsFilter.forall(_(a))
    val arms = AllArms.filter(enabled)
    val banded = bandedRun(arms, nRows, nDocs, nKeys)
    val spark = GraftSession(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")

    // Warm the calibration kernel's codegen once, then sample; the
    // quiet floor only ever ratchets DOWN (Bench's spike discipline:
    // a transient spike must never widen the band).
    try Bench.calibrate(spark) catch { case _: Throwable => () }
    val calibStart =
      try Bench.calibrate(spark) catch { case _: Throwable => -1.0 }
    var quietCalib = math.max(calibStart, 0.0)
    def hfGuard: Double =
      if (quietCalib > 0.0) math.max(1.0, quietCalib / Bench.RefCalibSec)
      else 1.0
    // rate name → (best rate, floor at flag time, samples, calib)
    val flagged = scala.collection.mutable.LinkedHashMap
      .empty[String, (Double, Double, Int, Double)]
    val resampledArms =
      scala.collection.mutable.LinkedHashMap.empty[String, Int]
    /** Run one arm. On a banded run, while the arm's rate reads under
      * its floor, re-run the WHOLE arm (≤2 extra samples, each on fresh
      * spool/sink/checkpoint dirs) and keep the faster sample. A
      * still-under rate is flagged with an immediately-taken kernel
      * sample — the disclosure a reader sees without NOTES.
      */
    def measureArm[T](arm: String)(run: => T)(rateOf: T => Double): T = {
      val rateName = BandedRates(arm)
      val pin = RefRates.get(rateName).filter(_ => banded)
      var best = run
      var extra = 0
      def under = underRate(rateOf(best), pin, hfGuard)
      while (under && extra < 2) {
        extra += 1
        System.err.println(f"[sbench] $arm under band (${rateOf(best)}%.1f" +
          f"<${floorOf(pin.get, hfGuard)}%.1f) — resample $extra")
        val next = run
        if (rateOf(next) > rateOf(best)) best = next
      }
      if (extra > 0) resampledArms += arm -> (1 + extra)
      if (under) {
        // immediate kernel sample: was the host busy RIGHT THEN? (it
        // can also lower the quiet floor, never raise it)
        val c = try Bench.calibOnce(spark) catch { case _: Throwable => -1.0 }
        if (c > 0.0)
          quietCalib = if (quietCalib > 0.0) math.min(quietCalib, c) else c
        val (r, f) = (rateOf(best), floorOf(pin.get, hfGuard))
        flagged += rateName -> ((r, f, 1 + extra, c))
        System.err.println(f"[sbench] FLAGGED $rateName%s rate=$r%.1f " +
          f"floor=$f%.1f samples=${1 + extra}%d calib=$c%.3f")
      }
      best
    }

    // JVM warm-up pass (codegen, parquet reader, state store) on a small
    // feed so the measured runs time the pipeline, not class loading.
    // Every other arm warms inside its own branch the same way.
    if (enabled("socket") || enabled("recovery")) socketRun(spark, 5000)

    // transport:socket — the production tick assembly fed through the
    // wire path. Wall-clock covers pump start → drain end, so the
    // number includes frame decode + spool sealing.
    val sock = Option.when(enabled("socket")) {
      measureArm("socket")(socketRun(spark, nRows))(r => r._1 / r._2)
    }

    // near-dup ingest: docs/sec is the corpus ingest rate WITH
    // incremental LSH dedup running, the number a crawl pipeline sizes
    // against. A small warm pass pays the signature-kernel codegen +
    // transformWithState class loading outside the measured run.
    val nd = Option.when(enabled("neardup")) {
      neardupRun(spark, 1000)
      measureArm("neardup")(neardupRun(spark, nDocs))(r => nDocs / r._2)
    }

    // CDC apply: ops/sec is the changelog apply rate WITH keyed state
    // running — the number a CDC ingest sizes against.
    val cdc = Option.when(enabled("cdc")) {
      cdcRun(spark, 5000)
      measureArm("cdc")(cdcRun(spark, nRows))(r => nRows / r._2)
    }

    // Hot-key arms: the serialization ceiling one hot key imposes on a
    // state partition, for the cumvol and the as-of enrichment.
    val hk = Option.when(enabled("hotkey")) {
      hotkeyRun(spark, 10000)
      measureArm("hotkey")(hotkeyRun(spark, nRows))(r => r._2 / r._1)
    }
    val hka = Option.when(enabled("hotkey_asof")) {
      hotkeyAsofRun(spark, 10000)
      measureArm("hotkey_asof")(hotkeyAsofRun(spark, nRows))(r => r._2 / r._1)
    }

    // Recovery latency: latency + state-size dependent, so deliberately
    // UNBANDED (disclosed in `unbanded`); its scaling study lives in
    // artifacts/r*/recovery_scaling.json.
    val rec = Option.when(enabled("recovery"))(recoveryRun(spark, nKeys))

    val calibEnd =
      try Bench.calibrate(spark) catch { case _: Throwable => -1.0 }
    if (calibEnd > 0.0)
      quietCalib =
        if (quietCalib > 0.0) math.min(quietCalib, calibEnd) else calibEnd
    val hostFactor =
      if (calibStart > 0.0 && calibEnd > 0.0)
        (calibStart + calibEnd) / 2.0 / Bench.RefCalibSec
      else -1.0
    // runs whose calib probe died are never promotable either
    val promotable = banded && flagged.isEmpty && quietCalib > 0.0
    def r1(v: Double): Double = math.rint(v * 10) / 10
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    parts += s""""cpus":$cpus"""
    sock.foreach { case (sRows, sSec, wireSec) =>
      parts += f""""socket":{"rows_per_sec":${sRows / sSec}%.1f,"rows":$sRows,"sec":$sSec%.3f,"wire_sec":$wireSec%.3f}"""
    }
    nd.foreach { case (dPairs, dSec) =>
      parts += f""""neardup":{"docs_per_sec":${nDocs / dSec}%.1f,"docs":$nDocs,"pairs":$dPairs,"sec":$dSec%.3f}"""
    }
    cdc.foreach { case (cdcKeys, cdcSec) =>
      parts += f""""cdc":{"ops_per_sec":${nRows / cdcSec}%.1f,"ops":$nRows,"live_keys":$cdcKeys,"sec":$cdcSec%.3f}"""
    }
    hk.foreach { case (hkSec, hkRows) =>
      parts += f""""hotkey":{"rows":$hkRows,"tws_sec":$hkSec%.3f,"tws_rows_per_sec":${hkRows / hkSec}%.1f}"""
    }
    hka.foreach { case (haSec, haRows) =>
      parts += f""""hotkey_asof":{"rows":$haRows,"tws_sec":$haSec%.3f,"tws_rows_per_sec":${haRows / haSec}%.1f}"""
    }
    rec.foreach { case (recKeys, recStateRows, recFirstBatch, recDrain) =>
      parts += f""""recovery":{"keys":$recKeys,"state_rows":$recStateRows,""" +
        f""""first_batch_sec":$recFirstBatch%.3f,"drain_sec":$recDrain%.3f}"""
    }
    val fj = flagged.map { case (k, (r, f, n, c)) =>
      s""""$k":{"rate":${r1(r)},"floor":${r1(f)},"n":$n,"calib":${r3(c)}}"""
    }.mkString("{", ",", "}")
    val rj = resampledArms.map { case (k, n) => s""""$k":$n""" }
      .mkString("{", ",", "}")
    def strs(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    parts += s""""calib":[${r3(calibStart)},${r3(calibEnd)}]"""
    parts += s""""host_factor":${r3(hostFactor)}"""
    parts += s""""hf_guard":${r3(hfGuard)}"""
    parts += s""""promotable":$promotable"""
    parts += s""""flagged":$fj"""
    parts += s""""resampled":$rj"""
    parts += s""""unbanded":${strs(AllArms.filterNot(BandedRates.contains))}"""
    parts += s""""arms":${strs(arms)}"""
    parts += s""""ref_tsv":{"sha256":"$RefTsvSha"}"""
    val json =
      s"""{"metric":"stream_rows_per_sec",${parts.mkString(",")}}"""
    val outFile = args.headOption.getOrElse("stream_bench.json")
    try Files.writeString(Paths.get(outFile), json + "\n")
    catch { case _: Throwable => () }
    println(json)
    spark.stop()
  }

  /** Fail the arm when its sink holds fewer (or more) rows than its feed
    * determines: a short result must never read as a fast timing.
    */
  private def expectLanded(arm: String, landed: Long, want: Long): Unit =
    if (landed != want)
      throw new IllegalStateException(
        s"StreamBench $arm: landed $landed rows, the feed determines $want")

  /** Recovery-latency run: crash/failover recovery SPEED. Phase 1 builds
    * state — `nKeys` symbols × 4 rows each through the production
    * assembly ([[graft.streaming.Pipelines.start]], transformWithState +
    * RocksDB per the session conf) — drains and STOPS, leaving the
    * checkpoint holding per-symbol cumvol state. Phase 2 appends one
    * small spool file and restarts the assembly on the SAME
    * checkpoint, measuring
    *   - first_batch_sec: restart call → the tick query's first
    *     committed batch with input rows (listener-latched): covers
    *     offset/commit-log reads, RocksDB state restore, and one
    *     micro-batch — what a failover actually waits for;
    *   - drain_sec: restart → all available data processed, both
    *     queries (tick + dead-letter) stopped.
    * Returns (keys, state rows from the engine's own last progress,
    * first_batch_sec, drain_sec).
    */
  private[graft] def recoveryRun(spark: SparkSession,
      nKeys: Int): (Long, Long, Double, Double) = {
    val t0 = 1687176000L
    val lines = spark.range(nKeys.toLong * 4).select(concat(
      lit("""{"topic": "feed", "frameType": "TICK", "payload": {"symbol": "R"""),
      (col("id") % nKeys).cast("string"),
      lit("""", "bid": 1.0, "price": 1.1, "ask": 1.2, "time": """),
      (lit(t0) + (col("id") / nKeys).cast("long")).cast("string"),
      lit(""", "volume": """), (col("id") % 50 + 1).cast("string"),
      lit(""", "type": """"),
      when(col("id") % 2 === 0, "B").otherwise("S"),
      lit(""""}}""")).as("value"))
    val sp = Spooled(spark, lines, "graft_sbench_rec")
    // phase 1: build + checkpoint the keyed state, stop cleanly
    val qs1 = sp.drainPipeline("tick")
    val stateRows = qs1.flatMap(q => Option(q.lastProgress))
      .flatMap(_.stateOperators.map(_.numRowsTotal)).sum
    // phase 2: one small new file (fresh ticks for 256 existing keys),
    // restart on the same checkpoint, latch the first committed batch
    val extra = (0 until 256).map { i =>
      s"""{"topic": "feed", "frameType": "TICK", "payload": """ +
        s"""{"symbol": "R${i % nKeys}", "bid": 1.0, "price": 1.1, """ +
        s""""ask": 1.2, "time": ${t0 + 100 + i}, "volume": 1, """ +
        s""""type": "B"}}"""
    }
    sp.append(extra: _*)
    val tickName = s"graft_tick:${sp.sinkRoot}"
    // phase-1 runIds, known BEFORE the latch listener registers (no
    // race against phase-2 startup): excluded in the match below
    val phase1Runs = qs1.map(_.runId.toString).toSet
    // the listener bus is async: a phase-1 progress event (same query
    // name, numInputRows > 0) still queued at registration time would
    // be delivered to the fresh listener and latch firstNs before — or
    // just after — tStart, a negative/spuriously tiny first_batch_sec.
    // Drain the bus first, the discipline every other meter-reading
    // path already follows; the runId exclusion is the second layer.
    org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
    val firstNs = new java.util.concurrent.atomic.AtomicLong(0L)
    val latch = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.name == tickName && e.progress.numInputRows > 0 &&
            !phase1Runs(e.progress.runId.toString) &&
            firstNs.compareAndSet(0L, System.nanoTime()))
          latch.countDown()
    }
    spark.streams.addListener(listener)
    try {
      val tStart = System.nanoTime()
      sp.drainPipeline("tick")
      val drainSec = (System.nanoTime() - tStart) / 1e9
      // the listener bus is async: the commit we drained for may not
      // have reached the latch yet. Awaited OUTSIDE the timed region —
      // a dropped listener event must surface as first_batch_sec = -1,
      // never as 60 silent seconds folded into drain_sec
      latch.await(60, java.util.concurrent.TimeUnit.SECONDS)
      val firstSec =
        if (firstNs.get() == 0L) -1.0 else (firstNs.get() - tStart) / 1e9
      (nKeys.toLong, stateRows, firstSec, drainSec)
    } finally spark.streams.removeListener(listener)
  }

  /** Near-dup ingest run: doc envelopes (every 10th doc repeats one of
    * 37 shared texts, the rest unique — buckets actually fill) drained
    * through [[graft.streaming.LshBucketProcessor.pairs]] into the pair
    * sink, 3 of 10 spool files per micro-batch so bucket state is
    * exercised ACROSS batches, as at ingest. Fails unless every pair of
    * identical planted texts landed. Returns (distinct pairs landed,
    * sec).
    */
  private[graft] def neardupRun(spark: SparkSession,
      nDocs: Int): (Long, Double) = {
    val lines = spark.range(nDocs).select(concat(
      lit("""{"topic": "docs", "frameType": "DOC", "payload": {"doc_id": """),
      col("id").cast("string"),
      lit(""", "text": """"),
      // token laws chosen so UNIQUE docs share zero shingles (the id
      // rides in every token) and dup groups are disjoint — otherwise
      // shared filler tokens give all "unique" pairs J≈0.45 and LSH
      // (correctly) explodes them into millions of candidate pairs:
      // the measured number would be a worst-case pair storm, not
      // corpus ingest
      when(col("id") % 10 === 0,
        concat(lit("g"), (col("id") % 37).cast("string"),
          lit("a g"), (col("id") % 37).cast("string"),
          lit("b g"), (col("id") % 37).cast("string"),
          lit("c g"), (col("id") % 37).cast("string"),
          lit("d g"), (col("id") % 37).cast("string"), lit("e")))
        .otherwise(
          concat(lit("u"), col("id").cast("string"),
            lit("a u"), col("id").cast("string"),
            lit("b u"), col("id").cast("string"),
            lit("c u"), col("id").cast("string"),
            lit("d u"), col("id").cast("string"), lit("e"))),
      lit(""""}}""")).as("value"))
    val sp = Spooled(spark, lines, "graft_sbench_nd", Some(10), Some(3))
    val tStart = System.nanoTime()
    sp.drain(graft.streaming.LshBucketProcessor.pairs(sp.env), "update",
      "docs", "nd", Seq("doc_a", "doc_b"))
    val sec = (System.nanoTime() - tStart) / 1e9
    val landed = LwwSink.read(spark, sp.sinkRoot, "docs", "nd")
      .select("doc_a", "doc_b")
    // the planted duplicates: docs id ≡ 0 (mod 10) sharing id mod 37
    val planted = spark.range(0, nDocs, 10)
      .select(col("id").as("doc"), (col("id") % 37).as("g"))
    val missing = planted.as("a").join(planted.as("b"),
        col("a.g") === col("b.g") && col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .except(landed).count()
    if (missing > 0)
      throw new IllegalStateException(
        s"StreamBench neardup: $missing planted duplicate pairs did not land")
    (landed.count(), sec)
  }

  /** Hot-key run: 90% of rows on symbol HOT (the rest over 50 cold
    * symbols), strictly increasing times, through the tick pipeline's
    * cumvol enrichment into an LwwSink keyed (symbol, time, price).
    * Every row is unique on that key, so every row must land.
    * Returns (sec, rows landed).
    */
  private[graft] def hotkeyRun(spark: SparkSession,
      nRows: Int): (Double, Long) = {
    val t0 = 1687176000L
    val lines = spark.range(nRows).select(concat(
      lit("""{"topic": "feed", "frameType": "TICK", "payload": {"symbol": """"),
      when(col("id") % 10 < 9, lit("HOT"))
        .otherwise(concat(lit("C"), (col("id") % 50).cast("string"))),
      lit("""", "bid": 1.0, "price": 1.1, "ask": 1.2, "time": """),
      (lit(t0) + col("id")).cast("string"),
      lit(""", "volume": """), (col("id") % 50 + 1).cast("string"),
      lit(""", "type": """"),
      when(col("id") % 2 === 0, "B").otherwise("S"),
      lit(""""}}""")).as("value"))
    val sp = Spooled(spark, lines, "graft_sbench_hk", Some(10), Some(3))
    val t = System.nanoTime()
    sp.drain(graft.streaming.Pipelines.tickPipeline(sp.env).toDF(),
      "append", "feed", "tick", Seq("symbol", "time", "price"))
    val sec = (System.nanoTime() - t) / 1e9
    val rows = LwwSink.read(spark, sp.sinkRoot, "feed", "tick").count()
    expectLanded("hotkey", rows, nRows)
    (sec, rows)
  }

  /** Hot-key AS-OF run: the [[hotkeyRun]] feed shape with every 3rd row
    * a quote ("Q") and the rest trades, through
    * [[graft.streaming.AsofEnrichProcessor]] into an LwwSink keyed
    * (symbol, time). Returns (sec, enriched trade rows landed).
    */
  private[graft] def hotkeyAsofRun(spark: SparkSession,
      nRows: Int): (Double, Long) = {
    val t0 = 1687176000L
    val lines = spark.range(nRows).select(concat(
      lit("""{"topic": "feed", "frameType": "TICK", "payload": {"symbol": """"),
      when(col("id") % 10 < 9, lit("HOT"))
        .otherwise(concat(lit("C"), (col("id") % 50).cast("string"))),
      lit("""", "bid": 1.0, "price": """),
      (col("id") % 97 + 1).cast("string"),
      lit(""", "ask": 1.2, "time": """),
      (lit(t0) + col("id")).cast("string"),
      lit(""", "volume": 1, "type": """"),
      when(col("id") % 3 === 0, "Q")
        .when(col("id") % 2 === 0, "B").otherwise("S"),
      lit(""""}}""")).as("value"))
    val sp = Spooled(spark, lines, "graft_sbench_hka", Some(10), Some(3))
    val t = System.nanoTime()
    sp.drain(graft.streaming.AsofEnrichProcessor.enrich(sp.env).toDF(),
      "append", "feed", "asof", Seq("symbol", "time"))
    val sec = (System.nanoTime() - t) / 1e9
    (sec, LwwSink.read(spark, sp.sinkRoot, "feed", "asof").count())
  }

  /** Keys live after `nOps` CDC ops: key k's last op is id ≡ k (mod
    * 1000), a tombstone exactly when k ≡ 9 (mod 10).
    */
  private[graft] def cdcLiveKeys(nOps: Int): Long =
    (0 until math.min(nOps, 1000)).count(_ % 10 != 9).toLong

  /** CDC-apply run: tick envelopes whose type field carries I/U/D ops
    * (10% inserts, 10% tombstones, 80% updates over 1000 keys —
    * genuine update-storm shape: each key sees ~ops/1000 revisions)
    * drained through the stream_e2e_cdc argmax into the LWW register
    * table. Fails unless exactly [[cdcLiveKeys]] keys stay live.
    * Returns (live keys after tombstone purge, sec).
    */
  private[graft] def cdcRun(spark: SparkSession,
      nOps: Int): (Long, Double) = {
    val t0 = 1687176000L
    val lines = spark.range(nOps).select(concat(
      lit("""{"topic": "feed", "frameType": "TICK", "payload": {"symbol": "K"""),
      (col("id") % 1000).cast("string"),
      lit("""", "bid": 1.0, "price": 1.1, "ask": 1.2, "time": """),
      (lit(t0) + col("id")).cast("string"),
      lit(""", "volume": 1, "type": """"),
      when(col("id") % 10 === 0, "I")
        .when(col("id") % 10 === 9, "D").otherwise("U"),
      lit(""""}}""")).as("value"))
    val sp = Spooled(spark, lines, "graft_sbench_cdc", Some(10), Some(3))
    val tStart = System.nanoTime()
    sp.drain(graft.queries.StreamE2EQueries.cdcLatest(sp.env), "update",
      "feed", "cdc", Seq("symbol"))
    val sec = (System.nanoTime() - tStart) / 1e9
    val live = LwwSink.read(spark, sp.sinkRoot, "feed", "cdc")
      .filter(col("op") =!= "D").count()
    expectLanded("cdc", live, cdcLiveKeys(nOps))
    (live, sec)
  }

  /** Wire-path run: loopback ServerSocket feeder → multipart frame
    * decode → spool → the production tick assembly. Returns (rows
    * landed, total sec, wire-only sec). The pump is single-threaded like
    * the reference's recv loop, so wire_sec is the serialized ingest
    * bound and the spool is what decouples it from the query side. A
    * feeder that dies fails the arm; every fed row is unique on the
    * sink key, so every row must land.
    */
  private[graft] def socketRun(spark: SparkSession,
      nRows: Int): (Long, Double, Double) = {
    import java.net.{InetAddress, ServerSocket}
    val server = new ServerSocket(0, 1, InetAddress.getLoopbackAddress)
    try {
      val feedError =
        new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val feeder = new Thread(() => try {
        val s = server.accept()
        try {
          val out = new java.io.DataOutputStream(
            new java.io.BufferedOutputStream(s.getOutputStream, 1 << 16))
          val t0 = 1687176000L
          var id = 0
          while (id < nRows) {
            val payload =
              s"""{"symbol": "SYM${id % 100}", "bid": 1.0, "price": 1.1, """ +
                s""""ask": 1.2, "time": ${t0 + id / 100}, """ +
                s""""volume": ${id % 50 + 1}, "type": "${if (id % 2 == 0) "B" else "S"}"}"""
            graft.source.MultipartFrames.writeMessage(out, Seq(
              "feed".getBytes, "TICK".getBytes, payload.getBytes))
            id += 1
          }
          out.flush()
        } finally s.close()
      } catch { case t: Throwable => feedError.set(t) })
      feeder.setDaemon(true)
      feeder.start()
      val work = Spooled.workDir("graft_sbench_socket")
      val spool = work.resolve("spool")
      Files.createDirectories(spool)
      val tStart = System.nanoTime()
      graft.source.SpoolTransportAdapter.pump(
        "127.0.0.1", server.getLocalPort, spool.toString,
        messagesPerFile = math.max(1, nRows / 10))
      val wireSec = (System.nanoTime() - tStart) / 1e9
      feeder.join()
      Option(feedError.get()).foreach { t =>
        throw new IllegalStateException("StreamBench socket: feeder failed", t)
      }
      val sp = Spooled.at(spark, work, spool.toString, Some(3))
      sp.drainPipeline("tick")
      val rows = LwwSink.read(spark, sp.sinkRoot, "feed", "tick").count()
      val sec = (System.nanoTime() - tStart) / 1e9
      expectLanded("socket", rows, nRows)
      (rows, sec, wireSec)
    } finally server.close()
  }
}
