package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.{BucketingUtils, FilePartition}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{LongType, StringType}

import graft.ops.LwwDedup
import graft.sink.LwwSink
import graft.streaming.Pipelines
import graft.util.Fs

/** Emulated Cassandra keyed-upsert sink: LWW by PK across micro-batches,
  * idempotent under batch re-delivery (SURVEY §2.5 K4, §2.6).
  */
class LwwSinkSuite extends SparkSpec {
  import spark.implicits._

  private def rows(v: Int*) =
    v.map(i => ("EURUSD", 100L, 1.08, i)).toDF("symbol", "time", "price", "volume")

  test("later batch overwrites same PK; distinct PKs accumulate") {
    val root = Files.createTempDirectory("lww").toString
    val pk = Seq("symbol", "time", "price")
    LwwSink.upsertBatch(rows(10), 0L, root, "feed", "tick", pk)
    LwwSink.upsertBatch(rows(20), 1L, root, "feed", "tick", pk)
    LwwSink.upsertBatch(
      Seq(("EURUSD", 200L, 1.09, 30)).toDF("symbol", "time", "price", "volume"),
      2L, root, "feed", "tick", pk)
    val out = LwwSink.read(spark, root, "feed", "tick")
      .collect().map(r => (r.getLong(1), r.getInt(3))).sortBy(_._1)
    assert(out === Seq((100L, 20), (200L, 30)))
    // an empty first batch creates the table, which reads as empty
    LwwSink.upsertBatch(rows(), 0L, root, "feed", "empty", pk)
    assert(LwwSink.read(spark, root, "feed", "empty").collect().isEmpty)
    LwwSink.upsertBatch(rows(5), 1L, root, "feed", "empty", pk)
    assert(LwwSink.read(spark, root, "feed", "empty").collect().map(_.getInt(3)).toSeq === Seq(5))
  }

  /** Create `table` empty, with bucket count `nb`, for batches shaped like
    * `batch`: the manifest an upsert would publish for a new table. */
  private def create(table: String, batch: DataFrame, nb: Int): Unit =
    LwwSink.publish(table, LwwSink.Manifest(0L, "symbol", nb,
      batch.schema.add("_batch_id", LongType), Map.empty))

  test("a read resolved before an upsert returns its snapshot after the upsert") {
    val root = Files.createTempDirectory("lww_snap").toString
    val pk = Seq("symbol", "time", "price")
    def batch(v: Int) = (0 until 60).map(i => (s"SYM$i", 100L, 1.0, v))
      .toDF("symbol", "time", "price", "volume")
    LwwSink.upsertBatch(batch(1), 0L, root, "feed", "tick", pk)
    val snap = LwwSink.read(spark, root, "feed", "tick")
    // rewrites every key, so every bucket gets a new generation, and the
    // upsert's cleanup runs before the earlier read collects
    LwwSink.upsertBatch(batch(2), 1L, root, "feed", "tick", pk)
    assert(snap.collect().map(_.getInt(3)).toSet === Set(1))
    assert(snap.count() === 60)
    assert(LwwSink.read(spark, root, "feed", "tick").collect().map(_.getInt(3)).toSet === Set(2))
  }

  test("readers beside a writer never fail and always see a published version") {
    val root = Files.createTempDirectory("lww_rw").toString
    val pk = Seq("symbol", "time", "price")
    // batch i adds 20 keys and rewrites the 20 of every earlier batch, so
    // each upsert supersedes the buckets a running read may have listed
    def batch(i: Int) = (for (j <- 0 until 20; t <- 0 to i) yield (s"SYM$j", t.toLong, 1.0, i))
      .toDF("symbol", "time", "price", "volume")
    val writes = 8
    val published = (1 to writes).map(20L * _).toSet
    LwwSink.upsertBatch(batch(0), 0L, root, "feed", "tick", pk)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]
    val go = new java.util.concurrent.CountDownLatch(1)
    def thread(body: => Unit) = {
      val t = new Thread(() => { go.await(); body })
      t.start(); t
    }
    def guarded(body: => Unit): Unit = try body catch { case e: Throwable => failures.add(e) }
    val writer = thread((1 until writes).foreach { i =>
      guarded(LwwSink.upsertBatch(batch(i), i.toLong, root, "feed", "tick", pk))
    })
    val readers = (0 until 2).map(_ => thread((0 until 15).foreach { _ =>
      guarded(seen.add(LwwSink.read(spark, root, "feed", "tick").collect().length.toLong))
    }))
    go.countDown()
    (writer +: readers).foreach(_.join())
    import scala.jdk.CollectionConverters._
    assert(failures.isEmpty, failures.asScala.mkString("\n"))
    assert(seen.size === 30)
    assert(seen.asScala.forall(published.contains), seen.asScala.toSeq.distinct.sorted)
    assert(LwwSink.read(spark, root, "feed", "tick").count() === 20L * writes)
  }

  test("a batch rewrites only the buckets its keys hash into") {
    val root = Files.createTempDirectory("lww4").toString
    val pk = Seq("symbol", "time", "price")
    // many symbols spread the table across buckets
    val wide = (0 until 200)
      .map(i => (s"SYM$i", 100L, 1.0 + i, i))
      .toDF("symbol", "time", "price", "volume")
    LwwSink.upsertBatch(wide, 0L, root, "feed", "tick", pk)
    val table = java.nio.file.Paths.get(LwwSink.tablePath(root, "feed", "tick"))
    import scala.jdk.CollectionConverters._
    def mtimes = java.nio.file.Files.list(table).iterator().asScala
      .filter(_.getFileName.toString.startsWith("kb="))
      .map(p => p.getFileName.toString ->
        java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
    val before = mtimes
    assert(before.size > 4, "fixture must span several buckets")
    // one-symbol batch: exactly one bucket dir may change
    LwwSink.upsertBatch(
      Seq(("SYM7", 100L, 999.0, 99)).toDF("symbol", "time", "price", "volume"),
      1L, root, "feed", "tick", pk)
    val after = mtimes
    val changed = after.keySet.filter(k => before.get(k) != after.get(k))
    assert(changed.size === 1,
      s"narrow batch must touch one bucket, touched: $changed")
    assert(LwwSink.read(spark, root, "feed", "tick").count() === 201)
  }

  test("safeSeg is injective: distinct wire topics never share a table dir") {
    import graft.sink.LwwSink.safeSeg
    // regression: per-char variable-width hex encoded both of these to
    // "%2540" — two topics silently merged into one LWW table
    assert(safeSeg("%40") !== safeSeg("╀"))
    // decode inverts encode ⇒ injective. Decoder: %XX → byte, else the
    // (ASCII) char's byte, then UTF-8.
    def decode(enc: String): String = {
      if (enc == "%EMPTY") return ""
      val bytes = scala.collection.mutable.ArrayBuffer.empty[Byte]
      var i = 0
      while (i < enc.length) {
        if (enc(i) == '%') {
          bytes += Integer.parseInt(enc.substring(i + 1, i + 3), 16).toByte
          i += 3
        } else { bytes += enc(i).toByte; i += 1 }
      }
      new String(bytes.toArray, java.nio.charset.StandardCharsets.UTF_8)
    }
    val probes = Seq("", "%", "%%", "%25", "%2540", "╀", "a/b", "../..",
      "EURUSD", "feed.x-1", "naïve", "日本語", "a\u0000b", "%EMPTY", "😀")
    probes.foreach { s =>
      assert(decode(safeSeg(s)) === s, s"roundtrip failed for ${s.codePoints().toArray.toSeq}")
      assert(!safeSeg(s).contains('/'), s"path separator leaked for $s")
    }
  }

  test("writer fan-out follows the table's pinned bucket count, not the seed") {
    val root = Files.createTempDirectory("lww5").toString
    val pk = Seq("symbol", "time", "price")
    // simulate a table created under an older, smaller bucket count
    val table = java.nio.file.Paths.get(LwwSink.tablePath(root, "feed", "tick"))
    val wide = (0 until 100)
      .map(i => (s"SYM$i", 100L, 1.0 + i, i))
      .toDF("symbol", "time", "price", "volume")
    create(table.toString, wide, 4)
    LwwSink.upsertBatch(wide, 0L, root, "feed", "tick", pk)
    import scala.jdk.CollectionConverters._
    val kbDirs = Files.list(table).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("kb=")).toSeq
    assert(kbDirs.nonEmpty && kbDirs.size <= 4,
      s"kb dirs must respect the pinned count 4, got $kbDirs")
    // and the merge still sees prior versions (no silent PK duplication)
    LwwSink.upsertBatch(wide, 1L, root, "feed", "tick", pk)
    assert(LwwSink.read(spark, root, "feed", "tick").count() === 100)
  }

  test("crash between bucket moves, before the publish: old table, then replay") {
    // kills the upsert after the FIRST bucket moves into its new
    // generation, via the fault-injection seam: until the manifest is
    // published the table must read as before the batch, and the replayed
    // micro-batch (same batchId, as a checkpointed stream re-delivers it)
    // must leave exactly what a clean run leaves
    val pk = Seq("symbol", "time", "price")
    def batch0 = (0 until 120)
      .map(i => (s"SYM$i", 100L, 1.0 + i, i))
      .toDF("symbol", "time", "price", "volume")
    def batch1 = (0 until 120)
      .map(i => (s"SYM$i", 100L, 1.0 + i, i + 1000)) // rewrite every PK
      .toDF("symbol", "time", "price", "volume")
    def stateOf(root: String) =
      LwwSink.read(spark, root, "feed", "tick").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._2, t._3)).toSeq
    def tableOf(root: String) = Paths.get(LwwSink.tablePath(root, "feed", "tick"))
    def names(root: String) = Fs.list(tableOf(root)).map(_.getFileName.toString)
    def generations(root: String) = Fs.walk(tableOf(root))
      .map(p => tableOf(root).relativize(p).toString)
      .filter(_.matches("kb=\\d+/g\\d+")).toSet

    val clean = Files.createTempDirectory("lww_clean").toString
    LwwSink.upsertBatch(batch0, 0L, clean, "feed", "tick", pk)
    LwwSink.upsertBatch(batch1, 1L, clean, "feed", "tick", pk)

    val crashed = Files.createTempDirectory("lww_crash").toString
    LwwSink.upsertBatch(batch0, 0L, crashed, "feed", "tick", pk)
    val before = stateOf(crashed)
    var moved = 0
    LwwSink.afterBucketMove = { _ =>
      moved += 1
      if (moved == 1) throw new RuntimeException("injected crash")
    }
    try intercept[RuntimeException] {
      LwwSink.upsertBatch(batch1, 1L, crashed, "feed", "tick", pk)
    } finally LwwSink.afterBucketMove = _ => ()
    assert(moved === 1, "the crash must land between bucket moves")
    // partial state is real: staging and one unpublished generation
    assert(names(crashed).exists(_.startsWith("_tmp_b")), "crash left staging")
    assert(generations(crashed).count(_.endsWith("/g2")) === 1)
    assert(stateOf(crashed) === before, "the unpublished batch must not be visible")

    // the checkpointed stream re-delivers the SAME batch
    LwwSink.upsertBatch(batch1, 1L, crashed, "feed", "tick", pk)
    assert(stateOf(crashed) === stateOf(clean),
      "replay must converge the crashed table to the clean state")
    assert(!names(crashed).exists(_.startsWith("_tmp_b")), "staging cleaned up")
    assert(generations(crashed) === generations(clean),
      "no generation beyond the current and the previous manifest's")
    assert(names(crashed).toSet === names(clean).toSet)
  }

  test("re-delivered micro-batch is a no-op (exactly-once per key)") {
    val root = Files.createTempDirectory("lww2").toString
    val pk = Seq("symbol", "time", "price")
    LwwSink.upsertBatch(rows(10), 0L, root, "feed", "tick", pk)
    val once = LwwSink.read(spark, root, "feed", "tick").collect().toSeq
    LwwSink.upsertBatch(rows(10), 0L, root, "feed", "tick", pk) // replay
    val twice = LwwSink.read(spark, root, "feed", "tick").collect().toSeq
    assert(twice === once)
  }

  test("a later batch replaces the stored row even when its payload sorts below it") {
    // the version tuple orders payloads within one batch only: between a
    // stored row and a batch row the anti-join decides, so volume 5
    // replaces the stored volume 20
    val root = Files.createTempDirectory("lww_lower").toString
    val pk = Seq("symbol", "time", "price")
    LwwSink.upsertBatch(rows(20), 0L, root, "feed", "tick", pk)
    LwwSink.upsertBatch(rows(5), 1L, root, "feed", "tick", pk)
    assert(LwwSink.read(spark, root, "feed", "tick").collect().map(_.getInt(3)).toSeq === Seq(5))
  }

  test("re-upserting a batch id with other content replaces the first write") {
    // same PK, same batch id: the version tuple would keep the stored
    // volume 20 (it sorts above 5); the anti-join drops it
    val root = Files.createTempDirectory("lww_redo").toString
    val pk = Seq("symbol", "time", "price")
    LwwSink.upsertBatch(rows(20), 0L, root, "feed", "tick", pk)
    LwwSink.upsertBatch(rows(5), 0L, root, "feed", "tick", pk)
    assert(LwwSink.read(spark, root, "feed", "tick").collect().map(_.getInt(3)).toSeq === Seq(5))
  }

  test("same-PK rows inside ONE batch elect a row-order-independent winner") {
    // _batch_id is constant within a micro-batch, so the version tuple
    // must extend into the payload columns — otherwise the window tie
    // is broken by shuffle fetch order and a crash replay of the same
    // batch can store a DIFFERENT row than the original run
    val pk = Seq("symbol", "time", "price")
    val dup = Seq(
      ("EURUSD", 100L, 1.08, 5, "BUY"),
      ("EURUSD", 100L, 1.08, 9, "SELL"),
      ("EURUSD", 100L, 1.08, 9, "BUY"))
    def upsert(order: Seq[(String, Long, Double, Int, String)],
        parts: Int): Seq[Any] = {
      val root = Files.createTempDirectory("lww_tie").toString
      val batch = order
        .toDF("symbol", "time", "price", "volume", "orderType")
        .repartition(parts)
      LwwSink.upsertBatch(batch, 0L, root, "feed", "book", pk)
      LwwSink.read(spark, root, "feed", "book").collect()
        .map(_.toSeq).toSeq.flatten
    }
    val a = upsert(dup, 1)
    val b = upsert(dup.reverse, 3)
    assert(a === b, "winner must not depend on row order or partitioning")
    // and the elected winner is the payload-desc maximum: volume 9
    // beats 5, then orderType SELL beats BUY
    assert(a.contains(9) && a.contains("SELL"))
  }

  private val pk = Seq("symbol", "time", "price")

  /** 200 symbols plus the empty string and a non-ASCII one, three rows
    * each, merged over two batches so most buckets hold rewritten files. */
  private val symbols = (0 until 200).map(i => s"SYM$i") ++ Seq("", "日本語é")
  private def fill(root: String, nb: Option[Int]): String = {
    val table = LwwSink.tablePath(root, "feed", "tick")
    def batch(ts: Seq[Long], v: Int) = (for (s <- symbols; t <- ts)
      yield (s, t, 1.5, v)).toDF("symbol", "time", "price", "volume")
    nb.foreach(create(table, batch(Nil, 0), _))
    LwwSink.upsertBatch(batch(Seq(100L, 200L), 1), 0L, root, "feed", "tick", pk)
    LwwSink.upsertBatch(batch(Seq(200L, 300L), 2), 1L, root, "feed", "tick", pk)
    table
  }

  /** The files a read opens: those of its scan's input partitions. (The
    * scan's `numFiles` metric counts files before bucket pruning.) */
  private def filesOpened(df: DataFrame): Int =
    df.queryExecution.executedPlan.collectFirst { case s: FileSourceScanExec => s }.get
      .inputRDD.partitions.map { case p: FilePartition => p.files.length }.sum

  /** Each symbol's bucket among `nb`, as Spark computes it. */
  private def bucketsOf(nb: Int): Map[String, Int] =
    symbols.toDF("s").select(col("s"), pmod(hash(col("s")), lit(nb))).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap

  test("a pruned read returns the same rows as a full scan, for every symbol") {
    // a session with no graft rule in it: the pruning is Spark's own
    val fresh = spark.newSession()
    assert(fresh.sessionState.experimentalMethods.extraOptimizations.isEmpty)
    val root = Files.createTempDirectory("lww_prune").toString
    // created at a count other than NumBuckets: the read must use the table's
    fill(root, Some(7))
    val all = LwwSink.read(fresh, root, "feed", "tick").collect().toSeq
    def rowsOf(rs: Seq[org.apache.spark.sql.Row]) = rs.map(_.toSeq).sortBy(_.toString)
    symbols.foreach { s =>
      val pruned = LwwSink.read(fresh, root, "feed", "tick").filter(col("symbol") === s)
      assert(filesOpened(pruned) === 1, s"symbol '$s'")
      val want = rowsOf(all.filter(_.getString(0) == s))
      assert(want.size === 3, s"fixture rows for '$s'")
      assert(rowsOf(pruned.collect().toSeq) === want, s"symbol '$s'")
    }
  }

  test("= and IN on the key open only their buckets' files; other filters open all") {
    val root = Files.createTempDirectory("lww_plan").toString
    fill(root, None)
    def sink = LwwSink.read(spark, root, "feed", "tick")
    val bucket = bucketsOf(LwwSink.NumBuckets)
    val all = filesOpened(sink)
    assert(all === LwwSink.NumBuckets, "one file per bucket")
    val eq = sink.filter(col("symbol") === "SYM7" && col("time") > 150L)
    assert(filesOpened(eq) === 1)
    assert(eq.collect().length === 2)
    assert(filesOpened(sink.filter(col("symbol") <=> "SYM7")) === 1)
    // two symbols in different buckets: one file each
    val other = symbols.find(s => bucket(s) != bucket("SYM1")).get
    val in = sink.filter(col("symbol").isin("SYM1", other))
    assert(filesOpened(in) === 2)
    assert(in.collect().length === 6)
    assert(filesOpened(sink.filter(col("symbol") === "SYM1" || col("symbol") === other)) === 2)
    // past 10 values the optimizer turns IN into InSet
    val twelve = (0 until 12).map(i => s"SYM$i")
    val many = sink.filter(col("symbol").isin(twelve: _*))
    assert(filesOpened(many) === twelve.map(bucket).distinct.size, many.queryExecution.optimizedPlan)
    assert(many.collect().length === 36)
    // anything but key = literal / key IN literals opens every file
    Seq(
      col("symbol") > "SYM5",
      col("symbol").like("SYM1%"),
      col("symbol") === col("volume").cast("string"),
      col("time") === 100L,
      col("symbol") === "SYM7" || col("time") === 100L
    ).foreach { p =>
      assert(filesOpened(sink.filter(p)) === all, s"every file for $p")
    }
  }

  test("a sink read plans with no job; a filtered collect runs exactly one") {
    val root = Files.createTempDirectory("lww_jobs").toString
    fill(root, None)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskStart(e: SparkListenerTaskStart): Unit = tasks.incrementAndGet()
    }
    /** What `body` returns, with the jobs and tasks it runs. */
    def counted[T](body: => T): (T, (Int, Int)) = {
      Bridge.drainListenerBus(spark)
      jobs.set(0); tasks.set(0)
      val r = body
      Bridge.drainListenerBus(spark)
      (r, (jobs.get, tasks.get))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (df, planned) = counted(LwwSink.read(spark, root, "feed", "tick"))
      assert(planned === ((0, 0)), "LwwSink.read must not infer a schema")
      // one job of one task: a point read scans its bucket's file, not one
      // task per bucket as a bucketed scan would
      val (point, pointRun) = counted(df.filter(col("symbol") === "SYM9").collect())
      assert(point.length === 3)
      assert(pointRun === ((1, 1)))
      // the range read of perfbench `ingest`
      val (range, rangeRun) = counted(
        df.filter(col("symbol") === "SYM9" && col("time").between(150L, 350L))
          .orderBy(col("time").desc, col("price")).limit(50).collect())
      assert(range.length === 2)
      assert(rangeRun === ((1, 1)))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a double key prunes without splitting values SQL equality joins") {
    val root = Files.createTempDirectory("lww_double").toString
    val nan = java.lang.Double.longBitsToDouble(0x7ff8000000000000L)
    val otherNan = java.lang.Double.longBitsToDouble(0xfff8000000000123L)
    val keys = Seq(0.0, -0.0, nan, otherNan, 1.5)
    LwwSink.upsertBatch(keys.zipWithIndex.map { case (k, i) => (k, i.toLong, i) }.toDF("k", "t", "v"),
      0L, root, "feed", "dbl", Seq("k", "t"))
    def table = LwwSink.read(spark, root, "feed", "dbl")
    val all = table.collect().toSeq
    assert(all.size === keys.size)
    // SQL equality: 0.0 = -0.0, and every NaN equals every NaN
    def sqlEq(a: Double, b: Double) = a == b || (a.isNaN && b.isNaN)
    // compared as text: NaN == NaN is false, and -0.0 == 0.0 is true
    def rowsOf(rs: Seq[org.apache.spark.sql.Row]) = rs.map(_.toString).sorted
    keys.foreach { k =>
      val want = rowsOf(all.filter(r => sqlEq(r.getDouble(0), k)))
      assert(want.nonEmpty)
      assert(rowsOf(table.filter(col("k") === k).collect().toSeq) === want, s"k = $k")
    }
  }

  test("an upsert keyed on a different bucket key fails, naming both keys") {
    val root = Files.createTempDirectory("lww_key").toString
    LwwSink.upsertBatch(rows(10), 0L, root, "feed", "tick", pk)
    val e = intercept[IllegalArgumentException] {
      LwwSink.upsertBatch(rows(20), 1L, root, "feed", "tick",
        Seq("time", "symbol", "price"))
    }
    assert(e.getMessage.contains("'symbol'") && e.getMessage.contains("'time'"),
      e.getMessage)
    assert(LwwSink.read(spark, root, "feed", "tick").collect()
      .map(_.getInt(3)).toSeq === Seq(10), "the table is untouched")
  }

  test("a batch whose schema differs from the pinned one fails, naming the columns") {
    val root = Files.createTempDirectory("lww_schema").toString
    LwwSink.upsertBatch(rows(10), 0L, root, "feed", "tick", pk)
    val e = intercept[IllegalArgumentException] {
      LwwSink.upsertBatch(
        Seq(("EURUSD", 100L, 1.08, "x", 1)).toDF("symbol", "time", "price", "volume", "side"),
        1L, root, "feed", "tick", pk)
    }
    assert(e.getMessage.contains("unexpected [side: int]") &&
      e.getMessage.contains("retyped [volume: int -> string]"), e.getMessage)
    val m = intercept[IllegalArgumentException] {
      LwwSink.upsertBatch(Seq(("EURUSD", 100L, 1.08)).toDF("symbol", "time", "price"),
        1L, root, "feed", "tick", pk)
    }
    assert(m.getMessage.contains("missing [volume: int]"), m.getMessage)
    // column order and nullability are not part of the check
    LwwSink.upsertBatch(Seq((20, 1.08, 100L, "EURUSD"))
      .toDF("volume", "price", "time", "symbol"), 1L, root, "feed", "tick", pk)
    val out = LwwSink.read(spark, root, "feed", "tick")
    assert(out.collect().map(_.getInt(3)).toSeq === Seq(20))
    // the pin keeps the first batch's nullability; the reader must not
    // trust it, or a null written by a later batch would read as a value
    assert(out.schema.forall(_.nullable), out.schema)
  }

  test("a table without a manifest fails loudly on read and on upsert") {
    val root = Files.createTempDirectory("lww_legacy").toString
    val table = Paths.get(LwwSink.tablePath(root, "feed", "tick"))
    // the layouts before the manifest: files directly under kb=N, and the
    // pin files a table whose batches were all empty held alone
    val layouts = Seq[() => Unit](
      () => rows(10).withColumn("_batch_id", lit(0L))
        .write.parquet(table.resolve("kb=3").toString),
      () => Seq("_nbuckets", "_bucket_key", "_schema")
        .foreach(f => Files.write(table.resolve(f), "x".getBytes)))
    layouts.foreach { write =>
      Fs.deleteTree(table)
      Files.createDirectories(table)
      write()
      val before = Fs.walk(table).map(_.toString).toSet
      Seq[() => Unit](
        () => LwwSink.read(spark, root, "feed", "tick"),
        () => LwwSink.upsertBatch(rows(20), 1L, root, "feed", "tick", pk)
      ).foreach { call =>
        val e = intercept[IllegalStateException](call())
        assert(e.getMessage.contains(table.toString) &&
          e.getMessage.contains("fresh sink root"), e.getMessage)
      }
      assert(Fs.walk(table).map(_.toString).toSet === before, "the table is untouched")
    }
  }

  test("a manifest older than bucket-named files fails loudly on read and on upsert") {
    val root = Files.createTempDirectory("lww_format").toString
    LwwSink.upsertBatch(rows(10), 0L, root, "feed", "tick", pk)
    val table = Paths.get(LwwSink.tablePath(root, "feed", "tick"))
    // the layout before the format field: a bucket file named with no bucket id
    val dir = table.resolve(LwwSink.manifest(table.toString).get.buckets.values.head)
    Fs.list(dir).map(_.getFileName.toString).filter(_.endsWith(".parquet")).foreach { f =>
      Files.move(dir.resolve(f), dir.resolve(f.replaceFirst("_\\d{5}\\.", ".")))
    }
    assert(Fs.list(dir).map(_.getFileName.toString).filter(_.endsWith(".parquet"))
      .forall(BucketingUtils.getBucketId(_).isEmpty))
    val manifest = table.resolve("_manifest")
    val json = new String(Files.readAllBytes(manifest), UTF_8)
    assert(json.contains("\"format\":2,"))
    Files.write(manifest, json.replace("\"format\":2,", "").getBytes(UTF_8))
    def state = Fs.walk(table).map(p => p.toString -> Files.getLastModifiedTime(p)).toSet
    val before = state
    Seq[() => Unit](
      () => LwwSink.read(spark, root, "feed", "tick"),
      () => LwwSink.upsertBatch(rows(20), 1L, root, "feed", "tick", pk)
    ).foreach { call =>
      val e = intercept[IllegalStateException](call())
      assert(e.getMessage.contains(table.toString) && e.getMessage.contains("replaying") &&
        e.getMessage.contains("fresh sink root"), e.getMessage)
    }
    assert(state === before, "nothing is written or published")
  }

  /** Upsert `df`, whose `topic` column names each row's table, the way
    * the book branch does: one merge and one write for every topic. */
  private def upsertTopics(df: DataFrame, id: Long, root: String): Unit = {
    val topics = df.select("topic").distinct().collect().map(_.getString(0)).sorted.toIndexedSeq
    LwwSink.upsertTables(
      df.withColumn(LwwSink.TableCol, LwwSink.tableIndex(topics, col("topic"))).drop("topic"),
      id, root, topics, "book", pk)
  }

  private def tableRows(root: String, topic: String) =
    LwwSink.read(spark, root, topic, "book").collect().map(_.toSeq).sortBy(_.toString).toSeq

  /** The `kb=N/g<version>` dirs the table's manifest names, each with the
    * parquet files in it. */
  private def generationFiles(table: String): Map[String, Int] =
    LwwSink.manifest(table).get.buckets.values.map { dir =>
      dir -> Fs.list(Paths.get(s"$table/$dir")).count(_.toString.endsWith(".parquet"))
    }.toMap

  test("the merged write of several topics equals one upsert per topic") {
    val topics = Seq("a", "b", "../../x")
    def batch(ts: Seq[Long], v: Int) = (for (tp <- topics; s <- symbols.take(60); t <- ts)
      yield (tp, s, t, 1.5, v + tp.length)).toDF("topic", "symbol", "time", "price", "volume")
    val batches = Seq(batch(Seq(100L, 200L), 1), batch(Seq(200L, 300L), 2))
    val merged = Files.createTempDirectory("lww_merged").toString
    val perTopic = Files.createTempDirectory("lww_per_topic").toString
    // topic "a" exists before the first batch, at a bucket count of its own
    Seq(merged, perTopic).foreach(root => create(LwwSink.tablePath(root, "a", "book"),
      batches.head.drop("topic"), 7))
    batches.zipWithIndex.foreach { case (b, id) =>
      upsertTopics(b, id.toLong, merged)
      topics.foreach(tp => LwwSink.upsertBatch(b.filter(col("topic") === tp).drop("topic"),
        id.toLong, perTopic, tp, "book", pk))
    }
    val state = topics.map(tp => tableRows(merged, tp))
    topics.zip(state).foreach { case (tp, rows) =>
      assert(rows.size === 180, s"topic '$tp'")
      assert(rows === tableRows(perTopic, tp), s"topic '$tp'")
      val (m, p) = (LwwSink.manifest(LwwSink.tablePath(merged, tp, "book")).get,
        LwwSink.manifest(LwwSink.tablePath(perTopic, tp, "book")).get)
      assert((m.key, m.nb) === ((p.key, p.nb)), s"topic '$tp'")
      assert(m.nb === (if (tp == "a") 7 else LwwSink.NumBuckets), s"topic '$tp'")
      // every bucket generation is one PK-sorted file, so `=` reads one file
      val table = LwwSink.tablePath(merged, tp, "book")
      val files = generationFiles(table)
      assert(files.values.forall(_ == 1), s"topic '$tp': $files")
      // each file carries its bucket's id, as Spark's bucketed read needs
      files.keys.foreach { dir =>
        val n = dir.stripPrefix("kb=").takeWhile(_ != '/').toInt
        Fs.list(Paths.get(s"$table/$dir")).map(_.getFileName.toString).filter(_.endsWith(".parquet"))
          .foreach(f => assert(BucketingUtils.getBucketId(f) === Some(n), s"$dir/$f"))
      }
      files.keys.foreach { dir =>
        val keys = spark.read.parquet(s"$table/$dir").collect()
          .map(r => (r.getAs[String]("symbol"), r.getAs[Long]("time"), r.getAs[Double]("price"))).toSeq
        assert(keys === keys.sorted, s"topic '$tp': $dir is not PK-sorted")
      }
      assert(files.keys.exists(_.endsWith("/g2")), s"topic '$tp' rewrote buckets: $files")
    }
    // the hostile topic's table stays inside the sink root
    assert(Paths.get(LwwSink.tablePath(merged, "../../x", "book")).normalize()
      .startsWith(Paths.get(merged)))
    // a replayed micro-batch changes no table
    upsertTopics(batches.last, 1L, merged)
    assert(topics.map(tp => tableRows(merged, tp)) === state)
  }

  test("a bad table fails the micro-batch before any table is written") {
    val root = Files.createTempDirectory("lww_check_all").toString
    def batch(v: Int) = Seq("t0", "t1").map(tp => (tp, "EURUSD", 100L, 1.08, v))
      .toDF("topic", "symbol", "time", "price", "volume")
    upsertTopics(batch(10), 0L, root)
    val t0 = LwwSink.tablePath(root, "t0", "book")
    val t1 = LwwSink.tablePath(root, "t1", "book")
    val before = LwwSink.manifest(t0).get
    def untouched(): Unit = {
      assert(LwwSink.manifest(t0).get === before, "t0 must not publish")
      assert(tableRows(root, "t0") === Seq(Seq("EURUSD", 100L, 1.08, 10)))
    }
    // t1 is bucketed on another key: the later table's check fails the
    // batch before the earlier table publishes
    val good = LwwSink.manifest(t1).get
    LwwSink.publish(t1, good.copy(key = "time"))
    val k = intercept[IllegalArgumentException](upsertTopics(batch(20), 1L, root))
    assert(k.getMessage.contains(t1) && k.getMessage.contains("'time'") &&
      k.getMessage.contains("'symbol'"), k.getMessage)
    untouched()
    // t1 stores other columns
    LwwSink.publish(t1, good.copy(schema = good.schema.add("side", StringType)))
    val s = intercept[IllegalArgumentException](upsertTopics(batch(20), 1L, root))
    assert(s.getMessage.contains(t1) && s.getMessage.contains("missing [side: string]"),
      s.getMessage)
    untouched()
    // with t1 mended, the same batch lands in both tables
    LwwSink.publish(t1, good)
    upsertTopics(batch(20), 1L, root)
    Seq("t0", "t1").foreach(tp =>
      assert(tableRows(root, tp) === Seq(Seq("EURUSD", 100L, 1.08, 20)), tp))
  }

  test("a row of a table outside the topics fails the batch with nothing written") {
    val root = Files.createTempDirectory("lww_unlisted").toString
    val topics = IndexedSeq("t0", "t1")
    def batch(tables: Int*) = tables.map(i => (i, "EURUSD", 100L, 1.08, 10 + i))
      .toDF(LwwSink.TableCol, "symbol", "time", "price", "volume")
    LwwSink.upsertTables(batch(0), 0L, root, topics.take(1), "book", pk)
    val t0 = LwwSink.tablePath(root, "t0", "book")
    val t1 = LwwSink.tablePath(root, "t1", "book")
    val before = LwwSink.manifest(t0).get
    // index 2 is past the two topics: `tableIndex` gives -1 for an
    // unlisted topic, and either way the row has no bucket
    Seq(2, -1).foreach { bad =>
      val e = intercept[IllegalArgumentException](
        LwwSink.upsertTables(batch(0, 1, bad), 1L, root, topics, "book", pk))
      assert(e.getMessage.contains("outside its 2 topics"), e.getMessage)
      assert(LwwSink.manifest(t0).get === before, "t0 must not publish")
      assert(LwwSink.manifest(t1).isEmpty, "t1 must not publish")
      assert(!Fs.walk(Paths.get(root)).exists(_.getFileName.toString.startsWith("_tmp_b")),
        "no staging dir may be left")
    }
    assert(tableRows(root, "t0") === Seq(Seq("EURUSD", 100L, 1.08, 10)))
  }

  test("crash between two tables' publishes: the restarted book query heals both") {
    val fmt = classOf[graft.source.EnvelopeSourceProvider].getName
    val spool = Files.createTempDirectory("lww_pub_spool")
    val sink = Files.createTempDirectory("lww_pub_sink").toString
    val ckpt = Files.createTempDirectory("lww_pub_ckpt").toString
    val topics = Seq("t0", "t1")
    // file f writes every (topic, symbol, level) key with volume f, so
    // the second file rewrites every key of the first, plus one corrupt
    // message per file
    def lines(f: Int) = (for (tp <- topics; s <- 0 until 20) yield {
      val levels = (0 until 3).map(l =>
        s"""{"symbol": "${tp.toUpperCase}_$s", "price": ${1.0 + l}, "time": ${100 + l}, "volume": $f, "type": "BOOK_TYPE_BUY"}""")
      (tp, levels.mkString("[", ",", "]"))
    }) :+ (("t1", s"not an array $f"))
    def envelopes(f: Int) = lines(f).map { case (tp, p) =>
      val payload = if (p.startsWith("[")) p else "\"" + p + "\""
      s"""{"topic": "$tp", "frameType": "BOOK", "payload": $payload}"""
    }
    def write(f: Int): Unit = Files.write(spool.resolve(f"$f%03d.jsonl"),
      envelopes(f).mkString("", "\n", "\n").getBytes("UTF-8"))
    def drain(): Unit = {
      val env = spark.readStream.format(fmt).option("path", spool.toString).load()
      val qs = Pipelines.start(env, "book", sink, ckpt)
      try qs.foreach(_.processAllAvailable()) finally qs.foreach(_.stop())
    }
    // the batch oracle over the first `files` files: parse, then LWW per
    // topic with the file as the version
    def oracle(files: Int, tp: String) = LwwDedup(
        (0 until files).map(f => Pipelines.parseBooks(lines(f).map { case (t, p) => (t, "BOOK", p) }
          .toDF("topic", "frameType", "payload")).withColumn("f", lit(f))).reduce(_ unionByName _)
          .filter(!col("_corrupt") && col("topic") === tp),
        pk.map(col), Seq(col("f")))
      .select("symbol", "price", "time", "volume", "orderType")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    def sinkRows(tp: String) = LwwSink.read(spark, sink, tp, "book")
      .select("symbol", "price", "time", "volume", "orderType")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq

    write(0)
    drain()
    write(1)
    var published = 0
    LwwSink.afterTablePublish = { _ =>
      published += 1
      if (published == 1) throw new RuntimeException("injected crash")
    }
    try intercept[Exception](drain()) finally LwwSink.afterTablePublish = _ => ()
    assert(published === 1, "the crash must land between the two publishes")
    // the two tables are at different batches until the replay
    assert(sinkRows("t0") === oracle(2, "t0"))
    assert(sinkRows("t1") === oracle(1, "t1"))

    drain() // restart on the same checkpoint: batch 1 replays
    topics.foreach(tp => assert(sinkRows(tp) === oracle(2, tp), tp))
    val dl = spark.read.parquet(s"$sink/_deadletter").select("topic", "payload")
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(dl === Seq(("t1", "not an array 0"), ("t1", "not an array 1")),
      "each corrupt row quarantined exactly once")
    assert(Fs.list(Paths.get(sink)).map(_.getFileName.toString).toSet ===
      topics.map(tp => Paths.get(LwwSink.tablePath(sink, tp, "book")).getFileName.toString)
        .toSet + "_deadletter", "only the tables and the dead letter remain")
    topics.foreach { tp =>
      val table = Paths.get(LwwSink.tablePath(sink, tp, "book"))
      assert(!Fs.list(table).exists(_.getFileName.toString.startsWith("_tmp_b")),
        s"$tp: staging swept")
    }
  }
}
