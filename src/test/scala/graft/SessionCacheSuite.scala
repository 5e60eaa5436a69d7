package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops.{BpeTrain, Bucketing, DayPartitioned}
import graft.util.{Fs, SessionCache}

/** The one memo: LRU retention under its bound, the fixture stamp in
  * every key, and the result/input split that cold eviction honours.
  */
class SessionCacheSuite extends SparkSpec {

  private val Fixture = "/root/testdata/sf0.001"
  /** A dir that does not exist: every lookup under it stamps 0. */
  private val NoDir = "/nonexistent/session-cache-suite"

  private def tempDir(prefix: String) = {
    val d = Files.createTempDirectory(prefix)
    graft.source.SpoolWriter.deleteAtExit(d)
    d
  }

  test("caches per (owner, key): hit does not recompute") {
    val s = spark.newSession()
    var computes = 0
    def get() = SessionCache.result(s, NoDir, "k") { computes += 1; "v" }
    assert(get() == "v" && get() == "v" && computes == 1)
  }

  test("distinct owners with the same key get distinct entries") {
    val (a, b) = (spark.newSession(), spark.newSession())
    assert(SessionCache.result(a, NoDir, "k")("va") == "va")
    assert(SessionCache.result(b, NoDir, "k")("vb") == "vb")
    assert(SessionCache.input(a, NoDir + "/other", "k")("vc") == "vc")
    assert(SessionCache.result(a, NoDir, "k")("x") == "va")
  }

  test("size never exceeds the bound; an evicted DataFrame is released") {
    val s = spark.newSession()
    val sc = spark.sparkContext
    val persisted = sc.getPersistentRDDs.keySet.toSet
    val pin = SessionCache.result(s, NoDir, "pin")(
      s.range(10).localCheckpoint())
    val pinRdds = sc.getPersistentRDDs.keySet.toSet -- persisted
    assert(pinRdds.nonEmpty, "a local checkpoint persists its blocks")
    assert(pin.count() == 10)
    (1 to SessionCache.MaxEntries + 7).foreach(i =>
      SessionCache.result(s, NoDir, s"k$i")(s"v$i"))
    assert(SessionCache.size == SessionCache.MaxEntries)
    assert((sc.getPersistentRDDs.keySet & pinRdds).isEmpty,
      "the evicted checkpoint's blocks must be released")
    var rebuilt = false
    SessionCache.result(s, NoDir, "k1") { rebuilt = true; "v1" }
    assert(rebuilt, "the eldest entry was evicted")
  }

  test("access refreshes LRU order: a touched entry survives eviction") {
    val s = spark.newSession()
    SessionCache.result(s, NoDir, "a")("va")
    SessionCache.result(s, NoDir, "b")("vb")
    SessionCache.result(s, NoDir, "a")("RECOMPUTED") // touch: a is newest
    // fill to one past the bound: every older entry, then b, ages out
    (1 until SessionCache.MaxEntries).foreach(i =>
      SessionCache.result(s, NoDir, s"fill$i")("x"))
    var recomputed = false
    assert(SessionCache.result(s, NoDir, "a") { recomputed = true; "x" }
      == "va")
    assert(!recomputed, "touched entry must have survived the eviction")
    assert(SessionCache.result(s, NoDir, "b")("vb2") == "vb2")
  }

  test("stamp: newest mtime one level into each parquet dir; an " +
      "unchanged fixture hits; a missing dir stamps 0") {
    val dir = tempDir("memo_stamp")
    // a fixture as a parquet DIRECTORY: the stamp must track the newest
    // file INSIDE it, not just the dir entry
    val fixture = dir.resolve("events.parquet")
    Files.createDirectories(fixture)
    val part = fixture.resolve("part-00000.parquet")
    Files.write(part, Array[Byte](1))
    // pin every mtime low (writing the part touched the dirs): the
    // refresh below must be visible through the part file alone
    Seq(part, fixture).foreach(
      Files.setLastModifiedTime(_, FileTime.fromMillis(1000000L)))
    assert(SessionCache.stamp(dir.toString) == 1000000L)
    val s = spark.newSession()
    var builds = 0
    def get() = SessionCache.result(s, dir.toString, "late") {
      builds += 1; s"v$builds" }
    assert(get() == "v1" && get() == "v1", "unchanged fixture: a hit")
    // in-place refresh: same path, newer content
    Files.setLastModifiedTime(part, FileTime.fromMillis(2000000L))
    assert(SessionCache.stamp(dir.toString) == 2000000L)
    assert(get() == "v2" && get() == "v2", "refreshed fixture: one miss")
    // missing fixture: the key must never be the thing that throws
    assert(SessionCache.stamp(dir.resolve("nope").toString) == 0L)
    assert(SessionCache.stamp(Fixture) > 0L)
  }

  test("a fixture rewritten in place misses: graph, dedup and table " +
      "reads see the new rows") {
    val dir = tempDir("memo_rewrite")
    Fs.list(Paths.get(Fixture)).foreach(p =>
      Files.copy(p, dir.resolve(p.getFileName)))
    val s = spark.newSession()
    val queries = Seq("graph_pagerank", "dedup_minhash_pairs")
    def rows(d: String) = queries.map(q =>
      SparkEntry.queries(q)(s, d).collect().map(_.toString).sorted.toSeq)
    val before = rows(dir.toString)
    assert(Tables(s, dir.toString, "events").count() ==
      s.read.parquet(s"$Fixture/events.parquet").count())

    // rewrite two fixtures in place: keep every other row
    def rewrite(name: String, id: String): Long = {
      val out = tempDir(s"memo_rewrite_$name").resolve("out")
      val kept = s.read.parquet(s"$Fixture/$name.parquet")
        .filter(col(id) % 2 === 0)
      kept.coalesce(1).write.parquet(out.toString)
      val partFile = Fs.list(out)
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(partFile, dir.resolve(s"$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      kept.count()
    }
    val nEvents = rewrite("events", "event_id")
    rewrite("documents", "doc_id")

    // the same queries over an untouched copy of the rewritten fixture
    // (a different dir, so a different key) are the expected rows
    val fresh = tempDir("memo_rewrite_fresh")
    Fs.list(dir).foreach(p => Files.copy(p, fresh.resolve(p.getFileName)))
    val expected = rows(fresh.toString)
    val after = rows(dir.toString)
    assert(after == expected, "a rewritten fixture must miss every memo")
    queries.indices.foreach(i => assert(after(i) != before(i),
      s"${queries(i)}: the rewrite must change the answer"))
    assert(Tables(s, dir.toString, "events").count() == nEvents)
  }

  test("cold eviction rebuilds every result memo and keeps table plans " +
      "and layouts") {
    val s = spark.newSession()
    val queries = Seq("graph_pagerank", "dedup_minhash_pairs",
      "ann_eval_recall", "emb_pca_project", "text_bpe_apply",
      "join_bucketed_colocated", "scan_partition_pruned",
      "join_dpp_runtime")
    def pass(): Unit =
      queries.foreach(q => SparkEntry.queries(q)(s, Fixture).collect())
    // from here on, every result entry in the memo is this session's
    SessionCache.evictAllForCold()
    pass()
    val events = Tables(s, Fixture, "events")
    val day = DayPartitioned.ensure(events, Fixture, "events", "ts")
    val (held, b0) = (SessionCache.size, SessionCache.builds)
    pass()
    assert(SessionCache.builds == b0, "a warm pass is all hits")

    SessionCache.evictAllForCold()
    val evicted = held - SessionCache.size
    // pagerank's edges, minhash pairs, the exact ANN arm, the PCA
    // solve and the BPE merge table
    assert(evicted >= 5, s"only $evicted result entries were evicted")
    pass()
    assert(SessionCache.builds - b0 == evicted,
      "cold pass: exactly the evicted results rebuild")
    assert(SessionCache.size == held)
    assert(Tables(s, Fixture, "events") eq events, "plans survive")
    assert(DayPartitioned.ensure(events, Fixture, "events", "ts") == day,
      "layouts survive")

    // the BPE merge table is a result: after eviction the tokenizer
    // trains again (here on an empty corpus, so the memo would show)
    import s.implicits._
    val docs = Seq((1L, "the cat sat"), (2L, "the cat ran"))
      .toDF("doc_id", "text")
    val safeRe = "^[a-z0-9_]+ [a-z0-9_]+$"
    val bpeDir = NoDir + "/bpe"
    assert(BpeTrain.cachedMerges(docs, bpeDir, "doc_id", "text", 1,
      safeRe).nonEmpty)
    SessionCache.evictAllForCold()
    assert(BpeTrain.cachedMerges(docs.filter(lit(false)), bpeDir,
      "doc_id", "text", 1, safeRe).isEmpty)
  }

  test("fresh sessions ensuring layouts leave the memo at or under its " +
      "bound") {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def boundDirs(): Set[Path] = Fs.list(tmp).filter { p =>
      val n = p.getFileName.toString
      n.startsWith("graft_day_bound") || n.startsWith("graft_bkt_bound")
    }.toSet
    val dirs0 = boundDirs()
    def layouts(s: SparkSession): String = {
      val df = s.range(1).select(col("id").as("k"),
        timestamp_seconds(col("id")).as("ts"))
      Bucketing.ensureBucketed(df, Fixture, "bound", "k", 1)
      DayPartitioned.ensure(df, Fixture, "bound", "ts")
    }
    val sessions = (0 to SessionCache.MaxEntries / 2).map { _ =>
      val s = spark.newSession()
      (s, layouts(s))
    }
    assert(SessionCache.size <= SessionCache.MaxEntries)
    // the first session's layouts aged out (a rebuild writes a fresh
    // path); the newest session's are still held
    val (first, firstPath) = sessions.head
    val (last, lastPath) = sessions.last
    assert(layouts(last) == lastPath)
    assert(layouts(first) != firstPath)
    assert(SessionCache.size <= SessionCache.MaxEntries)
    // an evicted layout's dir goes with its entry: every layout dir
    // this test left on disk belongs to an entry the memo still holds
    val made = boundDirs() -- dirs0
    assert(made.size <= SessionCache.size,
      s"${made.size} layout dirs on disk, ${SessionCache.size} live entries")
    assert(new java.io.File(lastPath).isDirectory, "a live layout's dir stays")
    assert(!new java.io.File(firstPath).exists(),
      "the evicted layout's dir is deleted")
  }
}
