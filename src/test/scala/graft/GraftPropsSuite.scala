package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.model.Schemas.Tick
import graft.ops.{CumVol, LwwDedup}
import graft.streaming.CumVolStatefulProcessor
import graft.streaming.CumVolStatefulProcessor.NoState

/** Property-based invariants (SURVEY §5.2.3). The stateful fold
  * ([[CumVolStatefulProcessor.fold]]) is pure, so most properties run
  * without a Spark job; the streaming≡batch equivalence and LWW
  * permutation properties execute real plans on shrunk inputs.
  */
class GraftPropsSuite extends SparkSpec {

  /** Raw-ScalaCheck driver (no scalatestplus bridge offline): sample the
    * generator under `n` fixed seeds — deterministic, reproducible runs.
    */
  private def forAllSeeded[T](gen: Gen[T], n: Int = 20)(body: T => Unit): Unit =
    (0 until n).foreach { i =>
      gen(Gen.Parameters.default, Seed(i.toLong)).foreach(body)
    }
  import spark.implicits._

  private val t0 = 1687176000L

  private val tickGen: Gen[Tick] = for {
    sym <- Gen.oneOf("A", "B", "C")
    dt <- Gen.choose(0L, 3L * 86400)
    vol <- Gen.choose(0, 100)
    typ <- Gen.oneOf("B", "S", "X", "")
  } yield Tick(sym, 1.0, 1.1, 1.2, t0 + dt, vol, typ)

  private val ticksGen: Gen[List[Tick]] =
    Gen.listOfN(60, tickGen).map(_.sortBy(_.time))

  test("property: cumdelta == cumbuy - cumsell for any input sequence") {
    forAllSeeded(ticksGen) { ticks =>
      ticks.groupBy(_.symbol).foreach { case (_, ts) =>
        CumVolStatefulProcessor.fold(NoState, ts.iterator)._2.foreach { e =>
          assert(e.cumdelta === e.cumbuy - e.cumsell)
          assert(e.cumbuy >= 0 && e.cumsell >= 0)
        }
      }
    }
  }

  test("property: per-key outputs are running (monotone within a day)") {
    forAllSeeded(ticksGen) { ticks =>
      ticks.groupBy(_.symbol).foreach { case (_, ts) =>
        val out = CumVolStatefulProcessor.fold(NoState, ts.iterator)._2
        out.groupBy(e => Math.floorDiv(e.time, 86400L)).foreach {
          case (_, dayRows) =>
            val sorted = dayRows.sortBy(_.time)
            sorted.sliding(2).foreach {
              case Seq(a, b) =>
                assert(b.cumbuy >= a.cumbuy && b.cumsell >= a.cumsell)
              case _ => ()
            }
        }
      }
    }
  }

  test("property: streaming-semantics update == batch window form (sampled)") {
    forAllSeeded(ticksGen, n = 5) { ticks => if (ticks.nonEmpty) {
        // pure streaming path
        val streamed = ticks.groupBy(_.symbol).toSeq.flatMap { case (_, ts) =>
          // stable in-batch order: time then original index (matches the
          // batch window's (time, tiebreak) ordering)
          val ordered = ts.zipWithIndex.sortBy { case (t, i) => (t.time, i) }
          CumVolStatefulProcessor.fold(NoState, ordered.map(_._1).iterator)._2
        }.map(e => (e.symbol, e.time, e.cumbuy, e.cumsell))
          .sortBy(r => (r._1, r._2, r._3, r._4))
        // batch window path — tiebreak on a unique per-row id in input order
        val df = ticks.zipWithIndex
          .map { case (t, i) => (t.symbol, t.time, t.volume, t.tradeType, i) }
          .toDF("symbol", "time", "volume", "tradeType", "rid")
        val batch = CumVol(df, col("symbol"), timestamp_seconds(col("time")),
            col("rid"), col("tradeType"), col("volume"))
          .select("symbol", "time", "cumbuy", "cumsell")
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getLong(3))).toSeq.sortBy(r => (r._1, r._2, r._3, r._4))
        assert(streamed === batch)
      }
    }
  }

  test("property: LWW dedup keeps exactly one row per key, any order") {
    val rowsGen = Gen.listOfN(40, for {
      k <- Gen.choose(0, 8)
      v <- Gen.choose(0, 5)
    } yield (s"K$k", v.toLong))
    forAllSeeded(rowsGen, n = 5) { rows => if (rows.nonEmpty) {
        val out = LwwDedup(rows.toDF("k", "ver"),
            Seq(col("k")), Seq(col("ver")))
          .collect().map(r => (r.getString(0), r.getLong(1)))
        val expected = rows.groupBy(_._1).view
          .mapValues(_.map(_._2).max).toMap
        assert(out.length === expected.size)
        out.foreach { case (k, v) => assert(v === expected(k)) }
      }
    }
  }
  test("property: connected components equal union-find ground truth") {
    import graft.ops.ConnectedComponents
    val edgesGen = Gen.listOfN(30, for {
      a <- Gen.choose(0L, 19L); b <- Gen.choose(0L, 19L) if a != b
    } yield (a, b))
    forAllSeeded(edgesGen, n = 5) { edges => if (edges.nonEmpty) {
        // driver-side union-find oracle
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val expected = parent.keys.map(n => n -> find(n)).toMap
          .map { case (n, r) =>
            // canonical rep = min node in the component
            n -> parent.keys.filter(m => find(m) == r).min
          }
        val got = ConnectedComponents(edges.toDF("a", "b"), "a", "b")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got === expected)
      }
    }
  }

  test("property: as-of join equals the naive per-row latest-quote scan") {
    import graft.ops.AsofJoin
    val quotesGen = Gen.listOfN(25, for {
      sym <- Gen.oneOf("A", "B")
      t <- Gen.choose(0L, 50L)
      mid <- Gen.choose(1, 999)
    } yield (sym, t, mid.toDouble))
    val tradesGen = Gen.listOfN(25, for {
      sym <- Gen.oneOf("A", "B", "C")
      t <- Gen.choose(0L, 60L)
      qty <- Gen.choose(1, 9)
    } yield (sym, t, qty))
    forAllSeeded(Gen.zip(quotesGen, tradesGen), n = 5) { case (qs0, ts0) =>
      // right side must be unique per (key, time): LWW-pick max mid
      val qs = qs0.groupBy(q => (q._1, q._2)).view
        .mapValues(_.map(_._3).max).toSeq
        .map { case ((s, t), m) => (s, t, m) }
      // trades unique per (key, time) so rows are comparable as sets
      val ts = ts0.groupBy(t => (t._1, t._2)).view
        .mapValues(_.head._3).toSeq.map { case ((s, t), q) => (s, t, q) }
      val out = AsofJoin(
          ts.toDF("symbol", "time", "qty"),
          qs.toDF("symbol", "time", "mid"),
          "symbol", "time", Seq("mid"))
        .select("symbol", "time", "qty", "mid")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSet
      val expected = ts.map { case (s, t, q) =>
        val prior = qs.filter(x => x._1 == s && x._2 <= t)
        (s, t, q, if (prior.isEmpty) None
                  else Some(prior.maxBy(_._2)._3))
      }.toSet
      assert(out === expected)
    }
  }

  test("property: zvalue deinterleaves back to its 31-bit inputs") {
    import graft.functions.ZValueHelper
    def unspread(z: Long): Long = {
      // inverse dilation: gather every second bit back together
      var x = z & 0x5555555555555555L
      x = (x | (x >> 1)) & 0x3333333333333333L
      x = (x | (x >> 2)) & 0x0F0F0F0F0F0F0F0FL
      x = (x | (x >> 4)) & 0x00FF00FF00FF00FFL
      x = (x | (x >> 8)) & 0x0000FFFF0000FFFFL
      (x | (x >> 16)) & 0xFFFFFFFFL
    }
    val g = Gen.zip(Gen.choose(0L, 0x7FFFFFFFL), Gen.choose(0L, 0x7FFFFFFFL))
    forAllSeeded(g, n = 200) { case (a, b) =>
      val z = ZValueHelper.zvalue(a, b)
      assert(z >= 0, s"z($a,$b) must sort as signed long")
      assert(unspread(z) === a, s"x-lane of z($a,$b)")
      assert(unspread(z >> 1) === b, s"y-lane of z($a,$b)")
    }
  }

  test("property: envelope parser never throws on arbitrary spool bytes") {
    val fmt = classOf[graft.source.EnvelopeSourceProvider].getName
    // adversarial alphabet: quotes, braces, escapes, control chars,
    // multi-byte — the hand-written frame demux must null-or-row, never
    // throw a task failure, on ANY line
    val fragment = Gen.oneOf(
      Gen.oneOf("\"", "\\", "{", "}", "[", "]", ":", ",", "\\u12", "\\x",
        "topic", "\"topic\"", "\"payload\":", "", "é", "𝄞", " "),
      Gen.alphaNumStr.map(_.take(5)))
    val lineGen = Gen.listOfN(12, fragment).map(_.mkString)
    val linesGen = Gen.listOfN(20, lineGen)
    forAllSeeded(linesGen, n = 10) { lines =>
      val dir = java.nio.file.Files.createTempDirectory("fuzz")
      java.nio.file.Files.write(dir.resolve("000.jsonl"),
        lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      val rows = spark.read.format(fmt)
        .option("path", dir.toString).load().collect()
      rows.foreach(r => assert(r.getString(0) != null,
        "a surfaced row always carries its topic"))
      assert(rows.length <= lines.length)
    }
  }

  test("property: native PQ codes == independent Scala argmin, random vectors") {
    // independent reference: same fold order re-implemented in plain
    // Scala (not the HOF form the kernels were derived from)
    def subDist(e: Array[Float], c: Array[Float], m: Int): Long = {
      var s = 0d
      var i = 0
      while (i < 8) {
        val d = e(m * 8 + i).toDouble - c(m * 8 + i).toDouble
        s += d * d; i += 1
      }
      math.floor(s * 1e9).toLong
    }
    val vecGen = Gen.listOfN(64, Gen.choose(-8, 8)).map(_.map(_.toFloat / 4f).toArray)
    val caseGen = Gen.zip(Gen.listOfN(6, vecGen), Gen.listOfN(16, vecGen))
    forAllSeeded(caseGen, n = 8) { case (vecs, cb) =>
      val expected = vecs.map { v =>
        (0 until 8).map { m =>
          val ds = cb.map(c => subDist(v, c, m))
          ds.indexOf(ds.min) // first index = lowest cent_id tiebreak
        }.toList
      }
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
        .toDF("vec_id", "embedding")
        .crossJoin(Seq(Tuple1(cb.map(_.toSeq))).toDF("cvs"))
      val got = df.select(col("vec_id"),
          graft.ops.Pq.codesCol(col("embedding"), col("cvs")).as("codes"))
        .collect().sortBy(_.getLong(0)).map(_.getSeq[Int](1).toList).toList
      assert(got === expected)
    }
  }

  test("property: PageRank conserves mass on dangling-free random graphs") {
    import graft.ops.PageRank
    val edgeGen = Gen.listOfN(25,
      Gen.zip(Gen.choose(0L, 9L), Gen.choose(0L, 9L))).map(_.distinct)
    forAllSeeded(edgeGen, n = 6) { edges0 =>
      val nodes = edges0.flatMap(e => Seq(e._1, e._2)).distinct
      if (nodes.size > 1) {
        // close the graph: every node gets an out-edge (cycle over nodes)
        // so no rank mass is dropped at a dangling node
        val ring = nodes.zip(nodes.tail :+ nodes.head)
        val edges = (edges0 ++ ring).distinct.filter(e => e._1 != e._2)
        val r = PageRank(edges.toDF("src", "dst"), 3)
          .collect().map(_.getDouble(1))
        assert(r.forall(_ > 0))
        val total = r.sum
        assert(math.abs(total - 1.0) < 1e-6,
          s"dangling-free graph must conserve rank mass, got $total")
      }
    }
  }

  test("property: KMV aggregator == sorted-distinct take(k), any partitioning") {
    import graft.ops.KmvAggregator
    val k = 8
    val agg = new KmvAggregator(k)
    val g = Gen.listOfN(60, Gen.choose(0L, 40L)) // heavy duplication
    forAllSeeded(Gen.zip(g, Gen.choose(1, 6)), n = 30) { case (xs, nParts) =>
      // simulate map-side partials over an arbitrary partitioning, then
      // an arbitrary merge order (reverse) — the distributed shapes
      val partials = xs.grouped(math.max(1, xs.size / nParts)).toSeq
        .map(_.foldLeft(agg.zero)(agg.reduce))
      val merged = partials.reverse.foldLeft(agg.zero)(agg.merge)
      assert(agg.finish(merged) === xs.distinct.sorted.take(k))
    }
  }

  test("property: MP4 encode→parse→demux round-trips the container law, any shape") {
    import graft.ops.VideoContainer
    val g = Gen.zip(Gen.choose(0L, 1000000L), Gen.choose(1, 40),
      Gen.choose(1, 4096), Gen.choose(1, 2160))
    forAllSeeded(g, n = 40) { case (id, nf, w, h) =>
      val bytes = VideoContainer.encodeMp4(id, nf, w, h)
      val m = VideoContainer.parse(bytes).getOrElse(
        fail(s"walker rejected its own MP4 (id=$id nf=$nf w=$w h=$h)"))
      assert(m.width === w && m.height === h && m.nSamples === nf)
      assert(m.duration === VideoContainer.FrameDelta * nf)
      val samples = VideoContainer.demuxSamples(m)
      // contiguous, law-sized, and the last byte of every sample obeys
      // the byte law (spot-checking ends catches off-by-one slicing)
      assert(samples.map(_._3) ===
        (0 until nf).map(VideoContainer.sampleSize(id, _)))
      samples.foreach { case (i, off, sz) =>
        assert(bytes(off.toInt) === VideoContainer.sampleByte(id, i, 0))
        assert(bytes(off.toInt + sz - 1) ===
          VideoContainer.sampleByte(id, i, sz - 1))
      }
      // truncation anywhere inside moov must reject, never mis-parse
      assert(VideoContainer.parse(bytes.dropRight(1 + (nf % 7))) === None)
    }
  }
}
