package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom

import scala.collection.mutable

import graft.util.JsonStrings

/** Zipf(s) sampler over ranks 0 until n (rank 0 the most frequent). */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }
  def sample(rng: SplittableRandom): Int = {
    val u = rng.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** A generated TICK row, as the oracle sees it. */
final case class TickRec(symbol: String, bid: Double, price: Double,
    ask: Double, time: Long, volume: Int, tradeType: String)

/** A generated BOOK level that the sink must hold unless re-sent later. */
final case class LevelRec(topic: String, symbol: String, price: Double,
    time: Long, volume: Int, orderType: String, seq: Long)

/** One spool line plus what it means: the valid rows it carries and the
  * number of rows the parser must quarantine.
  */
final case class Line(text: String, ticks: Seq[TickRec],
    levels: Seq[LevelRec], corrupt: Int)

object Envelope {
  def line(topic: String, frameType: String, payload: String): String =
    s"""{"topic":${JsonStrings.quote(topic)},"frameType":"$frameType",""" +
      s""""payload":${JsonStrings.quote(payload)}}"""
}

/** TICK feed: Zipf-skewed symbols, one global clock that advances
  * `stepSec` per row (so each symbol's times are strictly increasing and
  * every (symbol, time) is unique), and about `corruptRate` malformed
  * payloads of four kinds.
  */
final class TickFeed(seed: Long, nSymbols: Int, t0: Long, stepSec: Long,
    corruptRate: Double) {
  private val rng = new SplittableRandom(seed)
  private val zipf = new Zipf(nSymbols, 1.0)
  private var i = 0L

  def next(): Line = {
    val time = t0 + i * stepSec
    i += 1
    val sym = f"SYM${zipf.sample(rng)}%05d"
    val cents = 10000 + rng.nextInt(10000)
    val r = rng.nextDouble()
    val tt = if (r < 0.45) "B" else if (r < 0.9) "S" else "X"
    val t = TickRec(sym, (cents - 1) / 100.0, cents / 100.0,
      (cents + 1) / 100.0, time, 1 + rng.nextInt(500), tt)
    def json(fields: Seq[(String, String)]) =
      fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val fields = Seq("symbol" -> s""""${t.symbol}"""", "bid" -> t.bid.toString,
      "price" -> t.price.toString, "ask" -> t.ask.toString,
      "time" -> t.time.toString, "volume" -> t.volume.toString,
      "type" -> s""""${t.tradeType}"""")
    if (rng.nextDouble() < corruptRate) {
      val bad = rng.nextInt(4) match {
        case 0 => json(fields).take(20)                     // truncated
        case 1 => json(fields.filterNot(_._1 == "type"))     // missing field
        case 2 => json(fields.map {                          // mistyped field
          case ("time", _) => "time" -> "\"oops\""; case f => f })
        case _ => "not json"
      }
      Line(Envelope.line("feed", "TICK", bad), Nil, Nil, 1)
    } else Line(Envelope.line("feed", "TICK", json(fields)), Seq(t), Nil, 0)
  }
}

/** BOOK feed: JSON-array ladders over a few topics. A `resendRate`
  * share of messages re-send levels of an earlier snapshot (same
  * symbol, time and price, so the same primary key). Every send of a
  * key carries a strictly larger volume than the one before, so the
  * last-generated send wins under any micro-batch boundaries: across
  * batches the later batch wins, and inside one batch the sink breaks
  * ties on the payload columns, volume first.
  */
final class BookFeed(seed: Long, topics: Seq[String], symbolsPerTopic: Int,
    levels: Int, resendRate: Double, corruptRate: Double, t0: Long,
    stepSec: Long) {
  private val rng = new SplittableRandom(seed)
  private val zipf = new Zipf(symbolsPerTopic, 1.0)
  private val lastVolume = mutable.HashMap.empty[(String, String, Long, Int), Int]
  // recent snapshots per (topic, symbol): (time, (price cents, side) per level)
  private val history =
    mutable.HashMap.empty[(String, String), Vector[(Long, Seq[(Int, String)])]]
  private val mid = mutable.HashMap.empty[(String, String), Int]
  private var msg = 0L
  private var seq = 0L

  private def levelJson(sym: String, cents: Int, time: Long,
      volume: Option[Int], side: String): String = {
    val vol = volume.map(v => s""","volume":$v""").getOrElse("")
    s"""{"symbol":"$sym","price":${cents / 100.0},"time":$time$vol,"type":"BOOK_TYPE_$side"}"""
  }

  def next(): Line = next(topics(rng.nextInt(topics.size)))

  def next(topic: String): Line = {
    val time = t0 + msg * stepSec
    msg += 1
    val sym = f"${topic.toUpperCase}%s_${zipf.sample(rng)}%03d"
    val key = (topic, sym)
    val past = history.getOrElse(key, Vector.empty)
    val (snapTime, prices) =
      if (past.nonEmpty && rng.nextDouble() < resendRate) {
        val (t, ps) = past(rng.nextInt(past.size))
        (t, ps.filter(_ => rng.nextDouble() < 0.7) match {
          case Seq() => Seq(ps.head)
          case some => some
        })
      } else {
        val m = mid.getOrElse(key, 10000 + rng.nextInt(90000)) +
          rng.nextInt(21) - 10
        mid(key) = m
        val ps = (1 to levels / 2).flatMap(k => Seq((m - k, "BUY"), (m + k, "SELL")))
        history(key) = (past :+ ((time, ps))).takeRight(8)
        (time, ps)
      }
    if (rng.nextDouble() < corruptRate && rng.nextBoolean())
      return Line(Envelope.line(topic, "BOOK", "[{\"symbol\":"), Nil, Nil, 1)
    val recs = prices.map { case (c, side) =>
      val k = (topic, sym, snapTime, c)
      val v = lastVolume.get(k).map(_ + 1 + rng.nextInt(100))
        .getOrElse(1 + rng.nextInt(1000000))
      lastVolume(k) = v
      seq += 1
      LevelRec(topic, sym, c / 100.0, snapTime, v, side, seq)
    }
    val good = recs.map(l => levelJson(l.symbol, (l.price * 100).round.toInt,
      l.time, Some(l.volume), l.orderType))
    // a level missing its volume is quarantined on its own; the other
    // levels of the message still land
    val (extra, corrupt) =
      if (rng.nextDouble() < corruptRate)
        (Seq(levelJson(sym, prices.head._1, snapTime, None, "BUY")), 1)
      else (Nil, 0)
    Line(Envelope.line(topic, "BOOK", (good ++ extra).mkString("[", ",", "]")),
      Nil, recs, corrupt)
  }
}

/** Spool writer for the envelope source: each file appears atomically
  * under a monotone `%010d.jsonl` name.
  */
object Spool {
  def name(i: Int): String = f"$i%010d.jsonl"

  def write(dir: Path, i: Int, lines: Seq[Line]): String = {
    Files.createDirectories(dir)
    val tmp = dir.resolve(f".tmp-$i%010d")
    Files.write(tmp, lines.map(_.text).mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve(name(i)), StandardCopyOption.ATOMIC_MOVE)
    name(i)
  }
}
