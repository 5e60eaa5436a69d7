package perfbench

/** Outcome of one output check. */
final case class Check(name: String, ok: Boolean, detail: String) {
  def toJson: Json.Obj = Json.obj("name" -> name, "ok" -> ok, "detail" -> detail)
}

/** The benchmark's output checks, as pure functions over collected rows so
  * each can be tested against a planted wrong row.
  */
object Checks {

  /** Multiset equality of two row collections; the detail names up to
    * three rows missing from `actual` and three it should not hold.
    */
  def sameRows[T](name: String, expected: Seq[T], actual: Seq[T]): Check = {
    def counts(xs: Seq[T]) = xs.groupMapReduce(identity)(_ => 1)(_ + _)
    val e = counts(expected)
    val a = counts(actual)
    val missing = e.toSeq.flatMap { case (k, n) =>
      Seq.fill(n - a.getOrElse(k, 0))(k) }
    val extra = a.toSeq.flatMap { case (k, n) =>
      Seq.fill(n - e.getOrElse(k, 0))(k) }
    if (missing.isEmpty && extra.isEmpty)
      Check(name, ok = true, s"${actual.size} rows")
    else Check(name, ok = false,
      s"expected ${expected.size} rows, got ${actual.size}; " +
        s"${missing.size} missing (e.g. ${missing.take(3).mkString("; ")}); " +
        s"${extra.size} unexpected (e.g. ${extra.take(3).mkString("; ")})")
  }

  def sameCount(name: String, expected: Long, actual: Long): Check =
    Check(name, expected == actual, s"expected $expected, got $actual")

  /** One range read of the reference query: every row is for `symbol`,
    * inside [lo, hi], in (time DESC, price ASC) order, at most `limit`
    * rows. Rows are (symbol, time, price). None when the read is correct.
    */
  def readViolation(rows: Seq[(String, Long, Double)], symbol: String,
      lo: Long, hi: Long, limit: Int): Option[String] = {
    if (rows.size > limit) return Some(s"${rows.size} rows > limit $limit")
    rows.find(_._1 != symbol).foreach(r =>
      return Some(s"row for ${r._1}, asked for $symbol"))
    rows.find(r => r._2 < lo || r._2 > hi).foreach(r =>
      return Some(s"time ${r._2} outside [$lo, $hi]"))
    rows.zip(rows.drop(1)).find { case (a, b) =>
      a._2 < b._2 || (a._2 == b._2 && a._3 > b._3)
    }.map { case (a, b) => s"order: $a before $b" }
  }
}
