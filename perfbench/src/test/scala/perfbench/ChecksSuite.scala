package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Each output check accepts a correct output and rejects a planted
  * wrong row.
  */
class ChecksSuite extends AnyFunSuite {

  private val sink = Seq(
    ("SYM1", 1704139200L, 100.5, 3L),
    ("SYM1", 1704139202L, 100.6, 8L),
    ("SYM2", 1704139204L, 99.0, 1L))

  test("sameRows accepts the same rows in any order") {
    assert(Checks.sameRows("sink", sink, sink.reverse).ok)
  }

  test("sameRows rejects a planted wrong value") {
    val wrong = sink.updated(1, ("SYM1", 1704139202L, 100.6, 9L))
    val c = Checks.sameRows("sink", sink, wrong)
    assert(!c.ok)
    assert(c.detail.contains("1 missing") && c.detail.contains("1 unexpected"))
  }

  test("sameRows rejects a duplicated row and a dropped row") {
    assert(!Checks.sameRows("sink", sink, sink :+ sink.head).ok)
    assert(!Checks.sameRows("sink", sink, sink.tail).ok)
  }

  test("sameCount rejects an off-by-one dead-letter count") {
    assert(Checks.sameCount("dl", 12, 12).ok)
    assert(!Checks.sameCount("dl", 12, 13).ok)
  }

  private val read = Seq(
    ("T0_001", 200L, 1.5), ("T0_001", 200L, 1.6), ("T0_001", 150L, 1.0))

  test("a correct range read passes") {
    assert(Checks.readViolation(read, "T0_001", 100L, 200L, 3).isEmpty)
    assert(Checks.readViolation(Nil, "T0_001", 100L, 200L, 3).isEmpty)
  }

  test("a read rejects a planted row of another symbol") {
    val bad = read :+ (("T0_002", 120L, 1.0))
    assert(Checks.readViolation(bad, "T0_001", 100L, 200L, 5).get.contains("T0_002"))
  }

  test("a read rejects a planted row outside its time range") {
    val bad = read :+ (("T0_001", 99L, 1.0))
    assert(Checks.readViolation(bad, "T0_001", 100L, 200L, 5).get.contains("outside"))
  }

  test("a read rejects rows out of (time DESC, price ASC) order") {
    val timeAsc = Seq(read(2), read(0))
    assert(Checks.readViolation(timeAsc, "T0_001", 100L, 200L, 5).get.startsWith("order"))
    val priceDesc = Seq(read(1), read(0))
    assert(Checks.readViolation(priceDesc, "T0_001", 100L, 200L, 5).get.startsWith("order"))
  }

  test("a read rejects more rows than its limit") {
    assert(Checks.readViolation(read, "T0_001", 100L, 200L, 2).get.contains("limit"))
  }

  test("job busy time is the union of job intervals") {
    assert(TaskLog.unionMs(Seq((0.0, 10.0), (5.0, 12.0), (20.0, 25.0))) == 17.0)
    assert(TaskLog.merged(Seq((5.0, 6.0), (0.0, 2.0), (1.0, 3.0))) ==
      Seq((0.0, 3.0), (5.0, 6.0)))
  }
}
