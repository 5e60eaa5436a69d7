package graft

/** Every StreamBench arm at toy size, through the functions its `main`
  * calls: each arm lands the result its feed determines (the arms also
  * check this themselves and throw on a short result).
  */
class StreamBenchArmsSuite extends SparkSpec {

  test("socket and hotkey arms land every fed row") {
    val (rows, sec, wireSec) = StreamBench.socketRun(spark, 2000)
    assert(rows === 2000L)
    assert(wireSec > 0.0 && sec >= wireSec)
    val (hkSec, hkRows) = StreamBench.hotkeyRun(spark, 2000)
    assert(hkRows === 2000L && hkSec > 0.0)
  }

  test("hotkey_asof arm lands enriched trades only") {
    // 2000 rows, every 3rd a quote: at most the 1333 trades land, and
    // every HOT trade after the first quote does
    val (_, rows) = StreamBench.hotkeyAsofRun(spark, 2000)
    assert(rows > 1000L && rows <= 1333L, s"as-of rows $rows")
  }

  test("cdc arm keeps exactly the keys whose last op is not a tombstone") {
    assert(StreamBench.cdcLiveKeys(200000) === 900L)
    assert(StreamBench.cdcLiveKeys(25) === 23L) // keys 9 and 19 deleted
    val (live, _) = StreamBench.cdcRun(spark, 2000)
    assert(live === 900L)
  }

  test("neardup arm lands every pair of identical planted texts") {
    // docs 0, 10, …, 990 repeat text id % 37; unique docs share no
    // shingle, so the planted pairs are all the pairs there are
    val groups = (0 until 1000 by 10).groupBy(_ % 37).values
    val planted = groups.map(g => g.size.toLong * (g.size - 1) / 2).sum
    val (pairs, _) = StreamBench.neardupRun(spark, 1000)
    assert(pairs === planted)
  }

  test("recovery arm restores one state row per key and latches a batch") {
    val (keys, stateRows, firstSec, drainSec) =
      StreamBench.recoveryRun(spark, 300)
    assert(keys === 300L && stateRows === 300L)
    assert(firstSec > 0.0 && drainSec > 0.0, s"first $firstSec drain $drainSec")
  }
}
