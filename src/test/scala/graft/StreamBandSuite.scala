package graft

import org.scalatest.funsuite.AnyFunSuite

/** StreamBench's measurement-quality machinery (round-16, VERDICT r15
  * task #1): the rate-band test (the mirror of Bench.overBand for
  * higher-is-better numbers) and a contract check on the pinned
  * `stream_ref.tsv` resource — a corrupt regen would silently disable
  * every arm band and let a contended run stamp promotable. No
  * SparkSession needed.
  */
class StreamBandSuite extends AnyFunSuite {

  test("underRate: no pin means no band check, ever") {
    assert(!StreamBench.underRate(0.1, None, 1.0))
  }

  test("underRate: flags below pin/slack, passes at-or-above") {
    val pin = Some((15000.0, 1.5)) // floor 10000 at hf 1
    assert(StreamBench.underRate(9999.0, pin, 1.0))
    assert(!StreamBench.underRate(10000.0, pin, 1.0))
    assert(!StreamBench.underRate(15000.0, pin, 1.0))
  }

  test("underRate: a slower host LOWERS the floor proportionally " +
      "(the mirror of Bench's band widening)") {
    val pin = Some((15000.0, 1.5))
    // hf 2: floor halves to 5000 — a uniformly slow host's rates drop
    // across the board and must not flag
    assert(!StreamBench.underRate(6000.0, pin, 2.0))
    assert(StreamBench.underRate(4999.0, pin, 2.0))
    // hf below 1 never TIGHTENS the floor (clamped, like hfGuardOf)
    assert(!StreamBench.underRate(10000.0, pin, 0.5))
  }

  test("stream_ref.tsv resource: loads, pins every banded arm, sane " +
      "values; the r15 contended pipeline reading flags against it") {
    val ref = StreamBench.RefRates
    for (arm <- Seq("pipeline", "socket", "neardup", "cdc",
        "hotkey_tws", "hotkey_asof_tws"))
      assert(ref.contains(arm), s"stream_ref.tsv missing $arm")
    assert(ref.values.forall { case (p, s) =>
      p > 100.0 && s >= 1.2 && s <= 2.0
    }, "pins must be positive rates with slack in [1.2, 2.0]")
    assert(StreamBench.RefTsvSha.length === 64, "band provenance sha")
    // the round's motivating case: r15's contended 10639 rows/s flags,
    // r14's quiet 15868 passes (both against the committed pins)
    assert(StreamBench.underRate(10639.0, ref.get("pipeline"), 1.0))
    assert(!StreamBench.underRate(15868.0, ref.get("pipeline"), 1.0))
    // every historical QUIET reading passes its floor at hf 1 (the
    // flap guard: artifacts r12-r15, see stream_ref.tsv header)
    val quiet = Map(
      "pipeline" -> Seq(17430.4, 14480.4, 15868.5),
      "socket" -> Seq(16082.3, 12282.3, 15519.1, 16011.6),
      "neardup" -> Seq(2462.4, 1952.1, 2088.7, 2640.7),
      "cdc" -> Seq(17227.1, 14490.3, 17669.7, 16511.5),
      "hotkey_tws" -> Seq(19627.3, 22951.5, 21162.0, 23206.6),
      "hotkey_asof_tws" -> Seq(12241.5, 13885.6, 9964.8, 13503.8))
    for ((arm, rates) <- quiet; r <- rates)
      assert(!StreamBench.underRate(r, ref.get(arm), 1.0),
        s"quiet historical reading $arm=$r must not flag")
  }

  test("arm filter vocabulary matches the banded + unbanded arm set") {
    assert(StreamBench.AllArms === Seq("pipeline", "socket", "neardup",
      "cdc", "hotkey", "hotkey_asof", "recovery"))
  }
}
