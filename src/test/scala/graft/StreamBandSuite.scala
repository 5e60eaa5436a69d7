package graft

import org.scalatest.funsuite.AnyFunSuite

/** StreamBench's measurement-quality machinery: the rate-band test (the
  * mirror of Bench.overBand for higher-is-better numbers), the rule for
  * which runs the pins describe, and a contract check on the pinned
  * `stream_ref.tsv` resource against the arms StreamBench declares — a
  * corrupt regen would silently disable every arm band and let a
  * contended run stamp promotable. No SparkSession needed.
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

  test("stream_ref.tsv resource: pins exactly the banded rates, sane values") {
    val ref = StreamBench.RefRates
    // every pin names a rate some arm emits, and every banded arm has
    // a pin: a leftover pin, or an arm that never flags, fails here
    assert(ref.keySet === StreamBench.BandedRates.values.toSet)
    assert(StreamBench.BandedRates.keySet.subsetOf(StreamBench.AllArms.toSet))
    assert(ref.values.forall { case (p, s) =>
      p > 100.0 && s >= 1.2 && s <= 2.0
    }, "pins must be positive rates with slack in [1.2, 2.0]")
    assert(StreamBench.RefTsvSha.length === 64, "band provenance sha")
    // every historical QUIET reading passes its floor at hf 1 (the
    // flap guard: artifacts r12-r15, see stream_ref.tsv header)
    val quiet = Map(
      "socket" -> Seq(16082.3, 12282.3, 15519.1, 16011.6),
      "neardup" -> Seq(2462.4, 1952.1, 2088.7, 2640.7),
      "cdc" -> Seq(17227.1, 14490.3, 17669.7, 16511.5),
      "hotkey_tws" -> Seq(19627.3, 22951.5, 21162.0, 23206.6),
      "hotkey_asof_tws" -> Seq(12241.5, 13885.6, 9964.8, 13503.8))
    assert(quiet.keySet === ref.keySet)
    for ((arm, rates) <- quiet; r <- rates)
      assert(!StreamBench.underRate(r, ref.get(arm), 1.0),
        s"quiet historical reading $arm=$r must not flag")
  }

  test("arm filter vocabulary matches the banded + unbanded arm set") {
    assert(StreamBench.AllArms === Seq("socket", "neardup", "cdc",
      "hotkey", "hotkey_asof", "recovery"))
  }

  test("bandedRun: only every arm at the default sizes meets the pins") {
    import StreamBench.{AllArms, DefaultDocs, DefaultKeys, DefaultRows, bandedRun}
    assert(bandedRun(AllArms, DefaultRows, DefaultDocs, DefaultKeys))
    // an arm filter, even of every banded arm
    assert(!bandedRun(Seq("hotkey", "hotkey_asof"), DefaultRows,
      DefaultDocs, DefaultKeys))
    assert(!bandedRun(AllArms.filterNot(_ == "recovery"), DefaultRows,
      DefaultDocs, DefaultKeys))
    // any resized feed: the 20k-row smoke run, docs, keys
    assert(!bandedRun(AllArms, 20000, DefaultDocs, DefaultKeys))
    assert(!bandedRun(AllArms, DefaultRows, 1000, DefaultKeys))
    assert(!bandedRun(AllArms, DefaultRows, DefaultDocs, 500))
    assert(!bandedRun(Seq("hotkey", "hotkey_asof"), 20000, DefaultDocs,
      DefaultKeys))
  }
}
