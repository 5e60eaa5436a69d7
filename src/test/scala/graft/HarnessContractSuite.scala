package graft

/** The driver contract itself: queries and oracles are total over each
  * other (every registered query is DuckDB-checked — none silently
  * drops to the weaker rows-only gate), names are harness-safe, the
  * flagship entry resolves, and the committed query index matches the
  * registry.
  */
class HarnessContractSuite extends SparkSpec {

  test("every query has an oracle and every oracle has a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without oracle: ${q -- o}")
    assert((o -- q).isEmpty, s"orphan oracles: ${o -- q}")
  }

  test("no query name collides across packs (toMap would silently shadow)") {
    val all = SparkEntry.packs.flatMap(_.queries.keys)
    val dups = all.groupBy(identity).collect { case (k, vs) if vs.size > 1 => k }
    assert(dups.isEmpty, s"duplicate query names across packs: $dups")
    assert(all.size === SparkEntry.queries.size)
  }

  test("query names are stable snake_case identifiers") {
    val bad = SparkEntry.queries.keySet
      .filterNot(_.matches("[a-z][a-z0-9_]*"))
    assert(bad.isEmpty, s"non-identifier query names: $bad")
  }

  test("docs/QUERY_INDEX.md is the rendering of SparkEntry.packs") {
    val committed = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("docs/QUERY_INDEX.md")), "UTF-8")
    assert(committed === QueryIndex.render(SparkEntry.packs),
      "stale index: run `tools/run.sh graft.QueryIndex docs/QUERY_INDEX.md`")
  }

  test("the flagship entry runs and produces rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every timed query has a pinned reference band (regen discipline)") {
    // `stream_*` entries are excluded from Bench by design; everything
    // else must carry a bench_ref.tsv band on a final tree, or a whole
    // round of additions runs uncovered by the noise defenses (the
    // artifact's `unbanded` field discloses it at run time; this pins
    // it at test time). Fix: rerun the full bench on a quiet host and
    // `python3 tools/gen_bench_ref.py <bench.json>`.
    val timed = SparkEntry.queries.keySet.filterNot(_.startsWith("stream_"))
    val missing = timed -- Bench.RefSteady.keySet
    assert(missing.isEmpty, s"unbanded queries — regen bench_ref.tsv: $missing")
  }
}
