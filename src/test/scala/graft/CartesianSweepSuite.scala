package graft

/** Whole-inventory plan invariant: NO registered query may plan a
  * `CartesianProductExec` — the non-broadcast all-pairs join that is
  * instant death at 100 TB (every intentional scalar/small-side cross
  * in the packs goes through `crossJoin(broadcast(...))` or a 1-row
  * aggregate, which plans as BroadcastNestedLoopJoin). The per-query
  * PlanAuditSuite pins positive shapes on selected queries; this
  * sweep pins the negative shape on ALL of them, so a future query
  * that forgets its broadcast hint (or a join whose equi-condition is
  * accidentally rewritten into a non-equi theta) fails by name here
  * instead of surfacing as a bench cliff.
  *
  * Inspects `sparkPlan` (the pre-AQE physical plan). The final plan
  * is never EXECUTED, but invoking the query BUILDERS is not free:
  * several run eager side jobs before returning their DataFrame (the
  * graph pack's localCheckpoint pins, the dpp/roundtrip layout
  * writes), so the sweep costs tens of seconds at sf0.001 — accepted
  * as part of `sbt test`. `stream_*` entries are excluded: invoking
  * them runs a whole streaming pipeline, and their micro-batch plans
  * are audited by their own suites.
  */
class CartesianSweepSuite extends SparkSpec {

  test("no registered query plans a CartesianProduct") {
    GraftExtensions.register(spark)
    val dir = "/root/testdata/sf0.001"
    val offenders = SparkEntry.queries.toSeq
      .filterNot(_._1.startsWith("stream_"))
      .flatMap { case (name, fn) =>
        val plan = fn(spark, dir).queryExecution.sparkPlan.toString
        if (plan.contains("CartesianProduct")) Some(name) else None
      }
    assert(offenders.isEmpty,
      s"queries planning a CartesianProduct: ${offenders.sorted.mkString(", ")}")
  }
}
