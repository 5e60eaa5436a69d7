package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.queries.StreamE2EQueries
import graft.sink.LwwSink
import graft.source.EnvelopeSourceProvider

/** Restart recovery for the per-key latest-op state behind
  * `stream_e2e_cdc` (the same [[StreamE2EQueries.cdcLatest]] dataflow),
  * exercised on the one shape a final-table compare without history
  * cannot fake: a LATE-ARRIVING tombstone (older version than the
  * state's current op) must be REJECTED by the restored argmax — key
  * R's U@t20 from incarnation one outranks the D@t5 that arrives after
  * the restart. Lost state would make the
  * second incarnation see only the D and retract a live row; the
  * forward direction (A's newer D deleting incarnation one's U) rides
  * along, plus an insert-then-update key and a delete-only key.
  */
class StreamingCdcRestartSuite extends SparkSpec {

  private val fmt = classOf[EnvelopeSourceProvider].getName
  private val t0 = 1687176000L

  private def line(sym: String, time: Long, op: String) =
    s"""{"topic": "feed", "frameType": "TICK", "payload": {"symbol": "$sym", "bid": 1.0, "price": 1.0, "ask": 1.0, "time": $time, "volume": 1, "type": "$op"}}"""

  private def write(dir: Path, name: String, lines: String*): Unit =
    Files.write(dir.resolve(name),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))

  test("late tombstone is rejected by restored argmax state") {
    val spool = Files.createTempDirectory("cdc_spool")
    val sink = Files.createTempDirectory("cdc_sink").toString
    val ckpt = Files.createTempDirectory("cdc_ckpt").toString

    def run(): Unit = {
      val env = spark.readStream.format(fmt)
        .option("path", spool.toString).load()
      val q = StreamE2EQueries.cdcLatest(env).writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          LwwSink.upsertBatch(batch.toDF(), id, sink, "feed", "cdc",
            Seq("symbol"))
        }.start()
      try q.processAllAvailable() finally q.stop()
    }

    // incarnation one: A live (U), B inserted (I), R live late (U@t20)
    write(spool, "000.jsonl",
      line("A", t0, "U"), line("B", t0 + 1, "I"), line("R", t0 + 20, "U"))
    run()

    // incarnation two, after restart: A deleted (newer D), B updated,
    // C delete-only, R receives an OLDER D that must lose to U@t20
    write(spool, "001.jsonl",
      line("A", t0 + 10, "D"), line("B", t0 + 11, "U"),
      line("C", t0 + 12, "D"), line("R", t0 + 5, "D"))
    run()

    val rows = LwwSink.read(spark, sink, "feed", "cdc")
      .filter(col("op") =!= "D")
      .select("symbol", "time", "op").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(rows === Set(("B", t0 + 11, "U"), ("R", t0 + 20, "U")),
      s"snapshot after restart diverged: $rows")
    // and the tombstones are RETAINED in the register table (purge is
    // a read/compaction concern), so a later re-insert can supersede
    val all = LwwSink.read(spark, sink, "feed", "cdc")
      .select("symbol", "op").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(all.contains(("A", "D")) && all.contains(("C", "D")),
      s"tombstones must persist in the register table: $all")
  }
}
