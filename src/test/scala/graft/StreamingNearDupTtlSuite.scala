package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode}

import graft.source.EnvelopeSourceProvider
import graft.streaming.LshBucketProcessor

/** State TTL for the incremental LSH dedup buckets (VERDICT r9 task
  * #4): an unbounded crawl must not grow bucket ListState forever, so
  * the TTL seam has to actually EVICT — an idle bucket's members
  * expire, and a post-expiry arrival no longer pairs against them (the
  * documented freshness/recall trade of a TTL'd dedup window). The
  * expiry is pinned ACROSS A RESTART: the second incarnation reads
  * state through the same TTL filter, so recovered-then-stale members
  * are just as gone as live-session-stale ones. A fresh member inside
  * the TTL window still pairs — eviction must not over-fire.
  *
  * The e2e-certified `stream_e2e_neardup` path keeps TTLConfig.NONE
  * (its oracle is the whole-corpus batch arm); this suite exercises
  * the unbounded-crawl configuration of the SAME processor.
  */
class StreamingNearDupTtlSuite extends SparkSpec {
  import spark.implicits._

  private val fmt = classOf[EnvelopeSourceProvider].getName

  private def docLine(id: Long, text: String) =
    s"""{"topic": "docs", "frameType": "DOC", "payload": {"doc_id": $id, "text": "$text"}}"""

  private def write(dir: Path, name: String, lines: String*): Unit =
    Files.write(dir.resolve(name),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))

  test("idle bucket members expire after TTL — including across a " +
      "restart — while in-window members still pair") {
    val spool = Files.createTempDirectory("ndttl_spool")
    val ckpt = Files.createTempDirectory("ndttl_ckpt").toString
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val ttl = TTLConfig(java.time.Duration.ofSeconds(4))

    // one incarnation per call — every boundary below is also a
    // checkpointed restart, the suite family's discipline.
    // Trigger.AvailableNow, NOT processAllAvailable: under
    // TimeMode.ProcessingTime the engine keeps scheduling no-data
    // batches to advance the clock, so processAllAvailable never sees
    // an idle query (measured: the first incarnation span 13+ minutes
    // of empty batches); AvailableNow drains what exists and
    // terminates itself.
    def run(): Unit = {
      val env = spark.readStream.format(fmt)
        .option("path", spool.toString).load()
      val q = LshBucketProcessor.bandHits(env)
        .groupByKey(_.bucket)
        // TTL is processing-time-based, so the TTL'd configuration
        // runs under TimeMode.ProcessingTime (the e2e arm's
        // TimeMode.None has no clock for expiry to consult)
        .transformWithState(new LshBucketProcessor(ttl),
          TimeMode.ProcessingTime(), OutputMode.Update())
        .toDF()
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          batch.select("doc_a", "doc_b").collect()
            .foreach(r => emitted.add((r.getLong(0), r.getLong(1))))
        }.start()
      try assert(q.awaitTermination(120000), "drain timed out")
      finally q.stop()
    }

    val dup = "alpha beta gamma delta epsilon zeta"
    write(spool, "000.jsonl", docLine(1L, dup))
    run()
    assert(emitted.isEmpty, "a lone member emits nothing")

    // idle past the TTL, THEN restart: doc 1's membership must be
    // expired when the new incarnation reads the bucket
    Thread.sleep(6000)
    write(spool, "001.jsonl", docLine(2L, dup))
    run()
    import scala.jdk.CollectionConverters._
    assert(emitted.asScala.toSet === Set.empty,
      s"doc 1 expired ${emitted.asScala.toSeq}")

    // doc 2 was appended seconds ago — inside the window, so a new
    // arrival must still pair against it (eviction must not over-fire)
    write(spool, "002.jsonl", docLine(4L, dup))
    run()
    assert(emitted.asScala.toSet === Set((2L, 4L)),
      s"in-window member must pair: ${emitted.asScala.toSeq}")
  }
}
