package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

import graft.ops.MinHashLSH
import graft.sink.LwwSink
import graft.source.EnvelopeSourceProvider
import graft.streaming.LshBucketProcessor

/** Restart recovery for the LSH bucket state behind `stream_e2e_neardup`:
  * bucket membership must survive a checkpointed restart, so a document
  * arriving in the SECOND incarnation still pairs against a first-
  * incarnation member — lost state would silently DROP the cross-restart
  * pair (a recall hole, not a duplicate, so the LWW sink could never
  * mask it). Emission counting also pins exactly-once per band-bucket
  * across incarnations: two identical docs collide in all 4 bands, so
  * the pair must surface exactly 4 times — a 5th would mean replayed
  * state, 3 would mean a lost bucket.
  */
class StreamingNearDupRestartSuite extends SparkSpec {
  import spark.implicits._

  private val fmt = classOf[EnvelopeSourceProvider].getName

  private def docLine(id: Long, text: String) =
    s"""{"topic": "docs", "frameType": "DOC", "payload": {"doc_id": $id, "text": "$text"}}"""

  private def write(dir: Path, name: String, lines: String*): Unit =
    Files.write(dir.resolve(name),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))

  test("bucket state survives restart: cross-incarnation pair emitted exactly once per band") {
    val spool = Files.createTempDirectory("nd_spool")
    val sink = Files.createTempDirectory("nd_sink").toString
    val ckpt = Files.createTempDirectory("nd_ckpt").toString
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

    def run(): Unit = {
      val env = spark.readStream.format(fmt)
        .option("path", spool.toString).load()
      val hits = LshBucketProcessor.bandHits(env)
      val q = hits.groupByKey(_.bucket)
        .transformWithState(new LshBucketProcessor(),
          TimeMode.None(), OutputMode.Update())
        .toDF()
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          batch.select("doc_a", "doc_b").collect()
            .foreach(r => emitted.add((r.getLong(0), r.getLong(1))))
          LwwSink.upsertBatch(batch.toDF(), id, sink, "docs", "nd",
            Seq("doc_a", "doc_b"))
        }.start()
      try q.processAllAvailable() finally q.stop()
    }

    val dup = "alpha beta gamma delta epsilon zeta"
    write(spool, "000.jsonl",
      docLine(1L, dup),
      docLine(3L, "totally unrelated corpus text about query planning"))
    run()

    write(spool, "001.jsonl", docLine(2L, dup)) // pairs with doc 1
    run()

    import scala.jdk.CollectionConverters._
    val pairs = emitted.asScala.toSeq
    assert(pairs.count(_ == ((1L, 2L))) === 4,
      s"identical docs share all 4 band buckets, each must emit the " +
        s"cross-restart pair exactly once: $pairs")
    assert(pairs.toSet === Set((1L, 2L)), s"unexpected pairs: $pairs")

    // final sink state = the batch arm over the union corpus
    val batchPairs = MinHashLSH.candidatePairs(
        Seq((1L, dup), (2L, dup),
          (3L, "totally unrelated corpus text about query planning"))
          .toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = LwwSink.read(spark, sink, "docs", "nd")
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows === batchPairs && rows === Set((1L, 2L)))
  }
}
