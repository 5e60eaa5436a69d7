package graft.source

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sink.LwwSink
import graft.streaming.Pipelines

/** One spooled stream run: a work dir holding the envelope files under
  * `spool`, the sink under `sinkRoot` and the checkpoint under `ckpt`;
  * `env` is the envelope stream over the spool. The source lists the
  * spool per trigger, not at load, so a caller may still append
  * sentinel files before it starts a query, and may start `env` again
  * on the same checkpoint to restart.
  *
  * The one home of the spool → envelope `readStream` → `foreachBatch`
  * upsert → drain steps: the e2e oracle rows, StreamBench's arms and
  * ScaleProbe's `e2e_meters` all run through it.
  */
private[graft] final case class Spooled(work: Path, spool: String,
    env: DataFrame) {
  def sinkRoot: String = work.resolve("sink").toString
  def ckpt: String = work.resolve("ckpt").toString

  /** Append `lines` as one spool file, read by a later trigger than
    * every file present.
    */
  def append(lines: String*): Unit =
    Files.writeString(nextFile(), lines.mkString("", "\n", "\n"))

  /** Move a staged [[SpoolWriter]] output's files into the spool, in
    * name order, each after every file present.
    */
  def moveIn(staged: String): Unit =
    EnvelopeSpool.files(staged).foreach(Files.move(_, nextFile()))

  /** The next appended file: same %010d width as the writer's sealed
    * names (SpoolWriter's contract — a narrower format can sort below
    * the consumed watermark and be silently skipped), offset high so
    * every appended file sorts after every data file by construction,
    * numbered by the files present so each sorts after the last.
    */
  private def nextFile(): Path = Paths.get(spool)
    .resolve(f"${9000000000L + EnvelopeSpool.files(spool).size}%010d.jsonl")

  /** Stream `df` in `mode` into the LWW sink (`perBatch` of each
    * micro-batch upserted into `topic`/`table` keyed by `pk`,
    * checkpointed at `ckpt`) until the spool is consumed. Returns the
    * stopped query; its progress stays readable.
    */
  def drain(df: DataFrame, mode: String, topic: String, table: String,
      pk: Seq[String],
      perBatch: DataFrame => DataFrame = identity): StreamingQuery = {
    val q = df.writeStream.outputMode(mode)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        LwwSink.upsertBatch(perBatch(batch.toDF()), id, sinkRoot,
          topic, table, pk)
      }.start()
    try q.processAllAvailable() finally q.stop()
    q
  }

  /** Run the production assembly ([[Pipelines.start]] in `mode`) over
    * the spool until it is consumed. Returns the stopped queries; their
    * progress stays readable.
    */
  def drainPipeline(mode: String): Seq[StreamingQuery] = {
    val qs = Pipelines.start(env, mode, sinkRoot, ckpt)
    try qs.foreach(_.processAllAvailable()) finally qs.foreach(_.stop())
    qs
  }
}

private[graft] object Spooled {

  /** A fresh work dir named by `prefix` (deleted at exit) holding the
    * [[SpoolWriter]] write of `lines` (`repartitionTo` as the
    * writer's), streamed by `maxFilesPerTrigger` files per micro-batch
    * when given.
    */
  def apply(s: SparkSession, lines: DataFrame, prefix: String,
      repartitionTo: Option[Int] = Some(4),
      maxFilesPerTrigger: Option[Int] = None): Spooled = {
    val work = workDir(prefix)
    at(s, work, SpoolWriter.write(lines, work, repartitionTo),
      maxFilesPerTrigger)
  }

  /** The envelope stream over an existing `spool` (e.g. one a
    * [[SpoolTransportAdapter]] pump sealed), with sink and checkpoint
    * under `work`.
    */
  def at(s: SparkSession, work: Path, spool: String,
      maxFilesPerTrigger: Option[Int] = None): Spooled = {
    val reader = s.readStream
      .format(classOf[EnvelopeSourceProvider].getName)
      .option("path", spool)
    Spooled(work, spool, maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n.toString))
      .load())
  }

  /** A fresh temp dir named by `prefix`, deleted at exit. */
  def workDir(prefix: String): Path = {
    val work = Files.createTempDirectory(prefix)
    SpoolWriter.deleteAtExit(work)
    work
  }
}
