package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.util.Fs

/** Versioned driver-small carry-state tables for salted micro-batch
  * operators (factored round-12 out of [[SaltedCumVolBatch]], now
  * shared with [[SaltedAsofBatch]]): one parquet directory `v<N>` per
  * committed micro-batch, read strictly-below the current batch id,
  * written via atomic rename, pruned to the last committed version.
  *
  * The idempotent-replay contract both operators rely on:
  *   - batch N reads the newest committed version `< N` (STRICT: a
  *     replay of batch N must not read N's own output);
  *   - `v<N>` is written as parquet into `_tmp_v<N>` then renamed into
  *     place (same filesystem, one directory-entry move) — the reader
  *     only lists `v*`, so a crash mid-write is invisible, and a
  *     replay overwrites both dirs idempotently;
  *   - versions older than N−1 are pruned after commit: the streaming
  *     engine can only replay the last in-flight batch, so N−1 is the
  *     only version a recovery can need.
  */
object CarryState {

  /** Newest committed state version strictly below `batchId`, or an
    * empty frame of `schema` for the first batch.
    */
  def read(
      s: SparkSession, stateRoot: String, batchId: Long,
      schema: StructType): DataFrame = {
    val root = Paths.get(stateRoot)
    val versions =
      if (!Files.isDirectory(root)) Seq.empty
      else Fs.list(root)
        .map(_.getFileName.toString)
        .filter(_.startsWith("v"))
        .flatMap(n => scala.util.Try(n.drop(1).toLong).toOption)
        .filter(_ < batchId)
    versions.maxOption match {
      case Some(v) => s.read.schema(schema).parquet(s"$stateRoot/v$v")
      case None =>
        s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row],
          schema)
    }
  }

  /** Write state for `batchId` atomically and prune old versions; see
    * the object scaladoc for the replay contract.
    */
  def write(state: DataFrame, stateRoot: String, batchId: Long): Unit = {
    val tmp = Paths.get(s"$stateRoot/_tmp_v$batchId")
    val fin = Paths.get(s"$stateRoot/v$batchId")
    // carry state is one row per live key — driver-small by contract
    state.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    Fs.deleteTree(fin) // replay: clear the previous identical attempt
    Files.move(tmp, fin)
    // prune: recovery can only replay THIS batch, which needs < N only
    Fs.list(Paths.get(stateRoot))
      .filter { p =>
        val n = p.getFileName.toString
        n.startsWith("v") &&
          scala.util.Try(n.drop(1).toLong).toOption.exists(_ < batchId - 1)
      }
      .foreach(Fs.deleteTree)
  }
}
