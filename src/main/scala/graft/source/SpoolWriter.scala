package graft.source

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SaveMode}

/** The one implementation of the spool WRITER contract (monotone-named,
  * immutable-once-present `.jsonl` files — see [[EnvelopeSourceProvider]]):
  * distributed text write to a staging dir, then rename the sorted part
  * files into `NNNN.jsonl` sequence names. Shared by the e2e oracle
  * queries and StreamBench so the contract lives in exactly one place.
  *
  * Ordering note: one part file = one spool file = indivisible
  * micro-batch member. A caller that needs per-key ordering under ANY
  * admission pacing pre-partitions `lines` by the key and sorts within
  * partitions (each key's rows then live in one file, in order) and
  * passes `repartitionTo = None` to preserve that layout.
  */
object SpoolWriter {

  def write(lines: DataFrame, work: Path,
      repartitionTo: Option[Int] = Some(4)): String = {
    val staging = work.resolve("staging")
    val spool = work.resolve("spool")
    Files.createDirectories(spool)
    repartitionTo.map(lines.repartition(_)).getOrElse(lines)
      .write.mode(SaveMode.Overwrite).text(staging.toString)
    graft.util.Fs.list(staging)
      .filter(_.getFileName.toString.startsWith("part-"))
      .sortBy(_.getFileName.toString)
      .zipWithIndex.foreach { case (p, i) =>
        // %010d — the SAME name format SpoolTransportAdapter seals, and
        // the two MUST match: the adapter's resume logic continues past
        // max(existing)+1, and a resumed file in a narrower format
        // sorts BELOW the consumed watermark and is never read (silent
        // data loss); %04d alone also breaks monotone lexicographic
        // sort at the 10,000th part file
        Files.move(p, spool.resolve(f"$i%010d.jsonl"))
      }
    spool.toString
  }

  /** Best-effort removal of a work tree at JVM exit — e2e runs write a
    * spool + sink + checkpoint per invocation; without this a
    * long-lived host accumulates full dataset copies in tmp. (Deletion
    * must wait for exit: the query result is a LAZY read over the sink
    * parquet.)
    */
  // ONE shutdown hook draining a concurrent queue: registering a fresh
  // hook Thread per call accumulated unboundedly in a long-lived driver
  // (each of the 23 stream_e2e queries registers one per invocation,
  // and Verify/Bench invoke every query at least twice)
  private val exitWork =
    new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  private lazy val exitHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      var w = exitWork.poll()
      while (w != null) {
        try graft.util.Fs.deleteTree(w)
        catch { case _: Throwable => () }
        w = exitWork.poll()
      }
    }))

  def deleteAtExit(work: Path): Unit = {
    exitHook // registers the single hook on first use
    exitWork.add(work)
    ()
  }
}
