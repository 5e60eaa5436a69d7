package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One `StreamingQueryProgress`, reduced to what the benchmark reads.
  * `arrival` is when the listener saw it on [[Clock]]; `endOffset` is
  * the envelope source's high-watermark spool file name.
  */
final case class Progress(query: String, batchId: Long, arrival: Double,
    inputRows: Long, durations: Map[String, Long], endOffset: String,
    stateRowsTotal: Long, stateRowsUpdated: Long, stateMemoryBytes: Long,
    stateCommitMs: Long)

/** Records every progress report of every streaming query. */
final class ProgressLog extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[Progress]()
  private val LastFile = "\"lastFile\":\"([^\"]*)\"".r.unanchored

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val end = p.sources.headOption.flatMap(s => Option(s.endOffset)) match {
      case Some(LastFile(f)) => f
      case _ => ""
    }
    val ops = p.stateOperators.toSeq
    events.add(Progress(Option(p.name).getOrElse(""), p.batchId, Clock.ms,
      p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      end,
      ops.map(_.numRowsTotal).sum, ops.map(_.numRowsUpdated).sum,
      ops.map(_.memoryUsedBytes).sum, ops.map(_.commitTimeMs).sum))
  }

  def forQuery(name: String): Seq[Progress] =
    events.asScala.filter(_.query == name).toSeq

  /** Arrival time of the first report of `name` whose batch committed
    * `file` or a later one.
    */
  def committedAt(name: String, file: String): Option[Double] =
    forQuery(name).find(_.endOffset >= file).map(_.arrival)

  /** Block until `name` has committed `file`; fails if a query died or
    * the deadline passes, so a stalled stream is an error, not a slow
    * number.
    */
  def await(name: String, file: String,
      queries: Seq[org.apache.spark.sql.streaming.StreamingQuery],
      timeoutMs: Double): Double = {
    val deadline = Clock.ms + timeoutMs
    while (true) {
      committedAt(name, file).foreach(t => return t)
      queries.foreach(q => q.exception.foreach(ex => throw ex))
      if (Clock.ms > deadline)
        throw new IllegalStateException(
          s"query $name did not commit $file within ${timeoutMs / 1000} s")
      Thread.sleep(2)
    }
    Double.NaN
  }
}

/** Task-level counters for the jobs run under one tag. */
final class TagStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var bytesWritten = 0L
  var recordsWritten = 0L
  /** Job intervals on [[Clock]]. */
  val intervals = mutable.ArrayBuffer.empty[(Double, Double)]

  /** Wall time during which at least one job was running. */
  def busyMs: Double = TaskLog.unionMs(intervals.toSeq)
}

/** Attributes Spark jobs to the benchmark's layers through a local
  * property the benchmark sets on the calling thread (see [[TaskLog.tag]]).
  */
final class TaskLog extends SparkListener {
  private val offset = System.currentTimeMillis() - Clock.ms
  private val byTag = mutable.Map.empty[String, TagStats]
  private val jobTag = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Double]
  private val stageTag = mutable.Map.empty[Int, String]

  private def tagOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(TaskLog.Key)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    tagOf(e.properties).foreach { t =>
      jobTag(e.jobId) = t
      jobStart(e.jobId) = e.time - offset
      byTag.getOrElseUpdate(t, new TagStats).jobs += 1
      e.stageIds.foreach(stageTag(_) = t)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobTag.remove(e.jobId).foreach { t =>
      val s = jobStart.remove(e.jobId).getOrElse(e.time - offset)
      byTag(t).intervals += ((s, e.time - offset))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageTag.get(e.stageInfo.stageId).foreach(t => byTag(t).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (t <- stageTag.get(e.stageId); m <- Option(e.taskMetrics)) {
      val s = byTag(t)
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.bytesWritten += m.outputMetrics.bytesWritten
      s.recordsWritten += m.outputMetrics.recordsWritten
    }
  }

  /** Counters of `tag`, removed from the log (each tag is read once). */
  def take(tag: String): TagStats = synchronized {
    byTag.remove(tag).getOrElse(new TagStats)
  }

}

object TaskLog {
  val Key = "perfbench.tag"

  /** Run `body` with its Spark jobs attributed to `tag`. */
  def tag[T](spark: org.apache.spark.sql.SparkSession, tag: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, tag)
    try body finally sc.setLocalProperty(Key, prev)
  }

  /** The union of intervals, as disjoint intervals in time order. */
  def merged(iv: Seq[(Double, Double)]): Seq[(Double, Double)] =
    iv.sortBy(_._1).foldLeft(List.empty[(Double, Double)]) {
      case ((s0, e0) :: rest, (s, e)) if s <= e0 => (s0, math.max(e0, e)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  /** Length of the union of intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double =
    merged(iv).map { case (s, e) => e - s }.sum
}
