package graft.util

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** The Spark jobs a block of driver code starts: how many, and the span
  * in which at least one of them was running. A listener is attached
  * for the block only, and the listener bus is drained on both sides,
  * so a job of an earlier block is never counted and the block's last
  * job is never missed.
  */
object JobCount {

  /** `started` jobs; `busySec` is the union of their [start, end]
    * intervals, taken from the events' own timestamps (not from when the
    * bus delivered them). A union, not a sum: AQE stage jobs overlap,
    * and summing would count the same wall time twice. Wall time minus
    * `busySec` is the block's driver floor (analysis, optimization,
    * codegen, driver-side work between jobs).
    */
  final case class Jobs(started: Int, busySec: Double)

  private final class Clock extends SparkListener {
    private[this] var started = 0
    private[this] var running = Set.empty[Int]
    private[this] var spanStartMs = 0L
    private[this] var busyMs = 0L
    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      started += 1
      if (running.isEmpty) spanStartMs = j.time
      running += j.jobId
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
      if (running(j.jobId)) {
        running -= j.jobId
        if (running.isEmpty) busyMs += j.time - spanStartMs
      }
    }
    def jobs: Jobs = synchronized(Jobs(started, busyMs / 1e3))
  }

  def apply[T](spark: SparkSession)(body: => T): (T, Jobs) = {
    val clock = new Clock
    Bridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(clock)
    try {
      val v = body
      Bridge.drainListenerBus(spark)
      (v, clock.jobs)
    } finally spark.sparkContext.removeSparkListener(clock)
  }
}
