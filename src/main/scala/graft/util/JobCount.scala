package graft.util

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** The number of Spark jobs a block of driver code starts. A listener is
  * attached for the block only, and the listener bus is drained on both
  * sides, so a job of an earlier block is never counted and the block's
  * last job is never missed.
  */
object JobCount {
  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    Bridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(l)
    try {
      val v = body
      Bridge.drainListenerBus(spark)
      (v, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
