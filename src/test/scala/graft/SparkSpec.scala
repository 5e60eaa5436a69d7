package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for operator suites. One session per JVM
  * (`getOrCreate` + no stop in afterAll) — suites run sequentially in the
  * forked test JVM and session re-creation per suite costs ~4s each.
  * The state store is RocksDB for every suite: the tick pipeline's
  * transformWithState operator requires it, so no suite sets (or
  * unsets) the provider itself.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    .getOrCreate()

  override protected def afterAll(): Unit = {
    // keep the session for the next suite in this JVM
    super.afterAll()
  }
}
