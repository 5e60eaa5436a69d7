package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.time.LocalDateTime

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pins [[Tables]]' `events.ts` normalization across every encoding the
  * driver's fixture generator has shipped (TIMESTAMP(NANOS) read as long
  * via nanosAsLong, TIMESTAMP_NTZ micros, plain TimestampType). The r7
  * regeneration silently switched NANOS -> NTZ and took 28 queries off
  * the correctness gate (VERDICT r7 §"What's wrong" #1); this suite makes
  * the next drift a named red test, and the unknown-encoding branch a
  * loud error instead of 28 downstream analysis failures.
  */
class TablesSuite extends SparkSpec {

  // 2024-03-01T12:00:00.123456Z as the three encodings
  private val micros = 1709294400123456L

  private def tmpDir(): String =
    Files.createTempDirectory("tables-suite").toString

  private def readBack(dir: String): (DataType, Seq[Long]) = {
    val df = Tables(spark, dir, "events")
    (df.schema("ts").dataType,
      df.select(unix_micros(col("ts"))).collect().toSeq.map(_.getLong(0)))
  }

  test("LongType epoch-nanos normalizes to micros TimestampType") {
    import spark.implicits._
    val dir = tmpDir()
    // nanos with sub-micro digits that integer division must truncate
    Seq(micros * 1000L + 789L).toDF("ts")
      .write.parquet(s"$dir/events.parquet")
    val (dt, vals) = readBack(dir)
    assert(dt == TimestampType)
    assert(vals == Seq(micros))
  }

  test("TIMESTAMP_NTZ micros casts to TimestampType with zero shift") {
    import spark.implicits._
    val dir = tmpDir()
    // LocalDateTime encodes as parquet TIMESTAMP(MICROS, utc=false) = NTZ
    Seq(LocalDateTime.of(2024, 3, 1, 12, 0, 0, 123456000))
      .toDF("ts").write.parquet(s"$dir/events.parquet")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    assert(raw.schema("ts").dataType == TimestampNTZType) // fixture shape
    val (dt, vals) = readBack(dir)
    assert(dt == TimestampType)
    assert(vals == Seq(micros)) // session TZ is UTC, so no value shift
  }

  test("TimestampType passes through untouched") {
    import spark.implicits._
    val dir = tmpDir()
    Seq(new Timestamp(micros / 1000L)).toDF("ts")
      .write.parquet(s"$dir/events.parquet")
    val (dt, vals) = readBack(dir)
    assert(dt == TimestampType)
    assert(vals == Seq(micros / 1000L * 1000L))
  }

  test("unknown ts encoding fails loudly at first read") {
    import spark.implicits._
    val dir = tmpDir()
    Seq("not-a-timestamp").toDF("ts").write.parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException] { Tables(spark, dir, "events") }
    assert(e.getMessage.contains("unrecognized"))
  }

  test("tick_cumvol runs green over an NTZ-written events file (e2e)") {
    // The r7 failure mode end-to-end: a full-schema events table whose ts
    // lands as TIMESTAMP_NTZ, driven through the actual registered query
    // (unix_micros caller) rather than just the loader.
    import spark.implicits._
    val dir = tmpDir()
    Seq(
      (1L, LocalDateTime.of(2024, 3, 1, 10, 0, 0), 7L, "purchase", 5.0, "{}"),
      (2L, LocalDateTime.of(2024, 3, 1, 10, 0, 1), 7L, "click", 3.0, "{}"),
      (3L, LocalDateTime.of(2024, 3, 2, 10, 0, 0), 7L, "purchase", 2.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("tick_cumvol")(spark, dir)
      .orderBy("time_us").collect()
    assert(out.length == 3)
    // day-2 purchase restarts the session: cumbuy back to its own volume
    assert(out(0).getAs[Long]("cumbuy") == 5L)
    assert(out(1).getAs[Long]("cumsell") == 3L)
    assert(out(2).getAs[Long]("cumbuy") == 2L)
    assert(out(0).getAs[Long]("time_us") == 1709287200000000L) // UTC, no shift
  }

  test("embeddings.embedding drift to array<double> fails loudly") {
    import spark.implicits._
    val dir = tmpDir()
    Seq((1L, Array(0.1d, 0.2d), 0))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val e = intercept[IllegalStateException] {
      Tables(spark, dir, "embeddings")
    }
    assert(e.getMessage.contains("array<float>"))
    // the live fixture still passes the guard
    assert(Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .limit(1).count() == 1L)
  }

  test("NTZ under a non-UTC session timezone fails loudly, not value-shifted") {
    // the NTZ→TIMESTAMP cast silently shifts every instant unless the
    // session zone is UTC; a future entry point that forgets the pin
    // must die at first read (ADVICE r8)
    import spark.implicits._
    val dir = tmpDir()
    Seq(LocalDateTime.of(2024, 3, 1, 12, 0, 0, 123456000))
      .toDF("ts").write.parquet(s"$dir/events.parquet")
    val drifted = spark.newSession()
    drifted.conf.set("spark.sql.session.timeZone", "America/New_York")
    val e = intercept[IllegalArgumentException] {
      Tables(drifted, dir, "events")
    }
    assert(e.getMessage.contains("UTC"))
  }

  test("plan cache stays bounded across created-and-stopped sessions") {
    // plans are memoized per session identity; without the LRU bound a
    // multi-session driver would retain stopped sessions' analyzed
    // plans forever (VERDICT r8 nit #2). Three sessions × tables must
    // never push the memo past its bound, and repeated loads reuse
    // entries rather than grow.
    val dir = "/root/testdata/sf0.001"
    (1 to 3).foreach { _ =>
      val s = spark.newSession()
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings")
        .foreach(tbl => Tables(s, dir, tbl))
      // a stopped/abandoned session's entries age out under the bound
    }
    import graft.util.SessionCache
    assert(SessionCache.size <= SessionCache.MaxEntries,
      s"memo grew to ${SessionCache.size} > bound ${SessionCache.MaxEntries}")
    val region = Tables(spark, dir, "region")
    val (before, builds) = (SessionCache.size, SessionCache.builds)
    assert(Tables(spark, dir, "region") eq region) // reuse, not growth
    assert(SessionCache.size == before && SessionCache.builds == builds)
  }

  test("live fixture events.ts arrives as a known encoding at sf0.001") {
    val df = Tables(spark, "/root/testdata/sf0.001", "events")
    assert(df.schema("ts").dataType == TimestampType)
    // unix_micros is the call the 28 r7 casualties died on — pin it
    assert(df.select(unix_micros(col("ts"))).limit(1).count() == 1L)
  }
}
