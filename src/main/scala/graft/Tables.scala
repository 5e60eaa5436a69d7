package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Fixture-table loader. Each driver-provided table is one parquet file under
  * the scale-factor directory (TESTDATA.md); at cluster scale the same call
  * shape points at a partitioned directory tree — nothing else changes.
  *
  * `events.ts` has shipped under two parquet encodings across fixture
  * regenerations, and every downstream query assumes a session-zoned
  * micro-precision TimestampType, so normalization lives here in one place:
  *
  *  - TIMESTAMP(NANOS): Spark 4 refuses to map it to TimestampType
  *    ([PARQUET_TYPE_ILLEGAL]); sessions set
  *    `spark.sql.legacy.parquet.nanosAsLong=true` (every session
  *    builder — Verify, Bench, ScaleProbe, SparkSpec — sets it),
  *    the file arrives as `ts: LongType` epoch-nanos, and we truncate to
  *    micros with integer division (a double-precision divide would corrupt
  *    sub-ms digits — 1.7e18 exceeds a double's 53-bit mantissa).
  *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark reads TIMESTAMP_NTZ,
  *    which `unix_micros` et al. reject at analysis. Sessions pin the
  *    session timezone to UTC, so casting NTZ -> TimestampType reattaches
  *    the instant with zero value shift and restores the exact
  *    representation the oracle sees (DuckDB reads the same file as plain
  *    TIMESTAMP and `epoch_us()` is unchanged).
  *  - TimestampType (MICROS, adjusted to UTC): already canonical.
  *
  * Any other encoding fails loudly — a silent schema drift here once cost a
  * round of correctness coverage (VERDICT r7), so unknown encodings must
  * throw at first read, not at the 28th query's analysis.
  */
object Tables {

  /** The analyzed read plan, reused across a run's queries: re-listing
    * the path and re-reading footers per query is pure overhead. An
    * `input` memo, so cold eviction never re-times a footer read.
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.util.SessionCache.input(spark, dir, s"table/$name") {
      val df = spark.read.parquet(s"$dir/$name.parquet")
      name match {
        case "events" => normalizeTs(df)
        case "embeddings" => assertEmbedding(df)
        case _ => df
      }
    }

  /** Drift tripwire for the other schema the engine is load-bearing
    * about: the 9 native vector expressions (DotProductF, PqF,
    * SignBandsF, …) type-check `array<float>` specifically, and the
    * k-means/PQ training state mirrors that width driver-side. A regen
    * to `array<double>` would fail ~30 vector queries one analysis
    * error at a time (the r7 shrinkage shape); fail ONCE here with the
    * fix location named instead. Not auto-cast: narrowing double→float
    * would silently diverge from the DuckDB oracle, which reads the
    * file at full width.
    */
  private def assertEmbedding(df: DataFrame): DataFrame =
    df.schema("embedding").dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => df
      case other =>
        throw new IllegalStateException(
          s"embeddings.embedding arrived as $other, expected " +
            "array<float> — fixture schema drifted; the native vector " +
            "expressions (graft.functions.DotProductF et al.) must be " +
            "widened in step with the DuckDB mirrors before queries run")
    }

  private def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => // TIMESTAMP(NANOS) read via nanosAsLong
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => // TIMESTAMP(MICROS, isAdjustedToUTC=false)
        // the cast is value-preserving ONLY under a UTC session zone —
        // any other zone would shift every instant against the DuckDB
        // oracle. Every entry point pins the zone; a future one that
        // forgets must die here, not hash-mismatch 28 queries later
        // (the fail-loudly principle this object exists for).
        require(
          df.sparkSession.conf.get("spark.sql.session.timeZone") == "UTC",
          "events.ts arrived as TIMESTAMP_NTZ and the session timezone " +
            s"is '${df.sparkSession.conf.get("spark.sql.session.timeZone")}'" +
            " — the NTZ→TIMESTAMP cast is only value-preserving under " +
            "UTC; set spark.sql.session.timeZone=UTC in the session " +
            "builder (as Verify/Bench/ScaleProbe/SparkSpec all do)")
        df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => df
      case other =>
        throw new IllegalStateException(
          s"events.ts arrived as unrecognized type $other — fixture schema " +
            "drifted again; add a normalization branch in graft.Tables " +
            "before any query runs")
    }
}
