package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryPack, Tables}
import graft.util.SessionCache

/** Source-format breadth: the engine's batch read paths beyond parquet
  * (JSON lines, CSV, ORC), each proved by a ROUND TRIP — project the
  * `events` fixture to exactly-representable columns (longs + simple
  * strings; no doubles, so no textual-float representability questions),
  * write with the Spark writer, read back with an EXPLICIT schema (no
  * inference nondeterminism), aggregate. The DuckDB oracle computes the
  * same aggregate straight from the parquet fixture — a hash-match
  * proves the write→read cycle is lossless, not merely self-consistent.
  *
  * Scale note: these exercise the same DataSource scan machinery a
  * partitioned lake read uses (splittable files, column pruning on
  * ORC/CSV, schema enforcement); the temp-dir is harness plumbing, not
  * part of the operator.
  */
object SourceQueries extends QueryPack {

  /** Exactly-representable projection shared by all three formats. */
  private def base(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events").select(
      col("event_id"), col("user_id"), col("event_type"),
      floor(col("value") * 100).cast("long").as("cents"))

  private def rollup(df: DataFrame): DataFrame =
    df.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        min(col("event_id")).as("min_id"), max(col("user_id")).as("max_user"))

  private val Schema =
    "event_id BIGINT, user_id BIGINT, event_type STRING, cents BIGINT"

  private def work(tag: String) = {
    val w = Files.createTempDirectory(s"graft_src_$tag")
    graft.source.SpoolWriter.deleteAtExit(w)
    w.resolve("data").toString
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "source_jsonl_roundtrip" -> ((s, dir) => {
      val path = work("jsonl")
      base(s, dir).write.mode("overwrite").json(path)
      rollup(s.read.schema(Schema).json(path))
    }),

    // SCHEMA EVOLUTION across file "eras" (round-9): at 100 TB a lake
    // holds years of writers, and columns appear mid-history — the read
    // path must union schemas across files, with pre-evolution rows
    // surfacing NULL for columns they predate. Two parquet batches
    // (old era: no `cents`; new era: with it) under one root, read via
    // mergeSchema; the rollup separates row counts from cents coverage
    // so a silently-dropped era (or a zero-filled column) hash-fails.
    // The oracle recomputes both eras from the fixture by the same
    // even/odd rule.
    "source_schema_evolution" -> ((s, dir) => {
      val root = work("evolve")
      val all = base(s, dir)
      all.filter(col("event_id") % 2 === 0)
        .drop("cents")
        .write.mode("overwrite").parquet(s"$root/era=old")
      all.filter(col("event_id") % 2 === 1)
        .write.mode("overwrite").parquet(s"$root/era=new")
      s.read.option("mergeSchema", "true").parquet(root)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          count(col("cents")).as("n_with_cents"),
          sum(col("cents")).as("sum_cents"),
          min(col("event_id")).as("min_id"))
    }),

    "source_csv_roundtrip" -> ((s, dir) => {
      val path = work("csv")
      base(s, dir).write.mode("overwrite").option("header", "true").csv(path)
      rollup(s.read.schema(Schema).option("header", "true").csv(path))
    }),

    "source_orc_roundtrip" -> ((s, dir) => {
      val path = work("orc")
      base(s, dir).write.mode("overwrite").orc(path)
      rollup(s.read.orc(path))
    }),

    // Avro roundtrip WITHOUT the spark-avro DataSource (absent offline;
    // the avro core library is on the classpath): each task encodes its
    // partition as one complete OCF via [[graft.source.AvroCodec]] and
    // writes it through the Hadoop FileSystem seam (the cluster-correct
    // path — local FS here, HDFS/S3A by config there); the read side is
    // a binaryFile scan + per-file decode, schema-on-read from the
    // embedded writer schema. Whole-file decode is the honest current
    // shape; sync-marker block splitting is the documented DSv2 upgrade
    // for multi-GB files (AvroCodec scaladoc).
    "source_avro_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val path = work("avro")
      base(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("cents"))
        .as[(Long, Long, String, Long)]
        .rdd.repartition(8)
        .mapPartitionsWithIndex { (i, it) =>
          val bytes = graft.source.AvroCodec.encode(it)
          // write-to-temp + atomic rename (the SpoolWriter discipline):
          // fs.create(p, true) truncates but does not EXCLUDE a still-
          // running first attempt, so a task retry or speculative
          // duplicate interleaving writes into the same part file would
          // produce a corrupt OCF with no error at write time. The
          // attempt-unique temp name makes concurrent attempts disjoint
          // and the rename publishes one complete file.
          val attempt = org.apache.spark.TaskContext.get() match {
            case null => 0L
            case tc => tc.taskAttemptId()
          }
          val p = new org.apache.hadoop.fs.Path(s"$path/part-$i.avro")
          val tmp = new org.apache.hadoop.fs.Path(
            s"$path/.part-$i.avro.$attempt.tmp")
          val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
          val os = fs.create(tmp, true)
          try os.write(bytes) finally os.close()
          fs.delete(p, false) // last completed attempt wins; files are
          fs.rename(tmp, p)   // byte-identical per partition
          Iterator.single(i)
        }.count()
      rollup(s.read.format("binaryFile").load(path)
        .select(col("content")).as[Array[Byte]]
        .flatMap(graft.source.AvroCodec.decode)
        .toDF("event_id", "user_id", "event_type", "cents"))
    }),

    // PERMISSIVE-mode corrupt-record isolation on the batch JSON path —
    // the batch face of the streaming dead-letter (K5): every 7th line
    // is deterministically mangled into invalid JSON; the reader must
    // quarantine exactly those rows into the corrupt column while every
    // healthy row parses bit-exactly. NOTE the engine contract (r5
    // advice): Spark 3.4+ enables spark.sql.json.enablePartialResults
    // by default, so a mangled line MAY salvage its leading well-formed
    // fields (here event_id) rather than null the whole record — the
    // query's output is insensitive either way, because the bucket keys
    // on event_type (never salvageable: the mangle cuts before it) and
    // cents stays null. Pipelines that need whole-record nulling as a
    // hard guarantee must pin that conf false; this one deliberately
    // relies only on the quarantine column. The oracle recomputes both
    // populations from the fixture by the same mod-7 rule; sum_cents is
    // NULL for the corrupt bucket on both engines (SUM over no non-null
    // values).
    "source_jsonl_corrupt" -> ((s, dir) => {
      val path = work("jsonl_bad")
      val good = to_json(struct(col("event_id"), col("user_id"),
        col("event_type"), floor(col("value") * 100).cast("long").as("cents")))
      Tables(s, dir, "events").select(
        when(col("event_id") % 7 === 0,
          concat(lit("{\"event_id\":"), col("event_id"), lit(",INVALID")))
          .otherwise(good).as("value"))
        .write.mode("overwrite").text(path)
      s.read
        .schema("event_id BIGINT, user_id BIGINT, event_type STRING, " +
          "cents BIGINT, _bad STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(path)
        .groupBy(coalesce(col("event_type"), lit("_corrupt")).as("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
    }),

    // Runtime DYNAMIC partition pruning — the complement of
    // scan_partition_pruned's static case: lineitem lands in a
    // month-partitioned layout, the probe filter lives on a DIM table
    // (order priorities → months), so no static rule can prune the
    // fact scan; Spark's DPP builds the month list from the dim at
    // RUNTIME and skips every other partition's files. PlanAuditSuite
    // pins `dynamicpruning` in the fact scan. The layout is ensured
    // ONCE per session, a `SessionCache.layout` memo (a lake fact table
    // is written once and joined daily — the weak-scaling probe's
    // dppJoin made this argument first, and the r8 bench showed the
    // repeated rewrite was pure disk-variance noise in the timed
    // number: 3.6→5.2s round-over-round with identical code); the
    // oracle computes the join from the raw fixture.
    "join_dpp_runtime" -> ((s, dir) => {
      val path = SessionCache.layout(s, dir, "dppLayout", "graft_src_dpp") {
        w =>
          val p = w.resolve("data").toString
          Tables(s, dir, "lineitem")
            .withColumn("ship_month",
              date_format(col("l_shipdate"), "yyyy-MM"))
            .write.mode("overwrite").partitionBy("ship_month").parquet(p)
          p
      }
      val fact = s.read.parquet(path)
      // dim: ~1/3 of the months survive an engine-neutral bucket rule
      // ((year + month) % 3 — no engine-private hash), a selection the
      // fact scan can only learn by RUNNING the dim subquery
      val dim = Tables(s, dir, "orders")
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("ship_month"))
        .distinct()
        .filter((substring(col("ship_month"), 6, 2).cast("int") +
          substring(col("ship_month"), 1, 4).cast("int")) % 3 === 0)
      fact.join(broadcast(dim.select("ship_month")), "ship_month")
        .groupBy("ship_month")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("l_extendedprice") * 100).cast("long")).as("cents"))
    })
  )

  private val mirror =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
      |    AS sum_cents,
      |  MIN(event_id) AS min_id, MAX(user_id) AS max_user
      |FROM events GROUP BY 1""".stripMargin

  def oracles: Map[String, String] = Map(
    "source_jsonl_roundtrip" -> mirror,
    "source_csv_roundtrip" -> mirror,
    "source_orc_roundtrip" -> mirror,
    "source_avro_roundtrip" -> mirror,

    // both eras recomputed from the fixture by the same even/odd rule;
    // pre-evolution rows contribute to n but never to cents
    "source_schema_evolution" ->
      """SELECT event_type, COUNT(*) AS n,
        |  COUNT(CASE WHEN event_id % 2 = 1 THEN 1 END) AS n_with_cents,
        |  CAST(SUM(CASE WHEN event_id % 2 = 1
        |    THEN CAST(floor(value * 100) AS BIGINT) END) AS BIGINT)
        |    AS sum_cents,
        |  MIN(event_id) AS min_id
        |FROM events GROUP BY 1""".stripMargin,

    "source_jsonl_corrupt" ->
      """SELECT bucket, COUNT(*) AS n,
        |  CAST(SUM(cents) AS BIGINT) AS sum_cents
        |FROM (
        |  SELECT CASE WHEN event_id % 7 = 0 THEN '_corrupt'
        |              ELSE event_type END AS bucket,
        |    CASE WHEN event_id % 7 = 0 THEN NULL
        |         ELSE CAST(floor(value * 100) AS BIGINT) END AS cents
        |  FROM events)
        |GROUP BY 1""".stripMargin,

    // same join from the raw fixture — no partitioned layout involved.
    // hash(month) is Spark-side Murmur3: mirrored via the month list?
    // No — the bucket rule must be ENGINE-NEUTRAL, so it pins the
    // month's digit sum instead (see the Spark side).
    "join_dpp_runtime" ->
      """WITH dim AS (
        |  SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS ship_month
        |  FROM orders),
        |keep AS (
        |  SELECT ship_month FROM dim
        |  WHERE (CAST(substr(ship_month, 6, 2) AS INTEGER)
        |         + CAST(substr(ship_month, 1, 4) AS INTEGER)) % 3 = 0)
        |SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM lineitem
        |JOIN keep ON strftime(l_shipdate, '%Y-%m') = keep.ship_month
        |GROUP BY 1""".stripMargin)
}
