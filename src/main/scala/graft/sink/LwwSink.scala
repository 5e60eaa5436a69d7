package graft.sink

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StructField, StructType}

import graft.ops.LwwDedup
import graft.plans.LwwBucketPrune

/** Keyed-upsert sink emulating the reference's Cassandra tables: INSERT
  * into PRIMARY KEY (symbol, time, price) is a last-writer-wins upsert
  * (/root/reference/src/main.rs:87, 145), clustering order
  * `(time DESC, price)` pre-sorts per-symbol reads (main.rs:88).
  *
  * Offline emulation (no Cassandra connector jar): a parquet table per
  * `{topic}_{kind}`, hash-bucketed into `kb=N` partition directories on
  * the leading PK column (per-symbol locality — the same axis the
  * reference's partition key uses). `foreachBatch` merge touches ONLY
  * the buckets the batch's keys hash into: [[LwwDedup]] the batch on
  * the PK, broadcast-anti-join the stored bucket rows against the
  * batch's keys (stored rows lose to any rewrite of their PK — upsert
  * semantics, no window over stored data), union, rewrite those buckets
  * via per-bucket atomic swap. Work per micro-batch is O(data in affected buckets),
  * not O(table) — a narrow batch (few hot symbols) leaves the rest of
  * the table untouched. Idempotent under micro-batch re-delivery: a
  * replayed batch re-elects the same winners (exactly-once per key, vs
  * the reference's at-most-once — SURVEY §2.6).
  *
  * Crash-safety, per bucket: the current bucket dir is renamed ASIDE
  * (to an underscore-prefixed name parquet readers ignore) before the
  * new one moves in, and [[recover]] restores any aside dir whose swap
  * never completed — at every instant each bucket is recoverable. A
  * crash mid-upsert can leave SOME buckets merged and others not; the
  * checkpointed micro-batch replays and the LWW merge converges all of
  * them — idempotence holds PER BUCKET, not just per batch: an
  * already-swapped bucket re-elects the same winners on replay
  * (anti-join drops its batch-written rows, the union re-adds them),
  * an untouched bucket merges as if first time. Pinned by
  * LwwSinkSuite's between-bucket-swaps crash test.
  *
  * Scale note: per-bucket rewrite is the *emulation's* granularity —
  * on a cluster this `foreachBatch` body becomes a real keyed upsert
  * (Cassandra writes or MERGE INTO on a table format with row-level
  * merge); the dataflow upstream is unchanged. Layout follows each
  * table's OWN primary key: bucketed by `keys.head` (the partition-key
  * analog), rows sorted by the full PK within files — deterministic
  * clustering for whatever schema the table carries.
  *
  * Pinned layout: a table keeps the layout it was created with, in
  * `_nbuckets`, `_bucket_key` and `_schema` markers (the stored data
  * schema). An upsert keyed on another column, or carrying other
  * columns or types, fails naming the difference instead of silently
  * duplicating PKs or failing inside the merge. Reads use the layout:
  * every scan of the files — [[read]] and the merge's read of the
  * affected buckets — runs under the pinned schema, so planning starts
  * no schema-inference job, and [[read]] tags its relation with the key
  * and count so [[graft.plans.LwwBucketPrune]] turns `symbol = 'X'` into
  * a `kb` partition filter: a per-symbol read lists one bucket, the
  * reference's single-partition read (main.rs:87-88, 145-146).
  */
object LwwSink {

  /** Bucket-dir fan-out for NEW tables. Raise for bigger tables — each
    * table pins the count it was created with in a `_nbuckets` marker,
    * so existing layouts keep merging correctly after a change (a key
    * must hash into the same bucket for the anti-join upsert to see its
    * previous version; mixing counts within one table would silently
    * duplicate PKs).
    */
  val NumBuckets = 16

  /** Wire-supplied name components (the topic arrives from the feed,
    * main.rs:220) are percent-encoded before touching the filesystem:
    * a topic like `../../x` or one with path-illegal bytes must neither
    * escape the sink root nor poison-pill the micro-batch into a
    * checkpoint crash loop. Encoding is over the UTF-8 BYTES, one
    * fixed-width %XX per escaped byte, so it is bijective: a '%' in the
    * output is always followed by exactly two hex digits, and '%'
    * itself is always escaped. (A per-CHAR escape with variable hex
    * width is not: topic "%40" and topic "╀" both rendered
    * "%2540", silently merging two per-topic tables.)
    */
  private[graft] def safeSeg(s: String): String = {
    val sb = new StringBuilder
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8).foreach { b =>
      val c = (b & 0xFF).toChar
      if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
          (c >= '0' && c <= '9') || c == '-' || c == '.') sb.append(c)
      else sb.append(f"%%${b & 0xFF}%02X")
    }
    // "%EM" is not a valid escape (M is not hex), so no non-empty topic
    // can encode to this sentinel; a literal "%EMPTY" topic encodes its
    // '%' and becomes "%25EMPTY".
    if (sb.isEmpty) "%EMPTY" else sb.toString
  }

  /** The pre-byte-wise encoding (per CHAR, variable hex width, Unicode
    * letters raw) — kept ONLY to detect tables written under it. */
  private def legacySeg(s: String): String =
    s.map {
      case c if c.isLetterOrDigit || c == '-' || c == '.' => c.toString
      case c => f"%%${c.toInt}%02X"
    }.mkString match {
      case "" => "%EMPTY"
      case enc => enc
    }

  def tablePath(rootDir: String, topic: String, kind: String): String =
    s"$rootDir/${safeSeg(topic)}_${safeSeg(kind)}"

  /** Loud-fail on tables persisted under the legacy encoding: for topics
    * where the two encodings differ (non-ASCII letters, chars ≥ U+0100),
    * silently resolving to the new (empty) path would orphan the
    * existing LWW history without an error — the same failure mode the
    * versioned source offset guards against, so it gets the same
    * treatment.
    */
  private def checkLegacyLayout(rootDir: String, topic: String,
      kind: String): Unit = {
    val v2 = s"${safeSeg(topic)}_${safeSeg(kind)}"
    val v1 = s"${legacySeg(topic)}_${legacySeg(kind)}"
    if (v1 != v2 && !Files.exists(Paths.get(s"$rootDir/$v2")) &&
        Files.exists(Paths.get(s"$rootDir/$v1")))
      throw new IllegalStateException(
        s"table for topic '$topic' exists under the legacy per-char " +
          s"encoding ('$v1') but is addressed as '$v2' under the " +
          "byte-wise encoding; rename the directory (or migrate the " +
          "sink root) before writing, or the existing LWW history " +
          "would be silently abandoned.")
  }

  private def bucketDir(table: String, n: Int) = Paths.get(s"$table/kb=$n")
  private def asideDir(table: String, n: Int) = Paths.get(s"$table/_old_kb=$n")

  /** Merge one micro-batch into the emulated table. `keys` is the PK;
    * `batchId` is the version (later batch wins; within a batch, the
    * payload columns complete the version tuple so [[LwwDedup]]'s
    * winner is deterministic even for same-PK rows — see the call
    * site). Buckets hash on `keys.head` (the partition-key analog).
    */
  def upsertBatch(
      batch: DataFrame,
      batchId: Long,
      rootDir: String,
      topic: String,
      kind: String,
      keys: Seq[String]): Unit = {
    val spark = batch.sparkSession
    val table = tablePath(rootDir, topic, kind)
    checkLegacyLayout(rootDir, topic, kind)
    recover(rootDir, topic, kind) // restore aside buckets before reading
    val nb = pinned(table, "nbuckets")(NumBuckets.toString).trim.toInt
    val key = pinned(table, "bucket_key")(keys.head)
    if (key != keys.head)
      throw new IllegalArgumentException(
        s"table $table is bucketed on '$key' but this upsert keys on " +
          s"'${keys.head}': its rows would hash into buckets the merge " +
          "never reads and silently duplicate primary keys.")
    val tagged = batch
      .withColumn("_batch_id", lit(batchId))
      .withColumn("kb", pmod(hash(col(keys.head)), lit(nb)))
    val stored = StructType(tagged.schema.filterNot(_.name == "kb"))
    val schema = asSchema(pinned(table, "schema")(
      footerSchema(spark, table).getOrElse(stored).json))
    checkSchema(table, schema, stored)
    // Upsert = LWW within the batch (a window over BATCH rows only — the
    // micro-batch is small by admission control), then existing rows
    // survive unless their PK is in the batch: a broadcast anti-join,
    // NOT a window over the table. The stored data is scanned once and
    // never re-sorted — per-batch cost is O(affected-bucket scan) +
    // O(batch), where a union-then-window merge re-windows every stored
    // row on every micro-batch (measured 3× the whole pipeline's ingest
    // cost at 200k rows). The winners are pinned: three consumers
    // (bucket metadata, broadcast key set, union) would otherwise each
    // re-run the batch dedup.
    // Version tuple = (_batch_id, every non-key payload column). The
    // batch id alone is CONSTANT within one micro-batch, so two rows
    // with the same PK in one batch would tie and row_number would
    // elect a shuffle-fetch-order-dependent winner — the original run
    // and a crash replay of the same batch could store DIFFERENT rows,
    // breaking the idempotent-replay claim this sink is built on
    // (LwwDedup's determinism precondition is a per-key-unique version
    // tuple). Payload columns complete the tuple: distinct payloads
    // order deterministically (arbitrary but stable — the reference's
    // Cassandra upsert is arrival-order-dependent here, so any stable
    // total order is a strict improvement), and byte-identical
    // duplicates tie harmlessly.
    val payloadCols = batch.columns.filterNot(keys.contains).toSeq
    val winners = LwwDedup(tagged, keys.map(col),
        col("_batch_id") +: payloadCols.map(col))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the affected-bucket set is metadata (≤ NumBuckets ints), not data
      val affected = winners.select("kb").distinct()
        .collect().map(_.getInt(0)).sorted.toIndexedSeq
      if (affected.isEmpty) return
      val existingDirs = affected.map(bucketDir(table, _))
        .filter(Files.exists(_)).map(_.toString)
      val merged =
        if (existingDirs.nonEmpty)
          scan(spark, table, schema, existingDirs)
            .join(broadcast(winners.select(keys.map(col): _*)),
              keys, "left_anti")
            .unionByName(winners)
        else winners
      // one writer task per bucket: without this, partitionBy sprays
      // (shuffle-partitions × buckets) small files per batch and the
      // write dominates the merge. Fan out by the table's PINNED bucket
      // count (kb values are computed mod `nb`), not the global seed
      // constant — they differ for tables created under an older count.
      // deterministic in-file layout: sort by the table's OWN primary
      // key (hardcoding (symbol, time, price) here broke the first
      // table whose schema lacked one of those columns)
      val deduped = merged
        .repartition(nb, col("kb"))
        .sortWithinPartitions(keys.map(col): _*)
      // stage under an underscore name inside the table dir (same volume,
      // invisible to readers), then swap each bucket aside-first
      val tmp = s"$table/_tmp_b$batchId"
      deduped.write.mode(SaveMode.Overwrite).partitionBy("kb").parquet(tmp)
      swapBuckets(table, tmp, affected)
    } finally winners.unpersist()
  }

  /** A layout pin: a marker file the parquet reader ignores (its name
    * starts with `_`), written once when the table is created —
    * `nbuckets`, `bucket_key` and `schema` (the stored data schema: every
    * column the files hold; `kb` is the directory partition). */
  private def pinFile(table: String, name: String) = Paths.get(s"$table/_$name")

  private def readPin(table: String, name: String): Option[String] = {
    val p = pinFile(table, name)
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p), UTF_8)) else None
  }

  /** The value pinned under `name`, or `init` pinned now. A table keeps
    * the layout it was CREATED with: [[NumBuckets]] only seeds new tables,
    * because a key must hash into the same bucket for the anti-join upsert
    * to see its previous version — rehashing under a new count or key
    * would silently duplicate PKs. A table written before a pin existed
    * gets it from its next batch. Written aside, then renamed into place,
    * so a crash never leaves a torn pin. */
  private def pinned(table: String, name: String)(init: => String): String =
    readPin(table, name).getOrElse {
      val v = init
      Files.createDirectories(Paths.get(table))
      val tmp = pinFile(table, s"$name.tmp")
      Files.write(tmp, v.getBytes(UTF_8))
      Files.move(tmp, pinFile(table, name), StandardCopyOption.ATOMIC_MOVE)
      v
    }

  private def asSchema(json: String) = DataType.fromJson(json).asInstanceOf[StructType]

  /** The schema of one data file's footer, read without a Spark job — for a
    * table written before the schema pin existed. */
  private def footerSchema(spark: SparkSession, table: String): Option[StructType] = {
    if (!Files.isDirectory(Paths.get(table))) return None
    graft.util.Fs.list(Paths.get(table))
      .filter(_.getFileName.toString.startsWith("kb="))
      .flatMap(graft.util.Fs.list)
      .find(_.getFileName.toString.endsWith(".parquet"))
      .map { p =>
        val path = new org.apache.hadoop.fs.Path(p.toUri)
        val conf = spark.sessionState.newHadoopConf()
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromPath(path, conf), ParquetMetadataConverter.NO_FILTER)
        ParquetFileFormat.readSchemaFromFooter(new Footer(path, footer),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      }
  }

  /** A batch must carry exactly the pinned columns, with the pinned
    * types (nullability and column order aside) — or the merge would fail
    * deep inside `unionByName`, or widen a column silently. */
  private def checkSchema(table: String, pinned: StructType, batch: StructType): Unit = {
    def show(f: StructField) = s"${f.name}: ${f.dataType.simpleString}"
    val missing = pinned.filterNot(f => batch.fieldNames.contains(f.name)).map(show)
    val extra = batch.filterNot(f => pinned.fieldNames.contains(f.name)).map(show)
    val changed = pinned.flatMap(p => batch.find(_.name == p.name)
      .filterNot(b => DataTypeUtils.sameType(b.dataType, p.dataType))
      .map(b => s"${p.name}: ${p.dataType.simpleString} -> ${b.dataType.simpleString}"))
    if (missing.nonEmpty || extra.nonEmpty || changed.nonEmpty)
      throw new IllegalArgumentException(
        s"batch schema differs from the schema pinned for table $table: " +
          Seq("missing" -> missing, "unexpected" -> extra, "retyped" -> changed)
            .collect { case (what, cols) if cols.nonEmpty => cols.mkString(s"$what [", ", ", "]") }
            .mkString("; "))
  }

  /** The one scan of a table's files: under its pinned schema, so no
    * schema-inference job runs. */
  private def scan(spark: SparkSession, table: String, schema: StructType,
      paths: Seq[String]): DataFrame =
    spark.read.schema(schema.add("kb", IntegerType))
      .option("basePath", table).parquet(paths: _*)

  /** Test-only fault injection: runs after each completed bucket swap.
    * The restart suite uses it to kill an upsert BETWEEN bucket swaps
    * (some buckets merged, others not — the partial state the crash-
    * safety scaladoc above admits) and prove the replayed micro-batch
    * converges per bucket. A no-op outside tests.
    */
  private[graft] var afterBucketSwap: Int => Unit = _ => ()

  private def swapBuckets(table: String, tmp: String, affected: Seq[Int]): Unit = {
    affected.foreach { n =>
      val dst = bucketDir(table, n)
      val staged = Paths.get(s"$tmp/kb=$n")
      val aside = asideDir(table, n)
      // LWW merge of a non-empty batch bucket is never empty, so staged
      // always exists for an affected bucket; the guard keeps the old
      // data in place rather than swapping in nothing if that invariant
      // ever broke.
      if (Files.exists(staged)) {
        if (Files.exists(aside)) deleteRecursively(aside) // stale leftover
        if (Files.exists(dst))
          Files.move(dst, aside, StandardCopyOption.ATOMIC_MOVE)
        Files.move(staged, dst, StandardCopyOption.ATOMIC_MOVE)
        if (Files.exists(aside)) deleteRecursively(aside)
        afterBucketSwap(n)
      }
    }
    deleteRecursively(Paths.get(tmp))
  }

  /** Crash recovery: any bucket whose swap died between `dst → aside`
    * and `staged → dst` survives at its aside name; restore it before
    * reading or merging. Called by [[upsertBatch]] and [[read]].
    */
  def recover(rootDir: String, topic: String, kind: String): Unit = {
    val table = Paths.get(tablePath(rootDir, topic, kind))
    if (!Files.isDirectory(table)) return
    graft.util.Fs.list(table)
      .filter(_.getFileName.toString.startsWith("_old_kb="))
      .foreach { aside =>
        val n = aside.getFileName.toString.stripPrefix("_old_kb=")
        val dst = table.resolve(s"kb=$n")
        if (!Files.exists(dst))
          Files.move(aside, dst, StandardCopyOption.ATOMIC_MOVE)
      }
  }

  /** The table's rows. Plans without a schema-inference job (the schema
    * is pinned), and tags its relation with the pinned bucket key and
    * count so [[graft.plans.LwwBucketPrune]] turns a filter on the key
    * into a `kb` partition filter: a per-symbol read lists one bucket. */
  def read(spark: SparkSession, rootDir: String, topic: String,
      kind: String): DataFrame = {
    checkLegacyLayout(rootDir, topic, kind)
    recover(rootDir, topic, kind)
    val table = tablePath(rootDir, topic, kind)
    val schema = readPin(table, "schema").map(asSchema).orElse(footerSchema(spark, table))
      .getOrElse(throw new IllegalStateException(s"no LwwSink table data at $table"))
    val df = scan(spark, table, schema, Seq(table))
    for (key <- readPin(table, "bucket_key"); nb <- readPin(table, "nbuckets"))
      df.queryExecution.analyzed.foreach {
        case r: LogicalRelation => r.setTagValue(LwwBucketPrune.Layout, (key, nb.trim.toInt))
        case _ =>
      }
    df.drop("_batch_id").drop("kb")
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    graft.util.Fs.walk(p).reverse.foreach(Files.deleteIfExists(_))
}
