package graft.sink

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StructField, StructType}
import org.json4s.{DefaultFormats, Formats}
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

import graft.ops.LwwDedup
import graft.plans.LwwBucketPrune
import graft.util.Fs

/** Keyed-upsert sink emulating the reference's Cassandra tables: INSERT
  * into PRIMARY KEY (symbol, time, price) is a last-writer-wins upsert
  * (the reference's main.rs:87, 145), clustering order `(time DESC,
  * price)` pre-sorts per-symbol reads (main.rs:88).
  *
  * Offline emulation (no Cassandra connector jar): a parquet table per
  * `{topic}_{kind}`, hash-bucketed on the leading PK column (per-symbol
  * locality — the same axis the reference's partition key uses). An
  * upsert touches ONLY the buckets the batch's keys hash into:
  * [[LwwDedup]] the batch on the PK, broadcast-anti-join the stored
  * bucket rows against the batch's keys (stored rows lose to any rewrite
  * of their PK — upsert semantics, no window over stored data), union,
  * write those buckets anew. Work per micro-batch is O(data in affected
  * buckets), not O(table). Idempotent under micro-batch re-delivery: a
  * replayed batch re-elects the same winners (exactly-once per key, vs
  * the reference's at-most-once — SURVEY §2.6).
  *
  * Manifest: a table is what its `_manifest` file says — the bucket key,
  * the bucket count, the stored schema, a version counter and, per
  * bucket, the directory of its current generation, `kb=N/g<version>`.
  * Bucket files are never moved or rewritten once a manifest names them.
  * An upsert stages its merged buckets, moves each into a new generation
  * directory, publishes the next manifest by one atomic rename, then
  * deletes every generation that neither the new manifest nor the one it
  * started from names. A table keeps the layout it was created with: an
  * upsert keyed on another column, or carrying other columns or types,
  * fails naming the difference instead of silently duplicating PKs.
  *
  * Reads: [[read]] resolves the manifest once and scans exactly the
  * directories it names, under the stored schema (no schema-inference
  * job), and never writes to the filesystem. It tags its relation with
  * the bucket key and count so [[graft.plans.LwwBucketPrune]] turns
  * `symbol = 'X'` into a `kb` partition filter: a per-symbol read lists
  * one bucket, the reference's single-partition read (main.rs:87-88,
  * 145-146).
  *
  * Retention — one manifest of lag: a read resolved before an upsert
  * stays readable through that upsert and its cleanup. A read that
  * outlives two more upserts of the same table may fail.
  *
  * Crash safety: a table is old or new, never a mix. A crash before the
  * publish leaves the previous manifest, and everything it names, in
  * place; the checkpointed micro-batch replays the whole upsert. What a
  * crash leaves behind (a `_tmp_b<id>` staging dir, a `g<version>` dir no
  * manifest names) is deleted by the next upsert before it reuses the
  * name.
  *
  * One writer per table: upserts of one table must not run concurrently
  * (a streaming query's `foreachBatch` calls never do). Reads may run
  * beside the writer.
  *
  * Scale note: per-bucket rewrite is the *emulation's* granularity —
  * on a cluster this `foreachBatch` body becomes a real keyed upsert
  * (Cassandra writes or MERGE INTO on a table format with row-level
  * merge); the dataflow upstream is unchanged. Layout follows each
  * table's OWN primary key: bucketed by `keys.head` (the partition-key
  * analog), rows sorted by the full PK within files — deterministic
  * clustering for whatever schema the table carries.
  */
object LwwSink {

  /** Bucket-dir fan-out for NEW tables. Raise for bigger tables — each
    * table's manifest keeps the count it was created with, so existing
    * layouts keep merging correctly after a change (a key must hash into
    * the same bucket for the anti-join upsert to see its previous
    * version; mixing counts within one table would silently duplicate
    * PKs).
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

  /** A table's published state: `buckets` maps each bucket to the
    * directory of its current generation, relative to the table. */
  private[graft] case class Manifest(version: Long, key: String, nb: Int,
      schema: StructType, buckets: Map[Int, String]) {
    def json: String = compact(render(("version" -> version) ~ ("key" -> key) ~
      ("nbuckets" -> nb) ~ ("schema" -> parse(schema.json)) ~
      ("buckets" -> buckets.map { case (n, dir) => n.toString -> dir })))
  }

  private def manifestFile(table: String) = Paths.get(s"$table/_manifest")

  /** The table's published manifest, or None for a table no upsert has
    * created yet. A table a layout before the manifest wrote fails
    * loudly: its files cannot be told apart from crash leftovers. */
  private[graft] def manifest(table: String): Option[Manifest] = {
    val f = manifestFile(table)
    if (Files.exists(f)) {
      implicit val formats: Formats = DefaultFormats
      val j = parse(new String(Files.readAllBytes(f), UTF_8))
      Some(Manifest((j \ "version").extract[Long], (j \ "key").extract[String],
        (j \ "nbuckets").extract[Int],
        DataType.fromJson(compact(render(j \ "schema"))).asInstanceOf[StructType],
        (j \ "buckets").extract[Map[String, String]].map { case (n, d) => n.toInt -> d }))
    } else if (Files.isDirectory(Paths.get(table)) &&
        Fs.list(Paths.get(table)).exists(preManifest))
      throw new IllegalStateException(
        s"table $table holds data but no manifest: an older LwwSink layout " +
          "wrote it. Rebuild it by replaying its stream into a fresh sink root.")
    else None
  }

  /** What an older layout left: its pin and aside files, or a bucket dir
    * holding files of its own. A crashed first upsert leaves only
    * `_tmp_b<id>` and `kb=N/g<version>` dirs, which its replay sweeps. */
  private def preManifest(p: Path): Boolean = {
    val name = p.getFileName.toString
    if (name.startsWith("kb=")) Fs.list(p).exists(!_.getFileName.toString.matches("g\\d+"))
    else !name.startsWith("_tmp_b") && !name.startsWith("_manifest")
  }

  /** Make `m` the table's state: one atomic rename over the previous
    * manifest, so a reader sees the old table or the new one. Tests use
    * it to create a table with a given layout. */
  private[graft] def publish(table: String, m: Manifest): Unit = {
    val tmp = Paths.get(s"$table/_manifest.tmp")
    Files.createDirectories(tmp.getParent)
    Files.write(tmp, m.json.getBytes(UTF_8))
    Files.move(tmp, manifestFile(table), StandardCopyOption.ATOMIC_MOVE)
  }

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
    val prev = manifest(table)
    val nb = prev.fold(NumBuckets)(_.nb)
    val key = prev.fold(keys.head)(_.key)
    if (key != keys.head)
      throw new IllegalArgumentException(
        s"table $table is bucketed on '$key' but this upsert keys on " +
          s"'${keys.head}': its rows would hash into buckets the merge " +
          "never reads and silently duplicate primary keys.")
    val tagged = batch
      .withColumn("_batch_id", lit(batchId))
      .withColumn("kb", pmod(hash(col(keys.head)), lit(nb)))
    val stored = StructType(tagged.schema.filterNot(_.name == "kb"))
    val base = prev.getOrElse(Manifest(0L, key, nb, stored, Map.empty))
    checkSchema(table, base.schema, stored)
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
      if (affected.isEmpty) {
        // an empty first batch still creates the table: it reads as empty
        if (prev.isEmpty) publish(table, base)
        return
      }
      val existingDirs = affected.flatMap(base.buckets.get).map(d => s"$table/$d")
      val merged =
        if (existingDirs.nonEmpty)
          scan(spark, table, base.schema, existingDirs)
            .join(broadcast(winners.select(keys.map(col): _*)),
              keys, "left_anti")
            .unionByName(winners)
        else winners
      // one writer task per bucket: without this, partitionBy sprays
      // (shuffle-partitions × buckets) small files per batch and the
      // write dominates the merge. Fan out by the table's OWN bucket
      // count (kb values are computed mod `nb`), not the global seed
      // constant — they differ for tables created under an older count.
      // deterministic in-file layout: sort by the table's OWN primary
      // key (hardcoding (symbol, time, price) here broke the first
      // table whose schema lacked one of those columns)
      val deduped = merged
        .repartition(nb, col("kb"))
        .sortWithinPartitions(keys.map(col): _*)
      // stage under an underscore name inside the table dir (same volume,
      // invisible to readers), move each bucket into its new generation,
      // then publish: until the rename, readers see the previous table
      val tmp = s"$table/_tmp_b$batchId"
      deduped.write.mode(SaveMode.Overwrite).partitionBy("kb").parquet(tmp)
      val v = base.version + 1
      val next = base.copy(version = v,
        buckets = base.buckets ++ affected.map(n => n -> s"kb=$n/g$v"))
      affected.foreach { n =>
        val dst = Paths.get(s"$table/${next.buckets(n)}")
        Fs.deleteTree(dst) // left by a crashed attempt at this version
        Files.createDirectories(dst.getParent)
        Files.move(Paths.get(s"$tmp/kb=$n"), dst, StandardCopyOption.ATOMIC_MOVE)
        afterBucketMove(n)
      }
      publish(table, next)
      sweep(table, (base.buckets.values ++ next.buckets.values).toSet)
    } finally winners.unpersist()
  }

  /** Test-only fault injection: runs after each bucket moves into its new
    * generation, before the manifest is published. LwwSinkSuite kills an
    * upsert there to prove a crash leaves the previous table readable and
    * the replayed micro-batch converges. A no-op outside tests.
    */
  private[graft] var afterBucketMove: Int => Unit = _ => ()

  /** Delete every generation `keep` does not name, and every staging dir
    * (one writer per table: no other upsert is in flight). */
  private def sweep(table: String, keep: Set[String]): Unit =
    Fs.list(Paths.get(table)).foreach { p =>
      val name = p.getFileName.toString
      if (name.startsWith("_tmp_b")) Fs.deleteTree(p)
      else if (name.startsWith("kb="))
        Fs.list(p).filterNot(g => keep(s"$name/${g.getFileName}")).foreach(Fs.deleteTree)
    }

  /** A batch must carry exactly the table's columns, with the table's
    * types (nullability and column order aside) — or the merge would fail
    * deep inside `unionByName`, or widen a column silently. */
  private def checkSchema(table: String, schema: StructType, batch: StructType): Unit = {
    def show(f: StructField) = s"${f.name}: ${f.dataType.simpleString}"
    val missing = schema.filterNot(f => batch.fieldNames.contains(f.name)).map(show)
    val extra = batch.filterNot(f => schema.fieldNames.contains(f.name)).map(show)
    val changed = schema.flatMap(p => batch.find(_.name == p.name)
      .filterNot(b => DataTypeUtils.sameType(b.dataType, p.dataType))
      .map(b => s"${p.name}: ${p.dataType.simpleString} -> ${b.dataType.simpleString}"))
    if (missing.nonEmpty || extra.nonEmpty || changed.nonEmpty)
      throw new IllegalArgumentException(
        s"batch schema differs from the stored schema of table $table: " +
          Seq("missing" -> missing, "unexpected" -> extra, "retyped" -> changed)
            .collect { case (what, cols) if cols.nonEmpty => cols.mkString(s"$what [", ", ", "]") }
            .mkString("; "))
  }

  /** The one scan of a table's files, one root path per generation dir:
    * under its stored schema, so no schema-inference job runs. Built on
    * the file index directly, as `spark.read.parquet` would build it, but
    * without its per-call existence check of every path, which starts a
    * thread pool and costs a read more than listing the files does. */
  private def scan(spark: SparkSession, table: String, schema: StructType,
      paths: Seq[String]): DataFrame = {
    val index = new InMemoryFileIndex(spark, paths.map(new org.apache.hadoop.fs.Path(_)),
      Map("basePath" -> table), Some(schema.add("kb", IntegerType)))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      schema.toNullable, None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** The table's rows, as of the manifest this call resolves. Plans
    * without a schema-inference job, and tags its relation with the
    * table's bucket key and count so [[graft.plans.LwwBucketPrune]] turns
    * a filter on the key into a `kb` partition filter: a per-symbol read
    * lists one bucket. */
  def read(spark: SparkSession, rootDir: String, topic: String,
      kind: String): DataFrame = {
    checkLegacyLayout(rootDir, topic, kind)
    val table = tablePath(rootDir, topic, kind)
    val m = manifest(table)
      .getOrElse(throw new IllegalStateException(s"no LwwSink table at $table"))
    val df = scan(spark, table, m.schema, m.buckets.toSeq.sorted.map(b => s"$table/${b._2}"))
    df.queryExecution.analyzed.foreach {
      case r: LogicalRelation => r.setTagValue(LwwBucketPrune.Layout, (m.key, m.nb))
      case _ =>
    }
    df.drop("_batch_id").drop("kb")
  }
}
