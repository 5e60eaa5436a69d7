package graft.sink

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{BucketingUtils, HadoopFsRelation, InMemoryFileIndex, PartitionPath, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StructField, StructType}
import org.json4s.{DefaultFormats, Formats}
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

import graft.ops.LwwDedup
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
  * broadcast-anti-join the stored bucket rows against the batch's keys
  * (stored rows lose to any rewrite of their PK — upsert semantics, the
  * version decides nothing between a stored row and a batch row), union
  * the survivors with the batch, [[LwwDedup]] on the PK (it elects among
  * the batch's own same-PK rows), write those buckets anew. Work per
  * micro-batch is O(data in affected buckets), not O(table). Idempotent
  * under micro-batch re-delivery: a replayed batch re-elects the same
  * winners (exactly-once per key, vs the reference's at-most-once —
  * SURVEY §2.6).
  *
  * One write per micro-batch: [[upsertTables]] merges the rows of every
  * table a micro-batch touches (the book branch's `{topic}_book` tables)
  * in one plan — one pin of the batch, one collect of its keys (the
  * affected (table, bucket) pairs and the anti-join's key set), one
  * shuffle by (table index, bucket) that the dedup and the parquet write
  * share — so a micro-batch pays the sink's fixed job set (4 jobs) once,
  * not once per topic. [[upsertBatch]] is its one-table case.
  *
  * Manifest: a table is what its `_manifest` file says — the bucket key,
  * the bucket count, the stored schema, a version counter and, per
  * bucket, the directory of its current generation, `kb=N/g<version>`.
  * Each file there carries its bucket id in its name, as Spark's own
  * bucketed writes name theirs. Bucket files are never moved or
  * rewritten once a manifest names them.
  * An upsert stages its merged buckets, moves each into a new generation
  * directory of its table, publishes each table's next manifest by one
  * atomic rename, then deletes every generation that neither the new
  * manifest nor the one it started from names. A table keeps the layout
  * it was created with: an upsert keyed on another column, or carrying
  * other columns or types, fails naming the table and the difference
  * instead of silently duplicating PKs — and fails before it writes
  * anything, for every table it touches.
  *
  * Reads: [[read]] resolves the manifest once and scans exactly the
  * directories it names, under the stored schema (no schema-inference
  * job), and never writes to the filesystem. Its relation is a Spark
  * bucketed relation — `kb` is Spark's own bucket id of the key — so
  * Spark prunes `symbol = 'X'` to one bucket's file in every session: a
  * per-symbol read opens one file, the reference's single-partition
  * read (main.rs:87-88, 145-146).
  *
  * Retention — one manifest of lag: a read resolved before an upsert
  * stays readable through that upsert and its cleanup. A read that
  * outlives two more upserts of the same table may fail.
  *
  * Crash safety: a table is old or new, never a mix. A crash before its
  * publish leaves the previous manifest, and everything it names, in
  * place; the checkpointed micro-batch replays the whole upsert. The
  * tables of one micro-batch publish one after another, so a crash
  * between two publishes leaves the earlier tables at this batch and the
  * later ones at the previous batch; the replay brings every table to
  * this batch (a table that already holds it merges the same winners
  * again). What a crash leaves behind (a `_tmp_b<id>` staging dir inside
  * the first written table, a `g<version>` dir no manifest names) is
  * deleted by that table's next upsert, and the replay reuses the names.
  *
  * One writer per table: upserts of one table must not run concurrently
  * (a streaming query's `foreachBatch` calls never do). Writers of
  * disjoint tables may share a sink root (`full` mode's tick and book
  * queries): each stages inside a table only it writes. Reads may run
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
    def json: String = compact(render(("format" -> Format) ~ ("version" -> version) ~
      ("key" -> key) ~ ("nbuckets" -> nb) ~ ("schema" -> parse(schema.json)) ~
      ("buckets" -> buckets.map { case (n, dir) => n.toString -> dir })))
  }

  /** The manifest layout this code writes and reads. Format 2 names every
    * bucket file with its bucket id; a manifest without a `format` field
    * is format 1, whose files Spark cannot assign to buckets. */
  private val Format = 2

  private def manifestFile(table: String) = Paths.get(s"$table/_manifest")

  /** The table's published manifest, or None for a table no upsert has
    * created yet. A table a layout before the manifest wrote fails
    * loudly: its files cannot be told apart from crash leftovers. So does
    * a manifest of another format. */
  private[graft] def manifest(table: String): Option[Manifest] = {
    val f = manifestFile(table)
    if (Files.exists(f)) {
      implicit val formats: Formats = DefaultFormats
      val j = parse(new String(Files.readAllBytes(f), UTF_8))
      val format = (j \ "format").extractOpt[Int].getOrElse(1)
      if (format != Format)
        throw new IllegalStateException(
          s"table $table has a format $format manifest, and this LwwSink reads format " +
            s"$Format only. Rebuild it by replaying its stream into a fresh sink root.")
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

  /** Merge one micro-batch into the emulated table: the one-table case
    * of [[upsertTables]]. `keys` is the PK; `batchId` is the version
    * (later batch wins; within a batch, the payload columns complete the
    * version tuple so [[LwwDedup]]'s winner is deterministic even for
    * same-PK rows — see [[upsertTables]]). Buckets hash on `keys.head`
    * (the partition-key analog).
    */
  def upsertBatch(
      batch: DataFrame,
      batchId: Long,
      rootDir: String,
      topic: String,
      kind: String,
      keys: Seq[String]): Unit =
    upsertTables(batch.withColumn(TableCol, lit(0)), batchId, rootDir,
      IndexedSeq(topic), kind, keys)

  /** The column of an [[upsertTables]] batch that names each row's table:
    * an index into its `topics`. */
  val TableCol = "_table"

  /** [[TableCol]] for rows whose wire topic is `topic`: its index in
    * `topics`, or -1 for a topic not listed (which fails the upsert). */
  def tableIndex(topics: Seq[String], topic: Column): Column =
    (array_position(typedLit(topics), topic) - 1).cast(IntegerType)

  /** A table one micro-batch merges into: its path, its published
    * manifest, if any, and the manifest the merge builds on. */
  private case class Target(path: String, prev: Option[Manifest], base: Manifest)

  /** Merge one micro-batch into the tables `{topic}_{kind}` of `topics`,
    * each row into the table its [[TableCol]] names: one LWW merge and
    * one parquet write, partitioned by (table, bucket), for all of them.
    * `keys` is every table's PK; `batchId` is the version, as in
    * [[upsertBatch]]. Each table keeps its own bucket key and count.
    *
    * Every table is checked (encoding, bucket key, stored schema) before
    * anything is written, so one bad table fails the micro-batch with no
    * manifest published.
    */
  def upsertTables(
      batch: DataFrame,
      batchId: Long,
      rootDir: String,
      topics: IndexedSeq[String],
      kind: String,
      keys: Seq[String]): Unit = {
    if (topics.isEmpty) return
    val spark = batch.sparkSession
    val stamped = batch.withColumn("_batch_id", lit(batchId))
    val stored = StructType(stamped.schema.filterNot(_.name == TableCol))
    val targets = topics.map { topic =>
      checkLegacyLayout(rootDir, topic, kind)
      val table = tablePath(rootDir, topic, kind)
      val prev = manifest(table)
      val base = prev.getOrElse(Manifest(0L, keys.head, NumBuckets, stored, Map.empty))
      if (base.key != keys.head)
        throw new IllegalArgumentException(
          s"table $table is bucketed on '${base.key}' but this upsert keys on " +
            s"'${keys.head}': its rows would hash into buckets the merge " +
            "never reads and silently duplicate primary keys.")
      checkSchema(table, base.schema, stored)
      Target(table, prev, base)
    }
    // each table hashes into its OWN bucket count (kb values are computed
    // mod the count the table was created with); a row of an unlisted
    // table gets no bucket
    val nb = targets.zipWithIndex.tail.foldLeft(
        when(col(TableCol) === 0, lit(targets.head.base.nb))) {
      case (c, (t, i)) => c.when(col(TableCol) === i, lit(t.base.nb))
    }
    // The batch is pinned once: the key collect and the merge both read
    // it, and each would otherwise re-run its producer
    val tagged = stamped.withColumn("kb", pmod(hash(col(keys.head)), nb))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // one collect of the batch's keys: the affected (table, bucket)
      // pairs and the task count on the driver, and the anti-join's key
      // set as a local relation (a broadcast ships these bytes anyway)
      val rowKey = TableCol +: keys
      val keyed = tagged.select((rowKey :+ "kb").map(col): _*)
      val batchKeys = keyed.collect()
      if (batchKeys.exists(_.isNullAt(rowKey.size)))
        throw new IllegalArgumentException(
          s"the batch holds rows of a table outside its ${topics.size} topics")
      val affected = batchKeys.map(r => r.getInt(0) -> r.getInt(rowKey.size)).distinct
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (i, ps) => i -> ps.map(_._2).sorted.toIndexedSeq }
      // an empty first batch still creates the table: it reads as empty
      targets.indices.filterNot(affected.map(_._1).contains)
        .foreach(i => if (targets(i).prev.isEmpty) publish(targets(i).path, targets(i).base))
      if (affected.isEmpty) return
      // Upsert = stored rows survive unless their (table, PK) is in the
      // batch: a broadcast anti-join against the batch's keys, so between
      // a stored row and a batch row the version decides nothing. One
      // scan of every affected bucket of every table: the table index is
      // a partition value of its dirs, so the anti-join stays one join
      // against one broadcast key set
      val storedDirs = for {
        (i, ns) <- affected
        n <- ns
        dir <- targets(i).base.buckets.get(n)
      } yield Seq(i, n) -> s"${targets(i).path}/$dir"
      val merged =
        if (storedDirs.nonEmpty) {
          val keySet = spark.createDataFrame(java.util.Arrays.asList(batchKeys: _*), keyed.schema)
          scan(spark, stored, Seq(TableCol, "kb"), storedDirs)
            .join(broadcast(keySet.select(rowKey.map(col): _*)), rowKey, "left_anti")
            .unionByName(tagged)
        } else tagged
      // each (table, bucket) whole in one writer task, so it lands as one
      // file: without this, partitionBy sprays (shuffle-partitions ×
      // buckets) small files per batch and the write dominates the merge.
      // At most one task per core: a task's fixed cost (scheduling, the
      // commit rename) is most of the cost of writing one small bucket,
      // and one task per bucket doubled the write's time.
      // Then LWW over the survivors and the batch. A survivor's key is not
      // in the batch, so the dedup elects among the batch's own same-PK
      // rows only, and it rides the bucket shuffle: `kb` is a function of
      // (table, keys.head), so the (table, bucket) partitioning satisfies
      // its (table, bucket, PK) window — one exchange per micro-batch.
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
      // Deterministic in-file layout: the window sorts each task's rows
      // by (table, bucket, the table's OWN primary key), and the write
      // keeps that order, so each bucket lands as one PK-sorted file with
      // no sort of the writer's own. (An explicit sort by the same columns
      // here would sort every row again: the window sorts on the
      // NaN/-0.0-normalized float key columns, which a plain column sort
      // does not match.)
      val tasks = math.min(affected.map(_._2.size).sum, spark.sparkContext.defaultParallelism)
      val payloadCols = batch.columns.filterNot(rowKey.contains).toSeq
      val layout = LwwDedup(merged.repartition(tasks, col(TableCol), col("kb")),
        (TableCol +: "kb" +: keys).map(col), col("_batch_id") +: payloadCols.map(col))
      // stage under an underscore name inside the first written table's
      // dir (same volume, invisible to readers, and only this writer
      // writes there), move each bucket into its table's new generation,
      // then publish: until its manifest's rename, a table reads as before
      val tmp = s"${targets(affected.head._1).path}/_tmp_b$batchId"
      layout.write.mode(SaveMode.Overwrite).partitionBy(TableCol, "kb").parquet(tmp)
      val written = affected.map { case (i, ns) =>
        val t = targets(i)
        val v = t.base.version + 1
        val next = t.base.copy(version = v,
          buckets = t.base.buckets ++ ns.map(n => n -> s"kb=$n/g$v"))
        ns.foreach { n =>
          val staged = s"$tmp/$TableCol=$i/kb=$n"
          nameBucketFiles(spark, staged, n)
          val dst = Paths.get(s"${t.path}/${next.buckets(n)}")
          Fs.deleteTree(dst) // left by a crashed attempt at this version
          Files.createDirectories(dst.getParent)
          Files.move(Paths.get(staged), dst, StandardCopyOption.ATOMIC_MOVE)
          afterBucketMove(n)
        }
        (t, next)
      }
      written.foreach { case (t, next) =>
        publish(t.path, next)
        afterTablePublish(t.path)
      }
      // after every publish: the staging dir goes with its table's sweep
      written.foreach { case (t, next) =>
        sweep(t.path, (t.base.buckets.values ++ next.buckets.values).toSet)
      }
    } finally tagged.unpersist()
  }

  /** Give each data file of a staged bucket dir its bucket id, where
    * Spark's bucketed read looks for it: `part-…_000NN.c000.snappy.parquet`.
    * The Hadoop rename carries the file's checksum along. */
  private def nameBucketFiles(spark: SparkSession, dir: String, n: Int): Unit = {
    val path = new HPath(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(path).map(_.getPath.getName)
      .filterNot(f => f.startsWith(".") || f.startsWith("_")).foreach { f =>
        val (stem, ext) = f.span(_ != '.')
        val named = stem + BucketingUtils.bucketIdToString(n) + ext
        if (!fs.rename(new HPath(path, f), new HPath(path, named)))
          throw new IllegalStateException(s"could not rename $dir/$f to $named")
      }
  }

  /** Test-only fault injection: runs after each bucket moves into its new
    * generation, before any manifest is published. LwwSinkSuite kills an
    * upsert there to prove a crash leaves the previous table readable and
    * the replayed micro-batch converges. A no-op outside tests.
    */
  private[graft] var afterBucketMove: Int => Unit = _ => ()

  /** Test-only fault injection: runs after each table's manifest is
    * published, with the table's path, before the next table publishes.
    * LwwSinkSuite kills a micro-batch there to leave two tables at
    * different batches and proves the replay heals them. A no-op outside
    * tests.
    */
  private[graft] var afterTablePublish: String => Unit = _ => ()

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

  /** The one scan of sink files: one root path per bucket generation dir,
    * under the stored `schema`, so no schema-inference job runs, and with
    * each dir's values of the `partitions` columns given, not inferred
    * from its path. Built on the file index directly, as
    * `spark.read.parquet` would build it, but without its per-call
    * existence check of every path, which starts a thread pool and costs
    * a read more than listing the files does. A `bucketSpec` makes it a
    * bucketed relation: Spark prunes files by the bucket id in their
    * names. */
  private def scan(spark: SparkSession, schema: StructType, partitions: Seq[String],
      dirs: Seq[(Seq[Int], String)], bucketSpec: Option[BucketSpec] = None): DataFrame = {
    val partitionSchema = StructType(partitions.map(StructField(_, IntegerType)))
    val spec = PartitionSpec(partitionSchema, dirs.map { case (values, dir) =>
      val p = new HPath(dir)
      PartitionPath(InternalRow.fromSeq(values),
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p))
    })
    val index = new InMemoryFileIndex(spark, spec.partitions.map(_.path), Map.empty, None,
      userSpecifiedPartitionSpec = Some(spec))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, partitionSchema,
      schema.toNullable, bucketSpec, new ParquetFileFormat, Map.empty)(spark))
  }

  /** The table's rows, as of the manifest this call resolves. Plans
    * without a schema-inference job. The relation is bucketed on the
    * table's key, so a filter on the key (`=`, `IN`, `<=>`, AND/OR of
    * them) opens only the files of the buckets its values hash into. */
  def read(spark: SparkSession, rootDir: String, topic: String,
      kind: String): DataFrame = {
    checkLegacyLayout(rootDir, topic, kind)
    val table = tablePath(rootDir, topic, kind)
    val m = manifest(table)
      .getOrElse(throw new IllegalStateException(s"no LwwSink table at $table"))
    scan(spark, m.schema, Nil, m.buckets.toSeq.sorted.map { case (_, dir) => Nil -> s"$table/$dir" },
      Some(BucketSpec(m.nb, Seq(m.key), Nil))).drop("_batch_id")
  }
}
