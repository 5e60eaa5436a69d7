package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Bucketed-table support: the storage-level answer to "fact ⋈ fact on
  * the same key, every day" at 100 TB. Writing both sides bucketed (and
  * per-bucket sorted) by the join key makes the join's required
  * distribution a property OF THE FILES — Spark's scan reports the
  * bucket partitioning, the planner sees both sides already hash-
  * clustered on the key, and the sort-merge join runs with NO exchange
  * on either side. One shuffle paid once at write time, amortized over
  * every subsequent join, instead of re-shuffling both fact tables on
  * every query. (The same idea the reference bakes into its Cassandra
  * PRIMARY KEY layout — storage pre-organized for the read,
  * /root/reference/src/main.rs:87-88 — applied to Spark's scan-side
  * partitioning contract.)
  *
  * Offline emulation detail: bucketed tables must live in a catalog
  * (`saveAsTable`); this helper writes EXTERNAL parquet tables under a
  * temp dir into the session's in-memory catalog, memoized as a
  * `SessionCache.input` per (session, fixture dir, name) so repeated
  * query runs (bench, verify) pay the bucketing write once.
  */
object Bucketing {

  /** Ensure `df`, derived from fixture `dir`, exists as a bucketed
    * external parquet table; returns the catalog table name to read
    * (`spark.table(...)`). The name carries a content-addressed tag of
    * `dir` (a 32-bit hash could collide across dirs and share one table),
    * so two fixture dirs never write the same catalog entry.
    */
  def ensureBucketed(
      df: DataFrame,
      dir: String,
      name: String,
      key: String,
      buckets: Int): String = {
    val s = df.sparkSession
    graft.util.SessionCache.input(s, dir, s"bucketed/$name") {
      val tag = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).take(6)
        .map(b => f"$b%02x").mkString
      val table = s"graft_bkt_${name}_$tag"
      val path = Files.createTempDirectory(s"graft_bkt_$name")
      graft.source.SpoolWriter.deleteAtExit(path)
      s.sql(s"DROP TABLE IF EXISTS $table")
      df.write.format("parquet").mode(SaveMode.Overwrite)
        .bucketBy(buckets, key).sortBy(key)
        .option("path", path.toString)
        .saveAsTable(table)
      table
    }
  }
}
