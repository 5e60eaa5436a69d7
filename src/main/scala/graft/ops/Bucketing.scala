package graft.ops

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
  * `SessionCache.layout` per (session, fixture dir, name) so repeated
  * query runs (bench, verify) pay the bucketing write once, and the
  * files go when the memo drops the entry.
  */
object Bucketing {

  /** Ensure `df`, derived from fixture `dir`, exists as a bucketed
    * external parquet table; returns the catalog table name to read
    * (`spark.table(...)`). The name is the layout's own temp dir name,
    * so no two builds (two fixture dirs, two sessions sharing one
    * catalog, or a rebuild after the memo dropped an entry) ever write
    * or read each other's table. A dropped entry's files are deleted;
    * its catalog entry stays, as metadata over no files.
    */
  def ensureBucketed(
      df: DataFrame,
      dir: String,
      name: String,
      key: String,
      buckets: Int): String =
    graft.util.SessionCache.layout(df.sparkSession, dir, s"bucketed/$name",
        s"graft_bkt_$name") { path =>
      val table = path.getFileName.toString
      df.write.format("parquet").mode(SaveMode.Overwrite)
        .bucketBy(buckets, key).sortBy(key)
        .option("path", path.toString)
        .saveAsTable(table)
      table
    }
}
