package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Date-partitioned table layout — the other half of the 100 TB storage
  * story next to [[Bucketing]]: bucketing co-locates JOINS, day
  * partitioning prunes TIME-RANGE SCANS. A `day=YYYY-MM-DD/` directory
  * tree turns "last week" into a listing of 7 directories — the scan
  * never opens, lists, or row-group-filters the other years. This is
  * the reference's `(symbol, time DESC)` read pattern generalized to
  * the time axis the reference could not prune on at all (Cassandra
  * scans the whole partition, main.rs:87-88).
  *
  * Offline emulation: a write of the fixture into a temp dir, memoized
  * as a `SessionCache.layout` so repeated query runs (bench best-of-2,
  * verify) pay the layout write once, and the files go when the memo
  * drops the entry — the same seam as [[Bucketing.ensureBucketed]].
  */
object DayPartitioned {

  /** Ensure `df`, derived from fixture `dir`, exists day-partitioned on
    * `tsCol`'s date; returns the table path. Adds a `day` DateType
    * partition column.
    */
  def ensure(df: DataFrame, dir: String, name: String,
      tsCol: String): String =
    graft.util.SessionCache.layout(df.sparkSession, dir, s"day/$name",
        s"graft_day_$name") { path =>
      df.withColumn("day", to_date(col(tsCol)))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("day").parquet(path.toString)
      path.toString
    }
}
