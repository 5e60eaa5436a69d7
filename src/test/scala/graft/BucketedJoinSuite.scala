package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

/** Bucketing: pre-partitioned tables joined on the bucket key need NO
  * exchange at read time — the co-located-join strategy for repeated
  * fact-fact joins at 100 TB (pay one shuffle at write, join for free
  * forever after). Broadcast is disabled in the test so the tiny fixture
  * actually exercises the shuffle-join path being demonstrated.
  */
class BucketedJoinSuite extends SparkSpec {

  private def flatten(x: SparkPlan): Seq[SparkPlan] = x match {
    case q: QueryStageExec => x +: flatten(q.plan)
    case _ => x +: x.children.flatMap(flatten)
  }

  test("join of two tables bucketed on the join key plans zero shuffles") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val dir = "/root/testdata/sf0.001"
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val ord = spark.read.parquet(s"$dir/orders.parquet")
      // external tables under a temp dir: nothing lands in the
      // checkout's spark-warehouse/
      val liBkt = graft.ops.Bucketing.ensureBucketed(
        li, dir, "li_all", "l_orderkey", 8)
      val ordBkt = graft.ops.Bucketing.ensureBucketed(
        ord, dir, "ord_all", "o_orderkey", 8)

      def agg(j: org.apache.spark.sql.DataFrame) =
        j.groupBy("o_orderstatus").agg(count(lit(1)).as("n"))

      val bucketed = agg(spark.table(liBkt).join(spark.table(ordBkt),
        col("l_orderkey") === col("o_orderkey")))
      bucketed.collect()
      val plan = bucketed.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val nodes = flatten(plan)
      assert(nodes.exists(_.nodeName.contains("SortMergeJoin")),
        s"expected a sort-merge join over bucketed scans:\n$plan")
      // only the final low-cardinality groupBy may shuffle — the join
      // itself reads bucket-partitioned data directly
      assert(nodes.count(_.isInstanceOf[ShuffleExchangeLike]) <= 1,
        s"bucketed join must not exchange either side:\n$plan")

      // plain-parquet comparison join (this one DOES shuffle both sides)
      val plain = agg(li.join(ord, col("l_orderkey") === col("o_orderkey")))
      plain.collect()
      val plainPlan = plain.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      assert(flatten(plainPlan).count(_.isInstanceOf[ShuffleExchangeLike]) >= 2,
        "control: the unbucketed join shuffles both sides")
      assert(bucketed.collect().map(r => (r.getString(0), r.getLong(1))).toMap
        === plain.collect().map(r => (r.getString(0), r.getLong(1))).toMap)
    } finally
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }
}
