package graft.operators

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestBase, Tables}

/** Proves the DESIGN.md §2 co-location claim: two tables bucketed on the
  * join key join with ZERO shuffle exchanges — the plan Spark picks for a
  * pre-partitioned 100 TB fact⋈fact join, where re-shuffling either side
  * would be the dominant cost. (At test scale the same join would broadcast,
  * so the broadcast threshold is disabled to expose the sort-merge path.)
  */
class BucketedJoinSpec extends AnyFunSuite with SparkTestBase {

  private def collectPlans(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case _ => p.children
    }
    p +: kids.flatMap(collectPlans)
  }

  test("tables bucketed on the join key join with zero shuffles") {
    val sf = "/root/testdata/sf0.001"
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Tables.orders(spark, sf).write
        .bucketBy(4, "o_custkey").sortBy("o_custkey")
        .mode("overwrite").saveAsTable("b_orders")
      Tables.customer(spark, sf).write
        .bucketBy(4, "c_custkey").sortBy("c_custkey")
        .mode("overwrite").saveAsTable("b_customer")

      val joined = spark.table("b_orders")
        .join(spark.table("b_customer"), col("o_custkey") === col("c_custkey"))
      val n = joined.count()

      // same result as the unbucketed join
      val expect = Tables.orders(spark, sf)
        .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
        .count()
      assert(n == expect)

      val nodes = collectPlans(joined.queryExecution.executedPlan)
      val shuffles = nodes.count(_.isInstanceOf[ShuffleExchangeLike])
      assert(shuffles == 0,
        s"bucketed join must not shuffle, found $shuffles exchange(s):\n" +
          joined.queryExecution.executedPlan)
      assert(nodes.exists(_.nodeName.contains("SortMergeJoin")),
        "expected the sort-merge path (broadcast disabled)")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      Seq("b_orders", "b_customer").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }
}
