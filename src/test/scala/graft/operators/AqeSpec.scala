package graft.operators

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestBase, Tables}

/** Evidence that the engine actually LEANS on AQE at runtime — the "let
  * Catalyst optimize" design claim, asserted on executed plans rather than
  * taken on faith. Both properties are what keep 100 TB plans honest:
  * runtime demotion of a shuffle join to broadcast when a filtered side
  * turns out small, and post-shuffle partition coalescing so a
  * conservative initial partition count doesn't schedule thousands of
  * near-empty tasks.
  */
class AqeSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.01"

  private def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE converts a statically-planned shuffle join to broadcast at runtime") {
    // static estimator blind (threshold -1) → planner picks a shuffle join;
    // the adaptive threshold then sees the filtered orders side's TRUE
    // runtime size and demotes to broadcast
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "10m") {
      val small = Tables.orders(spark, sf).filter($"o_totalprice" > 400000)
      val joined = Tables.lineitem(spark, sf)
        .join(small, $"l_orderkey" === $"o_orderkey")
        .groupBy($"l_returnflag").agg(count(lit(1)).as("n"))
      joined.collect()
      val adaptive = joined.queryExecution.executedPlan
        .collectFirst { case a: AdaptiveSparkPlanExec => a }
      assert(adaptive.isDefined, "plan should be adaptive")
      // QueryStageExec nodes are tree leaves — match the rendered final
      // plan, which inlines the materialized stages
      val rendered = adaptive.get.executedPlan.toString
      assert(rendered.contains("BroadcastHashJoin"),
        s"AQE should have demoted to broadcast:\n$rendered")
      assert(!rendered.contains("SortMergeJoin"),
        s"shuffle join survived AQE:\n$rendered")
    }
  }

  test("AQE coalesces an over-partitioned shuffle down to the data's real size") {
    withConf(
      "spark.sql.shuffle.partitions" -> "200",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8m") {
      val agg = Tables.lineitem(spark, sf)
        .groupBy($"l_partkey").agg(sum($"l_quantity").as("q"))
      val parts = agg.rdd.getNumPartitions
      assert(parts < 200,
        s"AQE should coalesce the 200 shuffle partitions at this SF, got $parts")
    }
  }

  private implicit class Interp(val sc: StringContext) {
    def $(args: Any*): org.apache.spark.sql.Column = col(sc.s(args: _*))
  }
}
