package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.shardpack.{HadoopConfs, ShardpackDataSource, ShardpackFormat}

/** [[FinalSort]]: a small final ORDER BY sorts in one partition, so Spark
  * runs no range-sampling job over the sort's input; a larger input, an
  * input that needs no exchange, a limit or a write plans as before.
  */
class FinalSortSpec extends AnyFunSuite with SparkTestBase with AdaptiveSparkPlanHelper {

  private val sfDir = "/root/testdata/sf0.01"
  private val ThresholdKey = "spark.sql.autoBroadcastJoinThreshold"

  private def query(name: String): DataFrame = SparkEntry.queries(name)(spark, sfDir)

  private def withThreshold[A](v: Long)(f: => A): A = {
    val prior = spark.conf.getOption(ThresholdKey)
    spark.conf.set(ThresholdKey, v.toString)
    try f finally prior match {
      case Some(p) => spark.conf.set(ThresholdKey, p)
      case None => spark.conf.unset(ThresholdKey)
    }
  }

  /** Every shuffle exchange of a plan, through AQE's query stages. */
  private def exchanges(df: DataFrame): Seq[ShuffleExchangeExec] =
    collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }

  private def strip(p: SparkPlan): SparkPlan = p match {
    case r: AQEShuffleReadExec => strip(r.child)
    case s: QueryStageExec => strip(s.plan)
    case other => other
  }

  test("a small final sort runs no sampling job and keeps rows and order") {
    val want = withThreshold(-1) {
      val off = query("multimodal_video_features")
      assert(exchanges(off).exists(_.outputPartitioning.isInstanceOf[RangePartitioning]))
      val (_, jobs) = jobsDuring(Bench.drive(off))
      assert(jobs == 3, "the range exchange samples its input in a job of its own")
      off.collect().toSeq
    }
    val df = query("multimodal_video_features")
    assert(exchanges(df).map(_.outputPartitioning) == Seq(SinglePartition))
    val (_, jobs) = jobsDuring(Bench.drive(df))
    assert(jobs == 2, "map stage and result stage only")
    val got = query("multimodal_video_features").collect().toSeq
    assert(want.nonEmpty && got == want)
  }

  test("sql_q5: re-optimized with real sizes, the sort above the aggregate runs in one partition") {
    val df = query("sql_q5")
    Bench.drive(df)
    val plan = df.queryExecution.executedPlan
    val ex = exchanges(df)
    assert(ex.count(_.outputPartitioning == SinglePartition) == 1, plan)
    assert(!ex.exists(_.outputPartitioning.isInstanceOf[RangePartitioning]), plan)
    assert(!ex.exists(e => strip(e.child).isInstanceOf[ShuffleExchangeExec]),
      s"stacked repartitions:\n$plan")
  }

  test("a threshold below the input's estimate keeps the range exchange") {
    val estimate = withThreshold(-1) {
      query("multimodal_video_features").queryExecution.optimizedPlan.children.head
        .stats.sizeInBytes.toLong
    }
    withThreshold(estimate - 1) {
      val ps = exchanges(query("multimodal_video_features")).map(_.outputPartitioning)
      assert(ps.size == 1 && ps.head.isInstanceOf[RangePartitioning], ps)
    }
    withThreshold(estimate) {
      val ps = exchanges(query("multimodal_video_features")).map(_.outputPartitioning)
      assert(ps == Seq(SinglePartition), ps)
    }
  }

  test("a sort whose input already satisfies its ordering gains no exchange") {
    // ts_resample's grid comes from range(3): it stays range partitioned
    // by user_id through the broadcast join and the window, so the final
    // sort needs no exchange at all
    val ps = exchanges(query("ts_resample")).map(_.outputPartitioning)
    assert(!ps.exists(p => p == SinglePartition || p.isInstanceOf[RangePartitioning]), ps)
  }

  test("orderBy().limit() still plans TakeOrderedAndProject") {
    val df = spark.range(1000).toDF().orderBy(desc("id")).limit(10)
    assert(df.queryExecution.executedPlan.collectFirst {
      case t: TakeOrderedAndProjectExec => t
    }.nonEmpty, df.queryExecution.executedPlan)
    assert(df.collect().map(_.getLong(0)).toSeq == (990L to 999L).reverse)
  }

  test("a sortedWrite bucket still writes its N key-disjoint shards") {
    val dir = Files.createTempDirectory("final-sort").toString
    // a shuffle under the write, so AQE re-optimizes the write's query
    spark.range(400).select((col("id") % 200).as("id")).distinct()
      .select(format_string("key%05d", col("id")).as("key"),
        to_json(struct(col("id"))).cast(BinaryType).as("metadata"),
        array(struct(lit("body.txt").as("file_name"), lit("text/plain").as("content_type"),
          lit("").as("encoding"), encode(format_string("p-%05d", col("id")), "UTF-8").as("data")))
          .as("entries"))
      .orderBy(expr("reverse(key)"))
      .write.format("shardpack").option("sortedWrite", true).option("targetShards", 4)
      .mode("append").save(dir)
    val fs = new Path(dir).getFileSystem(HadoopConfs.session())
    val shards = ShardpackDataSource.listShards(fs, new Path(dir))
    assert(shards.length == 4)
    val ranges = shards.map { st =>
      val in = fs.open(st.getPath)
      val footer = try ShardpackFormat.readFooter(st.getLen, (pos, len) => {
        val b = new Array[Byte](len); in.readFully(pos, b); b
      }) finally in.close()
      ShardpackFormat.ShardStats.unwrap(footer.shardMetadata)._1.get
    }.sortBy(_._1)
    ranges.sliding(2).foreach { case Seq((_, aMax), (bMin, _)) =>
      assert(aMax < bMin, s"overlapping shard ranges: $ranges")
    }
    assert(spark.read.format("shardpack").load(dir).count() == 200)
  }
}
