package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** r13 hardening pins for the SHUFFLE_HASH dispatch (round-12 verdict
  * "What's wrong" #3 / ADVICE #1-2): the gate must bound the WORST
  * partition — average build rows PLUS the hottest key's rows, which all
  * hash to one partition — against a cap derived from executor memory per
  * task slot, because an inner shuffled-hash build side cannot spill.
  */
class ShjDispatchSpec extends AnyFunSuite with SparkTestBase {

  test("shjSafe bounds the worst partition, not the average") {
    val cap = 629000L // 8 GiB heap × 0.3 / 32 slots / 128 B — the local[32] bench regime
    // benign sf1-like profile: 2.6M token rows over 32 parts, maxDf 25
    assert(LlmQueries.shjSafe(2603880L, 25L, 32, cap), "benign profile must dispatch SHJ")
    // hot-shingle corpus: same volume but one shingle in 1M docs — the
    // average (81k) passes, the worst partition (81k + 1M) must not
    assert(!LlmQueries.shjSafe(2603880L, 1000000L, 32, cap),
      "hot-key profile passed the gate the r12 average would have passed — skew unhandled")
    // widening partitions alone cannot excuse a hot key: df(w) rows of one
    // shingle always land in ONE partition
    assert(!LlmQueries.shjSafe(2603880L, 1000000L, 4096, cap),
      "hot key must gate regardless of partition count")
  }

  test("planted hot-shingle corpus measures its skew and the gate flips to sort-merge") {
    // every doc shares one boilerplate phrase: its shingles' df == ndocs,
    // the exact shape the average gate waved through
    val hot = "terms of service apply to all content on this mirrored page"
    val docs = spark.range(0, 400).select(col("id").as("doc_id"),
      concat(lit("unique words "), col("id").cast("string"),
        lit(" tail " + hot)).as("text"))
    val stats = LlmQueries.shingleStats(docs)
    assert(stats.maxDf == 400L, s"hot shingle df should be the corpus size, got ${stats.maxDf}")
    // under a cap scaled to this corpus the skewed profile must fall back
    // to sort-merge while a benign profile of the SAME volume dispatches
    val parts = 32
    val cap = stats.tokens / parts + 100
    assert(LlmQueries.shjSafe(stats.tokens, 25L, parts, cap))
    assert(!LlmQueries.shjSafe(stats.tokens, stats.maxDf, parts, cap),
      "the measured hot-shingle profile must force the SMJ fallback")
  }

  test("memory-derived cap scales with heap per slot and keeps the absolute ceiling") {
    val cap = LlmQueries.shjBuildRowsCap(spark, LlmQueries.InterShjBytesPerRow)
    val heap = Runtime.getRuntime.maxMemory()
    val slots = math.max(1, spark.sparkContext.defaultParallelism)
    assert(cap == math.min(LlmQueries.ShjBuildRowsMax, heap * 3L / 10L / slots / 128L))
    assert(cap > 0L)
    // total concurrent build memory is bounded by construction:
    // slots × cap × bytesPerRow ≤ 0.3 × heap (+ the ceiling case)
    assert(cap == LlmQueries.ShjBuildRowsMax ||
      slots * cap * 128L <= heap * 3L / 10L)
  }

  test("off local, the cap reads the executor's memory and cores, not the driver's") {
    val conf = new org.apache.spark.SparkConf(false)
      .set("spark.executor.memory", "8g").set("spark.executor.cores", "8")
    assert(LlmQueries.executorHeapAndSlots(conf) == ((8L << 30, 8)))
    // 8 GiB × 0.3 / 8 slots / 128 B, whatever the driver heap is
    assert(LlmQueries.shjBuildRowsCap(8L << 30, 8, 128L) == 2516582L)
    // two cpus per task halve the concurrent tasks
    conf.set("spark.task.cpus", "2")
    assert(LlmQueries.executorHeapAndSlots(conf) == ((8L << 30, 4)))
    // unset keys take Spark's defaults: a 1g executor running one task
    assert(LlmQueries.executorHeapAndSlots(new org.apache.spark.SparkConf(false)) ==
      ((1L << 30, 1)))
  }

  // SYNTHETIC docs for the plan-shape pins: a parquet-table frame here can
  // be plan-matched by CacheManager against frames other suites persisted
  // over the same dir, and the substituted InMemoryRelation carries the
  // join strategy of whoever cached it first — not the hint under test
  private def synthDocs(n: Int) = {
    spark.range(0, n).select(col("id").as("doc_id"),
      concat(lit("alpha beta gamma delta epsilon zeta eta theta doc "),
        col("id").cast("string")).as("text"),
      lit("src0").as("source"), lit(100L).as("n_chars"))
  }

  test("both dispatch branches keep their join strategy (plan shape)") {
    def planOf(shj: Boolean): String = {
      val df = LlmQueries.interCountsBroadcast(synthDocs(300), 0, shj)
      df.queryExecution.executedPlan.toString
    }
    assert(planOf(true).contains("ShuffledHashJoin"),
      "shj=true must plan the self-join as shuffled-hash")
    assert(!planOf(false).contains("ShuffledHashJoin"),
      "shj=false must keep the graceful sort-merge fallback")
  }

  test("minhash band join honors its dispatch flag (plan shape)") {
    val sig = LlmQueries.minhashSigOf(synthDocs(300))
    def planOf(shj: Boolean): String =
      LlmQueries.minhashPairsRaw(sig, shj)
        .queryExecution.executedPlan.toString
    assert(planOf(true).contains("ShuffledHashJoin"),
      "shj=true must plan the band self-join as shuffled-hash")
    // below BandShjMinRows the gate leaves the planner's broadcast — the
    // measured crossover (broadcast wins ≲200k band rows; reproduce with
    // `runMain graft.Ab <sfDir> 3 minhash_band_auto minhash_band_shj`)
    assert(!planOf(false).contains("ShuffledHashJoin"),
      "shj=false must leave the planner's choice (broadcast at small scale)")
  }
}
