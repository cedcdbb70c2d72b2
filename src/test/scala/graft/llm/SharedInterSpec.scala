package graft.llm

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** A/B pin for the shared candidate-pair frame (round 8): on the naive
  * dispatch path, goodPairs/goodContainPairs derive from ONE memoized
  * metric-independent (a_id, b_id, inter, na, nb) frame instead of running
  * the inverted-index self-join once per family. This spec asserts the
  * shared-frame projections are row-identical to the direct
  * jaccardPairs/containmentPairs builders on a corpus with planted
  * near-dup, containment, and disjoint structure.
  */
class SharedInterSpec extends AnyFunSuite with SparkTestBase {

  private lazy val dir: String = {
    val d = Files.createTempDirectory("shared-inter-docs").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val rows = Seq(
      // near-dup pair (high jaccard, high containment)
      (1L, "en", base),
      (2L, "en", base + " phi"),
      // containment pair: 3's shingles are a strict subset of 4's
      (3L, "en", "alpha beta gamma delta epsilon zeta"),
      (4L, "en", "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      // shares a few shingles with 1 but below both thresholds
      (5L, "en", "alpha beta gamma completely different tail words here now ok"),
      // disjoint
      (6L, "en", "one two three four five six seven eight nine ten"))
    import spark.implicits._
    rows.toDF("doc_id", "lang", "text")
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text"))
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet

  test("shared-frame jaccard pairs == direct jaccardPairs at t=0.5") {
    val docs = graft.Tables.documents(spark, dir)
    val direct = rowsOf(LlmQueries.jaccardPairs(docs, 0.5))
    val shared = rowsOf(LlmQueries.goodPairs(spark, dir))
    assert(shared == direct)
    assert(direct.nonEmpty, "fixture must produce at least one jaccard pair")
  }

  test("broadcast-dim and carry-n interCounts shapes are row-identical") {
    val docs = graft.Tables.documents(spark, dir)
    def rows5(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long, Long)] =
      df.select("a_id", "b_id", "inter", "na", "nb").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
    val bc = rows5(LlmQueries.interCountsBroadcast(docs))
    val cn = rows5(LlmQueries.interCountsCarryN(docs))
    assert(bc == cn)
    assert(bc.nonEmpty, "fixture must produce candidate pairs")
  }

  test("shared-frame containment pairs == direct containmentPairs at t=0.8") {
    val docs = graft.Tables.documents(spark, dir)
    val direct = rowsOf(LlmQueries.containmentPairs(docs, 0.8))
    val shared = rowsOf(LlmQueries.goodContainPairs(spark, dir))
    assert(shared == direct)
    assert(direct.nonEmpty, "fixture must produce at least one containment pair")
    // the containment plant (3 ⊂ 4) must be found with cont = 1.0
    assert(shared.exists { case (a, b, _, c) => a == 3L && b == 4L && c == 1.0 })
  }

  test("pair-stage partition count scales with the Σdf² candidate estimate") {
    val base = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // benign profiles never shrink below the session's parallelism
    assert(LlmQueries.pairBuildPartitions(spark, 0.0) == base)
    assert(LlmQueries.pairBuildPartitions(spark, LlmQueries.PairsPerTask) == base)
    // past the floor: ~PairsPerTask candidate pairs (Σdf²/2) per task
    assert(LlmQueries.pairBuildPartitions(spark,
      2.0 * LlmQueries.PairsPerTask * 100) == 100)
    // the sf10 gate's measured profile lands well past the 32-task floor
    assert(LlmQueries.pairBuildPartitions(spark,
      2.0 * 133.4e6) > base, "sf10-scale Σdf² must widen the pair stage")
    // pathological profile cannot outrun the scheduler
    assert(LlmQueries.pairBuildPartitions(spark, 1e18) == 4096)
  }

  test("a widened pair stage leaves the candidate rows identical") {
    val docs = graft.Tables.documents(spark, dir)
    def rows5(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long, Long)] =
      df.select("a_id", "b_id", "inter", "na", "nb").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
    val plain = rows5(LlmQueries.interCountsBroadcast(docs))
    assert(rows5(LlmQueries.interCountsBroadcast(docs, pairParts = 7)) == plain)
    assert(rows5(LlmQueries.interCountsCarryN(docs, pairParts = 7)) == plain)
  }
}
