package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.LlmQueries

/** Crossover measurement for the two exact-Jaccard pair algorithms:
  * inverted-index join (`jaccardPairs`, cost ∝ Σ_w df(w)² candidate pairs)
  * vs prefix-filtered AllPairs (`jaccardPairsPrefix`, cost ∝ prefix-token
  * join volume — flat under hot shingles, but pays ranking windows and an
  * array-intersect verify).
  *
  * Corpora: the benign sf corpus (3-gram df is tiny; measured max df
  * 25/5000 docs) and skewed variants where a hot boilerplate phrase is
  * appended to `pct`% of docs — the heavy-tailed shape of real crawl data
  * (shared headers/footers/licenses), which drives Σdf² quadratic while
  * token volume T grows only linearly.
  *
  * The printed `blowup = Σdf²/T` is the dispatch statistic used by
  * [[LlmQueries.jaccardPairsAuto]]: measured here (BASELINE.md records the
  * table), naive wins at the benign blowup (~11) and prefix already wins
  * at blowup ~84, so the cutover ships at 45 — see the
  * [[LlmQueries.JaccardBlowupCutover]] scaladoc for the calibration.
  *
  * Usage: runMain graft.DedupBench [sfDir]
  */
object DedupBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = GraftSession.local()
    import spark.implicits._

    val base = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    // hot boilerplate appended to pct% of docs: 12 words → 10 shared
    // 3-gram shingles, each with df ≈ pct% of the corpus
    val hot = "terms of service apply to all content on this mirrored page"
    def skewed(pct: Int): DataFrame =
      base.withColumn("text",
        when(pmod($"doc_id", lit(100)) < pct, concat($"text", lit(" " + hot)))
          .otherwise($"text"))

    def time[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    // One A/B harness serves both dispatch families (same warm-then-
    // measure methodology — calibration numbers must not include one-time
    // cold-start cost, the round-4 lesson).
    def ab(label: String, naive: DataFrame => DataFrame,
        prefix: DataFrame => DataFrame, detail: Boolean): Unit = {
      println(s"[dedupbench] $label")
      for ((name, docs) <- Seq("benign" -> base, "skew10" -> skewed(10),
          "skew30" -> skewed(30))) {
        val d = docs.persist()
        d.count()
        val stats = LlmQueries.shingleStats(d)
        naive(d).count()
        prefix(d).count()
        val (nNaive, tNaive) = time(naive(d).count())
        val (nPrefix, tPrefix) = time(prefix(d).count())
        assert(nNaive == nPrefix,
          s"$label/$name: algorithms disagree ($nNaive vs $nPrefix)")
        val auto =
          if (stats.blowup <= LlmQueries.JaccardBlowupCutover) "naive" else "prefix"
        val mid =
          if (detail) f"sumDf2=${stats.sumDf2}%1.3e maxDf=${stats.maxDf}%7d " else ""
        println(f"[dedupbench] $name%-8s T=${stats.tokens}%9d $mid%s" +
          f"blowup=${stats.blowup}%9.1f pairs=$nNaive%7d " +
          f"naive=$tNaive%6.2fs prefix=$tPrefix%6.2fs auto->$auto")
        d.unpersist()
      }
    }

    ab(s"corpus=$sfDir threshold=0.5",
      LlmQueries.jaccardPairs(_, 0.5), LlmQueries.jaccardPairsPrefix(_, 0.5),
      detail = true)
    // containment dispatch (threshold 0.8: the prefix is only (1−t)·n
    // ≈ 20% of tokens, but it probes the FULL token index — different
    // constants than the jaccard prefix×prefix join)
    ab("containment threshold=0.8",
      LlmQueries.containmentPairs(_, 0.8), LlmQueries.containmentPairsPrefix(_, 0.8),
      detail = false)

    // fuzzy-dedup dispatch: plain blocked join vs identical-skeleton
    // collapse. The hot variant REPLACES pct% of docs with one
    // boilerplate text — one skeleton shared corpus-wide, the
    // license-header block shape whose within-block pair count is
    // quadratic in the block (the Jaccard `skewed` variant APPENDS and
    // keeps skeletons distinct, which stresses shingle df, not blocks).
    import graft.llm.TextRankQueries
    val boiler = "all rights reserved unauthorized reproduction of this " +
      "mirrored page is strictly prohibited see site terms for details"
    def hotDocs(pct: Int): DataFrame =
      base.withColumn("text",
        when(pmod($"doc_id", lit(100)) < pct, lit(boiler)).otherwise($"text"))
    println("[dedupbench] fuzzy plain-vs-collapsed")
    for ((name, docs) <- Seq("benign" -> base, "hot5" -> hotDocs(5),
        "hot10" -> hotDocs(10))) {
      val d = docs.persist()
      d.count()
      val stats = TextRankQueries.fuzzyBlockStats(d)
      TextRankQueries.fuzzyPairs(d).count()
      TextRankQueries.fuzzyPairsCollapsed(d).count()
      val (nPlain, tPlain) = time(TextRankQueries.fuzzyPairs(d).count())
      val (nColl, tColl) = time(TextRankQueries.fuzzyPairsCollapsed(d).count())
      assert(nPlain == nColl,
        s"fuzzy/$name: algorithms disagree ($nPlain vs $nColl)")
      val auto = if (stats.blowup >
          TextRankQueries.FuzzyCollapseCutover * math.max(stats.repBlowup, 1.0))
        "collapsed" else "plain"
      println(f"[dedupbench] $name%-8s docs=${stats.docs}%6d groups=${stats.groups}%6d " +
        f"blowup=${stats.blowup}%9.1f repBlowup=${stats.repBlowup}%9.1f " +
        f"pairs=$nPlain%8d plain=$tPlain%6.2fs collapsed=$tColl%6.2fs auto->$auto")
      d.unpersist()
    }
    spark.stop()
  }
}
