package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Scale-readiness audit over every registered query's physical plan.
  *
  * Flags the plan shapes that break at 100 TB even though they pass at test
  * scale — cartesian products and broadcast nested-loop joins — and prints,
  * per query: join strategies, shuffle-exchange count, whole-stage-codegen
  * span count, and each parquet scan's pushed filters, so a regression in
  * any plan dimension is one diff away.
  *
  * Usage: runMain graft.PlanAudit [sfDir]
  */
object PlanAudit {

  /** Queries whose flagged shape is deliberate — keyed by the EXACT warn
    * kind excused, so a different regression on the same query still flags
    * (e.g. sim_topk's intended NESTED_LOOP degrading to CARTESIAN).
    */
  /** Iterative queries execute a driver-side fixpoint loop when the fn is
    * called, so the returned plan covers only the final derived frame —
    * the audit line is annotated rather than silently misleading.
    */
  private val iterative =
    Set("dedup_cluster", "dedup_cluster_dist", "dedup_minhash_cluster",
      "join_bloom", "shardpack_spj", "graph_pagerank")

  private val allowed: Map[String, Set[String]] = Map(
    "join_cross" -> Set("CARTESIAN", "NESTED_LOOP"), // explicit 25×5 dim product
    "sim_topk" -> Set("NESTED_LOOP"), // build side = 1-row query vector: optimal
    "sim_image_topk" -> Set("NESTED_LOOP"), // build side = 1-row query embedding (as sim_topk)
    "sim_knn_join" -> Set("NESTED_LOOP"), // build side = bounded query set (20 rows)
    "dedup_simhash" -> Set("NESTED_LOOP"), // bounded SampleDocs; scale path = minhash
    "dedup_embedding_cosine" -> Set("NESTED_LOOP"), // bounded SampleVecs; scale path = ann
    "tfidf_topterms" -> Set("NESTED_LOOP"), // build side = 1-row corpus-count frame
    "bm25_search" -> Set("NESTED_LOOP"), // build sides = 1-row stats frames (N, avgdl, df)
    "agg_share" -> Set("NESTED_LOOP"), // build side = 1-row grand-total frame
    "quality_perplexity" -> Set("NESTED_LOOP"), // build side = 1-row corpus-total frame
    "quality_bigram" -> Set("NESTED_LOOP"), // build side = 1-row vocab-size frame
    "dsir_score" -> Set("NESTED_LOOP"), // build sides = two 1-row total frames (Nr+V, Nt)
    "dsir_resample" -> Set("NESTED_LOOP"), // build sides = dsir totals + 1-row (Z, n) frame
    "events_rfm" -> Set("NESTED_LOOP"), // build side = 1-row quantile-threshold frame
    "sql_q22" -> Set("NESTED_LOOP"), // build side = 1-row global-average frame
    // build sides = 1-row hour-mean frame + vocabulary-bounded busy-hours
    // frame (≤ hours in the corpus window); the fact side streams once
    "join_interval_overlap" -> Set("NESTED_LOOP"),
    "corpus_drift" -> Set("NESTED_LOOP"), // build sides = two 1-row snapshot totals
    "sim_ann_recall" -> Set("NESTED_LOOP"), // build side = 1-row query vector (as sim_topk)
    "sim_ann_multiprobe" -> Set("NESTED_LOOP"), // build side = 1-row query vector (as sim_ann_lsh)
    // build sides = 1-row sketch-stats frames (n, h_K per sketch) composed
    // into the single output row; every input-sized frame streams once
    "agg_kmv_theta" -> Set("NESTED_LOOP"),
    // build sides = 1-row total-positives and best-split frames (the
    // former 16-row zero-fill grid join is gone — featFrame aggregates
    // dense per-doc bucket columns); the histogram and scoring passes
    // stream once
    "quality_distill_stump" -> Set("NESTED_LOOP"),
    // the TPC-H extension queries derive partsupp with a
    // (SELECT COUNT(*) FROM supplier) scalar subquery — a 1-row
    // broadcast per derivation site (same benign shape as agg_share's
    // grand-total frame); q11 additionally cross-joins its 1-row `tot`
    // CTE, the HAVING-vs-global-aggregate pattern
    "sql_q2" -> Set("NESTED_LOOP"),
    "sql_q9" -> Set("NESTED_LOOP"),
    "sql_q11" -> Set("NESTED_LOOP"),
    "sql_q16" -> Set("NESTED_LOOP"),
    "sql_q20" -> Set("NESTED_LOOP"))

  /** One query's plan shape, canonicalized: the dimensions a scale
    * regression moves (a broadcast→SMJ demotion changes `joins`, a lost
    * pushdown empties `pushes`, a new shuffle bumps `exchanges`, a codegen
    * break shrinks `wsc`). [[render]] is the committed PLANS.json value —
    * one stable string per query per scale.
    */
  final case class Fingerprint(joins: Seq[String], exchanges: Int,
      codegen: Int, pushes: Seq[String], warns: Seq[String]) {
    def render: String =
      s"exch=$exchanges wsc=$codegen joins=${joins.mkString("+")} " +
        s"push=${pushes.mkString("|")} warns=${warns.mkString(",")}"
  }

  def fingerprint(df: org.apache.spark.sql.DataFrame): Fingerprint = {
    val plan = df.queryExecution.executedPlan
    val nodes = collectNodes(plan)
    val names = nodes.map(_.nodeName)
    val joins = names.filter(_.endsWith("Join")).groupBy(identity)
      .map { case (k, v) => if (v.size > 1) s"${v.size}x$k" else k }
      .toSeq.sorted
    val exchanges = names.count(_.contains("Exchange"))
    val codegen = names.count(_.startsWith("WholeStageCodegen"))
    // every parquet scan's pushed-filter summary — empty brackets on a
    // filtered query mean pushdown was lost
    val pushes = nodes.collect {
      case s: FileSourceScanExec =>
        // strip expression ids (ScalarSubquery#60421) — they vary with
        // session allocation history, not with the plan's shape
        s.metadata.getOrElse("PushedFilters", "[]").replaceAll("#\\d+", "#n")
    }.distinct
    // a window whose child is SinglePartition funnels the whole input
    // through ONE task — the driver-killer shape pack_sequences was
    // rewritten to avoid; flag any recurrence
    val singlePartWindow = nodes.exists {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w.child.outputPartitioning ==
          org.apache.spark.sql.catalyst.plans.physical.SinglePartition
      case _ => false
    }
    val warns = Seq(
      if (names.exists(_.contains("CartesianProduct"))) Some("CARTESIAN") else None,
      if (names.exists(_.contains("BroadcastNestedLoopJoin"))) Some("NESTED_LOOP") else None,
      if (singlePartWindow) Some("SINGLE_PART_WINDOW") else None
    ).flatten
    Fingerprint(joins, exchanges, codegen, pushes, warns)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    // Bench's session: the audited plans are the plans Bench runs
    val spark = GraftSession.local()

    var flagged = 0
    val fps = scala.collection.mutable.LinkedHashMap.empty[String, String]
    for (q <- SparkEntry.all) {
      try {
        val fp = fingerprint(q.fn(spark, sfDir))
        fps(q.name) = fp.render
        val excused = allowed.getOrElse(q.name, Set.empty)
        val bad = fp.warns.filterNot(excused)
        val tag =
          if (bad.nonEmpty) { flagged += 1; bad.mkString("!", ",", "!") }
          else if (fp.warns.nonEmpty) "ok(bounded)"
          else if (iterative(q.name)) "ok(iterative)"
          else "ok"
        println(f"[audit] ${q.name}%-24s $tag%-14s exch=${fp.exchanges} wsc=${fp.codegen} " +
          f"joins=${fp.joins.mkString("+")}%-40s push=${fp.pushes.mkString(" ")}")
      } catch {
        case e: Throwable =>
          flagged += 1
          println(s"[audit] ${q.name} ERROR ${e.getClass.getSimpleName}: ${e.getMessage.take(120)}")
      }
    }
    println(s"[audit] flagged=$flagged of ${SparkEntry.all.size}")
    // plan-fingerprint artifact: this session's section of PLANS.json —
    // regen on a deliberate plan change, diff otherwise (the Bench-scale
    // analog of PlanFingerprintSpec's sf0.01 gate)
    val scale = new java.io.File(sfDir).getName
    if (sys.env.get("SPARK_GRAFT_REGEN_PLANS").contains("1")) {
      Plans.saveSection(scale, fps.toMap)
      println(s"[audit] rebaselined $scale section of ${Plans.DefaultPath}")
    } else {
      val diffs = Plans.diff(scale, fps.toMap)
      diffs.foreach { case (q, got, want) =>
        println(s"[audit] PLAN DRIFT $q\n  now:  $got\n  was:  $want")
      }
      println(s"[audit] plan_drift=${diffs.size}")
    }
    spark.stop()
  }

  private def collectNodes(plan: SparkPlan): Seq[SparkPlan] = {
    val children = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case p => p.children ++ p.subqueries
    }
    plan +: children.flatMap(collectNodes)
  }
}
