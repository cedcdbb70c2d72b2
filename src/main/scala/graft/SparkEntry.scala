package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every declared operator query (SURVEY.md §2B) from the module
  * registries. Each entry has a Spark implementation in `queries` and, when
  * SQL-expressible, a DuckDB oracle in `oracleSql` (driver hash-compares at
  * sf0.01).
  */
object SparkEntry {

  /** All declared queries, in registry order. */
  def all: Seq[Q] =
    operators.RelationalQueries.queries ++
      operators.ExtendedQueries.queries ++
      operators.ScalarFnQueries.queries ++
      operators.StreamShapeQueries.queries ++
      operators.AnalyticsQueries.queries ++
      operators.StatQueries.queries ++
      sources.ShardpackQueries.queries ++
      llm.LlmQueries.queries ++
      llm.ScaleDedup.queries ++
      llm.CompositeQueries.queries ++
      llm.TextRankQueries.queries

  /** Bench's `build:*` stages, in run order: each shared intermediate
    * ([[Memo]]) is filled by an explicit named stage before any query
    * runs, so its cost is charged to the stage and per-query times are
    * ordering-independent — previously each fill landed on whichever
    * consumer ran first (dedup_minhash_cluster reported 0.1 s vs 8.2 s
    * across artifacts on fill ordering alone). A fill is idempotent, so
    * Bench runs each stage exactly once. Memos no stage names fill inside
    * the stage (or query) whose build reads them.
    */
  def stages: Seq[Memo.Stage] = {
    import llm.{LlmQueries => L, TextRankQueries => T}
    Seq(
      llm.ProfileStats.profiles.stage,
      L.interCountsStage,
      L.goodPairs.stage,
      L.containPairsStage,
      L.minhashSig.stage,
      L.minhashPairs.stage,
      L.incrementalStage,
      L.lshFrame.stage,
      L.trainedCodebook.stage,
      L.kmeansRefined.stage,
      L.ivfCellLayout.stage,
      L.bpeTrained.stage,
      L.imageHashFrame.stage,
      L.imageEmbedFrame.stage,
      L.videoHashFrame.stage,
      L.audioHashFrame.stage,
      T.tok.stage,
      T.vocabStats.stage,
      // the one corpus pass also yields the fuzzy block profile: a second
      // stage name on the same memo (whichever stage runs first pays)
      Memo.Stage("fuzzy_stats", llm.ProfileStats.profiles)(llm.ProfileStats.profiles.fill),
      T.dsirDoc.stage,
      T.linModel.stage)
  }

  def builds: Seq[(String, (SparkSession, String) => Unit)] =
    stages.map(st => s"build:${st.name}" -> st.fill)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val byName = all.map(q => q.name -> q).toMap
    byName("agg_group").fn(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
