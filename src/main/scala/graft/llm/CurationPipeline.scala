package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{CrossHash => H}

/** Fluent training-data curation pipeline — the user-facing composition of
  * the engine's curation operators over a `(doc_id BIGINT, text STRING,
  * lang STRING, …)` document frame:
  *
  * {{{
  * CurationPipeline(docs)
  *   .filterLangs("en")
  *   .dedupExact()
  *   .dedupNear()
  *   .filterGopher()
  *   .maskPii()
  *   .splitTrainTest(trainPct = 90)
  *   .toShardpack("/data/corpus")
  * }}}
  *
  * Every step is a pure DataFrame→DataFrame transform (lazy — nothing runs
  * until an action), reusing the SAME column expressions the oracle-checked
  * queries declare (`dedup_exact`, `dedup_minhash`, `quality_gopher`,
  * `pii_mask`, `text_normalize`, `split_train_test`), so the pipeline's
  * semantics are exactly the verified ones. Steps record their names;
  * `describe` prints the lineage. Scale shape: dedupExact is one hash
  * shuffle; dedupNear is the MinHash band join (narrow keys) plus an
  * anti-join; the filters are embarrassingly parallel; the split is a pure
  * function of doc_id (affine hash) so reruns and engines agree.
  */
final class CurationPipeline private (df: DataFrame, val lineage: Seq[String]) {

  private def step(name: String)(f: DataFrame => DataFrame): CurationPipeline =
    new CurationPipeline(f(df), lineage :+ name)

  /** Keep the lowest doc_id of each exact-duplicate (sha256 of text) set. */
  def dedupExact(): CurationPipeline = step("dedupExact") { d =>
    val w = Window.partitionBy(sha2(col("text"), 256)).orderBy(col("doc_id"))
    d.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Drop the higher doc_id of every MinHash-LSH near-duplicate candidate
    * pair (est. Jaccard ≥ 0.5 over 3-gram shingles) — greedy canonical-id
    * dedup on the same candidate graph `dedup_minhash` verifies.
    */
  def dedupNear(): CurationPipeline = step("dedupNear") { d =>
    val drop = LlmQueries.minhashPairsOf(d)
      .select(col("b_id").as("doc_id")).distinct()
    d.join(drop, Seq("doc_id"), "left_anti")
  }

  /** SemDeDup semantic dedup (dedup_semantic's core): cluster the given
    * (doc_id, embedding) frame into the one-Lloyd-round k-means cells,
    * prune within-cell cosine ≥ `tau` pairs greedy-by-id, and drop the
    * duplicates from the pipeline. Embeddings for docs no longer in the
    * pipeline are harmless (the anti-join ignores them); docs without an
    * embedding are kept. Scale: candidate pairs are per-cell, and the
    * cell count is derived from the corpus at `targetCellPop` mean docs
    * per cell ([[LlmQueries.deriveCellCount]]) — the stage stays
    * sub-quadratic as the corpus grows.
    */
  def dedupSemantic(emb: DataFrame, tau: Double = 0.4,
      targetCellPop: Long = LlmQueries.SemTargetCellPop): CurationPipeline =
    step(s"dedupSemantic($tau)") { d =>
      val eq = emb.select(col("doc_id").as("vec_id"),
          graft.functions.VectorFns.quantize(col("embedding")).as("v"))
        .withColumn("n2", graft.functions.VectorFns.qnorm2(col("v")))
        .repartition(col("vec_id"))
      val dups = LlmQueries.semanticDedupFrame(eq, tau, None, targetCellPop)
        .filter(col("is_dup")).select(col("vec_id").as("doc_id"))
      d.join(dups, Seq("doc_id"), "left_anti")
    }

  /** Distill the Gopher gate into a one-feature stump on a SAMPLE
    * ([[QualityDistill.train]]), then serve the cheap learned filter over
    * the whole pipeline — one token pass counting a single hashed bucket
    * instead of the full word/line statistics. The train→serve split is
    * the stage's reason to exist: at 100 TB the expensive rule runs on the
    * sample only.
    */
  def filterDistilled(sample: DataFrame): CurationPipeline = {
    val m = QualityDistill.train(sample)
    step(s"filterDistilled(b=${m.bucket},t=${m.threshold})") {
      QualityDistill.filterFrame(_, m)
    }
  }

  /** Trained-linear quality gate (`quality_classifier`'s pocket
    * perceptron) — the 100 TB deployment shape the module doc promises:
    * TRAIN on a sample (training runs 2 bounded aggregates per round over
    * a persisted (doc, feature) frame — corpus-sized at full width, cheap
    * on a sample), SERVE the whole corpus in one codegen scan against
    * literal weights ([[QualityLinear.scoreCol]]). Sample-trained vs
    * full-trained serving agreement is pinned in `StumpDistillSpec`.
    */
  def filterLinear(sample: DataFrame): CurationPipeline = {
    val m = QualityLinear.train(sample)
    step(s"filterLinear(err=${m.pocketErr},round=${m.pocketRound})") {
      QualityLinear.filterFrame(_, m)
    }
  }

  /** Keep only the named languages (metadata column filter). */
  def filterLangs(langs: String*): CurationPipeline =
    step(s"filterLangs(${langs.mkString(",")})") {
      _.filter(col("lang").isin(langs: _*))
    }

  /** Gopher-rule quality gate (quality_gopher's thresholds). */
  def filterGopher(): CurationPipeline = step("filterGopher") { d =>
    // r12: the one-scan gopher_stats codegen kernel replaces the
    // interpreted higher-order lambdas (two regex evaluations per word /
    // line) — same row-local plan, codegen per-task work (guide §1.2
    // step 2); GopherStatsSpec pins kernel == expression semantics
    val g = graft.functions.TextStats.gopherStatsCol(col("text"))
    val meanWlen = g.getField("sum_wlen").cast(DoubleType) / g.getField("n_words")
    val alphaRatio = g.getField("n_alpha").cast(DoubleType) / g.getField("n_words")
    val bulletRatio = g.getField("n_bullet").cast(DoubleType) / g.getField("n_lines")
    d.filter(g.getField("n_words") >= 50 && g.getField("n_words") <= 100000 &&
      meanWlen >= 3 && meanWlen <= 10 &&
      alphaRatio >= 0.8 && bulletRatio <= 0.9)
  }

  /** CCNet paragraph-level boilerplate removal (arXiv:1911.00359 §3.1,
    * `dedup_paragraph`'s rewrite form): hash every non-overlapping
    * `blockWords`-word block, and REWRITE each document keeping only the
    * blocks whose hash appears in fewer than `minDf` distinct documents —
    * shared headers, footers and navigation chrome disappear while unique
    * content survives in order. Documents that were pure boilerplate drop
    * out entirely. This is the one curation stage where block TEXT must
    * cross an exchange (the kept blocks reassemble per doc); the volume is
    * ≤ the corpus and shrinks with what the filter removes, the df count
    * itself map-combines on hashes only, and the boilerplate hash set is a
    * repeated-hash-only frame that AQE can broadcast for the anti-join.
    */
  def dropBoilerplate(blockWords: Int = 32, minDf: Long = 2): CurationPipeline =
    step(s"dropBoilerplate($blockWords,$minDf)") { d =>
      val blk = d
        .withColumn("__ws", split(col("text"), " "))
        .withColumn("__n", size(col("__ws")).cast(LongType))
        .withColumn("__b", explode(sequence(lit(0L),
          expr(s"(__n + ${blockWords - 1}) div $blockWords") - 1)))
        .withColumn("__bt", concat_ws(" ", slice(col("__ws"),
          (col("__b") * blockWords + 1).cast(IntegerType), lit(blockWords))))
        .select(col("doc_id"), col("__b"), col("__bt"),
          sha2(col("__bt"), 256).as("__h"))
      val boiler = blk.groupBy(col("__h"))
        .agg(countDistinct(col("doc_id")).as("__df"))
        .filter(col("__df") >= minDf)
        .select(col("__h"))
      val kept = blk.join(boiler, Seq("__h"), "left_anti")
        .groupBy(col("doc_id"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("__b"), col("__bt")))),
          s => s.getField("__bt")), " ").as("__newtext"))
      d.drop("text").join(kept, Seq("doc_id"))
        .withColumnRenamed("__newtext", "text")
    }

  /** Drop documents whose duplicate word-trigram instance ratio exceeds
    * `maxDupRatio` (quality_repetition's signal — boilerplate and
    * degenerate generations). Grouping is per-document, so the extra
    * shuffle key is (doc_id, gram) and nothing is cross-document.
    */
  def filterRepetition(maxDupRatio: Double = 0.3): CurationPipeline =
    step(s"filterRepetition($maxDupRatio)") { d =>
      val grams = d
        .withColumn("__ws", split(col("text"), " "))
        .filter(org.apache.spark.sql.functions.size(col("__ws")) >= 3)
        .select(col("doc_id"), explode(
          transform(sequence(lit(0), org.apache.spark.sql.functions.size(col("__ws")) - 3),
            i => concat_ws(" ", slice(col("__ws"), i + 1, lit(3))))).as("g"))
      val bad = grams.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg((sum(when(col("c") > 1, col("c")).otherwise(0L)).cast(DoubleType) /
          sum(col("c"))).as("dup_ratio"))
        .filter(col("dup_ratio") > maxDupRatio)
        .select(col("doc_id"))
      d.join(bad, Seq("doc_id"), "left_anti")
    }

  /** Drop documents outside a unigram-LM cross-entropy band
    * (quality_perplexity's signal, the CCNet-style filter): too-low
    * cross-entropy means the doc is made of the corpus's most common
    * tokens (boilerplate), too-high means rare-token soup (gibberish,
    * wrong language). The unigram model is fit on the CURRENT pipeline
    * frame — vocab-sized count table joined back token→vocab, corpus
    * total broadcast — so the step composes after earlier filters.
    */
  def filterPerplexity(minXent: Double = 2.0, maxXent: Double = 9.0): CurationPipeline =
    step(s"filterPerplexity($minXent,$maxXent)") { d =>
      // one scorer, two surfaces: the same xentFrame backs the
      // quality_perplexity registry query, so the gate band is measured on
      // exactly the metric that query reports
      val keep = TextRankQueries.xentFrame(TextRankQueries.wordTok(d))
        .filter(col("xent") >= minXent && col("xent") <= maxXent)
        .select(col("doc_id"))
      d.join(keep, Seq("doc_id"), "left_semi")
    }

  /** DSIR data selection (Xie et al. 2023, `dsir_resample`'s machinery):
    * fit unigram LMs on the CURRENT pipeline frame (raw) and on `target`
    * (the quality corpus the selection should resemble), score every doc
    * by its Laplace-smoothed token log-likelihood ratio, and keep a
    * Bernoulli importance draw with expected size `num/den` of the
    * corpus. The same [[TextRankQueries.dsirScoredFrame]] /
    * [[TextRankQueries.dsirAcceptFrame]] pair backs the registered
    * queries, so the gate selects on exactly the weight `dsir_score`
    * reports. Scale shape: two vocab-sized count tables, 1-row broadcast
    * totals, one token→vocab backjoin, then a map-side accept — nothing
    * corpus² and no global sort; the draw is a pure function of doc_id,
    * so reruns, engines, and cluster sizes agree.
    */
  def selectDsir(target: DataFrame, num: Long = 1L, den: Long = 10L): CurationPipeline =
    step(s"selectDsir($num/$den)") { d =>
      val scored = TextRankQueries.dsirScoredFrame(
        TextRankQueries.wordTok(d), TextRankQueries.wordTok(target))
      val keep = TextRankQueries.dsirAcceptFrame(scored, num, den)
        .select(col("doc_id"))
      d.join(keep, Seq("doc_id"), "left_semi")
    }

  /** Redact email-shaped tokens and long digit runs (pii_mask's patterns). */
  def maskPii(): CurationPipeline = step("maskPii") {
    _.withColumn("text",
      regexp_replace(
        regexp_replace(col("text"), "[a-z0-9._]+@[a-z0-9.]+", "<EMAIL>"),
        "[0-9]{3,}", "<NUM>"))
  }

  /** Canonical normalization: lowercase, strip non-alphanumerics, collapse
    * whitespace (text_normalize's transform), replacing `text`.
    */
  def normalize(): CurationPipeline = step("normalize") {
    _.withColumn("text",
      trim(regexp_replace(regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""),
        " +", " ")))
  }

  /** Deterministic percentage sample: keep doc_id's whose seeded affine
    * hash lands below `pct` of the modulus — membership is a pure function
    * of the key (reruns, engines and cluster sizes agree), the
    * sample_stratified/bottomk convention without any shuffle.
    */
  def samplePct(pct: Int, seedIdx: Int = 2): CurationPipeline =
    step(s"samplePct($pct)") {
      _.filter(H.affine(seedIdx, col("doc_id")) % 100 < pct)
    }

  /** Deterministic train/test split column from the seeded affine hash of
    * doc_id (split_train_test's assignment) — membership is a pure
    * function of the key, stable across runs, engines, and cluster sizes.
    */
  def splitTrainTest(trainPct: Int = 80): CurationPipeline =
    step(s"splitTrainTest($trainPct)") {
      _.withColumn("split",
        when(H.affine(0, col("doc_id")) % 100 < trainPct, "train")
          .otherwise("test"))
    }

  /** Drop every document sharing at least one `spanLen`-token span with
    * the benchmark frame (decontaminate_spans' rolling-hash machinery) —
    * the contamination gate run before training on any corpus that might
    * contain eval data. One window pass per side turns token hashes into
    * rolling span hashes; the join is span-keyed (benchmark side is
    * eval-suite-sized and broadcasts at any corpus scale).
    */
  def decontaminate(benchmark: DataFrame, spanLen: Int = 5): CurationPipeline =
    step(s"decontaminate(spanLen=$spanLen)") { d =>
      def spansOf(docsDf: DataFrame): DataFrame = {
        val toks = docsDf
          .select(col("doc_id"), posexplode(split(col("text"), " ")))
          .withColumnRenamed("col", "w")
          .withColumn("h", H.wordHash(col("w")))
        val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        val span = H.foldHash((0 until spanLen).map {
          case 0 => col("h")
          case k => lead(col("h"), k).over(w)
        })
        toks.select(col("doc_id"), span.as("sp")).filter(col("sp").isNotNull)
      }
      val bench = broadcast(spansOf(benchmark).select(col("sp")).distinct())
      val hit = spansOf(d).join(bench, "sp").select(col("doc_id")).distinct()
      d.join(hit, Seq("doc_id"), "left_anti")
    }

  /** Greedy contiguous sequence packing (pack_sequences' assignment):
    * bin = whitespace-tokens-before-this-row div `binTokens`, over the
    * (doc_id[, chunk_id]) order within a shard.
    * Packing is per SHARD of `shardDocs` contiguous doc_ids: every worker
    * packs its own slice independently (hash shuffle on the shard id, never
    * a single-partition global window), bins don't straddle shards, and
    * (shard_id, bin) names a packed sequence globally. The default shard
    * width keeps small corpora in one shard — identical bins to a global
    * pack — while a 100 TB corpus sets a width matching its layout.
    */
  def packSequences(binTokens: Int = 2048, shardDocs: Long = 1L << 20,
      tokenCol: Option[String] = None): CurationPipeline =
    step(s"packSequences($binTokens,$shardDocs${tokenCol.fold("")("," + _)})") { d =>
      val ord =
        if (d.columns.contains("chunk_id")) Seq(col("doc_id"), col("chunk_id"))
        else Seq(col("doc_id"))
      val w = Window.partitionBy(col("shard_id")).orderBy(ord: _*)
        .rowsBetween(Window.unboundedPreceding, -1)
      // tokenCol (e.g. meterBpe's n_tokens) packs by the REAL tokenizer's
      // counts; the default keeps the whitespace proxy
      val nTok = tokenCol match {
        case Some(c) => col(c).cast(LongType)
        case scala.None =>
          org.apache.spark.sql.functions.size(split(col("text"), " ")).cast(LongType)
      }
      d.withColumn("shard_id", expr(s"doc_id div $shardDocs"))
        .withColumn("__n_tok", nTok)
        .withColumn("__before", coalesce(sum(col("__n_tok")).over(w), lit(0L)))
        .withColumn("bin", expr(s"__before div $binTokens"))
        .drop("__n_tok", "__before")
    }

  /** Annotate every document with `n_tokens` from the BPE vocabulary
    * trained on `trainDir` ([[LlmQueries.bpeTokenize]]'s vocab-keyed
    * join), so `packSequences(tokenCol = Some("n_tokens"))` bins by the
    * real tokenizer's counts instead of the whitespace proxy — sequence
    * budgets in a training pipeline are tokenizer tokens, not words.
    * Documents with no alphabetic words meter at 0 tokens.
    */
  def meterBpe(spark: org.apache.spark.sql.SparkSession,
      trainDir: String): CurationPipeline =
    step("meterBpe") { d =>
      val counts = LlmQueries.bpeTokenize(spark, trainDir, d)
        .select(col("doc_id"), col("n_tokens"))
      d.join(counts, Seq("doc_id"), "left")
        .withColumn("n_tokens", coalesce(col("n_tokens"), lit(0L)))
    }

  /** Sliding-window chunking (doc_chunk's shape, parameterized): each
    * document becomes `ceil` overlapping windows of `size` whitespace
    * tokens advancing by `stride`; output rows are (doc_id, chunk_id,
    * text, n_chunk_tokens) with other columns carried through. Terminal
    * reshaping step — one explode, no shuffle.
    */
  def chunk(size: Int = 64, stride: Int = 48): CurationPipeline =
    step(s"chunk($size,$stride)") { d =>
      val carried = d.columns.filter(c => c != "doc_id" && c != "text").map(col)
      d.withColumn("__words", split(col("text"), " "))
        .withColumn("__n", org.apache.spark.sql.functions.size(col("__words")).cast(LongType))
        .withColumn("__nc",
          expr(s"1 + (greatest(0, __n - $size) + ${stride - 1}) div $stride"))
        .withColumn("chunk_id", explode(sequence(lit(0L), col("__nc") - 1)))
        .withColumn("n_chunk_tokens",
          least(lit(size.toLong), col("__n") - col("chunk_id") * stride))
        .withColumn("text",
          array_join(slice(col("__words"),
            (col("chunk_id") * stride + 1).cast(IntegerType),
            col("n_chunk_tokens").cast(IntegerType)), " "))
        .select(Seq(col("doc_id"), col("chunk_id"), col("text"),
          col("n_chunk_tokens")) ++ carried: _*)
    }

  /** Downsample every language stratum to the smallest stratum's token
    * budget — `corpus_mixture`'s deterministic per-doc hash gate
    * (affine(doc_id) mod 10⁶ < floor(rate·10⁶)), reproducible across
    * runs and engines unlike Bernoulli `sample()`. Rates come from the
    * CURRENT pipeline frame (composes after earlier filters); the gate is
    * a broadcast |langs|-row join applied in the scan, so no shuffle
    * touches the full corpus. Note: computing the budget is a 1-row
    * driver action, so this step eagerly analyzes the upstream plan.
    */
  def rebalanceByLang(): CurationPipeline = step("rebalanceByLang") { d =>
    val tok = d.select(col("lang"),
      org.apache.spark.sql.functions.size(split(col("text"), " "))
        .cast(LongType).as("__toks"))
    val tot = tok.groupBy(col("lang")).agg(sum(col("__toks")).as("__total"))
    val budgetRow = tot.agg(min(col("__total"))).head()
    // empty upstream frame (every doc filtered out earlier, or lang all
    // NULL): min is NULL — nothing to rebalance, pass the frame through
    // rather than NPE at pipeline-construction time
    if (budgetRow.isNullAt(0)) d
    else {
      val budget = budgetRow.getLong(0)
      // null-safe join (<=>): a NULL-lang stratum is gated like any other
      // — it already participates in the budget min via groupBy's null
      // group, so dropping its docs with an inner equi-join would let it
      // set every other language's rate while its own docs vanish
      val rate = tot
        .select(col("lang").as("__rlang"),
          (lit(budget).cast(DoubleType) / col("__total")).as("__rate"))
      d.join(broadcast(rate), col("lang") <=> col("__rlang"))
        .filter(H.affine(0, col("doc_id")) % 1000000L <
          floor(col("__rate") * 1000000).cast(LongType))
        .select(d.columns.map(col).toSeq: _*)
    }
  }

  /** Materialize the current frame to `dir` (parquet, overwrite) and
    * continue the pipeline reading FROM that materialization — the
    * explicit restart point for a long curation chain. At 100 TB a failed
    * downstream stage resumes from the last checkpoint instead of
    * recomputing the whole prefix, the artifact is engine-readable (audit,
    * ad-hoc inspection), and — unlike `localCheckpoint` — it survives the
    * driver. Checkpoint grain is the caller's: place it after the
    * expensive joins (dedup/decontaminate), not after map-only filters.
    */
  def checkpointTo(dir: String): CurationPipeline =
    step(s"checkpointTo($dir)") { d =>
      d.write.mode("overwrite").parquet(dir)
      d.sparkSession.read.parquet(dir)
    }

  /** The curated frame (lazy). */
  def result: DataFrame = df

  /** Human-readable step lineage. */
  def describe: String = lineage.mkString(" -> ")

  /** Materialize as a shardpack bucket: doc_id-keyed records, non-text
    * columns as JSON record metadata, text as a single UTF-8 entry.
    */
  def toShardpack(dir: String, compression: String = "lz4"): Unit = {
    val meta = df.columns.filter(c => c != "doc_id" && c != "text")
    df.select(
        // 19 digits covers the full Long range: Spark's lpad TRUNCATES
        // strings longer than the pad length, so an 8-digit pad would
        // silently cut doc_id >= 1e8 to its first 8 digits — colliding
        // keys and corrupted ids on read-back at corpus scale.
        concat(lit("doc_"), lpad(col("doc_id").cast(StringType), 19, "0")).as("key"),
        (if (meta.isEmpty) lit(null).cast(BinaryType)
         else to_json(struct(meta.toIndexedSeq.map(col): _*)).cast(BinaryType)).as("metadata"),
        array(struct(
          lit("text.txt").as("file_name"), lit("text/plain").as("content_type"),
          lit("").as("encoding"), col("text").cast(BinaryType).as("data"))).as("entries"))
      .write.format("shardpack").option("compression", compression)
      .mode("overwrite").save(dir)
  }
}

object CurationPipeline {
  /** Start a pipeline from a document frame with at least (doc_id, text). */
  def apply(docs: DataFrame): CurationPipeline =
    new CurationPipeline(docs, Seq("source"))

  /** Start from a shardpack corpus written by [[CurationPipeline.toShardpack]]
    * (doc_-keyed records, text entry, JSON metadata): the inverse mapping,
    * with optional IN-READER deterministic sampling (`samplePct` — skipped
    * payloads are never decoded, so iterating on a 1% cut of a 100 TB
    * corpus costs ~1% of the scan).
    */
  def fromShardpack(spark: org.apache.spark.sql.SparkSession, dir: String,
      samplePct: Option[Int] = None): CurationPipeline = {
    val reader = spark.read.format("shardpack")
    val df = samplePct.fold(reader)(p => reader.option("samplePct", p)).load(dir)
      .select(
        // length 19 matches toShardpack's pad; on a shorter (legacy 8-digit)
        // key substring returns the remainder, so old buckets stay readable
        substring(col("key"), 5, 19).cast(LongType).as("doc_id"),
        col("entries").getItem(0).getField("data").cast(StringType).as("text"),
        col("metadata").cast(StringType).as("metadata_json"))
    new CurationPipeline(df,
      Seq(s"fromShardpack($dir${samplePct.fold("")(p => s", sample=$p%")})"))
  }
}
