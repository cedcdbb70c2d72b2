package graft.llm

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text relevance + record-linkage extensions over the LLM-pipeline corpus:
  * TF-IDF term extraction, BM25 ranked retrieval, blocked edit-distance
  * fuzzy dedup, and triangle enumeration on the near-dup graph.
  *
  * The reference stores documents but cannot rank or link them
  * (`/root/reference/src/lib.rs:1-7`); these are the retrieval/linkage
  * shapes a training-data curation pipeline runs on top of the store.
  *
  * Determinism note on ln(): Spark's Math.log and DuckDB's libm log differ
  * in the last ulp on some inputs (measured ~1e-16 relative), so every
  * ln-derived score is rounded to 6 decimals IN BOTH ENGINES before it is
  * compared, ordered on, or emitted — a 1-ulp input wobble cannot flip a
  * 1e-6-grid rounding except on a measure-zero boundary, and the verify
  * gate would catch that corpus-specifically.
  */
object TextRankQueries {
  import Tables._

  /** Unigram word tokens (lowercased, a–z runs, length ≥ 3) — the TF-IDF /
    * BM25 tokenization unit. 3-gram shingles (LlmQueries) stay the DEDUP
    * unit; relevance scoring wants unigram term statistics. One scan via
    * [[graft.functions.TextStats.wordTokens]] (the regex split + filter
    * chain was the whole of `build:word_tok`'s 24 s at sf10); the DuckDB
    * mirror keeps the regex formulation, so the oracle hashes prove the
    * rewrite.
    */
  private[llm] def wordTok(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(graft.functions.TextStats.wordTokensCol(col("text"), 3)).as("w"))

  /** Per-doc unigram-LM cross-entropy: (doc_id, n_words, xent) from a
    * (doc_id, w) token frame. THE shared scorer behind `quality_perplexity`
    * and [[CurationPipeline.filterPerplexity]] — one definition, so the
    * filter band and the reported metric can never drift (the A/B pin spec
    * in CurationPipelineSpec remains the behavioral lock). Each m·ln(c/T)
    * term is snapped onto the 1e-6 integer grid and summed as BIGINT
    * (order-independent → partial aggregation can't wobble the hash).
    */
  private[llm] def xentFrame(tk: DataFrame): DataFrame = {
    val c = tk.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val t = tk.agg(count(lit(1)).as("tot"))
    val m = tk.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("m"))
    m.join(c, "w").crossJoin(t)
      .select(col("doc_id"), col("m"),
        round(col("m") * log(col("c").cast(DoubleType) / col("tot")) * -1000000L, 0)
          .cast(LongType).as("g"))
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_words"),
        (sum(col("g")).cast(DoubleType) / 1000000L / sum(col("m"))).as("xent"))
  }

  /** Session-cached token table shared by tfidf_topterms, bm25_search and
    * quality_rarity — the same shared-intermediate contract as
    * [[LlmQueries.goodPairs]]: the explode runs once, the other relevance
    * queries reuse the persisted (doc_id, w) frame.
    */
  private[graft] val tok = graft.Memo.frame("word_tok") { (s, d) =>
    wordTok(documents(s, d))
  }

  private val SqlWordTok =
    """SELECT doc_id, w FROM (
      |    SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS w
      |    FROM documents) WHERE length(w) >= 3""".stripMargin

  /** Per-doc DSIR frame `dsir(doc_id, n_words, logratio)` as DuckDB CTEs —
    * the SQL mirror of [[dsirDoc]]; dsir_score and dsir_resample both
    * splice it so the score a resampler draws against can never drift
    * from the score the ranking query reports.
    */
  private val SqlDsirDoc =
    s"""tok AS MATERIALIZED (
       |  $SqlWordTok),
       |tgt AS (SELECT doc_id FROM documents WHERE source = 'src0'),
       |cr AS MATERIALIZED (SELECT w, count(*) AS cr FROM tok GROUP BY w),
       |ct AS MATERIALIZED (SELECT t.w, count(*) AS ct FROM tok t
       |  JOIN tgt ON t.doc_id = tgt.doc_id GROUP BY t.w),
       |nn AS (SELECT CAST(sum(cr) AS BIGINT) AS nr,
       |  CAST(count(*) AS BIGINT) AS v FROM cr),
       |nt AS (SELECT CAST(coalesce(sum(ct), 0) AS BIGINT) AS nt FROM ct),
       |voc AS (SELECT cr.w,
       |    ln((CAST(coalesce(ct.ct, 0) AS DOUBLE) + 1) / (nt.nt + nn.v)) -
       |    ln((CAST(cr.cr AS DOUBLE) + 1) / (nn.nr + nn.v)) AS lr
       |  FROM cr LEFT JOIN ct ON cr.w = ct.w CROSS JOIN nn CROSS JOIN nt),
       |m AS (SELECT doc_id, w, count(*) AS m FROM tok GROUP BY doc_id, w),
       |terms AS (SELECT m.doc_id, m.m,
       |    CAST(round(m.m * voc.lr * 1000000) AS BIGINT) AS g
       |  FROM m JOIN voc ON m.w = voc.w),
       |dsir AS (SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_words,
       |  CAST(SUM(g) AS DOUBLE) / 1000000 / SUM(m) AS logratio
       |FROM terms GROUP BY doc_id)""".stripMargin

  /** Session-cached per-doc DSIR importance frame (doc_id, n_words,
    * logratio) shared by dsir_score and dsir_resample — the same
    * shared-intermediate contract as [[tok]]: the two vocab-sized count
    * tables and the token backjoin run once, both consumers reuse the
    * persisted frame (3 narrow columns × doc count — the cheapest frame
    * in the memo family). Charged to Bench as `build:dsir_doc`.
    */
  private[graft] val dsirDoc = graft.Memo.frame("dsir_doc") { (s, d) =>
    val tk = tok(s, d)
    val tgtIds = documents(s, d)
      .filter(col("source") === "src0").select(col("doc_id"))
    dsirScoredFrame(tk, tk.join(tgtIds, "doc_id"))
  }

  /** Per-doc DSIR importance frame (doc_id, n_words, logratio) from a raw
    * (doc_id, w) token frame and a target token frame — the scorer behind
    * `dsir_score`/`dsir_resample` AND [[CurationPipeline.selectDsir]] (one
    * definition, so the pipeline gate and the reported score can't
    * drift). Both unigram models are Laplace(+1)-smoothed over the RAW
    * vocabulary; each m·ln-ratio term snaps to the 1e-6 grid and sums as
    * BIGINT (order-independent under partial aggregation).
    */
  private[llm] def dsirScoredFrame(rawTok: DataFrame, tgtTok: DataFrame): DataFrame =
    dsirScoreAgainst(rawTok, dsirVocFrame(rawTok, tgtTok))

  // r13 MEASURED NEGATIVE (kept as a note, code reverted): merging the two
  // vocab aggregates + the m backjoin into one (doc_id, w) aggregate with a
  // target FLAG column ("one corpus pass instead of three", guide §2.3)
  // LOSES here because [[tok]] is memoized — the three passes read the
  // in-memory token cache, while the merged shape's shared (doc,w) subtree
  // is not reused by Catalyst (no ReusedExchange: the aggregate runs twice
  // in one plan). testdata-sf1, noop sink, min of warm runs: reference
  // 2.60 s vs flagged 3.94 s vs flagged+persisted-m0 2.87 s. The flagged
  // formulation and its harness: `git show
  // b281894:src/main/scala/graft/llm/ExpDsir.scala`.

  /** The DSIR per-word log-ratio vocabulary (w, lr) — the trainable half
    * of [[dsirScoredFrame]], split out so a deployment can FREEZE it on a
    * build corpus and serve arbitrary (incl. streaming) batches against
    * it ([[StreamingCuration]]).
    */
  private[llm] def dsirVocFrame(rawTok: DataFrame, tgtTok: DataFrame): DataFrame = {
    val cr = rawTok.groupBy(col("w")).agg(count(lit(1)).as("cr"))
    val ct = tgtTok.groupBy(col("w")).agg(count(lit(1)).as("ct"))
    val nn = cr.agg(sum(col("cr")).cast(LongType).as("nr"),
      count(lit(1)).cast(LongType).as("v"))
    val nt = ct.agg(coalesce(sum(col("ct")), lit(0L)).cast(LongType).as("nt"))
    cr.join(ct, Seq("w"), "left")
      .crossJoin(broadcast(nn)).crossJoin(broadcast(nt))
      .select(col("w"),
        (log((coalesce(col("ct"), lit(0L)).cast(DoubleType) + 1) /
            (col("nt") + col("v"))) -
          log((col("cr").cast(DoubleType) + 1) /
            (col("nr") + col("v")))).as("lr"))
  }

  /** Score a token frame against a (w, lr) vocabulary — the serving half
    * of [[dsirScoredFrame]]. Words outside the vocabulary drop out of the
    * join (they contribute to neither count), mirroring the training
    * formulation where the vocabulary IS the raw corpus's.
    */
  private[llm] def dsirScoreAgainst(rawTok: DataFrame, voc: DataFrame): DataFrame = {
    val m = rawTok.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("m"))
    m.join(voc, "w")
      .select(col("doc_id"), col("m"),
        round(col("m") * col("lr") * 1000000L, 0).cast(LongType).as("g"))
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).cast(LongType).as("n_words"),
        (sum(col("g")).cast(DoubleType) / 1000000L / sum(col("m")))
          .as("logratio"))
  }

  /** Bernoulli importance draw over a scored frame: keep doc i iff
    * `hash(doc_id) · Z · den < wgrid_i · n · num · P` — expected kept
    * fraction num/den (up to p-clipping on heavy docs), exact 128-bit
    * boundary arithmetic, one map-side comparison per doc against the
    * broadcast 1-row (Z, n) frame. Returns (doc_id, wgrid).
    */
  private[llm] def dsirAcceptFrame(scored: DataFrame,
      num: Long = 1L, den: Long = 10L): DataFrame = {
    val dec = DecimalType(38, 0)
    val P = 1000000007L
    // persisted: referenced by BOTH the (Z, n) aggregate and the accept
    // scan — unpersisted, the full scoring lineage would execute twice
    // (the registered queries pass the dsirDoc memo and don't care, but
    // CurationPipeline.selectDsir scores the live pipeline frame). A
    // per-call frame with no memo key, so it registers in the BOUNDED
    // transient family: past FrameRegistry.TransientCap live frames the
    // oldest is released (r9 verdict #2 — the unbounded per-call persist).
    val w = graft.FrameRegistry.transient(scored.sparkSession, "dsir_accept",
      scored.select(col("doc_id"),
        round(exp(col("logratio")) * 1000000L, 0).cast(LongType).as("wgrid")))
    // Z in DECIMAL(38,0), doc_id reduced mod P before the multiply — see
    // the dsir_resample comment for both overflow cliffs
    val z = w.agg(sum(col("wgrid").cast(dec)).as("z"),
      count(lit(1)).cast(LongType).as("n"))
    w.crossJoin(broadcast(z))
      .filter(((col("doc_id") % P) * 2654435761L % P).cast(dec) * col("z") * den <
        col("wgrid").cast(dec) * col("n") * num * P)
      .select(col("doc_id"), col("wgrid"))
  }

  /** The frozen-(Z, n) totals of a scored frame — the two scalars a
    * deployment pins at build time so streamed batches accept against the
    * BUILD corpus's normalization instead of re-deriving it per batch
    * ([[StreamingCuration]]).
    */
  private[llm] def dsirZN(scored: DataFrame): (java.math.BigDecimal, Long) = {
    val dec = DecimalType(38, 0)
    val r = scored
      .select(round(exp(col("logratio")) * 1000000L, 0).cast(LongType).as("wgrid"))
      .agg(sum(col("wgrid").cast(dec)).as("z"), count(lit(1)).as("n")).head()
    (r.getDecimal(0), r.getLong(1))
  }

  /** [[dsirAcceptFrame]]'s accept comparison against FROZEN (Z, n) — the
    * identical 128-bit-exact boundary arithmetic with the broadcast 1-row
    * frame replaced by literals, so it is a pure map over any batch or
    * streaming scored frame. Returns the kept (doc_id, wgrid).
    */
  private[llm] def dsirAcceptServing(scored: DataFrame, z: java.math.BigDecimal,
      n: Long, num: Long = 1L, den: Long = 10L): DataFrame = {
    val dec = DecimalType(38, 0)
    val P = 1000000007L
    scored.select(col("doc_id"),
        round(exp(col("logratio")) * 1000000L, 0).cast(LongType).as("wgrid"))
      .filter(((col("doc_id") % P) * 2654435761L % P).cast(dec) *
          lit(z).cast(dec) * den <
        col("wgrid").cast(dec) * lit(n) * num * P)
  }

  /** Broadcast cutover for the corpus-statistics serving dispatch
    * (perplexity/rarity/tfidf): up to this many distinct words the
    * (c, df) vocabulary collects to one bounded driver map (~tens of MB)
    * and ships as a broadcast — the whole score becomes one row-local
    * codegen scan per document ([[graft.functions.VocabMeters]]). Past it
    * the vocab-keyed join paths run — the same boundary as
    * [[LlmQueries.BpeVocabBroadcastCutover]], and the right one at
    * 100 TB: a web corpus's unigram vocabulary (typo tail included) does
    * NOT stay broadcast-sized, so the join path is the scale story and
    * the broadcast path is the common-case fast path.
    */
  private[llm] val VocabBroadcastCutover = 1000000L

  /** Vocabulary statistics of `docs` under the minLen-3 tokenizer:
    * Some((w → [c, df] broadcast, total tokens, doc count)) when the
    * vocabulary fits [[VocabBroadcastCutover]], None past it. Both
    * inputs are vocabulary-keyed aggregates with map-side combine — the
    * df side explodes per-doc DISTINCT words (array_distinct before the
    * explode), so neither pass exchanges a (doc_id, w)-sized frame.
    */
  private[llm] def vocabStatsOf(docs: DataFrame,
      cutover: Long = VocabBroadcastCutover)
      : Option[(graft.functions.VocabMeters.Stats, Long, Long)] = {
    val c = wordTok(docs).groupBy(col("w")).agg(count(lit(1)).as("c"))
    // the doc count rides the df aggregate as a per-doc sentinel word
    // (U+0000 — the minLen-3 tokenizer can never emit it): one corpus
    // scan instead of a third docs.count() job (r9 verdict #3)
    val df = docs.select(explode(concat(
        array(lit("\u0000")),
        array_distinct(graft.functions.TextStats.wordTokensCol(col("text"), 3)))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
    val joined = df.join(c, Seq("w"), "left").persist()
    val vocabN = joined.count() - 1 // minus the sentinel row
    val out = if (vocabN > cutover) None
    else {
      val m = new java.util.HashMap[String, Array[Long]]()
      var tot = 0L
      var nDocs = 0L
      joined.collect().foreach { r =>
        if (r.getString(0) == "\u0000") nDocs = r.getLong(1)
        else {
          m.put(r.getString(0), Array(r.getLong(2), r.getLong(1)))
          tot += r.getLong(2)
        }
      }
      Some((docs.sparkSession.sparkContext.broadcast(m), tot, nDocs))
    }
    joined.unpersist()
    out
  }

  private[graft] val vocabStats = graft.Memo.value("vocab_stats") { (s, d) =>
    vocabStatsOf(documents(s, d))
  }

  /** quality_perplexity body, dispatched on the vocab stats: one
    * broadcast-vocab scan per doc below the cutover, the shared
    * [[xentFrame]] join shape past it. `tk` is the token frame of `docs`
    * (the session memo for registered queries, [[wordTok]] in specs).
    */
  private[llm] def perplexityFrame(docs: DataFrame, tk: DataFrame,
      stats: Option[(graft.functions.VocabMeters.Stats, Long, Long)]): DataFrame =
    stats match {
      case Some((bc, tot, _)) =>
        docs
          .withColumn("__x", graft.functions.VocabMeters.sumsCol(col("text"), bc, tot))
          .filter(col("__x.n_words") >= 1)
          .select(col("doc_id"), col("__x.n_words").as("n_words"),
            (col("__x.g_sum").cast(DoubleType) / 1000000L / col("__x.n_words"))
              .as("xent"))
          .select(col("doc_id"), col("n_words"), col("xent"),
            round(exp(col("xent")), 6).as("ppl"))
          .orderBy(col("doc_id"))
      case None =>
        xentFrame(tk)
          .select(col("doc_id"), col("n_words"), col("xent"),
            round(exp(col("xent")), 6).as("ppl"))
          .orderBy(col("doc_id"))
    }

  /** quality_rarity body, same dispatch as [[perplexityFrame]]. */
  private[llm] def rarityFrame(docs: DataFrame, tk: DataFrame,
      stats: Option[(graft.functions.VocabMeters.Stats, Long, Long)]): DataFrame =
    stats match {
      case Some((bc, tot, _)) =>
        docs
          .withColumn("__x", graft.functions.VocabMeters.sumsCol(col("text"), bc, tot))
          .filter(col("__x.n_words") >= 1)
          .select(col("doc_id"), col("__x.n_words").as("n_words"),
            (col("__x.df_sum").cast(DoubleType) / col("__x.n_words")).as("mean_df"))
          .orderBy(col("doc_id"))
      case None =>
        val df = tk.groupBy(col("w")).agg(countDistinct(col("doc_id")).as("df"))
        tk.join(df, "w")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_words"),
            (sum(col("df")).cast(DoubleType) / count(lit(1))).as("mean_df"))
          .orderBy(col("doc_id"))
    }

  /** tfidf_topterms body, same dispatch: the broadcast path emits each
    * doc's top-k slice row-locally (score, ties, and HALF_UP rounding
    * replay the join path's expression tree — VocabMeterSpec pins it).
    */
  private[llm] def tfidfFrame(docs: DataFrame, tk: DataFrame,
      stats: Option[(graft.functions.VocabMeters.Stats, Long, Long)]): DataFrame =
    stats match {
      case Some((bc, _, nDocs)) =>
        docs
          .select(col("doc_id"), explode(
            graft.functions.VocabMeters.tfidfTopCol(col("text"), bc, nDocs, 3)).as("t"))
          .select(col("doc_id"), col("t.term").as("term"), col("t.tf").as("tf"),
            col("t.df").as("df"), col("t.score").as("score"))
          .orderBy(col("doc_id"), col("term"))
      case None =>
        val tf = tk.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
        val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
        val n = docs.agg(count(lit(1)).as("n"))
        val sc = tf.join(df, "w").crossJoin(n)
          .select(col("doc_id"), col("w").as("term"), col("tf"), col("df"),
            round(col("tf") * log(col("n").cast(DoubleType) / col("df")), 6).as("score"))
        val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
        sc.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("doc_id"), col("term"), col("tf"), col("df"), col("score"))
          .orderBy(col("doc_id"), col("term"))
    }

  // ───────────────── fuzzy dedup (blocked edit distance) ─────────────────

  /** Normalized skeleton frame (doc_id, nrm, p, sfx): the a–z skeleton
    * truncated to the 200-char verify window, with the two 16-char block
    * keys. `repartition(doc_id)` because the documents table is one
    * parquet split — without it every downstream join and DP verify runs
    * as a single task on one core (measured 170 s → 24 s at sf1/local[8]).
    * The skeleton comes from the one-scan early-exit
    * [[graft.functions.TextStats.lettersPrefix]] (the
    * regexp_replace+substring chain materialized two full-length
    * intermediates per doc); the oracle keeps the regex formulation.
    */
  private def fuzzySkeletons(docs: DataFrame): DataFrame =
    docs.repartition(col("doc_id"))
      .select($"doc_id",
        graft.functions.TextStats.lettersPrefixCol($"text", 200).as("nrm"))
      .filter(length($"nrm") >= 16)
      .withColumn("p", substring($"nrm", 1, 16))
      .withColumn("sfx", expr("right(nrm, 16)"))

  private def fuzzyCandidates(b: DataFrame, idCol: String): DataFrame = {
    def pairsOn(key: String) =
      b.as("a").join(b.as("b2"),
          col(s"a.$key") === col(s"b2.$key") && col(s"a.$idCol") < col(s"b2.$idCol"))
        .select(col(s"a.$idCol").as("a_id"), col(s"b2.$idCol").as("b_id"),
          col("a.nrm").as("na"), col("b2.nrm").as("nb"))
    // dedup BEFORE the verify so a pair matching both block keys (the
    // common case for true dups) pays one DP, not two
    pairsOn("p").union(pairsOn("sfx")).dropDuplicates("a_id", "b_id")
  }

  /** THRESHOLDED levenshtein verify: the 3-arg form can terminate the DP
    * past the bound (and O(1)-rejects on |Δlen| > 20) and returns −1
    * there — exact for every kept pair, so output is identical to the
    * full DP the oracle computes.
    */
  private def fuzzyVerify(cand: DataFrame): DataFrame =
    cand.select($"a_id", $"b_id", levenshtein($"na", $"nb", 20).as("dist"))
      .filter($"dist" >= 0 && $"dist" <= 20)

  /** Plain blocked fuzzy pairs: two-key blocking (16-char normalized
    * prefix ∪ suffix), candidate dedup, thresholded-DP verify. Candidate
    * volume is Σ_block c² over DOC-level blocks — fine on benign corpora,
    * quadratic under a hot block (boilerplate openings shared by millions
    * of docs). Use [[fuzzyPairsAuto]] unless you know the block profile.
    */
  def fuzzyPairs(docs: DataFrame): DataFrame =
    fuzzyVerify(fuzzyCandidates(fuzzySkeletons(docs), "doc_id"))

  /** Hot-block-safe fuzzy pairs: collapse IDENTICAL skeletons to one
    * representative (gid = min doc_id per distinct nrm) before the
    * blocked join, verify edit distance on representative pairs only,
    * then expand back through group membership — within-group pairs are
    * dist 0 by construction (identical skeletons), cross-group pairs
    * inherit their representatives' distance. Output-identical to
    * [[fuzzyPairs]] (FuzzyBlockingSpec pins A/B equality): block keys are
    * functions of nrm, so a doc pair blocks together iff its group pair
    * does.
    *
    * This is the hot-block cap: a crawl's boilerplate block (one license
    * header shared by millions of docs) is ONE representative here — the
    * DP stage runs on distinct-skeleton blocks (Σ g² ≪ Σ c²), and the
    * quadratic within-group output is emitted join-side with zero DP
    * work, which is the output's own size and therefore the floor.
    */
  def fuzzyPairsCollapsed(docs: DataFrame): DataFrame = {
    val b = fuzzySkeletons(docs)
    // one representative per distinct skeleton; keys derive from nrm
    val reps = b.groupBy($"nrm").agg(min($"doc_id").as("gid"))
      .withColumn("p", substring($"nrm", 1, 16))
      .withColumn("sfx", expr("right(nrm, 16)"))
    val rdist = fuzzyVerify(fuzzyCandidates(reps, "gid"))
      .select($"a_id".as("ga"), $"b_id".as("gb"), $"dist")
    // membership (doc_id, gid): one shuffle on the bounded 200-char nrm
    val mem = b.select($"doc_id",
      min($"doc_id").over(Window.partitionBy($"nrm")).as("gid"))
    // cross-group pairs: expand the verified rep pairs through membership;
    // docs of different groups are distinct, so least/greatest is total
    val cross = rdist
      .join(mem.select($"gid".as("ga"), $"doc_id".as("xa")), "ga")
      .join(mem.select($"gid".as("gb"), $"doc_id".as("xb")), "gb")
      .select(least($"xa", $"xb").as("a_id"), greatest($"xa", $"xb").as("b_id"),
        $"dist")
    // within-group pairs: identical skeletons, dist 0, no DP
    val within = mem.as("x").join(mem.as("y"),
        col("x.gid") === col("y.gid") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
        lit(0).as("dist"))
    cross.union(within)
  }

  /** Skeleton-block profile driving the plain-vs-collapsed dispatch.
    * `blowup` is the plain path's candidate-pair volume per doc
    * (Σ c² over both key families, doc-level); `repBlowup` the same over
    * DISTINCT skeletons — the collapsed path's DP volume. Their gap is
    * duplicate-skeleton mass: exactly what collapsing saves. Doubles —
    * Σc² overflows Long under a 100 TB hot block.
    */
  final case class FuzzyBlockStats(docs: Long, groups: Long,
      blowup: Double, repBlowup: Double)

  def fuzzyBlockStats(docs: DataFrame): FuzzyBlockStats = {
    val b = fuzzySkeletons(docs).select($"doc_id", $"nrm", $"p", $"sfx").persist()
    try {
      val n = b.count()
      val reps = b.dropDuplicates("nrm")
      def vol(df: DataFrame, key: String): Double = {
        val r = df.groupBy(col(key)).agg(count(lit(1)).cast(DoubleType).as("c"))
          .agg(sum($"c" * $"c")).head()
        if (r.isNullAt(0)) 0.0 else r.getDouble(0)
      }
      val g = reps.count()
      FuzzyBlockStats(n, g,
        if (n == 0) 0.0 else (vol(b, "p") + vol(b, "sfx")) / n,
        if (n == 0) 0.0 else (vol(reps, "p") + vol(reps, "sfx")) / n)
    } finally { b.unpersist(); () }
  }

  /** Measured ship point (DedupBench fuzzy cell, sf0.1, local[32] —
    * table in BASELINE.md): benign corpus measures blowup/repBlowup
    * ≈ 1.1 and plain wins (0.98 s vs 1.20 s — collapse pays one groupBy
    * + two expansion joins for nothing), while a 5%-hot-block corpus
    * measures ratio ≈ 14 and collapse wins 4.6× (4.50 → 0.97 s), a
    * 10%-hot block ratio ≈ 57 and 18× (15.6 → 0.88 s) — and unboundedly
    * more as the hot block grows: plain DP volume is quadratic in block
    * size, collapsed linear. The asymmetry mirrors
    * [[LlmQueries.JaccardBlowupCutover]]: collapsing early forfeits a
    * bounded ~1.2× overhead, collapsing late pays c². 8 sits mid-gap —
    * "candidate mass is dominated by duplicate skeletons" — with wide
    * margins both ways (benign ≈ 1, mild hot block ≈ 14).
    */
  val FuzzyCollapseCutover: Double = 8.0

  /** Profile-dispatched fuzzy pairs: collapse identical skeletons when
    * duplicate-skeleton mass dominates the candidate volume. Output-
    * identical either way (FuzzyBlockingSpec pins A/B equality).
    */
  def fuzzyPairsAuto(docs: DataFrame, stats: FuzzyBlockStats): DataFrame =
    if (stats.blowup > FuzzyCollapseCutover * math.max(stats.repBlowup, 1.0))
      fuzzyPairsCollapsed(docs)
    else fuzzyPairs(docs)

  def fuzzyPairsAuto(docs: DataFrame): DataFrame =
    fuzzyPairsAuto(docs, fuzzyBlockStats(docs))

  val queries: Seq[Q] = Seq(

    // TF-IDF top terms per document: tf from one grouped count, df from a
    // second (both map-side combinable), N broadcast as a 1-row frame.
    // Ranking uses the ROUNDED score (see ln() note above) with a term
    // tiebreak, so the top-3 cut is engine-independent. At 100 TB the df
    // table is vocabulary-sized (≪ corpus) and broadcasts; the only big
    // shuffle is the (doc, term) count.
    Q("tfidf_topterms",
      s"""WITH tok AS (
         |  $SqlWordTok),
         |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w),
         |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
         |n AS (SELECT count(*) AS n FROM documents),
         |sc AS (SELECT tf.doc_id, tf.w AS term, tf.tf, df.df,
         |    round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS score
         |  FROM tf JOIN df ON tf.w = df.w CROSS JOIN n)
         |SELECT doc_id, term, tf, df, score FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |      ORDER BY score DESC, term) AS rn FROM sc)
         |WHERE rn <= 3 ORDER BY doc_id, term""".stripMargin) { (s, d) =>
      tfidfFrame(documents(s, d), tok(s, d), vocabStats(s, d))
    },

    // BM25 (Okapi, k1=1.2 b=0.75) ranked retrieval for the fixed query
    // {data, table, spark}. Per-term components are pivoted into fixed
    // columns and summed in one syntactic order so float addition
    // associates identically in both engines; corpus stats (N, avgdl, df)
    // are scalar frames that broadcast. Plan shape at scale: one grouped
    // count over matching postings (the WHERE w IN (...) prunes the
    // explode output before the shuffle), everything else is
    // broadcast-joined — the classic "score a query against an inverted
    // index" distribution.
    Q("bm25_search",
      s"""WITH tok AS (
         |  $SqlWordTok),
         |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
         |st AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
         |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok
         |  WHERE w IN ('data','table','spark') GROUP BY doc_id, w),
         |tfp AS (SELECT doc_id,
         |    CAST(sum(CASE WHEN w = 'data' THEN tf ELSE 0 END) AS DOUBLE) AS tf1,
         |    CAST(sum(CASE WHEN w = 'table' THEN tf ELSE 0 END) AS DOUBLE) AS tf2,
         |    CAST(sum(CASE WHEN w = 'spark' THEN tf ELSE 0 END) AS DOUBLE) AS tf3
         |  FROM tf GROUP BY doc_id),
         |dfp AS (SELECT
         |    CAST(coalesce(sum(CASE WHEN w = 'data' THEN df END), 0) AS DOUBLE) AS df1,
         |    CAST(coalesce(sum(CASE WHEN w = 'table' THEN df END), 0) AS DOUBLE) AS df2,
         |    CAST(coalesce(sum(CASE WHEN w = 'spark' THEN df END), 0) AS DOUBLE) AS df3
         |  FROM (SELECT w, count(*) AS df FROM tf GROUP BY w)),
         |scored AS (SELECT d.doc_id, CAST(d.dl AS BIGINT) AS dl, round(
         |    ln(1 + (st.n - dfp.df1 + 0.5) / (dfp.df1 + 0.5)) *
         |      (t.tf1 * 2.2) / (t.tf1 + 1.2 * (0.25 + 0.75 * d.dl / st.avgdl)) +
         |    ln(1 + (st.n - dfp.df2 + 0.5) / (dfp.df2 + 0.5)) *
         |      (t.tf2 * 2.2) / (t.tf2 + 1.2 * (0.25 + 0.75 * d.dl / st.avgdl)) +
         |    ln(1 + (st.n - dfp.df3 + 0.5) / (dfp.df3 + 0.5)) *
         |      (t.tf3 * 2.2) / (t.tf3 + 1.2 * (0.25 + 0.75 * d.dl / st.avgdl)), 6) AS score
         |  FROM tfp t JOIN dl d ON d.doc_id = t.doc_id CROSS JOIN st CROSS JOIN dfp)
         |SELECT doc_id, dl, score FROM scored WHERE score > 0
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin) { (s, d) =>
      val tk = tok(s, d)
      val dl = tk.groupBy($"doc_id").agg(count(lit(1)).as("dl"))
      val st = dl.agg(count(lit(1)).as("n"),
        (sum($"dl").cast(DoubleType) / count(lit(1))).as("avgdl"))
      val tf = tk.filter($"w".isin("data", "table", "spark"))
        .groupBy($"doc_id", $"w").agg(count(lit(1)).as("tf"))
      def pick(term: String) =
        sum(when($"w" === term, $"tf").otherwise(0L)).cast(DoubleType)
      val tfp = tf.groupBy($"doc_id")
        .agg(pick("data").as("tf1"), pick("table").as("tf2"), pick("spark").as("tf3"))
      def pickDf(term: String) =
        coalesce(sum(when($"w" === term, $"df")), lit(0L)).cast(DoubleType)
      val dfp = tf.groupBy($"w").agg(count(lit(1)).as("df"))
        .agg(pickDf("data").as("df1"), pickDf("table").as("df2"), pickDf("spark").as("df3"))
      def comp(tfc: Column, dfc: Column, dlc: Column) =
        log(lit(1) + ($"n" - dfc + 0.5) / (dfc + 0.5)) *
          (tfc * 2.2) / (tfc + lit(1.2) * (lit(0.25) + lit(0.75) * dlc / $"avgdl"))
      tfp.join(dl, "doc_id").crossJoin(st).crossJoin(dfp)
        .select($"doc_id", $"dl".cast(LongType).as("dl"),
          round(comp($"tf1", $"df1", $"dl") + comp($"tf2", $"df2", $"dl") +
            comp($"tf3", $"df3", $"dl"), 6).as("score"))
        .filter($"score" > 0)
        .orderBy($"score".desc, $"doc_id")
        .limit(10)
    },

    // Blocked fuzzy dedup (record-linkage shape): normalize to the a–z
    // skeleton, block on TWO keys — the 16-char normalized prefix AND the
    // 16-char normalized suffix (of the 200-char verify window) — union
    // the candidate pairs, dedup, then verify with edit distance on the
    // 200-char prefix. Blocking bounds the quadratic stage to
    // within-block pairs (measured 357 candidates for 5000 docs at
    // sf0.1), and the measured block-profile dispatch collapses
    // identical skeletons first when a hot block (shared boilerplate)
    // would blow the within-block volume up — see fuzzyPairsAuto.
    // The second pass is the standard multi-pass recall
    // extension: a pair mutated inside its first 16 normalized chars
    // still agrees on the suffix key (and vice versa), so only pairs
    // edited in BOTH 16-char windows are missed (FuzzyBlockingSpec pins
    // the planted cases). Levenshtein is the verification step MinHash
    // can't do: it certifies an exact edit bound, not an estimated set
    // overlap.
    Q("dedup_fuzzy",
      """WITH nm AS (SELECT doc_id,
        |    substr(regexp_replace(lower(text), '[^a-z]', '', 'g'), 1, 200) AS nrm
        |  FROM documents),
        |b AS (SELECT doc_id, nrm, substr(nrm, 1, 16) AS p, right(nrm, 16) AS sfx
        |  FROM nm WHERE length(nrm) >= 16),
        |cand AS (
        |  SELECT a.doc_id AS a_id, b2.doc_id AS b_id, a.nrm AS na, b2.nrm AS nb
        |  FROM b a JOIN b b2 ON a.p = b2.p AND a.doc_id < b2.doc_id
        |  UNION
        |  SELECT a.doc_id AS a_id, b2.doc_id AS b_id, a.nrm AS na, b2.nrm AS nb
        |  FROM b a JOIN b b2 ON a.sfx = b2.sfx AND a.doc_id < b2.doc_id)
        |SELECT a_id, b_id, CAST(levenshtein(na, nb) AS INT) AS dist
        |FROM cand WHERE levenshtein(na, nb) <= 20
        |ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
      // profile-dispatched: plain blocked join on benign block profiles,
      // identical-skeleton collapse when a hot block dominates candidate
      // volume (see fuzzyPairsAuto — output-identical either way). nrm is
      // truncated to the 200 chars the verify step reads (identical
      // output: min-length 16 is unaffected by a 200-char cap — and the
      // suffix key reads the SAME truncated window in both engines), so
      // the joins carry bounded rows instead of full documents.
      fuzzyPairsAuto(documents(s, d), ProfileStats.profiles(s, d).fuzzy)
        .orderBy($"a_id", $"b_id")
    },

    // Triangle enumeration on the exact-Jaccard ≥ 0.5 near-dup graph —
    // the density probe run before clustering (triangle-rich components
    // are true dup families; triangle-free chains are often transitive
    // false positives). Reads the SAME session-cached pair graph as the
    // other dedup queries, so the marginal cost is two joins over a
    // pair-graph-sized (tiny) input. The a<b<c orientation of stored
    // edges means each triangle is emitted exactly once — no /6 dedup
    // pass, and the joins stay equi-keyed (hash-joinable at any scale).
    Q("graph_triangles",
      s"""WITH tok AS (
         |  ${LlmQueries.sqlShingleTok("documents")}),
         |cnt AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
         |pair AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |  FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id),
         |good AS (
         |  SELECT a_id, b_id FROM pair
         |  JOIN cnt ca ON ca.doc_id = a_id JOIN cnt cb ON cb.doc_id = b_id
         |  WHERE CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) >= 0.5)
         |SELECT e1.a_id AS a, e1.b_id AS b, e2.b_id AS c
         |FROM good e1 JOIN good e2 ON e2.a_id = e1.b_id
         |JOIN good e3 ON e3.a_id = e1.a_id AND e3.b_id = e2.b_id
         |ORDER BY a, b, c""".stripMargin) { (s, d) =>
      val e = LlmQueries.goodPairs(s, d).select($"a_id", $"b_id")
      e.as("e1")
        .join(e.as("e2"), col("e2.a_id") === col("e1.b_id"))
        .join(e.as("e3"),
          col("e3.a_id") === col("e1.a_id") && col("e3.b_id") === col("e2.b_id"))
        .select(col("e1.a_id").as("a"), col("e1.b_id").as("b"),
          col("e2.b_id").as("c"))
        .orderBy($"a", $"b", $"c")
    },

    // Word-rarity quality signal: a document's mean corpus document
    // frequency over its tokens — low mean_df flags rare-vocabulary docs
    // (OCR noise, codey junk, genuinely novel text) for curation review.
    // All-integer until the final division (exact BIGINT df sums), so no
    // rounding grid is needed. At 100 TB the df table is vocabulary-sized
    // (≪ corpus, broadcastable) and the only big shuffle is the token
    // explode's grouped count — the same inverted-index shape as tf-idf.
    // Gopher-rule quality gate (Rae et al. 2021 §A1.1, the canonical
    // pre-training document filter): word count bounds, mean word length
    // band, alphabetic-word ratio, bullet-line ratio. Every signal is a
    // ratio of exact integer counts (one double division each), so the
    // keep flag's comparisons are engine-deterministic without rounding.
    // Plan shape: one explode + grouped count per doc — embarrassingly
    // parallel, no cross-doc state.
    Q("quality_gopher",
      """WITH w AS (
        |  SELECT doc_id, w FROM (
        |    SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS w
        |    FROM documents) WHERE w <> ''),
        |ws AS (
        |  SELECT doc_id, count(*) AS n_words,
        |    CAST(SUM(length(w)) AS DOUBLE) / count(*) AS mean_wlen,
        |    CAST(SUM(CASE WHEN regexp_matches(w, '[a-zA-Z]') THEN 1 ELSE 0 END) AS DOUBLE)
        |      / count(*) AS alpha_ratio
        |  FROM w GROUP BY doc_id),
        |ls AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN regexp_matches(l, '^\s*[-*]') THEN 1 ELSE 0 END) AS DOUBLE)
        |      / count(*) AS bullet_ratio
        |  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS l FROM documents)
        |  GROUP BY doc_id)
        |SELECT ws.doc_id, n_words, mean_wlen, alpha_ratio, bullet_ratio,
        |  CAST(n_words >= 50 AND n_words <= 100000
        |    AND mean_wlen >= 3 AND mean_wlen <= 10
        |    AND alpha_ratio >= 0.8 AND bullet_ratio <= 0.9 AS BOOLEAN) AS keep
        |FROM ws JOIN ls ON ws.doc_id = ls.doc_id
        |ORDER BY ws.doc_id""".stripMargin) { (s, d) =>
      // r12: all five statistics are row-LOCAL — the one-scan
      // gopher_stats kernel replaces two explode→groupBy passes and the
      // doc-keyed join (3 exchanges → the final sort only, guide §2.4);
      // the inner-join semantics (wordless docs emit no row) survive as
      // the n_words > 0 filter. GopherStatsSpec diffs the kernel against
      // the split/rlike formulation the oracle still runs.
      val g = graft.functions.TextStats.gopherStatsCol(col("text"))
      documents(s, d)
        .select(col("doc_id"), g.as("g"))
        .filter($"g.n_words" > 0L)
        .select($"doc_id", $"g.n_words".as("n_words"),
          ($"g.sum_wlen".cast(DoubleType) / $"g.n_words").as("mean_wlen"),
          ($"g.n_alpha".cast(DoubleType) / $"g.n_words").as("alpha_ratio"),
          ($"g.n_bullet".cast(DoubleType) / $"g.n_lines").as("bullet_ratio"))
        .select($"doc_id", $"n_words", $"mean_wlen", $"alpha_ratio", $"bullet_ratio",
          ($"n_words" >= 50 && $"n_words" <= 100000 &&
            $"mean_wlen" >= 3 && $"mean_wlen" <= 10 &&
            $"alpha_ratio" >= 0.8 && $"bullet_ratio" <= 0.9).as("keep"))
        .orderBy($"doc_id")
    },

    // DISTILL the Gopher keep rule into a decision stump — the exact
    // greedy split search that is the base-learner primitive of every
    // distributed GBDT (XGBoost/LightGBM histogram method): features are
    // hashed bag-of-words counts (B buckets + a total-count feature),
    // candidates are every observed (feature, value), and the trained
    // stump `x >= t` is the argmin-misclassification split with
    // deterministic ties (error, then bucket, then threshold). The whole
    // search is integer-exact, so the DuckDB oracle replays TRAINING and
    // scoring bit-for-bit. Scale shape: one docs×B-bounded count shuffle,
    // one aggregation over distinct (b, x) candidates with a per-bucket
    // running sum — the histogram pass — and a broadcast of the single
    // learned stump for scoring; no driver state beyond the 1-row model.
    // On this corpus the stump recovers the label's binding clause
    // exactly (total-count feature, t = 50 ≙ Gopher's n_words ≥ 50).
    Q("quality_distill_stump", {
      val B = 16
      val wh = s"(${graft.functions.CrossHash.sqlWordHash("w")}) % $B"
      s"""WITH tok AS (SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
         |  FROM documents),
         |cnts AS (SELECT doc_id, $wh AS b, count(*) AS x
         |  FROM tok WHERE w <> '' GROUP BY doc_id, b),
         |grid AS (SELECT d.doc_id, CAST(g.range AS BIGINT) AS b
         |  FROM (SELECT doc_id FROM documents) d CROSS JOIN range($B) g),
         |feat0 AS (SELECT g.doc_id, g.b, coalesce(c.x, 0) AS x
         |  FROM grid g LEFT JOIN cnts c USING (doc_id, b)),
         |feat AS (SELECT doc_id, b, x FROM feat0
         |  UNION ALL SELECT doc_id, CAST($B AS BIGINT) AS b, CAST(sum(x) AS BIGINT) AS x
         |  FROM feat0 GROUP BY doc_id),
         |gw AS (SELECT doc_id, w FROM (
         |  SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS w
         |  FROM documents) WHERE w <> ''),
         |gs AS (SELECT doc_id, count(*) AS n_words,
         |  CAST(SUM(length(w)) AS DOUBLE) / count(*) AS mean_wlen,
         |  CAST(SUM(CASE WHEN regexp_matches(w, '[a-zA-Z]') THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*) AS alpha_ratio
         |  FROM gw GROUP BY doc_id),
         |lab AS (SELECT doc_id, CASE WHEN n_words >= 50 AND n_words <= 100000
         |  AND mean_wlen >= 3 AND mean_wlen <= 10 AND alpha_ratio >= 0.8
         |  THEN 1 ELSE 0 END AS y FROM gs),
         |hist AS (SELECT f.b, f.x, sum(l.y) AS pos_at, count(*) AS n_at
         |  FROM feat f JOIN lab l USING (doc_id) GROUP BY f.b, f.x),
         |cum AS (SELECT b, x AS t,
         |  sum(pos_at) OVER (PARTITION BY b ORDER BY x DESC) AS pos_ge,
         |  sum(n_at) OVER (PARTITION BY b ORDER BY x DESC) AS n_ge
         |  FROM hist),
         |err AS (SELECT b, t,
         |  (n_ge - pos_ge) + ((SELECT sum(y) FROM lab) - pos_ge) AS e FROM cum),
         |best AS (SELECT b, t, e FROM err ORDER BY e, b, t LIMIT 1)
         |SELECT f.doc_id, bs.b AS stump_b, bs.t AS stump_t,
         |  CAST(bs.e AS BIGINT) AS train_err, f.x,
         |  (f.x >= bs.t) AS predicted, (l.y = 1) AS actual,
         |  ((f.x >= bs.t) = (l.y = 1)) AS agree
         |FROM best bs JOIN feat f ON f.b = bs.b JOIN lab l USING (doc_id)
         |ORDER BY f.doc_id""".stripMargin
    }) { (s, d) =>
      // r12: training and scoring both run on the row-local array frame
      // (one codegen scan builds all B+1 features and the label; the
      // histogram is posexplode → (b, x) partial agg) — the (doc, b, x)
      // explode/groupBy/zero-fill-join shape and its per-doc label join
      // are gone (guide §2.4). Output identical: the scored `x` is the
      // best bucket's array slot.
      val docs = documents(s, d)
      val vec = QualityDistill.stumpVec(docs).filter(col("labeled"))
      val best = QualityDistill.bestSplitVec(vec)
      val x = element_at($"xv", (col("bs.b") + 1L).cast(IntegerType))
      vec.crossJoin(broadcast(best.as("bs")))
        .select($"doc_id", col("bs.b").as("stump_b"), col("bs.t").as("stump_t"),
          col("bs.e").as("train_err"), x.as("x"),
          (x >= col("bs.t")).as("predicted"), ($"y" === 1).as("actual"),
          ((x >= col("bs.t")) === ($"y" === 1)).as("agree"))
        .orderBy($"doc_id")
    },

    // Boosted distill cascade — quality_distill_stump iterated: 3 rounds
    // of the dual-direction histogram split search, each trained on the
    // SURVIVORS of the previous rounds (Viola–Jones-style attentional
    // cascade, the AND-semiring residual fit), distilling the joint
    // Gopher ∧ low-repetition rule that no single one-direction stump can
    // express. Search space includes keep-all (ge at the subset minimum),
    // so training error is monotonically non-increasing; all arithmetic
    // is exact integers and ties break (e, b, t, dir) — both engines
    // replay the training bit-for-bit. Serving stays a pure row-local
    // map: an AND of ≤3 single-feature thresholds.
    Q("quality_distill_boost", {
      val B = QualityDistill.B
      val wh = s"(${graft.functions.CrossHash.sqlWordHash("w")}) % $B"
      val rounds = (1 to 3).map { t =>
        s"""hist$t AS MATERIALIZED (SELECT f.b, f.x, sum(l.y) AS pos_at, count(*) AS n_at
           |  FROM feat f JOIN lab l USING (doc_id) JOIN s${t - 1} USING (doc_id)
           |  GROUP BY f.b, f.x),
           |cum$t AS (SELECT b, x AS t,
           |  sum(pos_at) OVER (PARTITION BY b ORDER BY x DESC) AS pos_ge,
           |  sum(n_at) OVER (PARTITION BY b ORDER BY x DESC) AS n_ge FROM hist$t),
           |tot$t AS (SELECT sum(l.y) AS p, count(*) AS n
           |  FROM lab l JOIN s${t - 1} USING (doc_id)),
           |best$t AS (SELECT b, t, dir, e FROM (
           |    SELECT c.b, c.t, 1 AS dir,
           |      (c.n_ge - c.pos_ge) + (tt.p - c.pos_ge) AS e
           |    FROM cum$t c CROSS JOIN tot$t tt
           |    UNION ALL
           |    SELECT c.b, c.t, 0 AS dir,
           |      c.pos_ge + (tt.n - c.n_ge) - (tt.p - c.pos_ge) AS e
           |    FROM cum$t c CROSS JOIN tot$t tt)
           |  ORDER BY e, b, t, dir DESC LIMIT 1),
           |k$t AS MATERIALIZED (SELECT f.doc_id FROM feat f CROSS JOIN best$t bs
           |  WHERE f.b = bs.b AND
           |    ((bs.dir = 1 AND f.x >= bs.t) OR (bs.dir = 0 AND f.x < bs.t))),
           |s$t AS MATERIALIZED (SELECT doc_id FROM s${t - 1} INTERSECT
           |  SELECT doc_id FROM k$t)""".stripMargin
      }.mkString(",\n")
      s"""WITH tok AS (SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
         |  FROM documents),
         |cnts AS MATERIALIZED (SELECT doc_id, $wh AS b, count(*) AS x
         |  FROM tok WHERE w <> '' GROUP BY doc_id, b),
         |grid AS (SELECT d.doc_id, CAST(g.range AS BIGINT) AS b
         |  FROM (SELECT doc_id FROM documents) d CROSS JOIN range($B) g),
         |feat0 AS MATERIALIZED (SELECT g.doc_id, g.b, coalesce(c.x, 0) AS x
         |  FROM grid g LEFT JOIN cnts c USING (doc_id, b)),
         |tri AS (SELECT doc_id, unnest([ws[i]||' '||ws[i+1]||' '||ws[i+2]
         |    FOR i IN range(1, len(ws)-1)]) AS g
         |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
         |  WHERE len(ws) >= 3),
         |rep AS MATERIALIZED (SELECT doc_id, CAST(sum(c) AS BIGINT) AS ng,
         |    CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS nd
         |  FROM (SELECT doc_id, g, count(*) AS c FROM tri GROUP BY doc_id, g)
         |  GROUP BY doc_id),
         |repz AS MATERIALIZED (SELECT d.doc_id, coalesce(r.ng, 0) AS ng, coalesce(r.nd, 0) AS nd
         |  FROM (SELECT doc_id FROM documents) d LEFT JOIN rep r USING (doc_id)),
         |feat AS MATERIALIZED (SELECT doc_id, b, x FROM feat0
         |  UNION ALL SELECT doc_id, CAST($B AS BIGINT) AS b,
         |    CAST(sum(x) AS BIGINT) AS x FROM feat0 GROUP BY doc_id
         |  UNION ALL SELECT doc_id, CAST(${B + 1} AS BIGINT) AS b, ng AS x FROM repz
         |  UNION ALL SELECT doc_id, CAST(${B + 2} AS BIGINT) AS b, nd AS x FROM repz),
         |gw AS (SELECT doc_id, w FROM (
         |  SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS w
         |  FROM documents) WHERE w <> ''),
         |gs AS MATERIALIZED (SELECT doc_id, count(*) AS n_words,
         |  CAST(SUM(length(w)) AS DOUBLE) / count(*) AS mean_wlen,
         |  CAST(SUM(CASE WHEN regexp_matches(w, '[a-zA-Z]') THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*) AS alpha_ratio
         |  FROM gw GROUP BY doc_id),
         |lab AS MATERIALIZED (SELECT g.doc_id, CASE WHEN g.n_words >= 50 AND g.n_words <= 100000
         |  AND g.mean_wlen >= 3 AND g.mean_wlen <= 10 AND g.alpha_ratio >= 0.8
         |  AND (z.ng = 0 OR 50 * z.nd <= z.ng) THEN 1 ELSE 0 END AS y
         |  FROM gs g JOIN repz z USING (doc_id)),
         |s0 AS (SELECT doc_id FROM lab),
         |$rounds
         |SELECT l.doc_id,
         |  bs1.b AS s1_b, bs1.t AS s1_t, CAST(bs1.dir AS INT) AS s1_ge,
         |  bs2.b AS s2_b, bs2.t AS s2_t, CAST(bs2.dir AS INT) AS s2_ge,
         |  bs3.b AS s3_b, bs3.t AS s3_t, CAST(bs3.dir AS INT) AS s3_ge,
         |  (l.doc_id IN (SELECT doc_id FROM s3)) AS kept,
         |  (l.y = 1) AS actual,
         |  ((l.doc_id IN (SELECT doc_id FROM s3)) = (l.y = 1)) AS agree
         |FROM lab l CROSS JOIN best1 bs1 CROSS JOIN best2 bs2 CROSS JOIN best3 bs3
         |ORDER BY l.doc_id""".stripMargin
    }) { (s, d) =>
      val docs = documents(s, d)
      val stages = QualityDistill.trainCascade(docs, rounds = 3)
      // r12: the label is row-local (gopher_stats + repetition kernels) —
      // the explode→groupBy label build and its doc-keyed join are gone;
      // serving is now a pure map + final sort (guide §2.4)
      val (y, labeled) = QualityDistill.jointLabelCols
      val kept = QualityDistill.cascadeKeepCol(stages)
      val stageCols = stages.zipWithIndex.flatMap { case (st, i) => Seq(
        lit(st.bucket).as(s"s${i + 1}_b"), lit(st.threshold).as(s"s${i + 1}_t"),
        lit(if (st.ge) 1 else 0).as(s"s${i + 1}_ge"))
      }
      docs.filter(labeled)
        .select((col("doc_id") +: stageCols) ++ Seq(
          kept.as("kept"), (y === 1).as("actual"),
          (kept === (y === 1)).as("agree")): _*)
        .orderBy($"doc_id")
    },

    // TRAINED linear quality classifier — the fastText-direction model
    // real pipelines run beside the tree-shaped distill family: hashed
    // bag-of-words features (B buckets + total + trigram repetition +
    // bias), integer-grid standardization, and a pocket batch perceptron
    // ([[QualityLinear]]) distilling the same Gopher ∧ low-repetition
    // joint label as the cascade. EVERY training step is exact integer
    // arithmetic with truncating division (Scala Long./ ≡ DuckDB //), so
    // the oracle replays all 5 update rounds, the pocket argmin (ties to
    // the earliest round) and the final scoring bit-for-bit. The Spark
    // side SERVES row-locally — one bucket_counts codegen pass + the
    // repetition kernel against literal weights, no explode, no shuffle —
    // while the oracle scores through the feature frame: the hash match
    // proves the one-scan serving kernel equals the training features.
    Q("quality_classifier", {
      val B = QualityDistill.B
      val R = QualityLinear.Rounds
      val wh = s"(${graft.functions.CrossHash.sqlWordHash("w")}) % $B"
      val evalRounds = (1 to R + 1).map { t =>
        val upd =
          if (t <= R)
            s""",
               |gr$t AS (SELECT f.b,
               |    CAST(sum((2 * m.y - 1) * f.xs) AS BIGINT) AS g
               |  FROM feats f JOIN mis$t m USING (doc_id) GROUP BY f.b),
               |w$t AS MATERIALIZED (SELECT w.b,
               |    w.wgt + (CASE WHEN e.e = 0 THEN CAST(0 AS BIGINT)
               |      ELSE coalesce(g.g, CAST(0 AS BIGINT)) // e.e END) AS wgt
               |  FROM w${t - 1} w LEFT JOIN gr$t g USING (b) CROSS JOIN er$t e)""".stripMargin
          else ""
        s"""sc$t AS MATERIALIZED (SELECT f.doc_id,
           |    CAST(sum(f.xs * w.wgt) AS BIGINT) AS score
           |  FROM feats f JOIN w${t - 1} w USING (b) GROUP BY f.doc_id),
           |mis$t AS MATERIALIZED (SELECT s.doc_id, l.y FROM sc$t s
           |  JOIN lab l USING (doc_id) WHERE (s.score > 0) <> (l.y = 1)),
           |er$t AS (SELECT count(*) AS e FROM mis$t)$upd""".stripMargin
      }.mkString(",\n")
      val cand = (1 to R + 1)
        .map(t => s"SELECT $t AS t, e FROM er$t").mkString(" UNION ALL ")
      val allw = (1 to R + 1)
        .map(t => s"SELECT $t AS t, b, wgt FROM w${t - 1}").mkString(" UNION ALL ")
      s"""WITH tok AS (SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
         |  FROM documents),
         |cnts AS MATERIALIZED (SELECT doc_id, $wh AS b, count(*) AS x
         |  FROM tok WHERE w <> '' GROUP BY doc_id, b),
         |grid AS (SELECT d.doc_id, CAST(g.range AS BIGINT) AS b
         |  FROM (SELECT doc_id FROM documents) d CROSS JOIN range($B) g),
         |feat0 AS MATERIALIZED (SELECT g.doc_id, g.b, coalesce(c.x, 0) AS x
         |  FROM grid g LEFT JOIN cnts c USING (doc_id, b)),
         |tri AS (SELECT doc_id, unnest([ws[i]||' '||ws[i+1]||' '||ws[i+2]
         |    FOR i IN range(1, len(ws)-1)]) AS g
         |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
         |  WHERE len(ws) >= 3),
         |rep AS MATERIALIZED (SELECT doc_id, CAST(sum(c) AS BIGINT) AS ng,
         |    CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS nd
         |  FROM (SELECT doc_id, g, count(*) AS c FROM tri GROUP BY doc_id, g)
         |  GROUP BY doc_id),
         |repz AS MATERIALIZED (SELECT d.doc_id, coalesce(r.ng, 0) AS ng, coalesce(r.nd, 0) AS nd
         |  FROM (SELECT doc_id FROM documents) d LEFT JOIN rep r USING (doc_id)),
         |feat AS MATERIALIZED (SELECT doc_id, b, x FROM feat0
         |  UNION ALL SELECT doc_id, CAST($B AS BIGINT) AS b,
         |    CAST(sum(x) AS BIGINT) AS x FROM feat0 GROUP BY doc_id
         |  UNION ALL SELECT doc_id, CAST(${B + 1} AS BIGINT) AS b, ng AS x FROM repz
         |  UNION ALL SELECT doc_id, CAST(${B + 2} AS BIGINT) AS b, nd AS x FROM repz
         |  UNION ALL SELECT doc_id, CAST(${B + 3} AS BIGINT) AS b,
         |    CAST(1 AS BIGINT) AS x FROM documents),
         |nn AS (SELECT count(*) AS n FROM documents),
         |st AS MATERIALIZED (SELECT f.b,
         |    CAST(sum(f.x) AS BIGINT) // nn.n AS mu,
         |    greatest(CAST(1 AS BIGINT), max(f.x) - min(f.x)) AS rng
         |  FROM feat f CROSS JOIN nn GROUP BY f.b, nn.n),
         |feats AS MATERIALIZED (SELECT f.doc_id, f.b,
         |    CASE WHEN f.b = ${B + 3} THEN CAST(${QualityLinear.Scale} AS BIGINT)
         |      ELSE ((f.x - s.mu) * ${QualityLinear.Scale}) // s.rng END AS xs
         |  FROM feat f JOIN st s USING (b)),
         |gw AS (SELECT doc_id, w FROM (
         |  SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS w
         |  FROM documents) WHERE w <> ''),
         |gs AS MATERIALIZED (SELECT doc_id, count(*) AS n_words,
         |  CAST(SUM(length(w)) AS DOUBLE) / count(*) AS mean_wlen,
         |  CAST(SUM(CASE WHEN regexp_matches(w, '[a-zA-Z]') THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*) AS alpha_ratio
         |  FROM gw GROUP BY doc_id),
         |lab AS MATERIALIZED (SELECT g.doc_id, CASE WHEN g.n_words >= 50 AND g.n_words <= 100000
         |  AND g.mean_wlen >= 3 AND g.mean_wlen <= 10 AND g.alpha_ratio >= 0.8
         |  AND (z.ng = 0 OR 50 * z.nd <= z.ng) THEN 1 ELSE 0 END AS y
         |  FROM gs g JOIN repz z USING (doc_id)),
         |w0 AS (SELECT CAST(range AS BIGINT) AS b, CAST(0 AS BIGINT) AS wgt
         |  FROM range(${QualityLinear.D})),
         |$evalRounds,
         |cand AS ($cand),
         |pocket AS (SELECT t, e FROM cand ORDER BY e, t LIMIT 1),
         |allw AS ($allw),
         |pw AS (SELECT a.b, a.wgt FROM allw a JOIN pocket p ON a.t = p.t),
         |serve AS (SELECT f.doc_id, CAST(sum(f.xs * pw.wgt) AS BIGINT) AS score
         |  FROM feats f JOIN pw USING (b) GROUP BY f.doc_id)
         |SELECT v.doc_id, v.score, (v.score > 0) AS predicted,
         |  (l.y = 1) AS actual, ((v.score > 0) = (l.y = 1)) AS agree,
         |  CAST(p.t AS INT) AS pocket_round, p.e AS pocket_err
         |FROM serve v JOIN lab l USING (doc_id) CROSS JOIN pocket p
         |ORDER BY v.doc_id""".stripMargin
    }) { (s, d) =>
      val docs = documents(s, d)
      val m = linModel(s, d)
      // r12: row-local label (see quality_distill_boost) — scan → map →
      // sort, no label join
      val (labY, labeled) = QualityDistill.jointLabelCols
      docs.filter(labeled)
        .withColumn("y", labY)
        .withColumn("score", QualityLinear.scoreCol(m))
        .select($"doc_id", $"score", ($"score" > 0L).as("predicted"),
          ($"y" === 1L).as("actual"),
          (($"score" > 0L) === ($"y" === 1L)).as("agree"),
          lit(m.pocketRound).as("pocket_round"),
          lit(m.pocketErr).as("pocket_err"))
        .orderBy($"doc_id")
    },

    // Within-document repetition (the Gopher duplicate-n-gram signal):
    // the fraction of word-trigram INSTANCES whose trigram occurs more
    // than once in the same document — high ratios flag boilerplate and
    // degenerate generations. Pure integer ratio (one division); the
    // trigram grouping is per-doc, so the shuffle key is (doc_id, gram)
    // and no cross-document state exists at any scale.
    Q("quality_repetition",
      """WITH tok AS (
        |  SELECT doc_id, unnest([ws[i]||' '||ws[i+1]||' '||ws[i+2]
        |      FOR i IN range(1, len(ws)-1)]) AS w
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
        |  WHERE len(ws) >= 3),
        |g AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w)
        |SELECT doc_id,
        |  CAST(SUM(c) AS BIGINT) AS n_grams,
        |  CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
        |    / SUM(c) AS dup_ratio
        |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      // The statistic is row-LOCAL (per-doc trigram multiset, NON-distinct
      // instances — shingleTok's set semantics are the dedup unit's, not
      // repetition's), so it is ONE codegen scan per document
      // ([[graft.functions.TextStats.repetition]]) — the grouped
      // formulation the oracle still runs shuffled every (doc_id, gram)
      // row (~59M 30-byte strings at sf10) for a zero-cross-document
      // statistic. The pre-filter is the exact cheap equivalent of
      // len(split(text,' ')) >= 3: at least two single-space separators
      // (split keeps empties, so len = spaces + 1); it keeps the
      // expensive scan off the pushed-down filter (a struct-field filter
      // would re-evaluate the whole expression per row below the project).
      documents(s, d)
        .filter(expr("locate(' ', text, locate(' ', text) + 1) > 0"))
        .withColumn("__r", graft.functions.TextStats.repetitionCol($"text"))
        .select($"doc_id", $"__r.n_grams".as("n_grams"),
          ($"__r.n_dup".cast(DoubleType) / $"__r.n_grams").as("dup_ratio"))
        .orderBy($"doc_id")
    },

    Q("quality_rarity",
      s"""WITH tok AS (
         |  $SqlWordTok),
         |df AS (SELECT w, count(DISTINCT doc_id) AS df FROM tok GROUP BY w)
         |SELECT t.doc_id, count(*) AS n_words,
         |  CAST(SUM(df.df) AS DOUBLE) / count(*) AS mean_df
         |FROM tok t JOIN df ON t.w = df.w
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin) { (s, d) =>
      rarityFrame(documents(s, d), tok(s, d), vocabStats(s, d))
    },

    // Unigram-LM perplexity — the classic cheap quality filter (CCNet's
    // ordering signal): score each doc by the cross-entropy of its own
    // tokens under the corpus unigram distribution; gibberish and
    // boilerplate-stuffed docs sit at the extremes. Determinism: each
    // m·ln(c/T) term is snapped onto the 1e-6 integer grid and summed as
    // BIGINT (the events_entropy pattern — order-independent, so partial
    // aggregation can never wobble the hash); the final exp() goes through
    // the round(·,6) ln-grid precedent. Plan at 100 TB: tokens group to a
    // vocab-sized count table joined back token→vocab (quality_rarity's
    // shape), the corpus total is a 1-row broadcast (excused nested loop),
    // and every aggregate is map-side partial.
    Q("quality_perplexity",
      s"""WITH tok AS (
         |  $SqlWordTok),
         |c AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
         |t AS (SELECT count(*) AS tot FROM tok),
         |m AS (SELECT doc_id, w, count(*) AS m FROM tok GROUP BY doc_id, w),
         |terms AS (SELECT m.doc_id, m.m,
         |    CAST(round(m.m * ln(CAST(c.c AS DOUBLE) / t.tot) * -1000000)
         |      AS BIGINT) AS g
         |  FROM m JOIN c ON m.w = c.w CROSS JOIN t)
         |SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_words,
         |  CAST(SUM(g) AS DOUBLE) / 1000000 / SUM(m) AS xent,
         |  round(exp(CAST(SUM(g) AS DOUBLE) / 1000000 / SUM(m)), 6) AS ppl
         |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      perplexityFrame(documents(s, d), tok(s, d), vocabStats(s, d))
    },

    // Bigram-LM cross-entropy — one model order past quality_perplexity's
    // unigram: per-doc −mean ln p(w2|w1) with Laplace(+1) smoothing over
    // the unigram vocabulary (p = (c12+1)/(c1+V)), the direction of the
    // CCNet/KenLM n-gram quality filter. Too-low = stock phrasing chained
    // from common transitions (boilerplate), too-high = incoherent token
    // soup that even plausible unigrams can't save — transitions carry
    // signal unigram frequency misses. Bigrams come from the SAME token
    // convention as the xent family (lowercased a–z runs, length ≥ 3),
    // generated in one scan per doc (no window/self-join); each m·ln term
    // snaps to the 1e-6 grid and sums as BIGINT. Plan at 100 TB: one
    // bigram-vocab-sized count table (≤ corpus tokens, map-combined), the
    // unigram table and 1-row V total it conditions on are the dsir/xent
    // frames, and the per-doc rollup is the same backjoin — nothing
    // corpus² and no per-doc window.
    Q("quality_bigram",
      s"""WITH tok AS (
         |  $SqlWordTok),
         |ws AS (SELECT doc_id, list_filter(
         |    regexp_split_to_array(lower(text), '[^a-z]+'),
         |    w -> length(w) >= 3) AS ws FROM documents),
         |bg AS (SELECT doc_id,
         |    unnest([ws[i]||' '||ws[i+1] FOR i IN range(1, len(ws))]) AS bg
         |  FROM ws WHERE len(ws) >= 2),
         |c1 AS (SELECT w, count(*) AS c1 FROM tok GROUP BY w),
         |vv AS (SELECT CAST(count(*) AS BIGINT) AS v FROM c1),
         |m AS MATERIALIZED (SELECT doc_id, bg, count(*) AS m
         |  FROM bg GROUP BY doc_id, bg),
         |c2 AS (SELECT bg, CAST(sum(m) AS BIGINT) AS c2 FROM m GROUP BY bg),
         |voc AS (SELECT c2.bg,
         |    ln((CAST(c2.c2 AS DOUBLE) + 1) / (c1.c1 + vv.v)) AS lp
         |  FROM c2 JOIN c1 ON split_part(c2.bg, ' ', 1) = c1.w CROSS JOIN vv),
         |terms AS (SELECT m.doc_id, m.m,
         |    CAST(round(m.m * voc.lp * -1000000) AS BIGINT) AS g
         |  FROM m JOIN voc ON m.bg = voc.bg)
         |SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_bigrams,
         |  CAST(SUM(g) AS DOUBLE) / 1000000 / SUM(m) AS xent2
         |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      // bigram generation is [[graft.functions.TextStats.wordBigrams]] —
      // one scan, one allocation per gram (the oracle keeps the list-
      // comprehension formulation, so the hash gates prove the rewrite);
      // <2-token docs yield an empty array, which explode drops exactly
      // like the oracle's len(ws) >= 2 pre-filter
      val bg = documents(s, d)
        .select(col("doc_id"), explode(
          graft.functions.TextStats.wordBigramsCol(col("text"), 3)).as("bg"))
      val c1 = tok(s, d).groupBy(col("w")).agg(count(lit(1)).as("c1"))
      val vv = c1.agg(count(lit(1)).cast(LongType).as("v"))
      // the per-doc histogram feeds BOTH the corpus bigram counts (c2 =
      // Σm, a vocab-sized map-combined exchange over m instead of a
      // second full bigram explode of the corpus) and the per-doc terms
      // join — persisted so the one explode runs once
      val m = graft.FrameRegistry.transient(s, "bigram_hist",
        bg.groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("m")))
      val c2 = m.groupBy(col("bg")).agg(sum(col("m")).cast(LongType).as("c2"))
      val voc = c2
        .join(c1, substring_index(col("bg"), " ", 1) === col("w"))
        .crossJoin(broadcast(vv))
        .select(col("bg"),
          log((col("c2").cast(DoubleType) + 1) / (col("c1") + col("v"))).as("lp"))
      m.join(voc, "bg")
        .select(col("doc_id"), col("m"),
          round(col("m") * col("lp") * -1000000L, 0).cast(LongType).as("g"))
        .groupBy(col("doc_id"))
        .agg(sum(col("m")).cast(LongType).as("n_bigrams"),
          (sum(col("g")).cast(DoubleType) / 1000000L / sum(col("m")))
            .as("xent2"))
        .orderBy(col("doc_id"))
    },

    // DSIR importance scoring (Xie et al. 2023, arXiv:2302.03169): rank
    // raw-corpus documents by how much more likely their tokens are under
    // a TARGET distribution than under the raw distribution — the
    // importance weight a resampler draws against. Target here is the
    // deterministic `source = 'src0'` stratum (the "quality corpus"
    // stand-in); features are the shared unigram token convention
    // (`SqlWordTok`, the word_tok memo), both unigram models Laplace(+1)
    // smoothed over the RAW vocabulary. Determinism: each m·ln-ratio term
    // snaps to the 1e-6 integer grid and sums as BIGINT (the
    // quality_perplexity pattern — order-independent under partial
    // aggregation). Plan at 100 TB: two vocab-sized count tables (target
    // counts ride the same token frame), totals are 1-row broadcasts, the
    // per-doc rollup is the same token→vocab backjoin as the xent family —
    // every aggregate map-combines; nothing is corpus² anywhere.
    Q("dsir_score",
      s"""WITH $SqlDsirDoc
         |SELECT doc_id, n_words, logratio FROM dsir
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      dsirDoc(s, d).orderBy(col("doc_id"))
    },

    // DSIR importance RESAMPLING — the second half of the Xie et al. 2023
    // construction: draw a target-sized subset with probability
    // proportional to the importance weight w = exp(logratio). The draw
    // is Bernoulli ("accept doc i iff u_i < N·w_i/Z", E[kept] = N up to
    // heavy-doc clipping at p=1), NOT a global top-N sort: at 100 TB a
    // weighted top-10%-of-corpus is a full-corpus TakeOrdered through one
    // task, while the Bernoulli rule is one map-side comparison per doc
    // against a broadcast 1-row (Z, n) frame — embarrassingly parallel,
    // shuffle-free past the per-doc score itself. Determinism: u_i is a
    // seeded multiplicative hash of doc_id, with doc_id reduced mod the
    // prime P BEFORE the multiply so the product stays ≤ (P−1)·2654435761
    // ≈ 2.7e18 < 2^63 at ANY id scale (unreduced, ids past ~3.5e9 would
    // wrap in Spark and error in DuckDB); the weight snaps to the 1e-6
    // grid, Z stays in the 128-bit lane (HUGEINT sum / DECIMAL(38,0) —
    // a 64-bit Z caps the corpus at ~9e12 docs of mean weight), and the
    // accept comparison runs in exact 128-bit arithmetic so no engine
    // pair can disagree on a boundary. Output is the per-source
    // composition shift — the point of DSIR is that the kept set's
    // mixture tilts toward the target (src0's keep_rate is pinned
    // strictly highest in DsirResampleSpec).
    Q("dsir_resample",
      s"""WITH $SqlDsirDoc,
         |w AS MATERIALIZED (SELECT doc_id,
         |    CAST(round(exp(logratio) * 1000000) AS BIGINT) AS wgrid
         |  FROM dsir),
         |z AS (SELECT sum(CAST(wgrid AS HUGEINT)) AS z,
         |    CAST(count(*) AS BIGINT) AS n FROM w),
         |acc AS (SELECT w.doc_id, w.wgrid FROM w, z
         |  WHERE CAST((w.doc_id % 1000000007) * 2654435761 % 1000000007
         |          AS HUGEINT) * z.z * 10
         |      < CAST(w.wgrid AS HUGEINT) * z.n * 1000000007),
         |tot AS (SELECT source, count(*) AS n_docs
         |  FROM documents GROUP BY source)
         |SELECT d.source, CAST(tot.n_docs AS BIGINT) AS n_docs,
         |  count(*) AS n_kept,
         |  round(CAST(count(*) AS DOUBLE) / tot.n_docs, 6) AS keep_rate,
         |  CAST(sum(acc.wgrid) AS BIGINT) AS weight_kept
         |FROM acc JOIN documents d ON acc.doc_id = d.doc_id
         |JOIN tot ON tot.source = d.source
         |GROUP BY d.source, tot.n_docs ORDER BY d.source""".stripMargin) {
      (s, d) =>
        val acc = dsirAcceptFrame(dsirDoc(s, d))
        val tot = documents(s, d).groupBy(col("source"))
          .agg(count(lit(1)).cast(LongType).as("n_docs"))
        acc.join(documents(s, d).select(col("doc_id"), col("source")), "doc_id")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_kept"),
            sum(col("wgrid")).cast(LongType).as("weight_kept"))
          .join(broadcast(tot), "source")
          .select(col("source"), col("n_docs"), col("n_kept"),
            round(col("n_kept").cast(DoubleType) / col("n_docs"), 6)
              .as("keep_rate"),
            col("weight_kept"))
          .orderBy(col("source"))
    },

    // Corpus-level n-gram frequency table — the raw material of an n-gram
    // LM, contamination fingerprints, and boilerplate mining: top word
    // trigrams by INSTANCE count (multiplicity, not per-doc sets). Exact
    // integer counts with a total (n DESC, gram) order, so the LIMIT
    // boundary is deterministic in both engines. Plan shape: one explode
    // + one grouped count + a global top-k — the grouped count is
    // partial-aggregated map-side, so the shuffle carries one row per
    // DISTINCT gram (vocabulary-sized, ≪ corpus), and the top-k is a
    // TakeOrdered, never a full sort. At 100 TB this is THE canonical
    // map-combine workload; nothing changes shape.
    Q("ngram_counts",
      """WITH tok AS (
        |  SELECT unnest([ws[i]||' '||ws[i+1]||' '||ws[i+2]
        |      FOR i IN range(1, len(ws)-1)]) AS gram
        |  FROM (SELECT string_split(text, ' ') AS ws FROM documents)
        |  WHERE len(ws) >= 3)
        |SELECT gram, count(*) AS n FROM tok GROUP BY gram
        |ORDER BY n DESC, gram LIMIT 100""".stripMargin) { (s, d) =>
      // gram generation is [[graft.functions.TextStats.wordTrigrams]] —
      // one substring per gram instead of the 5-node
      // split/transform/slice/concat_ws chain (the oracle keeps that
      // formulation); <3-token docs yield an empty array, which explode
      // drops exactly like the size(ws) >= 3 pre-filter did
      documents(s, d)
        .select(explode(
          graft.functions.TextStats.wordTrigramsCol($"text")).as("gram"))
        .groupBy($"gram").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"gram")
        .limit(100)
    }
  )

  /** Session-memoized pocket-perceptron model per (session, dir) — the
    * train-once-serve-many contract: Verify/Bench re-runs of
    * quality_classifier score against the cached D=20 weight vector
    * instead of re-running the 5-round training.
    */
  private[graft] val linModel = graft.Memo.value("qlin_model") { (s, d) =>
    QualityLinear.train(documents(s, d).select(col("doc_id"), col("text")))
  }

  // $"…" sugar without a SparkSession-bound `implicits` import.
  private implicit class Interp(val sc: StringContext) {
    def $(args: Any*): Column = col(sc.s(args: _*))
  }
}
