package graft.llm

import graft.functions.MinHash
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** End-to-end STREAMING curation: the [[CurationPipeline]] stages wired
  * into a micro-batch chain. The deployment shape is train-once /
  * serve-forever: [[freeze]] fits every model on a BUILD corpus (the
  * distilled quality cascade, the DSIR (w, lr) vocabulary and its (Z, n)
  * normalization), then [[start]] runs each arriving micro-batch through
  *
  *   quality gate → DSIR accept → exact-hash dedup → MinHash-LSH near-dup
  *
  * where the two dedup stages thread ACCUMULATED state across epochs: a
  * seen-hash table (first claimant per sha256) and a band-bucket claim
  * table over the batch MinHash-LSH slots ([[MinHash.slots]]: 32
  * permutations of distinct word trigrams, 8 bands of 4), the slots the
  * keyed-state `streamNearDupCandidates` operator banks and the batch
  * `dedup_minhash*` band join joins on — one signature, three runtimes,
  * pinned in StreamingCurationSpec and MinHashSpec. Claims are keyed on
  * the band's minima too: on the ~2^30 band hash alone, ~8% of unrelated
  * docs would drop on a collision once 10⁷ docs are admitted.
  *
  * The chain is built so that EPOCH SPLITS ARE INVISIBLE: every gate is a
  * pure per-doc map against frozen state, the exact stage keeps the
  * (ts, doc_id)-first claimant, and the near-dup claim merge is an
  * associative min — so for an event-time-ordered replay, the union of
  * per-epoch kept sets equals the one-shot batch run's kept set exactly
  * (the parity StreamingCurationSpec pins). State is bounded by distinct
  * ADMITTED content (≤ 1 row per seen hash, ≤ [[MinHash.Bands]] rows per
  * admitted doc), never by stream length; at scale both tables live
  * columnar and the merge is one narrow-key shuffle per epoch.
  *
  * ── REORDERED replay (events arriving out of event-time order) ──
  * The contract weakens deterministically (StreamingCurationSpec pins
  * each clause):
  *
  *  1. EXACT stage — same sha CLASSES, possibly different
  *     representatives: the seen table keeps the first-ARRIVED claimant
  *     per sha (within an epoch, the (ts, doc_id)-min), so the set of
  *     distinct hashes kept equals the batch run's exactly; which doc
  *     represents a duplicate class may differ from batch's global
  *     (ts, doc_id)-min. Published docs are never un-published, so this
  *     is the strongest exact-dedup guarantee any order-free stream can
  *     give.
  *  2. NEAR-DUP stage — drops stay JUSTIFIED, some drops arrive late:
  *     the claim merge is an associative (ts, doc_id)-min, so the claim
  *     table CONVERGES to the same fixed point regardless of arrival
  *     order; but a doc is dropped only against the claims visible in
  *     its own epoch. Every streamed drop therefore has a genuinely
  *     earlier same-bucket claimant (precision is preserved); a doc can
  *     survive whose earlier claimant arrived later (recall is
  *     deferred).
  *  3. [[resolveFinal]] closes clause 2: re-resolving the kept union
  *     against the CONVERGED claim table retroactively applies the
  *     deferred drops, after which the near-dup decision equals a
  *     one-shot batch run over the streamed exact-stage winners — i.e.
  *     the only residual order dependence left is clause 1's
  *     representative choice.
  *
  * ── State capacity at 10⁹ admitted docs ──
  * Both tables grow with distinct ADMITTED content forever — correct for
  * curation (a duplicate is a duplicate however long ago its original
  * arrived), so the capacity number must be explicit. Per admitted doc:
  * `seen` carries one (sha 32 B, ts 8 B, doc_id 8 B) row = 48 B of
  * payload; `claims` carries up to [[MinHash.Bands]] = 8 (band 4 B,
  * band hash 8 B, four minima 32 B, ts 8 B, doc_id 8 B) rows = 60·8 =
  * 480 B, so 528 B per admitted doc before columnar encoding (measured in
  * StreamingCurationSpec at sf0.1: 539 B per admitted doc in the cache,
  * 238 seen + 1,889 claim rows). At 10⁹ admitted docs that is ~528 GB
  * cluster-wide — ~528 MB per executor on the 1000-executor reference
  * deployment, held columnar and merged by one narrow-key shuffle per
  * epoch; the tables never transit the driver.
  * If the corpus outgrows memory, the EVICTION story is a dedup horizon,
  * not an LRU: drop claim/seen rows with `ts < watermark − horizon`
  * (both merges are (ts, doc_id)-min, so evicting only rows older than
  * every future arrival's comparison window preserves all remaining
  * decisions exactly); the trade — content re-admitted once its original
  * ages past the horizon — is the standard bounded-state dedup contract
  * (Structured Streaming's own `dropDuplicates` within watermark).
  */
object StreamingCuration {

  /** Everything frozen at build time. `dsirVoc` is a persisted (w, lr)
    * frame (vocabulary-sized); `dsirZ`/`dsirN` pin the BUILD corpus's
    * acceptance normalization so streamed batches are drawn against the
    * same boundary (a per-batch Z would make acceptance depend on batch
    * composition).
    */
  final case class Model(
      stages: Seq[QualityDistill.CascadeStage],
      dsirVoc: DataFrame,
      dsirZ: java.math.BigDecimal,
      dsirN: Long,
      dsirNum: Long,
      dsirDen: Long)

  def freeze(build: DataFrame, target: DataFrame, num: Long = 1L,
      den: Long = 10L): Model = {
    val stages = QualityDistill.trainCascade(build)
    val voc = TextRankQueries.dsirVocFrame(TextRankQueries.wordTok(build),
      TextRankQueries.wordTok(target)).persist()
    voc.count()
    val scored =
      TextRankQueries.dsirScoreAgainst(TextRankQueries.wordTok(build), voc)
    val (z, n) = TextRankQueries.dsirZN(scored)
    Model(stages, voc, z, n, num, den)
  }

  /** Dedup state threaded across epochs — both frames persisted (and,
    * every [[LineageCutEvery]] epochs, genuinely lineage-truncated; see
    * [[epoch]]) before the previous generation is released. `epochNo`
    * counts epochs so the truncation cadence needs no external clock.
    */
  final case class State(claims: DataFrame, seen: DataFrame,
      epochNo: Long = 0L)

  /** Every this-many epochs the state frames go through an EAGER
    * `localCheckpoint` instead of `persist`: persist+count materializes
    * but does NOT truncate lineage, so without this the logical plan
    * grows one union+agg layer per epoch and any cache eviction or
    * executor loss would re-execute the whole multi-epoch chain from
    * epoch 0. localCheckpoint writes the computed partitions and REPLACES
    * the plan with them, so lineage depth stays ≤ this constant. The
    * trade (documented Spark semantics): localCheckpoint storage is
    * non-replicated, so losing an executor mid-stream fails the query
    * instead of recomputing — a cluster deployment that needs
    * loss-recovery points `spark.checkpoint.dir` at reliable storage and
    * swaps in `checkpoint(eager = true)` here.
    */
  val LineageCutEvery: Int = 8

  def emptyState(spark: SparkSession): State = {
    val claims = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(StructField("band", IntegerType) +:
        Bucket.tail.map(StructField(_, LongType)) :+
        StructField("ts", TimestampType) :+ StructField("doc_id", LongType)))
    val seen = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("sha", StringType),
        StructField("ts", TimestampType), StructField("doc_id", LongType))))
    State(claims, seen)
  }

  /** A claim's bucket: band, band hash and its minima as flat columns
    * (fixed-width rows), so a band-hash collision is not a claim hit.
    */
  private val Bucket = Seq("band", "sig") ++ (0 until MinHash.Rows).map(r => s"m$r")

  /** One (band, sig, m0…, ts, doc_id) row per MinHash slot of each doc. */
  private def bandHits(docs: DataFrame): DataFrame = {
    val slots = udf((text: String) => MinHash.slots(text))
    docs.select(col("doc_id"), col("ts"), explode(slots(col("text"))).as("e"))
      .select(Seq(col("e.band"), col("e.bh").as("sig")) ++
        (0 until MinHash.Rows).map(r => col("e.mins")(r).as(s"m$r")) ++
        Seq(col("ts"), col("doc_id")): _*)
  }

  /** Docs of `hits` that some bucket of `claims` saw claimed earlier. */
  private def outclaimed(hits: DataFrame, claims: DataFrame): DataFrame =
    hits
      .join(claims.select(Bucket.map(col) ++ Seq(
        col("ts").as("__cts"), col("doc_id").as("__cdoc")): _*), Bucket)
      .filter(struct(col("__cts"), col("__cdoc")) <
        struct(col("ts"), col("doc_id")))
      .select(col("doc_id")).distinct()

  /** One epoch of the chain, PURE batch: `(doc_id, ts, text)` in, kept
    * docs + advanced state out. Also the one-shot reference — running the
    * whole corpus as a single epoch from [[emptyState]] IS the batch
    * pipeline the streamed run must reproduce. Requires event-time-ordered
    * epochs (the watermark's contract): a claim arriving out of ts order
    * would displace an existing first-claimant here but not in the
    * arrival-ordered keyed-state operator.
    */
  def epoch(batch: DataFrame, st: State, m: Model): (DataFrame, State) = {
    // 1 — distilled quality cascade: row-local, frozen
    val gated = batch.filter(QualityDistill.cascadeKeepCol(m.stages))
    // 2 — DSIR importance accept against the frozen (voc, Z, n)
    val scored = TextRankQueries.dsirScoreAgainst(
      TextRankQueries.wordTok(gated), m.dsirVoc)
    val accepted = gated.join(
      TextRankQueries.dsirAcceptServing(scored, m.dsirZ, m.dsirN,
        m.dsirNum, m.dsirDen).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    // 3 — exact dedup: (ts, doc_id)-first per sha within the batch, then
    // against the accumulated seen table
    val hashed = accepted.withColumn("__sha", sha2(col("text"), 256))
    val w = Window.partitionBy(col("__sha")).orderBy(col("ts"), col("doc_id"))
    val exactKept = hashed.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .join(st.seen.select(col("sha").as("__sha")), Seq("__sha"), "left_anti")
    val seenNew = st.seen.unionAll(
      exactKept.select(col("__sha").as("sha"), col("ts"), col("doc_id")))
    // 4 — near-dup: the doc's band buckets (the keyed-state operator's
    // exact slots), min-merged into the claim table; a doc whose ANY
    // bucket has an earlier claimant drops. Claims accumulate from every
    // doc reaching this stage — dropped docs still claim their other
    // buckets, mirroring flatMapGroupsWithState's state update.
    val hits = bandHits(exactKept)
    val claimsNew = st.claims.unionAll(hits)
      .groupBy(Bucket.map(col): _*)
      .agg(min(struct(col("ts"), col("doc_id"))).as("f"))
      .select(Bucket.map(col) ++ Seq(
        col("f").getField("ts").as("ts"), col("f").getField("doc_id").as("doc_id")): _*)
    val kept = exactKept.join(outclaimed(hits, claimsNew), Seq("doc_id"), "left_anti")
      .drop("__sha").persist()
    // materialize the new generation BEFORE releasing the old one — the
    // kept frame and both state frames must never re-execute prior
    // epochs' lineage. Most epochs persist (materialize only); every
    // LineageCutEvery-th goes through eager localCheckpoint, which
    // actually TRUNCATES the plan — see [[LineageCutEvery]]. Unpersist on
    // a checkpointed previous generation is a no-op (its RDD is freed by
    // the ContextCleaner once unreferenced), which is fine: the contract
    // is "old generation no longer pinned", not "freed synchronously".
    val epochNo = st.epochNo + 1
    val cut = epochNo % LineageCutEvery == 0
    val stNew =
      if (cut)
        State(claimsNew.localCheckpoint(true), seenNew.localCheckpoint(true),
          epochNo)
      else State(claimsNew.persist(), seenNew.persist(), epochNo)
    kept.count(); stNew.claims.count(); stNew.seen.count()
    st.claims.unpersist(); st.seen.unpersist()
    (kept, stNew)
  }

  /** Retroactive claim re-resolution for REORDERED replays: drop from
    * `kept` (the union of per-epoch kept docs, carrying doc_id/ts/text)
    * every doc that lost any band bucket to an earlier claimant in the
    * CONVERGED claim table — the deferred drops an out-of-order arrival
    * schedule could not make in-epoch (object doc, clause 3). Idempotent,
    * and a no-op for event-time-ordered replays (their in-epoch drops
    * already saw every earlier claimant). One narrow band-keyed join;
    * runs at publication time (end of stream / window close).
    */
  def resolveFinal(kept: DataFrame, st: State): DataFrame =
    kept.join(outclaimed(bandHits(kept), st.claims), Seq("doc_id"), "left_anti")

  /** The streaming wrapper: run [[epoch]] per micro-batch via
    * `foreachBatch`, threading the state, handing each epoch's kept docs
    * to `onKept` (a writer in production; a collector in the spec).
    * `onKept` must CONSUME the frame before returning (write it, collect
    * it): the wrapper unpersists it on return, so a retained reference
    * would recompute — the only way a long-running stream stays at one
    * live kept-frame instead of accumulating one persisted frame per
    * micro-batch.
    */
  def start(stream: DataFrame, m: Model,
      onKept: DataFrame => Unit): StreamingQuery = {
    var st = emptyState(stream.sparkSession)
    stream.writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        val (kept, st2) = epoch(df, st, m)
        try onKept(kept) finally { kept.unpersist(); () }
        st = st2
      }
      .start()
  }
}
