package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `quality_classifier`: a TRAINED linear quality model — the
  * fastText-direction workhorse of real curation pipelines, distilling the
  * same Gopher ∧ low-repetition joint label as [[QualityDistill]]'s boosted
  * cascade into one weight vector over hashed bag-of-words features. Where
  * the cascade family covers tree-shaped models (stump → boosted AND), this
  * covers the other production shape: a single dot-product gate.
  *
  * Training is a POCKET BATCH PERCEPTRON in exact integer arithmetic, so
  * both engines replay it bit-for-bit (the `quality_distill_*` discipline):
  *
  *  1. features standardize onto an integer grid — per feature,
  *     `xs = tdiv((x − mu)·1000, rng)` with `mu = tdiv(Σx, n)` and
  *     `rng = max(1, max − min)` (bias pins at 1000) — so every
  *     standardized value sits in [−1000, 1000] and count-scale features
  *     cannot drown indicator-scale ones;
  *  2. each round scores every doc against the current weights (one
  *     doc-keyed aggregate), takes the MEAN standardized feature vector of
  *     the misclassified docs with sign 2y−1 (one feature-keyed aggregate,
  *     `tdiv(Σ±xs, n_mis)` — the deterministic batch analog of averaged
  *     SGD), and adds it to the weights;
  *  3. the POCKET keeps the weights with the lowest observed training
  *     error across all rounds, ties to the earliest round — batch
  *     perceptron oscillates on non-separable data, and the pocket rule
  *     (Gallant 1990) is the classical deterministic fix.
  *
  * `tdiv` is TRUNCATING division (Scala `Long./` ≡ DuckDB `//` — both
  * round toward zero; floor-vs-truncate on negative numerators is exactly
  * the class of silent cross-engine drift this family must not have).
  *
  * Scale shape: training runs 2 bounded-output aggregates per round over a
  * persisted (doc, feature) frame — every shuffle is doc-count- or
  * D-sized, the driver holds only the D=20 weight vector (the "load the
  * index" contract), and a 100 TB deployment trains on a sample anyway.
  * SERVING is the hot path and is one codegen scan: [[scoreCol]] computes
  * all B+1 hashed-count features in a single allocation-free pass
  * ([[graft.functions.TextStats.bucketCounts]]), the repetition features
  * ride the existing one-scan kernel, and the weights are plan literals —
  * no explode, no shuffle, streaming-safe like the cascade's AND.
  */
object QualityLinear {

  /** Update rounds; errors are evaluated before each update and once after
    * the last, so the pocket sees `Rounds + 1` candidate weight vectors
    * (w_0 .. w_Rounds).
    */
  val Rounds = 5

  /** Standardization grid: features map into [−Scale, Scale]. */
  val Scale = 1000L

  /** Feature count: B hashed buckets, total count, n_grams, n_dup, bias. */
  val D: Int = QualityDistill.B + 4

  /** Bias feature index — standardizes to the constant [[Scale]]. */
  val FBias: Long = QualityDistill.B + 3L

  /** The trained model: standardization (mu, rng), pocket weights, the
    * pocket's training error / round, and the full error trajectory
    * (err(t) = misclassifications of w_{t-1}; the spec pins pocket
    * optimality and determinism against it).
    */
  final case class LinearModel(mu: Array[Long], rng: Array[Long],
      w: Array[Long], pocketErr: Long, pocketRound: Int, errs: Seq[Long])

  private def tdiv(a: Long, b: Long): Long = a / b

  /** Truncating division as a Column — `(a − a % b) / b` with Java `%`
    * (sign of dividend) makes the numerator exactly divisible, and the
    * double division is exact because every |a| this module produces is
    * ≤ corpus_docs·Scale ≪ 2^53.
    */
  private def tdivCol(a: Column, b: Column): Column =
    ((a - a % b) / b).cast(LongType)

  /** Training feature rows: [[QualityDistill.featFrameExt]]'s B+3 features
    * plus the bias row — exactly one (doc, b) row per doc and feature.
    * REFERENCE formulation (spec-diffed against [[featVec]]); training
    * itself runs on the array shape below.
    */
  private[llm] def featLin(docs: DataFrame): DataFrame =
    QualityDistill.featFrameExt(docs)
      .unionAll(docs.select(col("doc_id"), lit(FBias).as("b"), lit(1L).as("x")))

  /** Row-local training frame (xv, y, labeled): the D features of
    * [[featLin]] as ONE array per doc (bucket counts + total from the
    * serving kernel, the two repetition counters, bias 1) and the joint
    * label — a single codegen scan of `docs`, no explode, no shuffle.
    * r12 optimization (guide §2.3/§2.4): the (doc, b, x) shape paid a
    * token groupBy + zero-fill join to build, and every training round
    * re-shuffled it doc-keyed twice (score aggregate + gradient join);
    * on the array shape each round is one map-combine aggregate.
    */
  private[llm] def featVec(docs: DataFrame): DataFrame = {
    val (y, labeled) = QualityDistill.jointLabelCols
    val r = graft.functions.TextStats.repetitionCol(col("text"))
    docs.select(
      concat(
        graft.functions.TextStats.bucketCountsCol(col("text"), 1, QualityDistill.B),
        array(r.getField("n_grams"), r.getField("n_dup"), lit(1L))).as("xv"),
      y.as("y"), labeled.as("labeled"))
  }

  /** Integer standardization stats over the feature frame: a D-row
    * bounded collect (model-sized, like the stump's 1-row split).
    * Reference (b, x) formulation — training uses [[standardizeVec]].
    */
  private[llm] def standardize(feat: DataFrame, nDocs: Long): (Array[Long], Array[Long]) = {
    val rows = feat.groupBy(col("b"))
      .agg(sum(col("x")).as("s"), max(col("x")).as("mx"), min(col("x")).as("mn"))
      .collect()
    val mu = new Array[Long](D)
    val rng = Array.fill(D)(1L)
    rows.foreach { r =>
      val b = r.getLong(0).toInt
      mu(b) = tdiv(r.getLong(1), nDocs)
      rng(b) = math.max(1L, r.getLong(2) - r.getLong(3))
    }
    (mu, rng)
  }

  /** Same mu/rng from the array frame: one map-combine aggregate (3·D
    * columns, one ~1-row exchange), zero doc-keyed shuffle. Sums of
    * longs commute, so the integers are identical to [[standardize]]'s.
    */
  private[llm] def standardizeVec(vec: DataFrame, nDocs: Long): (Array[Long], Array[Long]) = {
    val aggs = (0 until D).flatMap { b =>
      val x = element_at(col("xv"), b + 1)
      Seq(sum(x).as(s"s$b"), max(x).as(s"mx$b"), min(x).as(s"mn$b"))
    }
    val r = vec.agg(aggs.head, aggs.tail: _*).head()
    val mu = new Array[Long](D)
    val rng = Array.fill(D)(1L)
    (0 until D).foreach { b =>
      mu(b) = tdiv(r.getLong(3 * b), nDocs)
      rng(b) = math.max(1L, r.getLong(3 * b + 1) - r.getLong(3 * b + 2))
    }
    (mu, rng)
  }

  /** Train the pocket perceptron. Bounded driver state: D-row stat and
    * gradient collects plus the weight vector — nothing corpus-sized.
    */
  def train(docs: DataFrame, rounds: Int = Rounds): LinearModel = {
    val spark = docs.sparkSession
    val nDocs = docs.count()
    require(nDocs > 0, "empty corpus: nothing to train on")
    // ONE transient frame holds features AND label, built in a single
    // map-only scan — the separate (doc, b, x) feature frame (token
    // groupBy + zero-fill join) and label frame (gopher groupBy + join)
    // are gone (r12, guide §2.4)
    val vec = graft.FrameRegistry.transient(spark, "qlin_feat", featVec(docs))
    try trainOnVec(vec, nDocs, rounds)
    finally {
      // the frame is a pure training intermediate — the model memoizes
      // per (session, dir), so nothing ever re-reads this cache; release
      // the slot instead of pinning it until transient-cap eviction
      graft.FrameRegistry.releaseFamily(spark, "qlin_feat"); ()
    }
  }

  private def trainOnVec(vec: DataFrame, nDocs: Long, rounds: Int): LinearModel = {
    val spark = vec.sparkSession
    // mu/rng over ALL docs (the reference frame has a row per doc and
    // feature regardless of label validity)
    val (mu, rng) = standardizeVec(vec, nDocs)
    // standardize ONCE into a cached array column: the per-round jobs
    // then embed only the fresh weight literals in small element_at
    // multiply-adds — keeping the D tdiv trees out of the per-round
    // codegen (each round generates new code because w changes; with the
    // tdivs inlined, seven janino compiles of 3×D-node trees cost more
    // than the jobs they run)
    val xsArr = array((0 until D).map { b =>
      if (b == FBias.toInt) lit(Scale)
      else tdivCol((element_at(col("xv"), b + 1) - mu(b)) * Scale, lit(rng(b)))
    }: _*)
    val feats = graft.FrameRegistry.transient(spark, "qlin_xs",
      vec.filter(col("labeled")).select(xsArr.as("xs"), col("y")))
    try {
      var w = new Array[Long](D)
      var pocketErr = Long.MaxValue
      var pocketRound = 0
      var pocketW = w.clone()
      val errs = scala.collection.mutable.ArrayBuffer[Long]()
      for (t <- 1 to rounds + 1) {
        // ONE map-combine aggregate per round: score and
        // misclassification are row-local under literal weights, the D
        // signed gradient sums and the misclassified count
        // partial-aggregate map-side — no doc-keyed exchange, no join
        // (was: score groupBy(doc) + label join + gradient join +
        // groupBy(b) per round)
        val score = (0 until D)
          .map(b => lit(w(b)) * element_at(col("xs"), b + 1)).reduce(_ + _)
        val sign = col("y") * 2L - 1L
        val gradAggs = (0 until D).map(b =>
          sum(sign * element_at(col("xs"), b + 1)).as(s"g$b")) :+
          count(lit(1)).as("cnt")
        val r = feats.filter((score > 0L) =!= (col("y") === 1L))
          .agg(gradAggs.head, gradAggs.tail: _*).head()
        val nMis = r.getLong(D)
        errs += nMis
        if (nMis < pocketErr) { pocketErr = nMis; pocketRound = t; pocketW = w.clone() }
        if (t <= rounds && nMis > 0L) {
          val w2 = w.clone()
          (0 until D).foreach { b => w2(b) += tdiv(r.getLong(b), nMis) }
          w = w2
        }
      }
      LinearModel(mu, rng, pocketW, pocketErr, pocketRound, errs.toSeq)
    } finally { graft.FrameRegistry.releaseFamily(spark, "qlin_xs"); () }
  }

  /** Row-local score Σ_b w_b·xs_b — ONE codegen scan: the B+1 hashed
    * counts come from a single [[graft.functions.TextStats.bucketCounts]]
    * pass (Catalyst subexpression elimination shares the array across the
    * B+1 terms), the repetition features from the shared one-scan kernel,
    * and mu/rng/w are plan literals. No explode, no shuffle — the same
    * serving contract as [[QualityDistill.cascadeKeepCol]].
    */
  def scoreCol(m: LinearModel): Column = {
    val B = QualityDistill.B
    val cnts = graft.functions.TextStats.bucketCountsCol(col("text"), 1, B)
    val rep = graft.functions.TextStats.repetitionCol(col("text"))
    def term(b: Int, x: Column): Column =
      lit(m.w(b)) * tdivCol((x - m.mu(b)) * Scale, lit(m.rng(b)))
    val bucketTerms = (0 to B).map(b => term(b, element_at(cnts, b + 1)))
    val repTerms = Seq(
      term(B + 1, rep.getField("n_grams")),
      term(B + 2, rep.getField("n_dup")))
    val bias = lit(m.w(FBias.toInt) * Scale)
    (bucketTerms ++ repTerms :+ bias).reduce(_ + _)
  }

  /** Serving filter: keep docs the trained hyperplane scores positive. */
  def filterFrame(docs: DataFrame, m: LinearModel): DataFrame =
    docs.filter(scoreCol(m) > 0L)
}
