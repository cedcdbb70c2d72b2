package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one MinHash-LSH signature of the dedup family, in the two forms its
  * runtimes need:
  *
  *  - the Column form ([[signature]], [[banded]]) builds the batch
  *    `dedup_minhash*` stages' (doc_id, sig) and (doc_id, band, bh)
  *    frames;
  *  - the scalar form ([[slots]]) gives one document's (band, bh, mins)
  *    slots for the online near-dup paths (`StreamingOps.streamNearDupCandidates`
  *    and `graft.llm.StreamingCuration`).
  *
  * Both sign the distinct word trigrams of the text
  * ([[TextStats.wordTrigrams]]), hashed with [[PolyHash]] (base 131, mod
  * [[CrossHash.P1]]), through [[Perms]] permutations of
  * [[CrossHash.affine]]'s seeded family, and band the signature into
  * [[Bands]] bands of [[Rows]] slots with [[CrossHash.foldHash]]. Text with
  * fewer than three words (and null text) has no shingles, so it gets no
  * signature row and no slots: it can never pair. MinHashSpec pins the two
  * forms bit-identical over sf0.01, so a pair the stream flags shares a
  * bucket in the batch band join. The DuckDB mirrors in `LlmQueries` stay
  * the oracle's independent reference.
  */
object MinHash {

  /** Signature width: affine permutations per document. */
  val Perms = 32
  /** LSH bands; each hashes [[Rows]] consecutive signature slots. */
  val Bands = 8
  val Rows: Int = Perms / Bands

  /** Column form: (doc_id, sig ARRAY<BIGINT>) from a (doc_id, w) shingle
    * frame — slot i is the min over the doc's shingles of affine_i(hash(w)).
    */
  def signature(tok: DataFrame): DataFrame = {
    val sigCols = (0 until Perms)
      .map(i => min(CrossHash.affine(i, col("x"))).as(s"h$i"))
    tok.withColumn("x", CrossHash.wordHash(col("w")))
      .groupBy(col("doc_id"))
      .agg(sigCols.head, sigCols.tail: _*)
      .select(col("doc_id"), array((0 until Perms).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** Column form: the narrow (doc_id, band, bh) frame of a signature frame,
    * `bands` bands of `rows` slots. The band join runs the default 8 × 4;
    * `dedup_minhash_curve` sweeps other (bands, rows) over the same
    * signatures.
    */
  def banded(sig: DataFrame, bands: Int = Bands, rows: Int = Rows): DataFrame =
    sig.select(col("doc_id"),
        posexplode(array((0 until bands).map(b =>
          CrossHash.foldHash((0 until rows).map(r => col("sig")(b * rows + r)))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")

  /** Distinct-trigram [[PolyHash]] hashes of a document — the shingle set
    * the signature is taken over (and `ImageRender`'s frames project);
    * empty when the text has fewer than three words.
    */
  def shingleHashes(s: String): Array[Long] =
    TextStats.wordTrigrams(s).distinct.map(t => PolyHash.fold(t.toString, 131L, CrossHash.P1))

  /** One band of a signature: the bucket `bh` the batch band join keys on
    * and the [[Rows]] minima it folds. `bh` is reduced mod ~2^30, so the
    * online paths, which lack batch's est_jac filter, key on `mins` too.
    */
  final case class Slot(band: Int, bh: Long, mins: Seq[Long])

  /** Scalar form: the slots of one document, one per band, whose
    * (band, bh) equal its rows of `banded(signature(...))`; empty for null
    * text or text under three words.
    */
  def slots(text: String): Seq[Slot] = {
    val hs = if (text == null) Array.emptyLongArray else shingleHashes(text)
    if (hs.isEmpty) return Seq.empty
    val sig = Array.tabulate(Perms)(p => hs.iterator.map(CrossHash.affine(p, _)).min)
    (0 until Bands).map { b =>
      val mins = sig.slice(b * Rows, (b + 1) * Rows).toSeq
      Slot(b, mins.foldLeft(0L)(CrossHash.fold), mins)
    }
  }
}
