package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One-scan 16×16 grayscale renderings of a document — the row-local
  * kernels behind `build:image_hash` / `build:video_hash`.
  *
  * The previous formulation rendered each doc's histogram distributively:
  * shingle explode → `groupBy(doc_id[, f], p)` count → one or two
  * `collect_list` regroupings — 2,756.8 + 500.8 MB of sf10 shuffle and
  * ~174 s for a value that is a pure per-row function of `text` (the
  * explode-where-an-expression-fits anti-pattern; same playbook as
  * [[TextStats.bucketCounts]] / [[TextStats.wordBigrams]]). These kernels
  * compute the identical histograms in one codegen scan per document:
  * distinct word trigrams, each hashed with [[CrossHash]]'s polynomial
  * fold ([[MinHash.shingleHashes]], the shingle set MinHash signs; its
  * hash-set is the `array_distinct` the explode path applied), bucketed
  * mod 256 (per frame, through the seeded affine family, for video),
  * counts clamped to `min(255, 16·count)` gray. The DuckDB oracle still runs the explode
  * formulation, so the gate's hash equality proves the rewrite.
  *
  * Returns an EMPTY array for documents with fewer than three tokens —
  * exactly the docs the explode path dropped (no shingles → no hist
  * rows); callers filter `size(gray) > 0`.
  */
object ImageRender {

  /** Pixels per rendered frame (16×16). */
  val Cells = 256

  /** 256 gray values: count distinct shingles per `hash % 256` bucket,
    * gray = min(255, 16·count). Empty array when the doc has no shingles.
    */
  def grayHist(s: String): Array[Int] = {
    val hs = MinHash.shingleHashes(s)
    if (hs.isEmpty) return Array.emptyIntArray
    val cnt = new Array[Int](Cells)
    var i = 0
    while (i < hs.length) { cnt((hs(i) % Cells).toInt) += 1; i += 1 }
    var j = 0
    while (j < Cells) { cnt(j) = math.min(255, cnt(j) * 16); j += 1 }
    cnt
  }

  /** `frames`×256 gray values, flattened frame-major: frame f re-hashes
    * every shingle through [[CrossHash.affine]]'s seeded family before
    * bucketing (`((x·a_f + b_f) mod P1) mod 256`), so the frames are
    * independent projections of the same shingle set. Empty array when
    * the doc has no shingles.
    */
  def videoGrayHist(s: String, frames: Int): Array[Int] = {
    val hs = MinHash.shingleHashes(s)
    if (hs.isEmpty) return Array.emptyIntArray
    val cnt = new Array[Int](frames * Cells)
    var f = 0
    while (f < frames) {
      val base = f * Cells
      var i = 0
      while (i < hs.length) {
        cnt(base + (CrossHash.affine(f, hs(i)) % Cells).toInt) += 1
        i += 1
      }
      f += 1
    }
    var j = 0
    while (j < cnt.length) { cnt(j) = math.min(255, cnt(j) * 16); j += 1 }
    cnt
  }

  /** Column wrapper: array<int> of 256 gray values (empty = no shingles). */
  def grayHistCol(text: Column): Column =
    Bridge.column(GrayHist(Bridge.expression(text)))

  /** Column wrapper: array<int> of frames·256 gray values, frame-major. */
  def videoGrayHistCol(text: Column, frames: Int): Column =
    Bridge.column(VideoGrayHist(Bridge.expression(text), frames))
}

case class GrayHist(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"gray_hist requires a STRING argument, got ${child.dataType.sql}")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "gray_hist"

  override def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      ImageRender.grayHist(input.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.ImageRender.grayHist($c.toString()));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): GrayHist =
    copy(child = newChild)
}

case class VideoGrayHist(child: Expression, frames: Int)
    extends UnaryExpression {

  require(frames > 0, "video_gray_hist needs at least one frame")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"video_gray_hist requires a STRING argument, got ${child.dataType.sql}")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "video_gray_hist"

  override def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      ImageRender.videoGrayHist(input.asInstanceOf[UTF8String].toString, frames))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.ImageRender.videoGrayHist($c.toString(), $frames));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): VideoGrayHist =
    copy(child = newChild)
}
