package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the cross-engine character-polynomial hash
  * `fold (h*base + codepoint) mod p` over a string column, with whole-stage
  * codegen — one tight code-point loop per row instead of the
  * `aggregate(split(w, ""), …)` higher-order formulation (which allocates a
  * per-character array and dispatches an interpreted lambda per element).
  * This hash sits under every shingle of every document in the dedup
  * family (MinHash signatures, SimHash, fingerprints), so it is the
  * hottest scalar in the engine — the same preference-order step (b) of
  * SURVEY.md §4.2 as [[VecCosine]].
  *
  * Semantics are identical to the DuckDB oracle fragment
  * ([[CrossHash.sqlWordHash]]): code-point iteration, exact Long
  * arithmetic (base and p chosen so every intermediate fits in int64).
  * Empty string → 0; null → null.
  */
case class PolyHash(child: Expression, base: Long, mod: Long)
    extends UnaryExpression {

  // exactness guard: h < mod through the fold, so h*base + codepoint must
  // fit in int64 — reject parameters (SQL-exposed) that could overflow
  require(base > 0 && mod > 1 &&
    mod <= (Long.MaxValue - 0x10FFFFL) / base,
    s"poly_hash: base*mod must stay below 2^63 (got base=$base mod=$mod)")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"poly_hash requires a STRING argument, got ${child.dataType.sql}")

  override def dataType: DataType = LongType
  override def prettyName: String = "poly_hash"

  override def nullSafeEval(input: Any): Any =
    PolyHash.fold(input.asInstanceOf[UTF8String].toString, base, mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.PolyHash.fold($c.toString(), ${base}L, ${mod}L);")

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
}

object PolyHash {
  /** The code-point fold itself — the one loop behind the interpreted
    * and generated paths and the scalar callers ([[MinHash]]).
    */
  def fold(s: String, base: Long, mod: Long): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * base + cp) % mod
      i += Character.charCount(cp)
    }
    h
  }
}
