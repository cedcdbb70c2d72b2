package graft

import org.apache.spark.sql.{SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ProjectExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}

import graft.functions.{CrossHash, PolyHash, QVecDist2, QVecDot, QVecNorm2, VecCosine}

/** The engine's one SparkSessionExtensions entry point. It is listed in
  * `META-INF/services/org.apache.spark.sql.SparkSessionExtensionsProvider`,
  * so every session built on this classpath loads it — Bench, Verify,
  * PlanAudit, Ab, the tests and perfbench plan the same way without
  * setting `spark.sql.extensions`. It registers:
  *
  *   - `vec_cosine(a, b)` — the whole-stage-codegen cosine over two
  *     `ARRAY<FLOAT>` columns ([[graft.functions.VecCosine]]), so SQL-only
  *     similarity queries get the tight primitive loop instead of a
  *     higher-order-function chain.
  *   - `poly_hash(s[, base, mod])` — the cross-engine character-polynomial
  *     hash ([[graft.functions.PolyHash]]) under the dedup family,
  *     defaulting to the [[graft.functions.CrossHash]] base/modulus.
  *   - `qvec_dot(a, b)` / `qvec_norm2(a)` / `qvec_dist2(a, b)` — the
  *     exact-integer kernels over `ARRAY<BIGINT>`.
  *   - [[FinalSort]], an AQE query-stage preparation rule: a small final
  *     ORDER BY sorts in one partition instead of sampling its input for
  *     range bounds.
  */
class GraftExtensions extends SparkSessionExtensionsProvider {
  override def apply(ext: SparkSessionExtensions): Unit = {
    def fn(name: String, cls: Class[_], build: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    def arity(name: String, n: Int, children: Seq[Expression]): Unit =
      require(children.length == n, s"$name takes $n arguments, got ${children.length}")
    fn("vec_cosine", classOf[VecCosine], c => { arity("vec_cosine", 2, c); VecCosine(c.head, c(1)) })
    fn("poly_hash", classOf[PolyHash], children => {
      def lit(e: Expression): Long = e match {
        case Literal(v: Long, _) => v
        case Literal(v: Int, _) => v.toLong
        case other => throw new IllegalArgumentException(
          s"poly_hash base/mod must be integer literals, got $other")
      }
      children match {
        case Seq(s) => PolyHash(s, 131L, CrossHash.P1)
        case Seq(s, b, m) => PolyHash(s, lit(b), lit(m))
        case _ => throw new IllegalArgumentException(
          s"poly_hash takes 1 or 3 arguments, got ${children.length}")
      }
    })
    fn("qvec_dot", classOf[QVecDot], c => { arity("qvec_dot", 2, c); QVecDot(c.head, c(1)) })
    fn("qvec_norm2", classOf[QVecNorm2], c => { arity("qvec_norm2", 1, c); QVecNorm2(c.head) })
    fn("qvec_dist2", classOf[QVecDist2], c => { arity("qvec_dist2", 2, c); QVecDist2(c.head, c(1)) })
    ext.injectQueryStagePrepRule(_ => FinalSort)
  }
}

/** Sort a small final result in one partition.
  *
  * A global `Sort` plans as a range exchange, and the range partitioner
  * first runs a sampling job over the exchange's whole input; with no
  * shuffle below the sort, that job recomputes the entire map side (a
  * codec UDF, a regex chain) once more. When the plan's root — looking
  * only through `Project` — is a global sort over the range exchange that
  * `EnsureRequirements` put there, and Spark estimates the sort's input
  * at or below `spark.sql.autoBroadcastJoinThreshold` (the size at which
  * it already trusts an estimate to collect a relation whole), this rule
  * makes that exchange `SinglePartition`. One partition satisfies the
  * sort's ordering, so nothing is sampled: the map side runs once, in
  * parallel, and one task sorts the result. A threshold of -1 turns the
  * rule off, as it turns off broadcasting.
  *
  * It is an AQE query-stage preparation rule, so it runs on the initial
  * plan (static estimates: scans, projections, filters) and again after
  * every re-optimization, where a sort above an aggregate sees the real
  * size of the aggregate's input stage. It only swaps an exchange that
  * the sort already needed, so it never adds one: a sort whose input is
  * already ordered or single-partitioned, an exchange that is already a
  * materialized stage, a user `repartition`, `orderBy().limit()` (the
  * root is the limit), window and within-partition sorts and `count()`
  * roots are all left as they are.
  */
object FinalSort extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan match {
    case p: ProjectExec => p.withNewChildren(Seq(apply(p.child)))
    case s @ SortExec(_, true, e @ ShuffleExchangeExec(_: RangePartitioning, _, ENSURE_REQUIREMENTS, _), _)
        if small(s) =>
      s.withNewChildren(Seq(e.copy(outputPartitioning = SinglePartition)))
    case other => other
  }

  private def small(s: SortExec): Boolean = {
    val limit = conf.autoBroadcastJoinThreshold
    limit >= 0 && s.logicalLink.exists(_.children.forall(_.stats.sizeInBytes <= limit))
  }
}
