package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftExtensions, SparkTestBase}

/** Native codegen'd cosine expression: correctness vs the higher-order
  * function formulation, null/mismatch semantics, SQL registration, and
  * whole-stage codegen participation.
  */
class VecCosineSpec extends AnyFunSuite with SparkTestBase {
  import VecCosine.vec_cosine

  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("matches the higher-order-function cosine to 1e-12 on real embeddings") {
    import spark.implicits._
    val q = emb.limit(100).select($"vec_id", $"embedding")
    val paired = q.crossJoin(broadcast(
      q.filter($"vec_id" === 1).select($"embedding".as("qv"))))
    val rows = paired.select(
      vec_cosine($"embedding", $"qv").as("native"),
      VectorFns.cosine($"embedding", $"qv").as("hof")).collect()
    rows.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("null input and length mismatch propagate null") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq(1.0f, 0.0f)), Some(Seq(1.0f, 0.0f))),
      (None, Some(Seq(1.0f, 0.0f))),
      (Some(Seq(1.0f)), Some(Seq(1.0f, 0.0f)))
    ).toDF("a", "b")
    val got = df.select(vec_cosine($"a", $"b")).collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(got(0).contains(1.0))
    assert(got(1).isEmpty)
    assert(got(2).isEmpty)
  }

  test("registered for SQL via functionRegistry and via GraftExtensions") {
    emb.limit(5).createOrReplaceTempView("emb5")
    val n = spark.sql(
      "SELECT vec_cosine(embedding, embedding) AS c FROM emb5").collect()
    n.foreach(r => assert(math.abs(r.getDouble(0) - 1.0) < 1e-12))
    // extensions path builds its own session
    val s2 = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions).getOrCreate()
    assert(s2.sessionState.functionRegistry
      .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier("vec_cosine")))
  }

  test("participates in whole-stage codegen (no CodegenFallback)") {
    import spark.implicits._
    val q = emb.select(vec_cosine($"embedding", $"embedding").as("c"))
    val plan = q.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark operators inside a WholeStageCodegen stage
    assert(plan.contains("*(1) Project [vec_cosine"), plan)
    // if doGenCode were broken, execution would throw or fall back
    assert(q.agg(min("c")).head().getDouble(0) > 0.999999)
  }
}
