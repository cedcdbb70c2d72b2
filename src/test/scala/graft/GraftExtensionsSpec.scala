package graft

import java.util.ServiceLoader

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{SparkSession, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions.desc
import org.scalatest.funsuite.AnyFunSuite

/** `vec_cosine` reaches pure SQL through SparkSessionExtensions: a session
  * built with the extension resolves the function in `spark.sql`, on the
  * same SparkContext as the shared test session. The class is a service
  * provider, so a plain builder session loads it with no `withExtensions`.
  */
class GraftExtensionsSpec extends AnyFunSuite with SparkTestBase {

  test("extension-registered vec_cosine works from pure SQL") {
    val base = spark // ensure the shared context exists
    val prior = SparkSession.getDefaultSession
    try {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      val extended = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new GraftExtensions)
        .getOrCreate() // new session over the existing SparkContext
      val r = extended.sql(
        """SELECT vec_cosine(CAST(array(1.0, 0.0) AS ARRAY<FLOAT>),
          |                  CAST(array(1.0, 0.0) AS ARRAY<FLOAT>)) AS c1,
          |       vec_cosine(CAST(array(1.0, 0.0) AS ARRAY<FLOAT>),
          |                  CAST(array(0.0, 1.0) AS ARRAY<FLOAT>)) AS c0
          |""".stripMargin).head()
      assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
      assert(math.abs(r.getDouble(1)) < 1e-12)
      // poly_hash: SQL result equals the reference JVM fold
      val h = extended.sql("SELECT poly_hash('spark') AS h, poly_hash('spark', 137, 998244353) AS h2").head()
      val ref = "spark".foldLeft(0L)((a, c) => (a * 131L + c.toInt) % 1000000007L)
      val ref2 = "spark".foldLeft(0L)((a, c) => (a * 137L + c.toInt) % 998244353L)
      assert(h.getLong(0) == ref && h.getLong(1) == ref2)
      // (no cross-session isolation assert: VecCosineSpec may have
      // registered the same name on the shared session in a full run)
      assert(base ne extended)
    } finally {
      prior.foreach(SparkSession.setDefaultSession)
      prior.foreach(SparkSession.setActiveSession)
    }
  }

  test("service-loaded once: a plain builder session resolves the functions and the rule") {
    val found = ServiceLoader.load(classOf[SparkSessionExtensionsProvider]).asScala
      .count(_.getClass == classOf[GraftExtensions])
    assert(found == 1)
    spark // ensure the shared context exists
    val prior = SparkSession.getDefaultSession
    try {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      val plain = SparkSession.builder().master("local[2]").getOrCreate()
      assert(plain ne spark)
      Seq("vec_cosine", "poly_hash", "qvec_dot").foreach { f =>
        assert(plain.sessionState.functionRegistry.functionExists(FunctionIdentifier(f)), f)
      }
      val r = plain.sql("SELECT qvec_dot(array(1L, 2L), array(3L, 4L)) AS d").head()
      assert(r.getLong(0) == 11L)
      // FinalSort: the small sort's exchange is one partition, not a range
      val plan = plain.range(100).selectExpr("id % 7 AS k").orderBy(desc("k"))
        .queryExecution.executedPlan.toString
      assert(plan.contains("Exchange SinglePartition") && !plan.contains("rangepartitioning"), plan)
    } finally {
      prior.foreach(SparkSession.setDefaultSession)
      prior.foreach(SparkSession.setActiveSession)
    }
  }
}
