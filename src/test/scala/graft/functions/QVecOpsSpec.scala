package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The codegen kernels ([[QVecDot]]/[[QVecNorm2]]/[[QVecDist2]]) must be
  * drop-in identical to the higher-order-function formulations they
  * replaced — same Long arithmetic, same null semantics. The registry's
  * oracle hashes already pin end-to-end behavior; this spec pins the
  * kernels DIRECTLY against the old formulations over adversarial inputs
  * (empty arrays, nulls, length mismatches, values at the quantized
  * extreme) so a future kernel edit can't drift inside the HOF-equal
  * envelope unnoticed.
  */
class QVecOpsSpec extends AnyFunSuite with SparkTestBase {

  /** Deterministic scalacheck sampling (no scalatest-scalacheck bridge in
    * the offline dependency set): fixed seeds, explicit loop.
    */
  private def samples[T](gen: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(i.toLong)))

  // the pre-round-6 formulations, verbatim
  private def hofDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)
  private def hofNorm2(a: org.apache.spark.sql.Column) =
    aggregate(transform(a, x => x * x), lit(0L), (acc, x) => acc + x)
  private def hofDist2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), (acc, x) => acc + x)

  private val elem = Gen.oneOf(Gen.choose(-200000000L, 200000000L),
    Gen.const(0L), Gen.const(200000000L), Gen.const(-200000000L))
  private val vec = Gen.choose(0, 8).flatMap(n => Gen.listOfN(n, elem))

  test("kernels agree with the HOF formulations on random vectors") {
    // one DataFrame for all cases — a per-case session round trip would
    // dominate the test at no extra coverage
    val cases = samples(Gen.zip(vec, vec), 200)
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(cases.map { case (xs, ys) =>
        org.apache.spark.sql.Row(xs.toArray, ys.toArray)
      }: _*)
    val df = spark.createDataFrame(rows,
      StructType(Seq(
        StructField("a", ArrayType(LongType), nullable = true),
        StructField("b", ArrayType(LongType), nullable = true))))
    val out = df.select(
      col("a"), col("b"),
      VectorFns.qdot(col("a"), col("b")).as("kd"),
      hofDot(col("a"), col("b")).as("hd"),
      VectorFns.qnorm2(col("a")).as("kn"),
      hofNorm2(col("a")).as("hn"),
      VectorFns.qdist2(col("a"), col("b")).as("k2"),
      hofDist2(col("a"), col("b")).as("h2")).collect()
    assert(out.length == cases.length)
    out.foreach { r =>
      def v(i: Int): Any = if (r.isNullAt(i)) null else r.getLong(i)
      val ctx = s"a=${r.getSeq[Long](0)} b=${r.getSeq[Long](1)}"
      assert(v(2) == v(3), s"dot: $ctx")
      assert(v(4) == v(5), s"norm2: $ctx")
      assert(v(6) == v(7), s"dist2: $ctx")
    }
  }

  test("null arrays propagate null, empty arrays sum to zero") {
    val df = spark.sql(
      "SELECT CAST(null AS ARRAY<BIGINT>) AS n, CAST(array() AS ARRAY<BIGINT>) AS e")
    val r = df.select(
      VectorFns.qdot(col("n"), col("e")),
      VectorFns.qnorm2(col("n")),
      VectorFns.qdot(col("e"), col("e")),
      VectorFns.qnorm2(col("e")),
      VectorFns.qdist2(col("e"), col("e"))).head()
    assert(r.isNullAt(0) && r.isNullAt(1))
    assert(r.getLong(2) == 0L && r.getLong(3) == 0L && r.getLong(4) == 0L)
  }

  test("null ELEMENTS poison the result to null, matching the HOFs") {
    // the HOF sums propagate a null element to the whole result; the
    // kernels must do the same (getLong on a null slot would read 0)
    val df = spark.sql(
      "SELECT array(1L, CAST(null AS BIGINT), 3L) AS a, array(4L, 5L, 6L) AS b")
    val r = df.select(
      VectorFns.qdot(col("a"), col("b")).as("kd"),
      hofDot(col("a"), col("b")).as("hd"),
      VectorFns.qnorm2(col("a")).as("kn"),
      hofNorm2(col("a")).as("hn"),
      VectorFns.qdist2(col("a"), col("b")).as("k2"),
      hofDist2(col("a"), col("b")).as("h2"),
      VectorFns.qnorm2(col("b")).as("ok")).head()
    (0 until 6).foreach(i => assert(r.isNullAt(i), s"col $i should be null"))
    assert(r.getLong(6) == 77L)
  }

  test("kernels are usable from pure SQL via GraftExtensions registration") {
    val r = spark.sql(
      "SELECT qvec_dot(array(1L,2L), array(3L,4L)) AS d, " +
        "qvec_norm2(array(3L,4L)) AS n, qvec_dist2(array(1L,2L), array(3L,4L)) AS l"
    ).head()
    assert(r.getLong(0) == 11L && r.getLong(1) == 25L && r.getLong(2) == 8L)
  }
}
