package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Vector (embedding) column helpers over `ARRAY<FLOAT>`, built entirely from
  * Spark higher-order functions (`transform`/`zip_with`/`aggregate`) so they
  * stay inside whole-stage codegen — no UDFs in the hot path.
  *
  * Two families:
  *   - `quantize` and `q*`: fixed-point (1e-7) integer arithmetic. Integer
  *     sums are associative, so results are bit-identical across any
  *     partitioning / aggregation order AND across engines — these back the
  *     oracle-hashed similarity queries. Each has a DuckDB SQL twin
  *     (`sqlQ*`); [[qcosine]] also has the driver form probe selection uses.
  *   - `dot`/`norm2`/`cosine`: plain double arithmetic (sequential fold) for
  *     internal use (ANN, clustering) where cross-engine hashing isn't needed.
  */
object VectorFns {

  /** Fixed-point image: floor(x * 1e7) per element. floor (unlike round) has
    * no half-way ambiguity, so Spark and DuckDB agree on every element.
    */
  def quantize(v: Column): Column =
    transform(v, x => floor(x.cast(DoubleType) * lit(1e7)).cast(LongType))

  /** Exact integer dot product of two quantized vectors — the codegen'd
    * [[QVecDot]] kernel (one primitive loop per vector; the former
    * `aggregate(zip_with(...))` formulation paid a boxed lambda dispatch
    * per ELEMENT and dominated the sf1 ANN profile).
    */
  def qdot(a: Column, b: Column): Column =
    Bridge.column(QVecDot(Bridge.expression(a), Bridge.expression(b)))

  /** Exact integer squared L2 norm of a quantized vector ([[QVecNorm2]]). */
  def qnorm2(a: Column): Column =
    Bridge.column(QVecNorm2(Bridge.expression(a)))

  /** Exact integer squared L2 distance of two quantized vectors
    * ([[QVecDist2]]). Safe in Long for any realistic embedding range:
    * |element| ≤ 2e8 at the 1e-7 fixed point (|x| ≤ 20), diff² ≤ 1.6e17,
    * ×64 dims < 2^63.
    */
  def qdist2(a: Column, b: Column): Column =
    Bridge.column(QVecDist2(Bridge.expression(a), Bridge.expression(b)))

  /** Deterministic cosine of two quantized vectors with precomputed
    * squared norms `na`, `nb` ([[qnorm2]]): the fixed op sequence
    * `dot / (sqrt(n_a) * sqrt(n_b))` that [[sqlQcosine]] and the driver
    * overload below replay exactly. Every quantized cosine — scoring,
    * cell assignment, probe selection, within-cell pruning — is this one;
    * a drifted copy is a silent oracle divergence.
    */
  def qcosine(a: Column, na: Column, b: Column, nb: Column): Column =
    qdot(a, b).cast(DoubleType) / (sqrt(na.cast(DoubleType)) * sqrt(nb.cast(DoubleType)))

  /** [[qcosine]] computing both norms in place. */
  def qcosine(qa: Column, qb: Column): Column =
    qcosine(qa, qnorm2(qa), qb, qnorm2(qb))

  /** Driver-side [[qcosine]] over collected vectors (probe selection
    * against the bounded centroid set): same Long sums, same Double ops.
    */
  def qcosine(a: Array[Long], b: Array[Long]): Double = {
    var dot = 0L; var na = 0L; var nb = 0L; var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
  }

  /** Double-precision dot product (left-to-right fold). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, x) => acc + x)

  def norm2(a: Column): Column =
    aggregate(transform(a, x => x.cast(DoubleType) * x.cast(DoubleType)),
      lit(0.0), (acc, x) => acc + x)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(norm2(a)) * sqrt(norm2(b)))

  /** DuckDB SQL fragment mirroring [[quantize]] for oracle queries. */
  def sqlQuantize(col: String): String =
    s"[CAST(floor(x*1e7) AS BIGINT) FOR x IN $col]"

  /** DuckDB SQL fragment: exact integer dot of two quantized list columns.
    * Guarded on equal lengths: the kernels' contract is null-on-mismatch,
    * and without the CASE an out-of-range `b[i]` would yield NULL elements
    * that `list_sum` silently skips — a partial sum, not a null.
    */
  def sqlQdot(a: String, b: String): String =
    s"CASE WHEN len($a) = len($b) THEN " +
      s"CAST(list_sum([$a[i]*$b[i] FOR i IN range(1, len($a)+1)]) AS BIGINT) " +
      "ELSE NULL END"

  /** DuckDB SQL fragment: exact integer squared norm. */
  def sqlQnorm2(a: String): String =
    s"CAST(list_sum([x*x FOR x IN $a]) AS BIGINT)"

  /** DuckDB SQL fragment mirroring [[qcosine]] over list columns `a`, `b`
    * with squared-norm columns `na`, `nb`.
    */
  def sqlQcosine(a: String, na: String, b: String, nb: String): String =
    s"CAST(${sqlQdot(a, b)} AS DOUBLE) / " +
      s"(sqrt(CAST($na AS DOUBLE)) * sqrt(CAST($nb AS DOUBLE)))"

  /** DuckDB SQL fragment mirroring [[qdist2]]; same equal-length guard as
    * [[sqlQdot]] to preserve the null-on-mismatch contract.
    */
  def sqlQdist2(a: String, b: String): String =
    s"CASE WHEN len($a) = len($b) THEN " +
      s"CAST(list_sum([($a[i]-$b[i])*($a[i]-$b[i]) FOR i IN range(1, len($a)+1)]) AS BIGINT) " +
      "ELSE NULL END"
}
