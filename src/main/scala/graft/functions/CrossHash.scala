package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine deterministic hash family: character-polynomial string
  * hashes plus a seeded affine (MinHash) family, written twice — once as
  * Spark higher-order-function `Column`s and once as DuckDB SQL fragments —
  * with IDENTICAL arithmetic, so queries built on them are oracle-hashable.
  *
  * Everything stays in non-negative BIGINT range: bases/moduli are chosen so
  * every intermediate fits in int64 (max `a*x+b` < 1e18 < 2^63), making the
  * math exact — and therefore bit-identical — in both engines. This replaces
  * engine-private hashes (xxhash64) in queries that want a DuckDB oracle;
  * the reference's own integrity hash stays SHA-256
  * (`/root/reference/src/checksum.rs:15-19`).
  */
object CrossHash {

  /** Main modulus (prime, < 2^30·2): polynomial and affine family. */
  val P1 = 1000000007L
  /** Second modulus (prime) for the independent SimHash half. */
  val P2 = 998244353L

  // ── character-polynomial string hash: fold (h*base + codepoint) mod p ──

  /** Spark: hash of a string column/lambda-var (codepoint fold, base 131)
    * — the codegen [[PolyHash]] expression (one primitive loop per row; the
    * previous `aggregate(split(w, ""), …)` formulation allocated a
    * per-character array and ran an interpreted lambda per element).
    * Empty string hashes to 0 in both engines as long as callers filter ''
    * BEFORE hashing (DuckDB `unicode('')` is -1).
    */
  def wordHash(w: Column, base: Long = 131L, p: Long = P1): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      PolyHash(org.apache.spark.sql.graftbridge.Bridge.expression(w), base, p))

  /** DuckDB mirror of [[wordHash]] over a string expression. */
  def sqlWordHash(w: String, base: Long = 131L, p: Long = P1): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($w, ''), c -> CAST(unicode(c) AS BIGINT))), " +
      s"(a, x) -> (a * $base + x) % $p)"

  // ── seeded affine MinHash family: h_i(x) = (a_i·x + b_i) mod P1 ──

  /** Fixed pseudo-random multipliers/offsets (formula-seeded, same numbers
    * reproduced verbatim in generated oracle SQL). a_i, x < P1 ≈ 1e9 keeps
    * a_i·x ≤ ~1e18 < 2^63 — exact in both engines.
    */
  def affineA(i: Int): Long = ((2L * i + 1) * 1103515245L + 12345L) % P1
  def affineB(i: Int): Long = (i * 777767777L + 131071L) % P1

  /** Spark: i-th affine hash of a non-negative BIGINT column. */
  def affine(i: Int, x: Column): Column = (x * affineA(i) + affineB(i)) % P1

  /** Scalar form of [[affine]], for code that hashes outside a plan. */
  def affine(i: Int, x: Long): Long = (x * affineA(i) + affineB(i)) % P1

  /** DuckDB mirror of [[affine]]. */
  def sqlAffine(i: Int, x: String): String =
    s"($x * ${affineA(i)} + ${affineB(i)}) % $P1"

  /** Spark: order-sensitive fold of BIGINT columns (band hash / rolling
    * fingerprint): acc = (acc*131 + v) mod P1, acc_0 = 0.
    */
  def foldHash(vs: Seq[Column]): Column =
    vs.foldLeft(lit(0L): Column)((acc, v) => (acc * 131L + v) % P1)

  /** Scalar step of [[foldHash]]: one value folded into the accumulator. */
  def fold(acc: Long, v: Long): Long = (acc * 131L + v) % P1

  /** DuckDB mirror of [[foldHash]] over SQL fragments. */
  def sqlFoldHash(vs: Seq[String]): String =
    vs.foldLeft("CAST(0 AS BIGINT)")((acc, v) => s"(($acc) * 131 + $v) % $P1")
}
