package graft.functions

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Properties of the cross-engine hash family (CrossHash): the Spark
  * column expression must equal a plain-JVM reference fold (the same
  * arithmetic the DuckDB oracle fragments run), the affine family must be
  * well-formed, and the rolling fold must be order-sensitive.
  */
class CrossHashSpec extends AnyFunSuite with SparkTestBase {

  /** Reference JVM implementation of the char-polynomial hash. */
  private def refWordHash(w: String, base: Long = 131L, p: Long = CrossHash.P1): Long =
    w.foldLeft(0L)((a, c) => (a * base + c.toInt) % p)

  test("wordHash column equals the reference fold on arbitrary BMP strings") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    // BMP below the surrogate range: Spark split(w,"") yields one char per
    // codepoint there, matching DuckDB string_split + unicode()
    val charGen = Gen.frequency(
      8 -> Gen.alphaNumChar, 2 -> Gen.oneOf(' ', '.', ',', 'é', 'ß', '中'),
      1 -> Gen.choose(0x20.toChar, 0x7e.toChar))
    val gen = Gen.nonEmptyListOf(charGen).map(_.mkString)
    val words = (0 until 60).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong))).distinct
    val got = words.toDF("w")
      .select($"w", CrossHash.wordHash($"w").as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    words.foreach { w =>
      assert(got(w) == refWordHash(w), s"mismatch for '$w'")
    }
  }

  test("wordHash stays in [0, P) and second base diverges from the first") {
    import spark.implicits._
    val words = Seq("alpha", "beta", "gamma delta", "x")
    val rows = words.toDF("w").select(
      CrossHash.wordHash($"w").as("h1"),
      CrossHash.wordHash($"w", 137L, CrossHash.P2).as("h2")).collect()
    rows.foreach { r =>
      assert(r.getLong(0) >= 0 && r.getLong(0) < CrossHash.P1)
      assert(r.getLong(1) >= 0 && r.getLong(1) < CrossHash.P2)
    }
    assert(rows.map(_.getLong(0)).toSeq != rows.map(_.getLong(1)).toSeq,
      "independent bases should produce different hash sequences")
  }

  test("affine family: distinct parameters per index, results in [0, P)") {
    val as = (0 until 64).map(CrossHash.affineA)
    val bs = (0 until 64).map(CrossHash.affineB)
    assert(as.distinct.size == 64, "affine multipliers must be distinct")
    assert(bs.distinct.size == 64, "affine offsets must be distinct")
    assert(as.forall(a => a > 0 && a < CrossHash.P1))
    assert(bs.forall(b => b >= 0 && b < CrossHash.P1))
    // closed-form check against the column expression
    import spark.implicits._
    val x = 123456789L
    val got = Seq(x).toDF("x")
      .select(CrossHash.affine(7, $"x").as("h")).head().getLong(0)
    assert(got == (x * CrossHash.affineA(7) + CrossHash.affineB(7)) % CrossHash.P1)
  }

  test("sampled-scan membership hash equals poly_hash % 100 (the SQL claim)") {
    import spark.implicits._
    val keys = (0 until 50).map(i => f"doc_$i%08d") ++ Seq("", "k", "密钥x")
    val viaExpr = keys.toDF("k")
      .select($"k", (CrossHash.wordHash($"k") % 100).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1).toInt).toMap
    keys.foreach { k =>
      assert(graft.sources.shardpack.ShardpackDataSource.keyHashPct(k) == viaExpr(k),
        s"membership mismatch for '$k'")
    }
  }

  test("foldHash is order-sensitive and matches its SQL-side definition") {
    import spark.implicits._
    val df = Seq((3L, 5L, 7L)).toDF("a", "b", "c")
    val fwd = df.select(CrossHash.foldHash(Seq($"a", $"b", $"c"))).head().getLong(0)
    val rev = df.select(CrossHash.foldHash(Seq($"c", $"b", $"a"))).head().getLong(0)
    assert(fwd != rev, "fold must be order-sensitive")
    val expected = Seq(3L, 5L, 7L).foldLeft(0L)((acc, v) => (acc * 131 + v) % CrossHash.P1)
    assert(fwd == expected)
  }
}
