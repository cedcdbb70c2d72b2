package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[GenScale]] must reproduce the replication contract of
  * `scripts/gen_sf1.py` (r=0 originals intact, re-keyed replicas with
  * referential integrity, flat-df token suffixing, rotated embeddings) —
  * it is what [[Bench]] runs when the gitignored sf1 dir is absent, so a
  * divergence here would silently change what the armed sf1 budget
  * section measures.
  */
class GenScaleSpec extends AnyFunSuite with SparkTestBase {

  private val src = "/root/testdata/sf0.001"
  private val R = 3

  private lazy val dst: String = {
    val d = Files.createTempDirectory("genscale").toString
    GenScale.replicate(spark, src, d, R)
    d
  }

  private def cnt(dir: String, t: String): Long =
    spark.read.parquet(s"$dir/$t.parquet").count()

  test("writes one parquet FILE per table (python-generator layout)") {
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")) {
      val f = new java.io.File(s"$dst/$t.parquet")
      assert(f.isFile, s"$t.parquet must be a single file, not a directory")
    }
  }

  test("dimensions copy as-is; fact tables replicate Rx") {
    assert(cnt(dst, "region") == cnt(src, "region"))
    assert(cnt(dst, "nation") == cnt(src, "nation"))
    for (t <- Seq("customer", "supplier", "part", "orders", "lineitem",
        "events", "documents", "embeddings")) {
      assert(cnt(dst, t) == R * cnt(src, t), s"$t must replicate ${R}x")
    }
  }

  test("replica 0 is the original rows, bit-for-bit") {
    val stride = spark.read.parquet(s"$src/customer.parquet")
      .agg(max("c_custkey")).head().getLong(0) + 1
    val orig = spark.read.parquet(s"$src/customer.parquet")
    val rep0 = spark.read.parquet(s"$dst/customer.parquet")
      .filter(col("c_custkey") < stride)
    assert(rep0.exceptAll(orig).isEmpty && orig.exceptAll(rep0).isEmpty)
  }

  test("referential integrity holds across replicas") {
    val custKeys = spark.read.parquet(s"$dst/customer.parquet")
      .select(col("c_custkey").as("k"))
    val orphans = spark.read.parquet(s"$dst/orders.parquet")
      .join(custKeys, col("o_custkey") === col("k"), "left_anti").count()
    assert(orphans == 0, s"$orphans orders reference missing customers")
    val ordKeys = spark.read.parquet(s"$dst/orders.parquet")
      .select(col("o_orderkey").as("k"))
    val liOrphans = spark.read.parquet(s"$dst/lineitem.parquet")
      .join(ordKeys, col("l_orderkey") === col("k"), "left_anti").count()
    assert(liOrphans == 0, s"$liOrphans lineitems reference missing orders")
  }

  test("documents: replica tokens get the r-suffix, n_chars recomputed") {
    val stride = spark.read.parquet(s"$src/documents.parquet")
      .agg(max("doc_id")).head().getLong(0) + 1
    val origRow = spark.read.parquet(s"$src/documents.parquet")
      .orderBy("doc_id").select("doc_id", "text").head()
    val rep1 = spark.read.parquet(s"$dst/documents.parquet")
      .filter(col("doc_id") === origRow.getLong(0) + stride)
      .select("text", "n_chars").head()
    val expected = origRow.getString(1).replaceAll("(\\S+)", "$1r1")
    assert(rep1.getString(0) == expected,
      "replica-1 text must suffix every whitespace token with 'r1'")
    assert(rep1.getLong(1) == expected.length.toLong,
      "n_chars must be recomputed from the rewritten text")
    // flat df: replica tokens are disjoint from the originals, so the
    // distinct-token count grows ~Rx instead of df^2 pair blowup
    def tokens(dir: String, pred: org.apache.spark.sql.Column) =
      spark.read.parquet(s"$dir/documents.parquet").filter(pred)
        .select(explode(split(col("text"), "\\s+")).as("t"))
        .filter(length(col("t")) > 0).distinct().count()
    val origTokens = tokens(src, lit(true))
    val allTokens = tokens(dst, lit(true))
    assert(allTokens >= (R - 1) * origTokens,
      s"suffixing must keep per-replica token sets disjoint " +
        s"($allTokens distinct across $R replicas vs $origTokens in source)")
  }

  test("embeddings: replica r is the source vector rotated left by r") {
    val stride = spark.read.parquet(s"$src/embeddings.parquet")
      .agg(max("vec_id")).head().getLong(0) + 1
    val orig = spark.read.parquet(s"$src/embeddings.parquet")
      .orderBy("vec_id").select("vec_id", "embedding").head()
    val v = orig.getSeq[Float](1)
    for (r <- 1 until R) {
      val rep = spark.read.parquet(s"$dst/embeddings.parquet")
        .filter(col("vec_id") === orig.getLong(0) + r * stride)
        .select("embedding").head().getSeq[Float](0)
      assert(rep == v.drop(r) ++ v.take(r), s"replica $r must rotate left by $r")
    }
  }
}
