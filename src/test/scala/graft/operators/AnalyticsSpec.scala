package graft.operators

import graft.{SparkEntry, SparkTestBase}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the round-3 analytics operators that the DuckDB hash-match
  * can't express: sketch one-sidedness, sampling quotas, bloom-vs-exact
  * equivalence, fill semantics, and the distributed-vs-driver clustering
  * equality.
  */
class AnalyticsSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("count-min estimates never underestimate (one-sided error)") {
    val rows = run("agg_count_min").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getAs[Long]("exact_cnt")
      val est = r.getAs[Long]("est")
      assert(est >= exact, s"suppkey ${r.get(0)}: est $est < exact $exact")
    }
  }

  test("stratified sample takes exactly ceil(n/5) per stratum, deterministically") {
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    val expected = cust.groupBy("c_mktsegment").count().collect()
      .map(r => r.getString(0) -> (r.getLong(1) + 4) / 5).toMap
    val got = run("sample_stratified").groupBy("c_mktsegment").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected)
    // seeded hash ⇒ identical membership across runs
    val a = run("sample_stratified").collect().map(_.getLong(0)).toSeq
    val b = run("sample_stratified").collect().map(_.getLong(0)).toSeq
    assert(a == b)
  }

  test("bloom-filtered join returns exactly the unfiltered join result") {
    val plain = spark.read.parquet(s"$sf/lineitem.parquet")
      .join(spark.read.parquet(s"$sf/orders.parquet")
        .filter(col("o_totalprice") > 480000),
        col("l_orderkey") === col("o_orderkey"))
      .select("l_orderkey", "l_linenumber", "o_totalprice")
      .orderBy("l_orderkey", "l_linenumber")
      .collect()
    val bloomed = run("join_bloom").collect()
    assert(bloomed.toSeq == plain.toSeq)
  }

  test("histogram buckets partition the table and bound their extrema") {
    val rows = run("agg_histogram").collect()
    val total = spark.read.parquet(s"$sf/orders.parquet").count()
    assert(rows.map(_.getAs[Long]("cnt")).sum == total)
    rows.foreach { r =>
      val b = r.getAs[Long]("bucket")
      val lo = r.getAs[Double]("lo")
      val hi = r.getAs[Double]("hi")
      assert(lo <= hi)
      // bucket = cents div 5e6 ⇒ [b*50000, (b+1)*50000) dollars
      assert(lo >= b * 50000.0 - 0.01 && hi < (b + 1) * 50000.0)
    }
  }

  test("ts_resample emits a dense grid with forward-filled values") {
    val rows = run("ts_resample").collect()
    assert(rows.length == 3 * 720) // 3 users × 30 days × 24 h
    rows.groupBy(_.getAs[Long]("user_id")).foreach { case (_, rs) =>
      var seen = false
      rs.sortBy(_.getAs[java.sql.Timestamp]("hr").getTime).foreach { r =>
        val n = r.getAs[Long]("n")
        if (n > 0) seen = true
        val filled = !r.isNullAt(r.fieldIndex("v_fill"))
        // null only before the first observed hour; non-null ever after
        assert(filled == seen, s"fill/seen mismatch at $r")
      }
    }
  }

  test("funnel conversions never exceed views") {
    run("events_funnel").collect().foreach { r =>
      assert(r.getAs[Long]("n_conv") <= r.getAs[Long]("n_views"))
    }
  }

  test("distributed star contraction equals the driver union-find clustering") {
    val a = run("dedup_cluster").collect().map(r => (r.getLong(0), r.getLong(1)))
    val b = run("dedup_cluster_dist").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a.toSeq == b.toSeq)
    assert(a.nonEmpty)
  }

  test("bottom-k sample is deterministic, k-sized, and hash-ordered") {
    val a = run("sample_bottomk").collect()
    val b = run("sample_bottomk").collect()
    assert(a.length == 100 && a.toSeq == b.toSeq)
    val hvs = a.map(_.getAs[Long]("hv"))
    assert(hvs.sameElements(hvs.sorted))
  }

  test("approx percentiles stay within the exact p25..p100 band per group") {
    // raw estimates computed directly — the registry query's checked
    // surface is now (cnt, rank-contract booleans)
    val approx = spark.read.parquet(s"$sf/lineitem.parquet")
      .groupBy("l_returnflag")
      .agg(expr("percentile_approx(l_quantity, 0.5, 1000)").as("a50"),
        expr("percentile_approx(l_quantity, 0.9, 1000)").as("a90"))
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val contract = run("agg_approx_percentile").collect()
    assert(contract.nonEmpty)
    contract.foreach(r => assert(r.getBoolean(2) && r.getBoolean(3),
      s"${r.getString(0)}: approx-percentile rank contract false"))
    val exact = spark.read.parquet(s"$sf/lineitem.parquet")
      .groupBy("l_returnflag")
      .agg(expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_quantity, 0.9)").as("p90"),
        expr("min(l_quantity)").as("lo"), expr("max(l_quantity)").as("hi"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toMap
    approx.foreach { case (k, (a50, a90)) =>
      val (e50, e90, lo, hi) = exact(k)
      assert(a50 >= lo && a50 <= hi && a90 >= lo && a90 <= hi)
      // accuracy=1000 on ≤50-value domains is near-exact; allow a loose band
      assert(math.abs(a50 - e50) <= 5.0, s"$k p50 $a50 vs $e50")
      assert(math.abs(a90 - e90) <= 5.0, s"$k p90 $a90 vs $e90")
    }
  }

  test("knn join: each query gets 3 neighbors matching a brute-force rescore") {
    val got = run("sim_knn_join").collect()
      .groupBy(_.getAs[Long]("q_id")).view.mapValues(
        _.sortBy(_.getAs[Int]("rk")).map(_.getAs[Long]("n_id")).toSeq).toMap
    got.values.foreach(ns => assert(ns.length == 3))
    // brute-force reference on the collected vectors (double cosine ranking
    // agrees with the fixed-point ranking at these magnitudes)
    import spark.implicits._
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect().toMap
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    got.foreach { case (q, ns) =>
      val expected = vecs.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, cos(vecs(q), v)) }
        .sortBy { case (id, c) => (-c, id) }.take(3).map(_._1)
      assert(ns == expected, s"query $q")
    }
  }

  test("keep-set is the canonical-copy subset passing every quality gate") {
    val kept = run("pipeline_keepset").collect().map(_.getLong(0)).toSet
    val quality = run("quality_score").collect()
      .map(r => r.getLong(0) -> (r.getAs[Int]("n_words"), r.getAs[Double]("punct_ratio"),
        r.getAs[Double]("stop_ratio"))).toMap
    val canon = run("dedup_exact").collect().map(_.getAs[Long]("keep_id")).toSet
    val expected = quality.collect {
      case (id, (w, p, st)) if canon(id) && w >= 20 && w <= 400 && p <= 0.1 && st >= 0.02 => id
    }.toSet
    assert(kept == expected)
    assert(kept.nonEmpty)
  }

  test("decontaminate_spans finds every doc sharing a 5-token span with the benchmark set") {
    // brute-force reference: materialize raw 5-token spans as STRINGS (not
    // hashes) and intersect — catches both hash-formula drift and misses
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .as[(Long, Seq[String])].collect()
    val spans = docs.map { case (id, ws) =>
      id -> ws.sliding(5).filter(_.length == 5).map(_.mkString(" ")).toSeq
    }
    val bench = spans.filter(_._1 < 10).flatMap(_._2).toSet
    val expected = spans.filter(_._1 >= 10)
      .map { case (id, ss) => id -> ss.count(bench.contains) }
      .filter(_._2 > 0).toMap
    val got = run("decontaminate_spans").collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_hits")).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (id, n) => assert(n == expected(id), s"doc $id") }
  }
}
