package graft.llm

import graft.{SparkEntry, SparkTestBase}
import org.scalatest.funsuite.AnyFunSuite

/** Connected components: the star contraction's O(log n) convergence on the
  * graph shape that defeats label propagation (a long path), its agreement
  * with a driver union-find on random graphs and with the registered
  * clustering queries on the real near-dup graph, and the entry point's
  * cutover — equal labels on both sides of the driver cap, and a 2-job
  * driver path for `dedup_minhash_cluster`.
  */
class ScaleDedupSpec extends AnyFunSuite with SparkTestBase {

  private def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def frame(edges: Seq[(Long, Long)]) = {
    import spark.implicits._
    edges.toDF("a", "b")
  }

  private def cc(edges: Seq[(Long, Long)], maxRounds: Int = 50): Map[Long, Long] =
    labels(ScaleDedup.starContraction(frame(edges), maxRounds))

  private val path = (0L until 128L).map(i => (i, i + 1))

  private def randomGraph(seed: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(200)((rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
      .filter { case (a, b) => a != b }
  }

  test("high-diameter path collapses in O(log n) rounds, not O(diameter)") {
    // path 0-1-…-128: label propagation needs 128 rounds; star contraction
    // must finish within 15 double-rounds or the labels come out wrong
    val got = cc(path, maxRounds = 15)
    assert(got.keySet == (0L to 128L).toSet)
    assert(got.values.forall(_ == 0L))
  }

  test("random graphs agree with a driver union-find") {
    val edges = randomGraph(42)
    // reference union-find
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      parent(x) = r; r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    // min-root canonical labels (union-find roots are min by construction
    // of the merge rule above)
    val nodes = edges.flatMap(t => Seq(t._1, t._2)).distinct
    val expected = nodes.map(n => n -> find(n)).toMap
    assert(cc(edges) == expected)
  }

  test("the entry point labels like the star contraction on both sides of the cap") {
    // self-loops and a reversed duplicate ride along: both paths ignore the
    // first and dedupe the second
    val graphs = Seq(path, randomGraph(42), randomGraph(7),
      randomGraph(7) ++ Seq((5L, 5L), (301L, 301L), (2L, 1L), (1L, 2L)))
    graphs.foreach { edges =>
      val reference = cc(edges)
      assert(reference.nonEmpty)
      for (cap <- Seq(0L, edges.size.toLong - 1, edges.size.toLong, Long.MaxValue))
        assert(labels(ScaleDedup.connectedComponents(frame(edges), cap)) == reference,
          s"cap $cap on ${edges.size} pairs")
    }
  }

  test("the driver pair cap is a quarter of the heap at the measured bytes per pair") {
    val perPair = ScaleDedup.DriverBytesPerPair
    assert(ScaleDedup.driverPairCap(0L) == 0L)
    assert(ScaleDedup.driverPairCap(4 * perPair - 1) == 0L)
    assert(ScaleDedup.driverPairCap(4 * perPair) == 1L)
    val gib = 1L << 30
    assert(ScaleDedup.driverPairCap(8 * gib) == 8 * gib / 4 / perPair)
    // monotone in the heap, and far below the old fixed 100M-pair cap on
    // the 3-8 GiB drivers it used to exhaust
    assert(ScaleDedup.driverPairCap(3 * gib) < ScaleDedup.driverPairCap(8 * gib))
    assert(ScaleDedup.driverPairCap(8 * gib) * perPair <= 2 * gib)
  }

  test("dedup_minhash_cluster runs at most 2 jobs once the pair memo is filled") {
    val sf = "/root/testdata/sf0.001"
    val q = SparkEntry.queries("dedup_minhash_cluster")
    val cold = q(spark, sf).collect() // fills the minhash_pairs memo
    val (warm, jobs) = jobsDuring(q(spark, sf))
    assert(jobs <= 2, s"$jobs jobs in the warm builder")
    assert(warm.collect().toSeq == cold.toSeq)
    assert(cold.nonEmpty)
  }

  test("star contraction agrees with the registered clustering queries") {
    val sf = "/root/testdata/sf0.001"
    val viaUnionFind = SparkEntry.queries("dedup_cluster")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    import org.apache.spark.sql.functions.col
    val pairs = LlmQueries.jaccardPairs(graft.Tables.documents(spark, sf), 0.5)
      .select(col("a_id"), col("b_id"))
    val viaStars = ScaleDedup.starContraction(pairs)
      .orderBy(col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaStars == viaUnionFind.sortBy(_._1))
    assert(viaStars.nonEmpty)
  }
}
