package graft.llm

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.functions.VectorFns

/** The K-cutover for IVF/SemDeDup cell assignment (VERDICT r9 #1): past
  * [[VectorIndex.CellAssignJoinCutover]] centroids the literal-array
  * argmax (K plan literals, K×dim Lloyd collect) gives way to frame-held
  * centroids + a pruned join through a coarse quantizer, with a fully
  * distributed Lloyd update. These specs pin:
  *
  *  1. the join path is ROW-IDENTICAL to the literal path when the probe
  *     covers every coarse group (same Double op order, same tie-break) —
  *     the parity contract that lets the two physical paths share one
  *     semantic definition;
  *  2. the distributed floor-mean Lloyd round reproduces the driver-side
  *     arithmetic bit-for-bit and, like the driver round and the oracle,
  *     drops a cell that lost every member;
  *  3. a seed that duplicates a smaller seed (its cell empties in the
  *     Lloyd round) leaves the two paths row-identical;
  *  4. a synthetic high-K corpus (K ≫ a forced cutover) runs end-to-end
  *     through the frame path and still delivers SemDeDup's planted-
  *     cluster semantics under genuine pruning (probe < coarse groups).
  */
class CellAssignCutoverSpec extends AnyFunSuite with SparkTestBase {

  private def plantedEq(nClusters: Int, perCluster: Int): DataFrame = {
    val d = Files.createTempDirectory(s"cellassign-$nClusters").toString
    PlantedEmbeddings.write(spark, d, nClusters = nClusters,
      perCluster = perCluster)
    spark.read.parquet(s"$d/embeddings.parquet")
      .select(col("vec_id"), VectorFns.quantize(col("embedding")).as("v"))
      .withColumn("n2", VectorFns.qnorm2(col("v")))
  }

  /** `eq` with vec_id `twin` given the exact vector of vec_id `of`. */
  private def withTwin(eq: DataFrame, twin: Long, of: Long): DataFrame = {
    val v = eq.filter(col("vec_id") === of).select(col("v")).head().getSeq[Long](0)
    eq.withColumn("v", when(col("vec_id") === twin, typedLit(v)).otherwise(col("v")))
      .withColumn("n2", VectorFns.qnorm2(col("v")))
  }

  test("pruned-join assignment is row-identical to the literal path at full probe") {
    val eq = plantedEq(50, 20)
    val k = 40
    val cents = VectorIndex.centroids(eq, k)
    val centDf = VectorIndex.centroidFrame(spark, cents)
    val literal = VectorIndex.assignCells(eq, cents)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // probe = k covers every coarse group (K1 = ceil(sqrt(40)) = 7)
    val joined = VectorIndex.assignCellsJoin(eq, centDf, k, probe = k)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(joined.size == literal.size)
    val diff = literal.count { case (id, c) => joined(id) != c }
    assert(diff == 0, s"$diff of ${literal.size} assignments diverge")
  }

  test("coarse_probe codegen expression is row-identical to the retired UDF") {
    import org.apache.spark.sql.graftbridge.Bridge
    val eq = plantedEq(30, 10)
    val cents = VectorIndex.centroids(eq, 25)
    val coarse = cents.map { case (cid, cv) =>
      (cid, cv, cv.map(x => x * x).sum)
    }.sortBy(_._1).toArray
    val bcTuples = spark.sparkContext.broadcast(coarse)
    val bcPacked = spark.sparkContext.broadcast(
      graft.functions.CoarseProbeKernel.pack(coarse))
    for (probe <- Seq(1, 3, coarse.length)) {
      val viaUdf = eq.select(col("vec_id"),
          VectorIndex.probeUdf(bcTuples, probe)(col("v"), col("n2")).as("g"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
      val viaExpr = eq.select(col("vec_id"),
          Bridge.column(graft.functions.CoarseProbe(
            Bridge.expression(col("v")), Bridge.expression(col("n2")),
            bcPacked, probe)).as("g"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
      assert(viaExpr == viaUdf, s"probe=$probe: expression diverges from UDF")
    }
  }

  test("distributed Lloyd round matches driver floor-mean arithmetic") {
    val eq = plantedEq(50, 20)
    val k = 32
    val cents = VectorIndex.centroids(eq, k)
    // driver-side expected: literal assignment + floor(sum/count) per
    // (cell, pos), and a cell left without members is dropped — the
    // arithmetic and the rule of VectorIndex.lloydRound and the oracle
    val asn = VectorIndex.assignCells(eq, cents)
      .select(col("cell"), col("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    val expected = cents.flatMap { case (cid, old) =>
      val members = asn.filter(_._1 == cid).map(_._2)
      if (members.isEmpty) scala.None
      else {
        val dim = old.length
        Some((cid, Array.tabulate(dim) { p =>
          math.floor(members.map(_(p)).sum.toDouble / members.length).toLong
        }))
      }
    }.toMap
    val trained = VectorIndex.lloydRoundFrame(eq,
        VectorIndex.centroidFrame(spark, cents), k, probe = k)
      .select(col("cid"), col("cv")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).toMap
    val driver = VectorIndex.lloydRound(eq, cents).toMap
    assert(trained.keySet == expected.keySet)
    assert(driver.keySet == expected.keySet)
    expected.foreach { case (cid, ev) =>
      assert(trained(cid).sameElements(ev), s"centroid $cid drifted")
      assert(driver(cid).sameElements(ev), s"driver centroid $cid drifted")
    }
  }

  /** `semanticDedupFrame` returns the same rows through the literal path
    * and through the cutover path at full probe, K = 20.
    */
  private def assertCutoverParity(eq: DataFrame) = {
    val targetPop = 50L // K = 20 — small enough to compare exhaustively
    val literal = LlmQueries.semanticDedupFrame(eq, 0.4, None, targetPop)
      .orderBy(col("vec_id")).collect().map(_.toSeq)
    val joined = LlmQueries.semanticDedupFrame(eq, 0.4, None, targetPop,
        assignCutover = 1, assignProbe = Int.MaxValue)
      .orderBy(col("vec_id")).collect().map(_.toSeq)
    assert(literal.length == joined.length)
    val diff = literal.zip(joined).count { case (a, b) => a != b }
    assert(diff == 0, s"$diff of ${literal.length} rows differ across the cutover")
  }

  test("semanticDedupFrame parity across the cutover at full probe") {
    val eq = plantedEq(50, 20).persist()
    assertCutoverParity(eq)
    eq.unpersist()
  }

  test("semanticDedupFrame parity across the cutover when a seed duplicates a smaller seed") {
    // vec_id 1 carries vec_id 0's exact vector: every assignment tie goes
    // to the smaller cid, so cell 1 loses all its members in the Lloyd
    // round. Both rounds must drop it; a round that kept its stale
    // centroid pulls rows into cell 1 on the final assignment (22 of the
    // 1,000 rows differ when the frame round keeps emptied cells).
    val eq = withTwin(plantedEq(50, 20), twin = 1L, of = 0L).persist()
    assert(eq.count() == 1000L)
    assertCutoverParity(eq)
    eq.unpersist()
  }

  test("high-K corpus through the cutover path under genuine pruning") {
    // K = 200 derived cells, forced cutover at 64, probe 8 < K1 = 15:
    // the pruned join really prunes. SemDeDup semantics must survive:
    // dups point backwards at same-cluster twins and most of the
    // 19-per-cluster redundancy goes.
    val eq = plantedEq(100, 20).persist()
    val out = LlmQueries.semanticDedupFrame(eq, 0.4, None,
        targetCellPop = 10L, assignCutover = 64, assignProbe = 8)
      .collect()
    assert(out.length == 2000)
    val dups = out.filter(_.getBoolean(2))
    info(s"high-K cutover path: ${dups.length} of 2000 marked dup")
    assert(dups.length >= 1500, s"only ${dups.length} dups found")
    assert(dups.forall(r => r.getLong(3) < r.getLong(0)),
      "a dup_of does not precede its duplicate")
    // cross-cluster collapse stays rare (planted inter-cosine ≈ 0)
    val label = (id: Long) => id % 100
    val crossLabel = dups.count(r => label(r.getLong(0)) != label(r.getLong(3)))
    assert(crossLabel <= dups.length / 10,
      s"$crossLabel of ${dups.length} dups cross planted clusters")
    eq.unpersist()
  }
}
