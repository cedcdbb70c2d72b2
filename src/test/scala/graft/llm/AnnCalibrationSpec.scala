package graft.llm

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** ANN calibration on the planted-cluster fixture ([[PlantedEmbeddings]]) —
  * the positive control the isotropic driver fixture can't provide. The
  * registry's recall/IVF queries run UNCHANGED against the fixture dir (same
  * `$dir/embeddings.parquet` contract), so what's asserted here is the
  * behavior of the shipped operators, not of test-only code paths:
  *
  *  - `sim_ann_recall_curve`: recall@10 must be monotone in probe radius and
  *    reach ≥ 0.8 within radius 2 (22 of 64 cells) — on clustered data the
  *    Hamming ball around the query cell captures the cluster.
  *  - `sim_ann_ivf_kmeans`: the Lloyd-refined index must retrieve the query
  *    vector's own planted cluster (≥ 8 of top-10 share its label) — the
  *    end-to-end "the index finds true neighbors" check.
  */
class AnnCalibrationSpec extends AnyFunSuite with SparkTestBase {

  private lazy val dir: String = {
    val d = Files.createTempDirectory("planted-emb").toString
    PlantedEmbeddings.write(spark, d)
    d
  }

  private def query(name: String) =
    LlmQueries.queries.find(_.name == name)
      .getOrElse(fail(s"$name not registered")).fn(spark, dir)

  test("recall curve is monotone in probe radius and reaches 0.8 by radius 2") {
    val rows = query("sim_ann_recall_curve").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    info(s"planted-fixture recall curve (radius, cells, hits, recall): ${rows.toSeq}")
    assert(rows.map(_._1).toSeq == Seq(0, 1, 2))
    val recalls = rows.map(_._4).toSeq
    assert(recalls == recalls.sorted,
      s"recall must be monotone in probe radius: $recalls")
    assert(recalls.last >= 0.8,
      s"radius-2 recall ${recalls.last} < 0.8 on planted clusters — " +
        "bucketing is not capturing neighborhood structure")
  }

  test("kmeans-seeded IVF retrieves the query's planted cluster") {
    val rows = query("sim_ann_ivf_kmeans").collect()
    assert(rows.length == 10, s"expected top-10, got ${rows.length}")
    // vec_id 1 (the query) is in cluster 1 % 50 = 1
    val own = rows.count(_.getInt(1) == 1)
    assert(own >= 8,
      s"only $own of top-10 from the query's planted cluster — " +
        "refined centroids are not separating the clusters")
    // the query itself must be its own nearest neighbor (cos = 1)
    val first = rows.head
    assert(first.getLong(0) == 1L && math.abs(first.getDouble(3) - 1.0) < 1e-9)
  }

  test("ADC search over PQ codes retrieves the query's planted cluster") {
    // Coarse codebook (16 codewords/subspace from the first 16 vectors,
    // one per planted cluster): a cluster member's subvectors code to its
    // own cluster's codeword, so ADC distance separates cluster 1 from the
    // rest even though the scan reads 64-bit codes, not embeddings. A
    // broken assignment (e.g. positional instead of value-keyed LUT)
    // collapses this to arbitrary labels.
    val rows = query("sim_ann_adc").collect()
    assert(rows.length == 10)
    val own = rows.count(_.getInt(1) == 1)
    assert(own >= 8,
      s"only $own of ADC top-10 from the query's planted cluster — " +
        "PQ codes are not preserving neighborhood structure")
  }

  test("composed IVF-PQ search retrieves the query's planted cluster") {
    // the production path: coarse-quantize to 2 of 16 probed cells, then
    // ADC-score only those cells' codes. On planted data the query's cell
    // concentrates its cluster, so pruning ~7/8 of the corpus must NOT
    // cost the true neighbors.
    val rows = query("sim_ann_ivf_pq").collect()
    assert(rows.length == 10)
    val own = rows.count(_.getInt(1) == 1)
    assert(own >= 8,
      s"only $own of IVF-PQ top-10 from the query's planted cluster — " +
        "cell routing or ADC scoring lost the true neighbors")
  }

  test("PQ self-encoding is exact for codebook vectors") {
    // vectors with vec_id < 16 ARE the codebook: their own subvectors are
    // codewords, so reconstruction error must be exactly 0 and codes must
    // be their own vec_id in every subspace
    val rows = query("embedding_pq").collect()
      .filter(_.getLong(0) < 16)
    assert(rows.length == 16)
    rows.foreach { r =>
      val id = r.getLong(0).toInt
      // codes is the canonical '_'-joined string (round-7 scalar surface)
      val codes = r.getString(1).split("_").map(_.toInt).toSeq
      assert(codes.length == 8 && codes.forall(_ == id), s"codes of $id: $codes")
      assert(r.getLong(2) == 0L, s"nonzero self reconstruction err for $id")
    }
  }

  test("Lloyd-trained codebook cuts quantization error; ADC recall holds") {
    import org.apache.spark.sql.functions.{col, sum}
    // training's objective IS total reconstruction error — one Lloyd round
    // from the cold-start codebook must strictly reduce it on clustered
    // data (floor-rounding can only nibble at the margin, not erase a
    // planted-cluster-sized win)
    val eq = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("label"),
        graft.functions.VectorFns.quantize(col("embedding")).as("v"))
    def totalErr(cb: VectorIndex.Codebook): Long =
      VectorIndex.encode(eq, cb).agg(sum(col("err"))).head().getLong(0)
    val errCold = totalErr(VectorIndex.codebook(eq))
    val errTrained = totalErr(VectorIndex.trainCodebook(eq, rounds = 1))
    info(s"total PQ reconstruction err: cold=$errCold trained=$errTrained " +
      f"(${100.0 * (errCold - errTrained) / errCold}%.1f%% lower)")
    assert(errTrained < errCold,
      s"Lloyd round did not reduce quantization error: $errTrained >= $errCold")
    // and the trained index must retrieve the planted cluster at least as
    // well as the cold-start one the earlier test pins at >= 8/10
    val ownCold = query("sim_ann_adc").collect().count(_.getInt(1) == 1)
    val ownTrained = query("sim_ann_adc_trained").collect().count(_.getInt(1) == 1)
    info(s"ADC top-10 from query's cluster: cold=$ownCold trained=$ownTrained")
    assert(ownTrained >= ownCold,
      s"trained-codebook ADC recall $ownTrained/10 below cold-start $ownCold/10")
  }

  test("residual IVF-PQ retrieves the planted cluster at least as well as raw") {
    // residuals are smaller-variance than raw vectors, so the same
    // codebook budget quantizes them with less error — recall must not
    // regress vs the raw-encoding variant
    val ownRaw = query("sim_ann_ivf_pq").collect().count(_.getInt(1) == 1)
    val rows = query("sim_ann_ivf_pq_residual").collect()
    assert(rows.length == 10)
    val ownRes = rows.count(_.getInt(1) == 1)
    info(s"IVF-PQ top-10 from query's cluster: raw=$ownRaw residual=$ownRes")
    assert(ownRes >= 8,
      s"only $ownRes of residual IVF-PQ top-10 from the query's planted cluster")
    assert(ownRes >= ownRaw,
      s"residual encoding lost recall: $ownRes/10 < raw $ownRaw/10")
  }

  test("single-probe recall on planted data beats the isotropic coverage floor") {
    // On isotropic data, recall at radius r ≈ cells probed / 64 (the
    // sim_ann_recall diagnosis) — 0.016 at radius 0. On planted clusters the
    // query cell concentrates the query's own cluster, so single-cell recall
    // must sit an order of magnitude above that floor. (It is NOT expected
    // to approach 1: at σ=0.05 each of the 6 planes splits a neighbor pair
    // with p ≈ 0.17, so only ~(1−p)⁶ ≈ 1/3 of true neighbors share the
    // exact cell — that mass moves into the Hamming-1/2 shells, which is
    // what the curve test asserts.)
    val r0 = query("sim_ann_recall_curve").collect()
      .find(_.getInt(0) == 0).get.getDouble(3)
    assert(r0 >= 0.3, s"radius-0 recall $r0 — below 20× the 0.016 isotropic " +
      "coverage floor; the query cell lost its planted cluster")
  }
}
