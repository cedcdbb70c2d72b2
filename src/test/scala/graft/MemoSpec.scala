package graft

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** The build-stage contract: Bench's `build:*` stages are derived from the
  * declared [[Memo]]s, each memo is a function of (session, dir), and a
  * filled memo serves its value without running Spark again.
  */
class MemoSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  /** The stage list as it stood before the stages were derived from the
    * memo declarations: names and order are Bench's and Ab's contract.
    */
  private val ExpectedStages = Seq(
    "build:shingle_stats", "build:inter_counts", "build:jaccard_pairs",
    "build:contain_pairs", "build:minhash_sig", "build:minhash_pairs",
    "build:incremental_sigs", "build:lsh_frame", "build:pq_codebook",
    "build:kmeans_cells", "build:ivf_cell_layout", "build:bpe_table",
    "build:image_hash", "build:image_embed", "build:video_hash",
    "build:audio_hash", "build:word_tok", "build:vocab_stats",
    "build:fuzzy_stats", "build:dsir_doc", "build:qlin_model")

  test("SparkEntry.builds names the 21 build:* stages in their fixed order") {
    assert(SparkEntry.builds.map(_._1) == ExpectedStages)
  }

  test("every staged memo appears once; fuzzy_stats is the one alias") {
    val repeated = SparkEntry.stages.groupBy(_.memo).filter(_._2.size > 1)
    assert(repeated.keySet == Set[Memo[_]](llm.ProfileStats.profiles))
    assert(repeated.values.flatten.map(_.name).toSeq.sorted ==
      Seq("fuzzy_stats", "shingle_stats"))
    // the only other stage not named after its memo: build:incremental_sigs
    // fills the pairs frame built on the minhash_sig memo
    assert(SparkEntry.stages.filter(st => st.name != st.memo.name)
      .map(st => st.name -> st.memo.name) ==
      Seq("incremental_sigs" -> "incremental_pairs", "fuzzy_stats" -> "shingle_stats"))
  }

  test("after every stage ran, each memo serves the same instance without a job [sf0.001]") {
    SparkEntry.builds.foreach { case (_, fill) => fill(spark, sf) }
    val memos = SparkEntry.stages.map(_.memo).distinct
    val first = memos.map(m => m(spark, sf).asInstanceOf[AnyRef])
    val (second, jobs) = jobsDuring(memos.map(m => m(spark, sf).asInstanceOf[AnyRef]))
    memos.indices.foreach { i =>
      assert(first(i) eq second(i), s"${memos(i).name} rebuilt on a second apply")
    }
    assert(jobs == 0, s"$jobs Spark job(s) on already-filled memos")
  }

  test("two dirs in one session get two distinct entries") {
    val built = new AtomicInteger()
    val m = Memo.frame("spec_memo_dirs") { (s, d) =>
      built.incrementAndGet()
      s.range(d.length.toLong).toDF()
    }
    val a = m(spark, "dirA")
    val b = m(spark, "dir-B")
    assert(!(a eq b))
    assert(m(spark, "dirA") eq a)
    assert(built.get == 2)
    assert(a.count() == 4L && b.count() == 5L)
    assert(FrameRegistry.report(spark).collect { case ("spec_memo_dirs", tag, _) => tag }
      .toSet == Set("dirA", "dir-B"))
    FrameRegistry.releaseFamily(spark, "spec_memo_dirs")
  }

  test("a memo whose build reads a second memo fills both") {
    val innerBuilt = new AtomicInteger()
    val inner = Memo.value("spec_inner") { (_, d) => innerBuilt.incrementAndGet(); d.length }
    val outer = Memo.value("spec_outer") { (s, d) => inner(s, d) * 2 }
    // were both memos one ConcurrentHashMap, some of these nested builds
    // would hit a bin the outer build holds and throw "Recursive update"
    val dirs = (0 until 64).map(i => s"/data/corpus-$i")
    dirs.foreach(d => assert(outer(spark, d) == 2 * d.length))
    assert(innerBuilt.get == dirs.size)
    dirs.foreach(d => assert(inner(spark, d) == d.length))
    assert(innerBuilt.get == dirs.size, "the outer build already filled the inner memo")
  }
}
