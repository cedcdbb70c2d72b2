package graft.llm

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.functions.MinHash
import graft.streaming.StreamingOps

/** The MinHash signature has one definition with two forms: the Column
  * form behind the batch `dedup_minhash*` band join and the scalar form
  * behind online near-dup. These pin the forms bit-identical over sf0.01
  * (as VecCosineSpec / CellAssignCutoverSpec pin `VectorFns.qcosine`'s
  * forms), and pin that every candidate the streaming operator emits is a
  * pair the batch band join would consider.
  */
class MinHashSpec extends AnyFunSuite with SparkTestBase {

  private val sfDir = "/root/testdata/sf0.01"

  test("scalar slots equal the Column form's (band, bh) rows on every sf0.01 doc") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sfDir).select($"doc_id", $"text")
      .unionAll(Seq((-1L, null: String), (-2L, "two words")).toDF("doc_id", "text"))
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val batch = MinHash.banded(MinHash.signature(LlmQueries.shingleTok(docs)))
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getLong(2))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted).toMap
    assert(texts.size == 502)
    val differ = texts.keys.filter { id =>
      MinHash.slots(texts(id)).map(s => (s.band, s.bh)).sorted != batch.getOrElse(id, Seq.empty)
    }
    assert(differ.isEmpty, s"slots differ on docs ${differ.take(5).mkString(", ")}")
    // every sf0.01 doc has ≥ 3 words: one row per band; the extras none
    assert(batch.size == 500 && batch.values.forall(_.size == MinHash.Bands))
    assert(MinHash.slots(null).isEmpty && MinHash.slots("two words").isEmpty)
  }

  test("streamed near-dup candidates share a bucket in the batch band join") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val rows = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").orderBy($"doc_id").collect()
      .map(r => StreamingOps.Doc(r.getLong(0),
        new Timestamp((1700000000L + r.getLong(0)) * 1000L), r.getString(1)))
    // batch: (doc_id, band) -> bucket over the memoized signatures
    val bucket = MinHash.banded(LlmQueries.minhashSig(spark, sfDir)).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val in = MemoryStream[StreamingOps.Doc]
    val q = StreamingOps.streamNearDupCandidates(in.toDS())
      .writeStream.format("memory").queryName("minhash_stream_cands")
      .outputMode("append").start()
    val got = try {
      val n = rows.length
      for (part <- Seq(rows.slice(0, n / 3), rows.slice(n / 3, 2 * n / 3),
          rows.slice(2 * n / 3, n))) {
        in.addData(part.toIndexedSeq)
        q.processAllAvailable()
      }
      spark.table("minhash_stream_cands").as[StreamingOps.DupCandidate].collect()
    } finally q.stop()
    info(s"${got.length} streamed candidates over ${rows.length} docs")
    assert(got.nonEmpty, "sf0.01 has near-duplicates; the stream must flag some")
    val foreign = got.filter(c =>
      bucket((c.doc_id, c.band)) != bucket((c.dup_of, c.band)))
    assert(foreign.isEmpty, s"not a batch band-join pair: ${foreign.take(5).mkString(", ")}")
    // in event-time order each bucket's first claimant is its min doc_id,
    // so the stream emits exactly (doc, min doc of the bucket, band) for
    // every other doc of every shared bucket (no two sf0.01 bands with
    // different minima share a band hash)
    val expected = bucket.toSeq.groupBy { case ((_, band), bh) => (band, bh) }
      .toSeq.flatMap { case ((band, _), members) =>
        val ids = members.map(_._1._1)
        ids.filter(_ != ids.min).map(id => StreamingOps.DupCandidate(id, ids.min, band))
      }.toSet
    assert(got.toSet == expected)
  }

  test("a band-hash collision between differing minima is not an online hit") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    // birthday search over five-word texts (three trigrams each) for two
    // whose slot in some band has the same bh but different minima: bh is
    // reduced mod P1 (~2^30), so ~16k texts × 8 bands give one collision.
    // (A one-trigram text's bh is an affine function of its one shingle
    // hash, so those only collide when the shingles do.)
    val seen = scala.collection.mutable.HashMap.empty[(Int, Long), (String, Seq[Long])]
    val found = Iterator.range(0, 200000).map(i => s"alpha$i beta$i gamma$i delta$i epsilon$i")
      .flatMap { t =>
        MinHash.slots(t).flatMap { s =>
          seen.get((s.band, s.bh)) match {
            case Some((u, mins)) if mins != s.mins => Some((u, t, s.band))
            case _ => seen((s.band, s.bh)) = (t, s.mins); None
          }
        }
      }.nextOption()
    assert(found.isDefined, "no band-hash collision among 200k texts")
    val (textA, textB, band) = found.get
    info(s"'$textA' and '$textB' share band $band's hash")
    val t0 = new Timestamp(1700000000000L)
    val t1 = new Timestamp(1700000001000L)
    // the batch band join pairs them (its est_jac filter then drops them)
    val docs = Seq((1L, textA), (2L, textB)).toDF("doc_id", "text")
    val pairedBands = MinHash.banded(MinHash.signature(LlmQueries.shingleTok(docs)))
      .groupBy($"band", $"bh").count().filter($"count" === 2)
      .select($"band").as[Int].collect().toSeq
    assert(pairedBands == Seq(band))
    // the keyed-state operator does not
    val in = MemoryStream[StreamingOps.Doc]
    val q = StreamingOps.streamNearDupCandidates(in.toDS())
      .writeStream.format("memory").queryName("minhash_collision_cands")
      .outputMode("append").start()
    try {
      in.addData(StreamingOps.Doc(1L, t0, textA))
      q.processAllAvailable()
      in.addData(StreamingOps.Doc(2L, t1, textB))
      q.processAllAvailable()
      assert(spark.table("minhash_collision_cands").count() == 0)
    } finally q.stop()
    // nor does the curation claim table: both docs survive resolveFinal
    val kept = Seq((1L, t0, textA), (2L, t1, textB)).toDF("doc_id", "ts", "text")
    val claims = Seq((1L, t0, textA), (2L, t1, textB)).flatMap { case (id, ts, text) =>
      MinHash.slots(text).map(s => (s.band, s.bh, s.mins(0), s.mins(1), s.mins(2), s.mins(3), ts, id))
    }.toDF("band", "sig", "m0", "m1", "m2", "m3", "ts", "doc_id")
    val st = StreamingCuration.emptyState(spark).copy(claims = claims)
    assert(StreamingCuration.resolveFinal(kept, st).select($"doc_id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L))
  }
}
