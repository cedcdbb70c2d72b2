package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.functions.MinHash

/** End-to-end streaming curation (VERDICT r9 #4): the epoch kernel must
  * make micro-batch splits invisible — the union of per-epoch kept sets
  * over an event-time-ordered replay equals the one-shot batch run — and
  * its near-dup claim table must agree with the keyed-state
  * `streamNearDupCandidates` operator, whose band arithmetic it shares.
  */
class StreamingCurationSpec extends AnyFunSuite with SparkTestBase {

  private lazy val docs: DataFrame =
    graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"),
        timestamp_seconds(lit(1700000000L) + col("doc_id")).as("ts"),
        col("text"), col("source"))

  private lazy val model: StreamingCuration.Model =
    StreamingCuration.freeze(
      docs.select(col("doc_id"), col("text")),
      docs.filter(col("source") === "src0").select(col("doc_id"), col("text")))

  private def input: DataFrame = docs.select(col("doc_id"), col("ts"), col("text"))

  private lazy val oneShotKept: Set[Long] = {
    val (kept, st) = StreamingCuration.epoch(input,
      StreamingCuration.emptyState(spark), model)
    val ids = kept.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    kept.unpersist(); st.claims.unpersist(); st.seen.unpersist()
    ids
  }

  test("epoch-split replay reproduces the one-shot kept set; state stays bounded") {
    val n = docs.count()
    val cuts = Seq(n / 3, 2 * n / 3, n + 1)
    var st = StreamingCuration.emptyState(spark)
    var streamed = Set.empty[Long]
    var lo = -1L
    for (hi <- cuts) {
      val batch = input.filter(col("doc_id") > lo && col("doc_id") <= hi)
      val (kept, st2) = StreamingCuration.epoch(batch, st, model)
      streamed ++= kept.select(col("doc_id")).collect().map(_.getLong(0))
      kept.unpersist()
      st = st2
      lo = hi
    }
    val claimRows = st.claims.count()
    val seenRows = st.seen.count()
    info(s"kept ${streamed.size} of $n; state: $claimRows claims, $seenRows seen")
    assert(streamed == oneShotKept,
      s"only-streamed=${(streamed -- oneShotKept).take(5)} " +
        s"only-batch=${(oneShotKept -- streamed).take(5)}")
    // bounded by distinct admitted content, not stream length
    assert(seenRows <= n)
    assert(claimRows <= MinHash.Bands * seenRows)
    st.claims.unpersist(); st.seen.unpersist()
  }

  test("claim-state capacity: measured bytes per admitted doc at sf0.1") {
    // the module doc's 10⁹-doc arithmetic (≈528 B/doc payload across the
    // seen + 8-band claim tables), measured: stream sf0.1 in two epochs
    // and read the two state frames' cached size from the storage layer.
    val d01 = graft.Tables.documents(spark, "/root/testdata/sf0.1")
      .select(col("doc_id"),
        timestamp_seconds(lit(1700000000L) + col("doc_id")).as("ts"),
        col("text"), col("source"))
    val m01 = StreamingCuration.freeze(
      d01.select(col("doc_id"), col("text")),
      d01.filter(col("source") === "src0").select(col("doc_id"), col("text")))
    val in01 = d01.select(col("doc_id"), col("ts"), col("text"))
    val n = in01.count()
    val before = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    var st = StreamingCuration.emptyState(spark)
    for ((lo, hi) <- Seq((-1L, n / 2), (n / 2, n + 1))) {
      val (kept, st2) = StreamingCuration.epoch(
        in01.filter(col("doc_id") > lo && col("doc_id") <= hi), st, m01)
      kept.unpersist()
      st = st2
    }
    val seenRows = st.seen.count()
    val claimRows = st.claims.count()
    // the only live caches newer than the snapshot are the final state
    // frames (each epoch unpersists its predecessor and kept frames)
    val stateBytes = spark.sparkContext.getRDDStorageInfo
      .filterNot(i => before.contains(i.id)).map(i => i.memSize + i.diskSize).sum
    val perDoc = stateBytes.toDouble / seenRows
    info(f"state: $seenRows seen + $claimRows claims = $stateBytes bytes " +
      f"cached ($perDoc%.0f B per admitted doc)")
    st.claims.unpersist(); st.seen.unpersist()
    assert(claimRows <= MinHash.Bands.toLong * seenRows)
    // the capacity arithmetic must stay honest: the module doc quotes
    // 528 B/doc of payload and 539 B/doc measured in the cache
    assert(perDoc > 0 && perDoc < 640,
      f"state bytes/doc drifted to $perDoc%.0f — update the module doc arithmetic")
  }

  test("foreachBatch wrapper streams the identical kept set") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Long, Long, String)]
    val stream = in.toDF().toDF("doc_id", "epoch_s", "text")
      .select(col("doc_id"), timestamp_seconds(col("epoch_s")).as("ts"), col("text"))
    val got = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val q = StreamingCuration.start(stream, model, kept => {
      kept.select(col("doc_id")).collect().foreach(r => got.add(r.getLong(0)))
      kept.unpersist(); ()
    })
    try {
      val rows = input.orderBy(col("doc_id")).collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 1000L, r.getString(2)))
      val n = rows.length
      for (part <- Seq(rows.slice(0, n / 3), rows.slice(n / 3, 2 * n / 3),
          rows.slice(2 * n / 3, n))) {
        in.addData(part.toIndexedSeq)
        q.processAllAvailable()
      }
      val streamed = got.toArray.map(_.asInstanceOf[java.lang.Long].longValue).toSet
      assert(streamed == oneShotKept,
        s"only-streamed=${(streamed -- oneShotKept).take(5)} " +
          s"only-batch=${(oneShotKept -- streamed).take(5)}")
    } finally q.stop()
  }

  test("REORDERED replay: sha-class parity, justified drops, converged re-resolution") {
    // route docs to epochs by doc_id % 3 — event-time order is violated
    // both within and across epochs (epoch 0 contains later-ts docs than
    // epoch 1's earliest)
    var st = StreamingCuration.emptyState(spark)
    var keptUnion: DataFrame = null
    var keptIds = Set.empty[Long]
    for (r <- 0 until 3) {
      val batch = input.filter(col("doc_id") % 3 === r)
      val (kept, st2) = StreamingCuration.epoch(batch, st, model)
      keptIds ++= kept.select(col("doc_id")).collect().map(_.getLong(0))
      keptUnion = if (keptUnion == null) kept else keptUnion.unionAll(kept)
      st = st2
    }
    // the batch reference: one-shot epoch state
    val (bKept, bSt) = StreamingCuration.epoch(input,
      StreamingCuration.emptyState(spark), model)

    // clause 1 — exact stage keeps the same sha CLASSES (reps may differ)
    val streamedShas = st.seen.select(col("sha")).collect().map(_.getString(0)).toSet
    val batchShas = bSt.seen.select(col("sha")).collect().map(_.getString(0)).toSet
    assert(streamedShas == batchShas,
      s"sha classes diverged: only-streamed=${(streamedShas -- batchShas).take(3)}")

    // clause 2 — every streamed drop is justified: an exact-stage winner
    // that was dropped has an earlier (ts, doc_id) same-bucket winner
    val winners = st.seen.select(col("doc_id"), col("ts")).collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1)).toMap
    val texts = input.collect()
      .map(r => r.getLong(0) -> (r.getTimestamp(1), r.getString(2))).toMap
    val buckets = winners.keys.map { id =>
      id -> MinHash.slots(texts(id)._2).toSet
    }.toMap
    val minClaim = buckets.toSeq
      .flatMap { case (id, bs) => bs.map(b => b -> ((winners(id).getTime, id))) }
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val dropped = winners.keySet -- keptIds
    dropped.foreach { id =>
      val key = (winners(id).getTime, id)
      assert(buckets(id).exists(b => Ordering[(Long, Long)].lt(minClaim(b), key)),
        s"doc $id was dropped without an earlier same-bucket claimant")
    }

    // clause 3 — resolveFinal == one-shot batch near-dup decision over
    // the streamed exact-stage winners (the replica below)
    val resolved = StreamingCuration.resolveFinal(keptUnion, st)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val replicaKept = winners.keySet.filter { id =>
      val key = (winners(id).getTime, id)
      buckets(id).forall(b => Ordering[(Long, Long)].gteq(minClaim(b), key))
    }
    info(s"streamed kept ${keptIds.size}, resolved ${resolved.size}, " +
      s"batch kept ${bKept.count()}")
    assert(resolved == replicaKept,
      s"only-resolved=${(resolved -- replicaKept).take(5)} " +
        s"only-replica=${(replicaKept -- resolved).take(5)}")
    // and resolveFinal only ever removes (never resurrects)
    assert(resolved.subsetOf(keptIds))
    keptUnion.unpersist(); bKept.unpersist()
    st.claims.unpersist(); st.seen.unpersist()
    bSt.claims.unpersist(); bSt.seen.unpersist()
  }

  test("state lineage depth is genuinely bounded by the periodic local checkpoint") {
    // persist+count materializes but does NOT truncate: without the
    // LineageCutEvery localCheckpoint, the claims plan grows ~linearly in
    // epoch count and any cache eviction re-executes the whole chain.
    // Enter two epochs BEFORE the cut boundary (epochNo is just a
    // counter, so starting high exercises the boundary without paying 8
    // full epochs): the plan must grow across persist epochs, collapse
    // to a bare materialized scan at the cut, and grow from that small
    // base afterwards.
    def nodes(df: DataFrame): Int =
      df.queryExecution.logical.collect { case p => p }.size
    val cut = StreamingCuration.LineageCutEvery
    var st = StreamingCuration.emptyState(spark)
      .copy(epochNo = cut.toLong - 2)
    val sizes = scala.collection.mutable.ArrayBuffer[Int]()
    for (r <- 0 until 4) { // epochNos cut-1, cut, cut+1, cut+2
      val batch = input.filter(col("doc_id") % 4 === r)
      val (kept, st2) = StreamingCuration.epoch(batch, st, model)
      kept.unpersist()
      st = st2
      sizes += nodes(st.claims)
    }
    info(s"claims plan node counts at epochs ${cut - 1}..${cut + 2}: " +
      sizes.mkString(", "))
    assert(sizes(1) < sizes(0),
      s"cut epoch $cut did not truncate lineage: ${sizes.mkString(", ")}")
    assert(sizes(1) <= 4,
      s"cut epoch's plan is not a bare scan: ${sizes(1)} nodes")
    // growth resumes from the truncated base (one epoch's ops over a bare
    // scan — comparable to the first epoch's chain, not stacked on it)
    assert(sizes(2) > sizes(1) && sizes(3) > sizes(2))
    assert(sizes(2) <= sizes(0) + 4,
      "post-cut chain carries more than one epoch of lineage")
    st.claims.unpersist(); st.seen.unpersist()
  }

  test("micro-batch claim table agrees with the keyed-state operator") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingOps
    implicit val sq = spark.sqlContext
    import spark.implicits._
    // batch replica of the claim/drop rule over raw docs (no gates):
    // claimant per bucket = (ts, doc_id) min; a doc with any earlier-
    // claimed bucket drops
    val rows = input.orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2)))
    val hits = rows.flatMap { case (id, ts, text) =>
      MinHash.slots(text).map(s => (s, ts, id))
    }
    val claimant = hits.groupBy(_._1).view
      .mapValues(_.minBy(h => (h._2.getTime, h._3))._3).toMap
    val replicaDropped = hits
      .filter(h => claimant(h._1) != h._3).map(_._3).toSet
    val in = MemoryStream[StreamingOps.Doc]
    val cands = StreamingOps.streamNearDupCandidates(in.toDS())
    val q = cands.writeStream.format("memory").queryName("curation_cands")
      .outputMode("append").start()
    try {
      in.addData(rows.map { case (id, ts, text) =>
        StreamingOps.Doc(id, ts, text) }.toIndexedSeq)
      q.processAllAvailable()
      val streamedDropped = spark.table("curation_cands")
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      info(s"${streamedDropped.size} near-dup docs flagged by both runtimes")
      assert(streamedDropped == replicaDropped,
        s"only-stream=${(streamedDropped -- replicaDropped).take(5)} " +
          s"only-replica=${(replicaDropped -- streamedDropped).take(5)}")
    } finally q.stop()
  }
}
