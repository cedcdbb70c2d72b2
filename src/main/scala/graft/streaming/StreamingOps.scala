package graft.streaming

import graft.Tables.dsum
import graft.functions.MinHash
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operator surface (SURVEY.md §2B "Streaming").
  *
  * The reference's "streaming" is sequential file streaming of record blocks
  * (`/root/reference/docs/draft.md:213-218`); the north star extends that to
  * true incremental event-time processing. Each transform here takes a
  * (possibly streaming) DataFrame with an event-time column `ts` and returns
  * the standard windowed shapes, identical in batch and streaming mode. The
  * window builders are written once: the registry's `stream_tumbling`,
  * `stream_sliding` and `stream_session` (graft.operators.StreamShapeQueries)
  * call [[windowCounts]] and [[sessionCounts]] on the batch `events` frame,
  * where Spark drops the watermark, so the DuckDB oracle checks the code
  * StreamingSpec runs incrementally with MemoryStream. Online near-dup
  * ([[streamNearDupCandidates]]) bands the batch MinHash signature
  * ([[graft.functions.MinHash.slots]]), so a pair it flags shares a band
  * bucket in the batch `dedup_minhash*` band join.
  *
  * Scale notes: watermarks bound state size (state store holds only open
  * windows/sessions); keyed state in [[sessionizeWithState]] partitions by
  * user — at 100 TB/day the state store shards across executors with the
  * shuffle, and RocksDB-backed state keeps memory flat.
  */
object StreamingOps {

  /** Event-time window counts and exact sums with a watermark: windows of
    * `width` starting every `slide` (slide = width is a tumbling window).
    * `value` sums through DECIMAL ([[graft.Tables.dsum]]), so the sum held
    * in streaming state is exact. Late rows beyond `watermark` are dropped
    * (append mode emits only finalized windows).
    */
  def windowCounts(events: DataFrame, width: String, slide: String,
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width, slide))
      .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"), col("cnt"), col("sum_value"))

  /** Gap-based session windows per user (built-in session_window). */
  def sessionCounts(events: DataFrame, watermark: String = "10 minutes",
      gap: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("user_id"), col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"), col("cnt"))

  /** Keyed dedup with bounded state: duplicates of (user_id, event_type)
    * arriving within the watermark are dropped; state for keys older than
    * the watermark is reclaimed.
    */
  def dedupWithinWatermark(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** Stream-stream interval join: each click pairs with views by the same
    * user within `[v_ts, v_ts + maxDelay]`. BOTH sides carry watermarks and
    * the join condition bounds event time in both directions, so Spark can
    * expire buffered rows from both state stores — unbounded state is the
    * classic stream-join failure at scale, and this shape avoids it.
    */
  def clickAfterView(views: DataFrame, clicks: DataFrame,
      maxDelay: String = "5 minutes", watermark: String = "10 minutes"): DataFrame = {
    val v = views.withWatermark("ts", watermark)
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("view_id"))
    val c = clicks.withWatermark("ts", watermark)
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
    v.join(c, expr(
        s"v_user = c_user AND c_ts >= v_ts AND c_ts <= v_ts + INTERVAL $maxDelay"))
      .select(col("v_user").as("user_id"), col("view_id"), col("click_id"),
        col("v_ts"), col("c_ts"))
  }

  /** Stream-static enrichment join: the static dim is broadcast to every
    * micro-batch task — no stream state at all, the right default for
    * dimension lookups in a 100 TB/day pipeline.
    */
  def enrich(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("user_id"), "left")

  /** CDC-style streaming UPSERT sink: each micro-batch merges into a
    * shardpack bucket via `foreachBatch` →
    * [[graft.sources.shardpack.ShardpackOps.merge]] (copy-on-write with
    * envelope-pruned shard selection — an epoch rewrites only the shards
    * its key envelope intersects). Last-writer-wins per key across epochs;
    * rows must be key-unique WITHIN a batch (merge enforces it). An empty
    * micro-batch is a no-op inside merge, which decides emptiness in the
    * same action as its shard selection, so no pre-check job runs. This is
    * the streaming complement of the append sink: append for immutable
    * event streams, upsert for mutable-entity change streams.
    *
    * Exactly-once caveat shared with every foreachBatch sink: a batch
    * replayed after a crash re-merges the same rows; because merge is
    * idempotent per (key, content), replays converge rather than
    * duplicate.
    */
  /** `compactEvery` > 0 folds maintenance into the stream: after every
    * k-th micro-batch the small-shard compaction runs in-line, so a
    * long-running upsert stream never accumulates the per-epoch small-file
    * backlog (compaction uses the same crash-safe generation swap as the
    * merge itself — a failure between batch and compaction loses nothing).
    */
  def upsertSink(updates: DataFrame, dir: String, checkpoint: String,
      compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    updates.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.sources.shardpack.ShardpackOps.merge(batch.sparkSession, dir, batch)
        if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
          graft.sources.shardpack.ShardpackOps.compact(batch.sparkSession, dir)
        () // compact returns a count; foreachBatch wants Unit
      }
      .start()

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class UserProfile(user_id: Long, n_types: Int, n_events: Long)

  /** Spark 4 `transformWithState` stateful processor: a per-user running
    * profile (distinct event types seen + total events) in typed
    * MapState/ValueState — the successor API to flatMapGroupsWithState,
    * with named state variables, independent TTLs, and RocksDB-backed
    * stores. One Update-mode row per user per micro-batch that touches it.
    */
  final class UserProfileProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, UserProfile] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues}

    @transient private var types: org.apache.spark.sql.streaming.MapState[String, Long] = _
    @transient private var total: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      types = getHandle.getMapState[String, Long](
        "types", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
      total = getHandle.getValueState[Long](
        "total", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timers: TimerValues): Iterator[UserProfile] = {
      var n = if (total.exists()) total.get() else 0L
      rows.foreach { e =>
        n += 1
        val prev = if (types.containsKey(e.event_type)) types.getValue(e.event_type) else 0L
        types.updateValue(e.event_type, prev + 1)
      }
      total.update(n)
      Iterator.single(UserProfile(key, types.keys().size, n))
    }
  }

  /** Running per-user profile over an event stream via transformWithState
    * (requires the RocksDB state store provider).
    */
  def userProfiles(events: Dataset[Event]): Dataset[UserProfile] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new UserProfileProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  final case class SessionState(start: Long, last: Long, n: Int)
  final case class SessionOut(user_id: Long, sess_start: java.sql.Timestamp,
      sess_end: java.sql.Timestamp, cnt: Int)

  final case class Doc(doc_id: Long, ts: java.sql.Timestamp, text: String)
  // one MinHash.Slot of a doc; band -1 marks a slot-less doc (event time only)
  final case class BandHit(band: Int, sig: Long, mins: Seq[Long], doc_id: Long,
      ts: java.sql.Timestamp)
  final case class BucketState(firstDoc: Long)
  final case class DupCandidate(doc_id: Long, dup_of: Long, band: Int)

  /** Streaming near-dup candidate detection — the online counterpart of the
    * batch MinHash-LSH pair stage (`dedup_minhash`): each incoming
    * document's (band, bucket) slots are the batch band join's
    * ([[graft.functions.MinHash.slots]]); the FIRST document to claim a
    * bucket registers it, and every later document hashing into the same
    * bucket emits a `(doc_id, dup_of, band)` candidate. Buckets are keyed on
    * the band's minima too, so a pair agrees exactly on one band (a subset
    * of the batch band join's candidates, never a band-hash collision).
    * Documents under three words have no shingles and never pair, as in
    * batch. An ingest pipeline can thus filter near-dups ONLINE against
    * everything already admitted, instead of re-running batch dedup over
    * the full corpus per batch of arrivals.
    *
    * State is one entry per OCCUPIED bucket (the first claimant's id) —
    * proportional to distinct admitted content, not to stream length; an
    * event-time timeout `retentionMs` past a bucket's last hit reclaims
    * cold buckets, the same way the watermark bounds window state. At
    * 100 TB/day the buckets shard across executors with the groupByKey
    * shuffle and live in the RocksDB state store.
    */
  def streamNearDupCandidates(docs: Dataset[Doc],
      watermark: String = "10 minutes",
      retentionMs: Long = 60L * 60 * 1000): Dataset[DupCandidate] = {
    import docs.sparkSession.implicits._
    // band the signature BEFORE the watermark: typed flatMap re-creates the
    // ts attribute, so the watermark must be declared on the banded frame
    // that actually feeds the stateful operator; a doc without slots emits
    // one band -1 marker so that every doc advances event time
    docs.flatMap { d =>
        val hits = MinHash.slots(d.text).map(s => BandHit(s.band, s.bh, s.mins, d.doc_id, d.ts))
        if (hits.isEmpty) Seq(BandHit(-1, 0L, Seq.empty, d.doc_id, d.ts)) else hits
      }
      .withWatermark("ts", watermark)
      .groupByKey(h => (h.band, h.sig, h.mins))
      .flatMapGroupsWithState[BucketState, DupCandidate](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: (Int, Long, Seq[Long]), rows: Iterator[BandHit],
            state: GroupState[BucketState]) =>
          if (key._1 < 0) Iterator.empty // markers hold no state
          else if (state.hasTimedOut) {
            // retention elapsed with no new hits: reclaim the bucket
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(h => (h.ts.getTime, h.doc_id))
            val out = scala.collection.mutable.ArrayBuffer.empty[DupCandidate]
            var cur = state.getOption
            sorted.foreach { h =>
              cur match {
                case Some(st) if st.firstDoc != h.doc_id =>
                  out += DupCandidate(h.doc_id, st.firstDoc, key._1)
                case Some(_) => () // same doc re-hit (task replay) — no self-pair
                case None => cur = Some(BucketState(h.doc_id))
              }
            }
            cur.foreach { st =>
              state.update(st)
              state.setTimeoutTimestamp(sorted.last.ts.getTime + retentionMs)
            }
            out.iterator
          }
      }
  }

  /** Custom stateful sessionization via flatMapGroupsWithState — the escape
    * hatch for session semantics the built-in can't express. A session
    * closes after `gapMs` of event-time silence; an EVENT-TIME timeout at
    * `last + gapMs` flushes each user's trailing session and removes its
    * state once the watermark passes the gap, so a user who goes quiet
    * neither loses their last session nor leaks a state-store entry.
    * (Processing-time timeouts would busy-loop empty micro-batches; event
    * time fires only as the watermark advances.)
    */
  def sessionizeWithState(events: Dataset[Event], gapMs: Long,
      watermark: String = "10 minutes"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          def close(st: SessionState) = SessionOut(user,
            new java.sql.Timestamp(st.start),
            new java.sql.Timestamp(st.last + gapMs), st.n)
          if (state.hasTimedOut) {
            // gap elapsed with no new events: emit the pending session and
            // reclaim this user's state
            val out = state.getOption.map(close).iterator
            state.remove()
            out
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var cur = state.getOption
            val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(st) if t < st.last + gapMs =>
                  // merge; a cross-batch straggler may precede the recorded
                  // start, so the session start moves back too
                  cur = Some(SessionState(math.min(st.start, t),
                    math.max(st.last, t), st.n + 1))
                case Some(st) =>
                  out += close(st)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { st =>
              state.update(st)
              // flush the trailing session when the watermark passes the gap
              state.setTimeoutTimestamp(st.last + gapMs)
            }
            out.iterator
          }
      }
  }
}
