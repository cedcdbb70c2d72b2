package graft.operators

import graft.{Q, Tables}
import graft.streaming.StreamingOps
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The Structured Streaming shapes (SURVEY.md §2B "Streaming") run in
  * batch mode over `events`, so the DuckDB oracle hash-checks them. The
  * tumbling, sliding and session bodies ARE the [[StreamingOps]] window
  * builders that StreamingSpec runs incrementally (watermarks, late-data
  * drop) with MemoryStream: on a batch frame Spark's
  * `EliminateEventTimeWatermark` drops the builders' watermark, so the
  * plans are the ones a watermark-free body would give. `stream_dedup`
  * stays its own body: `dropDuplicatesWithinWatermark` keeps the first row
  * to arrive, which in batch is no stable choice, so the registry keeps
  * the lowest `event_id` instead.
  *
  * The reference's "streaming" is sequential file streaming of record blocks
  * (`/root/reference/docs/draft.md:213-218`); event-time windowing is part of
  * the north-star extension surface.
  */
object StreamShapeQueries {
  import Tables._

  val queries: Seq[Q] = Seq(

    // 1-minute tumbling window: Spark's window() is epoch-aligned, as is
    // DuckDB's time_bucket for whole-minute intervals.
    Q("stream_tumbling",
      """SELECT time_bucket(INTERVAL '1 minute', ts) AS win_start,
        |       count(*) AS cnt,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY win_start ORDER BY win_start""".stripMargin) { (s, d) =>
      StreamingOps.windowCounts(events(s, d), "1 minute", "1 minute")
        .orderBy($"win_start")
    },

    // 5-minute window sliding by 1 minute: every event lands in exactly 5
    // windows (start = minute_bucket(ts) - j minutes, j ∈ 0..4).
    Q("stream_sliding",
      """SELECT win_start, count(*) AS cnt,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM (
        |  SELECT time_bucket(INTERVAL '1 minute', ts) - to_minutes(CAST(j AS BIGINT)) AS win_start,
        |         value
        |  FROM events CROSS JOIN (SELECT unnest([0,1,2,3,4]) AS j) offs)
        |GROUP BY win_start ORDER BY win_start""".stripMargin) { (s, d) =>
      StreamingOps.windowCounts(events(s, d), "5 minutes", "1 minute")
        .orderBy($"win_start")
    },

    // Gap-based session window (10-minute gap) per user. Spark's
    // session_window end = last event + gap; the oracle reproduces that with
    // a gaps-and-islands window computation.
    Q("stream_session",
      """SELECT user_id, min(ts) AS sess_start,
        |       max(ts) + INTERVAL '10 minutes' AS sess_end,
        |       count(*) AS cnt
        |FROM (
        |  SELECT user_id, ts,
        |         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM (
        |    SELECT user_id, ts, event_id,
        |      CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |             OR ts >= lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |                      + INTERVAL '10 minutes'
        |           THEN 1 ELSE 0 END AS new_s
        |    FROM events) marks) sessions
        |GROUP BY user_id, sid ORDER BY user_id, sess_start""".stripMargin) { (s, d) =>
      StreamingOps.sessionCounts(events(s, d), gap = "10 minutes")
        .orderBy($"user_id", $"sess_start")
    },

    // Deterministic keyed dedup: keep the lowest event_id per
    // (user_id, event_type) — the batch shape of
    // dropDuplicatesWithinWatermark, made order-stable for hashing.
    // The oracle keeps the ROW_NUMBER formulation; the Spark side runs
    // it as min(struct(event_id, value)) — event_id is the unique head
    // of the struct, so lexicographic MIN picks exactly the rn=1 row,
    // and a hash aggregate with map-side partial combine replaces the
    // window's full per-group sort of every event (the shuffle carries
    // one partial row per (user, type, map task), not the corpus).
    Q("stream_dedup",
      """SELECT user_id, event_type, event_id, value FROM (
        |  SELECT user_id, event_type, event_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY event_id) AS rn
        |  FROM events) WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
      events(s, d)
        .groupBy($"user_id", $"event_type")
        .agg(min(struct($"event_id", $"value")).as("m"))
        .select($"user_id", $"event_type",
          $"m.event_id".as("event_id"), $"m.value".as("value"))
        .orderBy($"user_id", $"event_type")
    }
  )

  private implicit class Interp(val sc: StringContext) {
    def $(args: Any*): Column = col(sc.s(args: _*))
  }
}
