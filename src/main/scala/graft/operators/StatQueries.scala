package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Statistical aggregates and ordered-sequence analytics: correlation /
  * covariance / least-squares regression, higher central moments (skewness,
  * kurtosis), gap-based sessionization, event-transition counts, and linear
  * time-series interpolation.
  *
  * The reference has no analytics surface (`/root/reference/src/lib.rs:1-7`);
  * these extend SURVEY.md §2B with the descriptive-statistics and
  * sequence-shape families a dataset-curation pipeline runs over event and
  * measurement tables.
  *
  * Float determinism (the hash-match contract): every statistic is derived
  * from EXACT sums — decimal sums of 2-decimal columns, or BIGINT power sums
  * of integer-scaled values — cast to DOUBLE once, then combined with an
  * expression tree written ONCE as SQL text and evaluated verbatim by both
  * engines (`selectExpr(frag)` here, the same `frag` spliced into the DuckDB
  * oracle). IEEE ops on identical inputs in identical order give identical
  * bits; the only residual wobble is the decimal→double cast of >2^53 sums,
  * absorbed by snapping outputs to a 1e-6 grid (`round(x, 6)` — the
  * TextRankQueries ln() precedent).
  *
  * Scale shape: every aggregate here is partial-aggregable (one shuffle of
  * group keys, map-side combine carries six doubles per group); the window
  * queries shuffle once on their partition key. Nothing collects to the
  * driver.
  */
object StatQueries {
  import Tables._

  // ── shared Spark/DuckDB expression fragments (see determinism note) ──

  /** Exact decimal sums powering the bivariate statistics, cast to DOUBLE. */
  private val corrBase = Seq(
    "CAST(count(*) AS DOUBLE) AS n",
    "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx",
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy",
    "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx",
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy",
    "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy")

  /** Bivariate statistics from the raw sums — covariance, Pearson r, OLS
    * slope/intercept. sqrt (correctly rounded IEEE) instead of pow (libm,
    * engine-variant); `(n - 1)` is double arithmetic since n is DOUBLE.
    */
  private val corrOut = Seq(
    "l_returnflag",
    "CAST(n AS BIGINT) AS cnt",
    "round((sxy - sx * sy / n) / n, 6) AS covar_pop",
    "round((sxy - sx * sy / n) / (n - 1), 6) AS covar_samp",
    "round((sxy - sx * sy / n) / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)), 6) AS corr",
    "round((sxy - sx * sy / n) / (sxx - sx * sx / n), 6) AS slope",
    "round(sy / n - (sxy - sx * sy / n) / (sxx - sx * sx / n) * (sx / n), 6) AS intercept")

  /** Integer-scaled value (cents) whose BIGINT powers are exact: q ≤ 5000 so
    * q⁴ ≤ 6.25e14 < 2^63; the SUM goes through DECIMAL(38,0) because the
    * power sums exceed int64 at scale (Spark would wrap, DuckDB widens).
    */
  private val momentsQ = "CAST(round(l_quantity * 100) AS BIGINT) AS q"
  private val momentsBase = Seq(
    "CAST(count(*) AS DOUBLE) AS n",
    "CAST(SUM(CAST(q AS DECIMAL(38,0))) AS DOUBLE) AS s1",
    "CAST(SUM(CAST(q * q AS DECIMAL(38,0))) AS DOUBLE) AS s2",
    "CAST(SUM(CAST(q * q * q AS DECIMAL(38,0))) AS DOUBLE) AS s3",
    "CAST(SUM(CAST(q * q * q * q AS DECIMAL(38,0))) AS DOUBLE) AS s4")
  /** Raw moments r_k = s_k/n, then central moments by the binomial
    * expansion — skew/kurtosis are scale-invariant so the ×100 never needs
    * undoing (mean does: /100 back to quantity units).
    */
  private val momentsMid = Seq(
    "l_returnflag", "n", "s1 / n AS m", "s2 / n AS r2", "s3 / n AS r3", "s4 / n AS r4")
  private val momentsCentral = Seq(
    "l_returnflag", "n", "m",
    "r2 - m * m AS m2",
    "r3 - 3 * m * r2 + 2 * m * m * m AS m3",
    "r4 - 4 * m * r3 + 6 * m * m * r2 - 3 * m * m * m * m AS m4")
  private val momentsOut = Seq(
    "l_returnflag",
    "CAST(n AS BIGINT) AS cnt",
    // no round: s1 < 2^53 so its cast is exact in both engines and the
    // two divisions are IEEE-identical — and m/100 CAN land on grid
    // boundaries (structured ratio), where engine rounding differs
    "m / 100 AS mean_qty",
    "round(m3 / (m2 * sqrt(m2)), 6) AS skew",
    "round(m4 / (m2 * m2) - 3, 6) AS kurt")

  /** Linear interpolation between bracketing observations, fully exact
    * until ONE final double division: values as integer cents, time
    * fractions as integer epoch-µs differences, combined as
    * (pv·Δt + (nv−pv)·dt) / (Δt·100) — every intermediate fits int64
    * (cents ≤ 2^16, Δt ≤ 30 days ≈ 2.5e12 µs → products ≤ 1.2e17), so no
    * rounding grid is needed and no grid boundary can flip (the
    * win_pct_change lesson: round(ratio, 6) on coarse-decimal ratios DOES
    * hit boundaries where the engines' rounding algorithms disagree).
    * `epochUs` is spliced per engine (unix_micros / epoch_us).
    */
  private def interpCase(epochUs: String => String): String = {
    val num = s"(${epochUs("hr")} - ${epochUs("phr")})"
    val den = s"(${epochUs("nhr")} - ${epochUs("phr")})"
    s"""CASE WHEN v100 IS NOT NULL THEN CAST(v100 AS DOUBLE) / 100
       |     WHEN pv IS NULL THEN CAST(nv AS DOUBLE) / 100
       |     WHEN nv IS NULL THEN CAST(pv AS DOUBLE) / 100
       |     ELSE CAST(pv * $den + (nv - pv) * $num AS DOUBLE)
       |          / CAST($den * 100 AS DOUBLE) END""".stripMargin
  }

  /** 30-minute inactivity gap, in exact epoch-µs integer arithmetic. */
  private val SessionGapUs = 30L * 60 * 1000 * 1000

  val queries: Seq[Q] = Seq(

    // Correlation / covariance / OLS regression of extendedprice on
    // quantity per returnflag. Map-side state is six exact decimal sums per
    // group — the classic "moments, not values" shuffle: at 100 TB the
    // exchange carries O(groups) rows of fixed width, never the data.
    Q("agg_corr",
      s"""WITH b AS (
         |  SELECT l_returnflag, ${corrBase.mkString(",\n    ")}
         |  FROM lineitem GROUP BY l_returnflag)
         |SELECT ${corrOut.mkString(",\n  ")}
         |FROM b ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      lineitem(s, d).groupBy($"l_returnflag")
        .agg(expr(corrBase.head), corrBase.tail.map(expr): _*)
        .selectExpr(corrOut: _*)
        .orderBy($"l_returnflag")
    },

    // Skewness and excess kurtosis per returnflag from exact BIGINT→decimal
    // power sums of integer cents. Same one-shuffle moments shape as
    // agg_corr; the binomial recombination runs on the handful of group
    // rows after the aggregate.
    Q("agg_moments",
      s"""WITH q AS (SELECT l_returnflag, $momentsQ FROM lineitem),
         |b AS (
         |  SELECT l_returnflag, ${momentsBase.mkString(",\n    ")}
         |  FROM q GROUP BY l_returnflag),
         |mid AS (SELECT ${momentsMid.mkString(", ")} FROM b),
         |c AS (SELECT ${momentsCentral.mkString(",\n  ")} FROM mid)
         |SELECT ${momentsOut.mkString(",\n  ")}
         |FROM c ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .selectExpr("l_returnflag", momentsQ)
        .groupBy($"l_returnflag")
        .agg(expr(momentsBase.head), momentsBase.tail.map(expr): _*)
        .selectExpr(momentsMid: _*)
        .selectExpr(momentsCentral: _*)
        .selectExpr(momentsOut: _*)
        .orderBy($"l_returnflag")
    },

    // Weighted average (price weighted by quantity): exact decimal
    // numerator/denominator sums, one double division — the
    // partial-aggregable form of every weighted metric (six decimal sums
    // per group cross the shuffle, never rows).
    Q("agg_weighted_avg",
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    / CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS w_avg_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      lineitem(s, d).groupBy($"l_returnflag")
        .agg(
          (sum(dec($"l_extendedprice") * dec($"l_quantity")).cast(DoubleType) /
            sum(dec($"l_quantity")).cast(DoubleType)).as("w_avg_price"),
          sum(dec($"l_quantity")).cast(DoubleType).as("total_qty"),
          count(lit(1)).as("cnt"))
        .orderBy($"l_returnflag")
    },

    // Inter-event dwell time per user: gaps in exact epoch-µs integers,
    // median via the same exact-int linear interpolation as
    // agg_percentile, mean as one double division. One window shuffle on
    // user_id feeding a partial-aggregable rollup on the same key.
    Q("events_dwell",
      """WITH g AS (
        |  SELECT user_id,
        |    epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap
        |  FROM events)
        |SELECT user_id, count(gap) AS n_gaps,
        |  CAST(SUM(gap) AS DOUBLE) / count(gap) AS mean_gap_us,
        |  quantile_cont(gap, 0.5) AS median_gap_us
        |FROM g WHERE gap IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      events(s, d)
        .select($"user_id",
          (unix_micros($"ts") - unix_micros(lag($"ts", 1).over(w))).as("gap"))
        .filter($"gap".isNotNull)
        .groupBy($"user_id")
        .agg(count($"gap").as("n_gaps"),
          (sum($"gap").cast(DoubleType) / count($"gap")).as("mean_gap_us"),
          percentile($"gap", lit(0.5)).as("median_gap_us"))
        .orderBy($"user_id")
    },

    // Gap-based sessionization: a session break wherever a user is idle
    // > 30 min; session id = running count of breaks. One shuffle on
    // user_id serves both windows and the final per-session rollup
    // (Catalyst reuses the partitioning); the 100 TB shape — state per
    // user, never cross-user — is exactly what the streaming
    // session_window does incrementally (stream_session).
    Q("sessionize",
      s"""WITH e AS (
         |  SELECT user_id, event_id, ts,
         |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         |           OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
         |              > $SessionGapUs
         |         THEN 1 ELSE 0 END AS brk
         |  FROM events),
         |s AS (
         |  SELECT user_id, event_id, ts,
         |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
         |  FROM e)
         |SELECT user_id, CAST(sess AS BIGINT) AS sess, count(*) AS n_events,
         |  min(ts) AS session_start, max(ts) AS session_end
         |FROM s GROUP BY user_id, sess
         |ORDER BY user_id, sess""".stripMargin) { (s, d) =>
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val prev = lag($"ts", 1).over(w)
      events(s, d)
        .select($"user_id", $"event_id", $"ts",
          when(prev.isNull ||
            unix_micros($"ts") - unix_micros(prev) > SessionGapUs, 1)
            .otherwise(0).as("brk"))
        .select($"user_id", $"event_id", $"ts",
          sum($"brk").over(run).cast(LongType).as("sess"))
        .groupBy($"user_id", $"sess")
        .agg(count(lit(1)).as("n_events"),
          min($"ts").as("session_start"), max($"ts").as("session_end"))
        .orderBy($"user_id", $"sess")
    },

    // Interval-overlap join: user sessions × globally busy hours (hour
    // buckets with >1.1× the mean event count). The busy side is
    // VOCABULARY-BOUNDED (hours in the corpus window — 720/month
    // regardless of row count), so the range join broadcasts it and
    // streams sessions once; at 100 TB the same plan holds because the
    // interval dimension, not the fact table, carries the non-equi
    // predicate. Overlap compares exact integer microseconds.
    Q("join_interval_overlap",
      s"""WITH e AS (
         |  SELECT user_id, event_id, ts,
         |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         |           OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
         |              > $SessionGapUs
         |         THEN 1 ELSE 0 END AS brk
         |  FROM events),
         |sn AS (
         |  SELECT user_id, ts,
         |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
         |  FROM e),
         |sess AS (SELECT user_id, CAST(sess AS BIGINT) AS sess,
         |    min(ts) AS s_start, max(ts) AS s_end
         |  FROM sn GROUP BY user_id, sess),
         |h AS (SELECT date_trunc('hour', ts) AS h_start, count(*) AS n
         |  FROM events GROUP BY 1),
         |stat AS (SELECT CAST(SUM(n) AS DOUBLE) / count(*) AS avg_n FROM h),
         |busy AS (SELECT h_start FROM h, stat
         |  WHERE CAST(n AS DOUBLE) > 1.1 * avg_n)
         |SELECT user_id, sess, s_start, s_end, count(*) AS n_busy_hours
         |FROM sess JOIN busy
         |  ON epoch_us(s_start) < epoch_us(h_start) + 3600000000
         | AND epoch_us(s_end) >= epoch_us(h_start)
         |GROUP BY user_id, sess, s_start, s_end
         |ORDER BY user_id, sess""".stripMargin) { (s, d) =>
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val prev = lag($"ts", 1).over(w)
      val sess = events(s, d)
        .select($"user_id", $"event_id", $"ts",
          when(prev.isNull ||
            unix_micros($"ts") - unix_micros(prev) > SessionGapUs, 1)
            .otherwise(0).as("brk"))
        .select($"user_id", $"ts", sum($"brk").over(run).cast(LongType).as("sess"))
        .groupBy($"user_id", $"sess")
        .agg(min($"ts").as("s_start"), max($"ts").as("s_end"))
      val h = events(s, d)
        .groupBy(date_trunc("hour", $"ts").as("h_start"))
        .agg(count(lit(1)).as("n"))
      val stat = h.agg((sum($"n").cast(DoubleType) / count(lit(1))).as("avg_n"))
      val busy = h.crossJoin(broadcast(stat))
        .filter($"n".cast(DoubleType) > lit(1.1) * $"avg_n")
        .select($"h_start")
      sess.join(broadcast(busy),
          unix_micros($"s_start") < unix_micros($"h_start") + 3600000000L &&
            unix_micros($"s_end") >= unix_micros($"h_start"))
        .groupBy($"user_id", $"sess", $"s_start", $"s_end")
        .agg(count(lit(1)).as("n_busy_hours"))
        .orderBy($"user_id", $"sess")
    },

    // Conditional aggregation via the SQL FILTER clause — several
    // differently-filtered measures in ONE pass over the data (the
    // dashboard-metrics shape; the alternative is N scans or N CASE
    // pyramids). All counts and exact decimal sums.
    Q("agg_filtered",
      """SELECT l_returnflag,
        |  count(*) FILTER (WHERE l_quantity > 25) AS n_bulk,
        |  count(*) FILTER (WHERE l_discount = 0) AS n_nodisc,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
        |    FILTER (WHERE l_tax > 0.05) AS DOUBLE) AS rev_hightax,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      lineitem(s, d).groupBy($"l_returnflag")
        .agg(
          expr("count(*) FILTER (WHERE l_quantity > 25)").as("n_bulk"),
          expr("count(*) FILTER (WHERE l_discount = 0)").as("n_nodisc"),
          expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) " +
            "FILTER (WHERE l_tax > 0.05) AS DOUBLE)").as("rev_hightax"),
          count(lit(1)).as("cnt"))
        .orderBy($"l_returnflag")
    },

    // Several COUNT(DISTINCT …) over different columns in one aggregate —
    // Catalyst plans an EXPAND (one duplicated stream per distinct set):
    // the multi-distinct shape that silently multiplies shuffle volume at
    // scale, here pinned as a correctness surface.
    Q("agg_multi_distinct",
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS d_parts,
        |  count(DISTINCT l_suppkey) AS d_supps,
        |  count(DISTINCT l_orderkey) AS d_orders,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      lineitem(s, d).groupBy($"l_returnflag")
        .agg(countDistinct($"l_partkey").as("d_parts"),
          countDistinct($"l_suppkey").as("d_supps"),
          countDistinct($"l_orderkey").as("d_orders"),
          count(lit(1)).as("cnt"))
        .orderBy($"l_returnflag")
    },

    // Percent-of-total contribution per group: ratio of two exact decimal
    // sums (group / grand total), one double division each — the
    // "share of revenue" report shape. The grand total is a 1-row frame
    // that broadcasts; no second pass over the data.
    Q("agg_share",
      """WITH g AS (
        |  SELECT l_returnflag,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
        |  FROM lineitem GROUP BY l_returnflag),
        |t AS (SELECT SUM(rev) AS total FROM g)
        |SELECT l_returnflag, CAST(rev AS DOUBLE) AS revenue,
        |  CAST(rev AS DOUBLE) / CAST(total AS DOUBLE) AS share
        |FROM g CROSS JOIN t ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val g = lineitem(s, d).groupBy($"l_returnflag")
        .agg(sum(dec($"l_extendedprice")).as("rev"))
      val t = g.agg(sum($"rev").as("total"))
      g.crossJoin(t)
        .select($"l_returnflag", $"rev".cast(DoubleType).as("revenue"),
          ($"rev".cast(DoubleType) / $"total".cast(DoubleType)).as("share"))
        .orderBy($"l_returnflag")
    },

    // Lag/rolling feature engineering (the per-entity time-series features
    // an ML pipeline derives before training): lag-1/lag-2 values and a
    // trailing 3-row mean, all from exact integer cents with one double
    // division — one window shuffle on user_id serves every feature.
    Q("ts_lag_features",
      """WITH c AS (
        |  SELECT event_id, user_id, ts,
        |    CAST(round(value * 100) AS BIGINT) AS v100 FROM events)
        |SELECT event_id, user_id, v100,
        |  lag(v100, 1) OVER w AS lag1,
        |  lag(v100, 2) OVER w AS lag2,
        |  CAST(SUM(v100) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS roll_mean3
        |FROM c
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val w3 = w.rowsBetween(-2, Window.currentRow)
      events(s, d)
        .select($"event_id", $"user_id", $"ts",
          round($"value" * 100).cast(LongType).as("v100"))
        .select($"event_id", $"user_id", $"v100",
          lag($"v100", 1).over(w).as("lag1"),
          lag($"v100", 2).over(w).as("lag2"),
          (sum($"v100").over(w3).cast(DoubleType) /
            count(lit(1)).over(w3)).as("roll_mean3"))
        .orderBy($"event_id")
    },

    // Robust statistics: median absolute deviation of quantity per
    // returnflag. Everything stays on exact dyadic rationals — integer
    // cents, then two 0.5-quantile interpolations (each a + (b−a)/2) and
    // one final /2: every value is an exact quarter-integer both engines
    // represent identically, so no rounding grid is involved at all.
    //
    // The oracle keeps the two quantile_cont corpus passes; the Spark
    // side exploits that q100 lives on a tiny discrete domain (integer
    // cents of a bounded quantity): ONE map-side-combined scan builds the
    // (flag, q100, count) histogram, and both medians are exact weighted
    // quantiles over that ≤O(domain) frame — value at 0-based index i of
    // the sorted multiset is min(q100 | cumcount > i), interpolated at
    // lo = (n−1) div 2, hi = n div 2 (the (N−1)·q convention both engines
    // use). The deviation histogram re-groups the SAME histogram, so the
    // corpus is read once and no 60M-row percentile buffer exists. At
    // 100 TB this is the only exact-percentile shape that scales on a
    // discrete domain; continuous domains go to agg_approx_percentile.
    Q("agg_mad",
      """WITH q AS (
        |  SELECT l_returnflag, CAST(round(l_quantity * 100) AS BIGINT) AS q100
        |  FROM lineitem),
        |med AS (
        |  SELECT l_returnflag, quantile_cont(q100 * 2, 0.5) AS med2
        |  FROM q GROUP BY l_returnflag)
        |SELECT q.l_returnflag,
        |  quantile_cont(abs(q.q100 * 2 - med.med2), 0.5) / 2 AS mad_cents,
        |  CAST(med.med2 AS DOUBLE) / 2 AS median_cents,
        |  count(*) AS cnt
        |FROM q JOIN med ON q.l_returnflag = med.l_returnflag
        |GROUP BY q.l_returnflag, med.med2 ORDER BY q.l_returnflag""".stripMargin) { (s, d) =>
      val hist = lineitem(s, d)
        .select($"l_returnflag", (round($"l_quantity" * 100).cast(LongType)).as("q100"))
        .groupBy($"l_returnflag", $"q100")
        .agg(count(lit(1)).as("c"))
      // both branches share the identical (flag, q100) exchange —
      // Catalyst's ReuseExchange runs the corpus scan once
      val wQ = Window.partitionBy($"l_returnflag").orderBy($"q100")
      val bounds = hist.groupBy($"l_returnflag").agg(sum($"c").as("n"))
        .select($"l_returnflag", $"n",
          (($"n" - 1) / 2).as("lo"), ($"n" / 2).as("hi"))
      val med = hist.withColumn("cum", sum($"c").over(wQ))
        .join(broadcast(bounds), "l_returnflag")
        .groupBy($"l_returnflag", $"n")
        .agg(min(when($"cum" > $"lo", $"q100")).as("vlo"),
          min(when($"cum" > $"hi", $"q100")).as("vhi"))
        // quantile_cont(q100*2, .5) = 2·vlo + (2·vhi − 2·vlo)·0.5 = vlo + vhi
        .select($"l_returnflag", $"n", ($"vlo" + $"vhi").cast(DoubleType).as("med2"))
      val dev = hist.join(broadcast(med), "l_returnflag")
        .groupBy($"l_returnflag", $"n", $"med2",
          abs($"q100" * 2 - $"med2").as("dv"))
        .agg(sum($"c").as("c"))
      val wD = Window.partitionBy($"l_returnflag").orderBy($"dv")
      dev.withColumn("cum", sum($"c").over(wD))
        .withColumn("lo", ($"n" - 1) / 2).withColumn("hi", $"n" / 2)
        .groupBy($"l_returnflag", $"n", $"med2")
        .agg(min(when($"cum" > $"lo", $"dv")).as("dlo"),
          min(when($"cum" > $"hi", $"dv")).as("dhi"))
        .select($"l_returnflag",
          (($"dlo" + ($"dhi" - $"dlo") * 0.5) / 2).as("mad_cents"),
          ($"med2" / 2).as("median_cents"), $"n".as("cnt"))
        .orderBy($"l_returnflag")
    },

    // Per-user anomaly detection: z-score outliers against the user's own
    // mean/stddev, both derived from exact decimal sums with identical
    // expression trees — the z COMPARISON is then engine-deterministic
    // (bit-identical doubles), no rounding grid involved; only the
    // reported max |z| (unstructured, sqrt-derived) gets the 1e-6 snap.
    // Two shuffles on user_id (moments, then the rollup; the stats side
    // is one row per user and broadcasts).
    Q("events_anomaly",
      """WITH s AS (
        |  SELECT user_id, CAST(count(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s2
        |  FROM events GROUP BY user_id),
        |m AS (SELECT user_id, s1 / n AS mean,
        |  nullif(sqrt(s2 / n - (s1 / n) * (s1 / n)), 0) AS sd FROM s)
        |SELECT e.user_id, count(*) AS n_events,
        |  CAST(SUM(CASE WHEN abs((e.value - m.mean) / m.sd) > 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  round(max(abs((e.value - m.mean) / m.sd)), 6) AS max_abs_z
        |FROM events e JOIN m ON e.user_id = m.user_id
        |GROUP BY e.user_id ORDER BY e.user_id""".stripMargin) { (s, d) =>
      val ev = events(s, d)
      val stats = ev.groupBy($"user_id")
        .agg(expr("CAST(count(*) AS DOUBLE)").as("n"),
          expr("CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)").as("s1"),
          expr("CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE)").as("s2"))
        .selectExpr("user_id", "s1 / n AS mean",
          "nullif(sqrt(s2 / n - (s1 / n) * (s1 / n)), 0) AS sd")
      val z = abs(($"value" - $"mean") / $"sd")
      ev.join(stats, "user_id")
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(when(z > 2, 1).otherwise(0)).cast(LongType).as("n_outliers"),
          round(max(z), 6).as("max_abs_z"))
        .orderBy($"user_id")
    },

    // Gaps-and-islands: longest run of CONSECUTIVE active days per user
    // (the streak metric). The island id is day_number − dense_rank over
    // distinct days — constant within a consecutive run, strictly
    // increasing across gaps — all exact integer arithmetic. Two window
    // passes and a rollup, every one keyed on user_id.
    Q("win_streaks",
      """WITH d AS (
        |  SELECT DISTINCT user_id, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
        |  FROM events),
        |i AS (
        |  SELECT user_id, day,
        |    day - dense_rank() OVER (PARTITION BY user_id ORDER BY day) AS island
        |  FROM d),
        |runs AS (
        |  SELECT user_id, island, count(*) AS run_len, min(day) AS run_start
        |  FROM i GROUP BY user_id, island)
        |SELECT user_id, count(*) AS n_runs, max(run_len) AS longest_streak,
        |  min(run_start) AS first_day
        |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      // integer `div`, not `/`: exact floor division in both engines
      val day = expr("unix_micros(ts) div 86400000000")
      val w = Window.partitionBy($"user_id").orderBy($"day")
      events(s, d)
        .select($"user_id", day.as("day")).distinct()
        .withColumn("island", $"day" - dense_rank().over(w))
        .groupBy($"user_id", $"island")
        .agg(count(lit(1)).as("run_len"), min($"day").as("run_start"))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_runs"), max($"run_len").as("longest_streak"),
          min($"run_start").as("first_day"))
        .orderBy($"user_id")
    },

    // Explicit null ordering: engines DISAGREE on where NULLs sort by
    // default (Spark ASC = NULLS FIRST, DuckDB ASC = NULLS LAST), so any
    // cross-engine pipeline must spell it out — this query pins both
    // directions with a unique tiebreak.
    Q("sort_nulls",
      """SELECT doc_id, lang_web FROM (
        |  SELECT doc_id, CASE WHEN source = 'web' THEN lang END AS lang_web
        |  FROM documents)
        |ORDER BY lang_web ASC NULLS LAST, doc_id""".stripMargin) { (s, d) =>
      documents(s, d)
        .select($"doc_id", when($"source" === "web", $"lang").as("lang_web"))
        .orderBy($"lang_web".asc_nulls_last, $"doc_id")
    },

    // Normalized transition probabilities (the Markov matrix proper):
    // counts from events_transitions' shape, each row divided by its
    // source-state total — exact integer counts, one double division.
    Q("events_markov_prob",
      """WITH x AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |t AS (SELECT prev, event_type AS next, count(*) AS n
        |  FROM x WHERE prev IS NOT NULL GROUP BY prev, next),
        |s AS (SELECT prev, sum(n) AS tot FROM t GROUP BY prev)
        |SELECT t.prev, t.next, t.n, CAST(t.n AS DOUBLE) / s.tot AS p
        |FROM t JOIN s ON t.prev = s.prev
        |ORDER BY t.prev, t.next""".stripMargin) { (s, d) =>
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val t = events(s, d)
        .select($"user_id", $"event_type", lag($"event_type", 1).over(w).as("prev"))
        .filter($"prev".isNotNull)
        .groupBy($"prev", $"event_type".as("next"))
        .agg(count(lit(1)).as("n"))
      val tot = t.groupBy($"prev").agg(sum($"n").as("tot"))
      t.join(tot, "prev")
        .select($"prev", $"next", $"n", ($"n".cast(DoubleType) / $"tot").as("p"))
        .orderBy($"prev", $"next")
    },

    // First-order event-type transition counts (the Markov-chain adjacency
    // a sequence-modeling pipeline starts from). One window shuffle on
    // user_id, then a tiny |types|² grouped count.
    Q("events_transitions",
      """WITH x AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events)
        |SELECT prev, event_type AS next, count(*) AS n
        |FROM x WHERE prev IS NOT NULL
        |GROUP BY prev, next ORDER BY prev, next""".stripMargin) { (s, d) =>
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      events(s, d)
        .select($"user_id", $"event_type", lag($"event_type", 1).over(w).as("prev"))
        .filter($"prev".isNotNull)
        .groupBy($"prev", $"event_type".as("next"))
        .agg(count(lit(1)).as("n"))
        .orderBy($"prev", $"next")
    },

    // Period-over-period percent change per user (the pct_change shape:
    // navigation + arithmetic). Exact integer cents and ONE double
    // division — not round(ratio, 6): ratios of coarse decimals land on
    // rounding-grid boundaries with nonzero probability, where Spark's
    // exact-expansion HALF_UP and DuckDB's float-multiply round disagree
    // (observed at sf0.1). A single division of identical exact integers
    // is bit-identical by IEEE. nullif: zero previous → NULL (ANSI Spark
    // would error on /0).
    Q("win_pct_change",
      """WITH c AS (
        |  SELECT event_id, user_id, ts,
        |    CAST(round(value * 100) AS BIGINT) AS v100 FROM events)
        |SELECT event_id, user_id,
        |  CAST(v100 - lag(v100) OVER w AS DOUBLE)
        |    / CAST(nullif(lag(v100) OVER w, 0) AS DOUBLE) AS pct_change
        |FROM c
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      events(s, d)
        .select($"event_id", $"user_id", $"ts",
          round($"value" * 100).cast(LongType).as("v100"))
        .select($"event_id", $"user_id",
          (($"v100" - lag($"v100", 1).over(w)).cast(DoubleType) /
            nullif(lag($"v100", 1).over(w), lit(0)).cast(DoubleType))
            .as("pct_change"))
        .orderBy($"event_id")
    },

    // Geometric mean of extendedprice per returnflag: each ln term snapped
    // onto a 1e-6 integer grid and summed exactly as BIGINT (the
    // events_entropy determinism pattern — ln/exp are engine-variant in
    // the last ulp, addition order across partials is not ours to fix),
    // then one exp at the end. Partial-aggregable like every sum.
    Q("agg_geomean",
      """WITH g AS (
        |  SELECT l_returnflag,
        |    CAST(round(ln(l_extendedprice) * 1000000) AS BIGINT) AS lg
        |  FROM lineitem)
        |SELECT l_returnflag,
        |  round(exp(CAST(SUM(lg) AS DOUBLE) / 1000000 / count(*)), 6) AS geo_mean,
        |  count(*) AS cnt
        |FROM g GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .select($"l_returnflag",
          round(log($"l_extendedprice") * 1000000L, 0).cast(LongType).as("lg"))
        .groupBy($"l_returnflag")
        .agg(
          round(exp(sum($"lg").cast(DoubleType) / 1000000L / count(lit(1))), 6)
            .as("geo_mean"),
          count(lit(1)).as("cnt"))
        .orderBy($"l_returnflag")
    },

    // Shannon entropy of each user's event-type distribution — the
    // behavioral-diversity signal (low entropy = single-action users).
    // Each -p·ln(p) term is snapped onto a 1e-6 integer grid and summed as
    // BIGINT, so the sum is exact and ORDER-INDEPENDENT — float addition
    // order across partial aggregates can never wobble the hash (ln() is
    // engine-variant in the last ulp; the per-term rounding absorbs it
    // before any accumulation). Two partial-aggregable shuffles on
    // user_id-rooted keys.
    Q("events_entropy",
      """WITH c AS (
        |  SELECT user_id, event_type, count(*) AS n
        |  FROM events GROUP BY user_id, event_type),
        |t AS (SELECT user_id, sum(n) AS tot FROM c GROUP BY user_id),
        |terms AS (
        |  SELECT c.user_id,
        |    CAST(round((CAST(c.n AS DOUBLE) / t.tot) *
        |      ln(CAST(c.n AS DOUBLE) / t.tot) * -1000000) AS BIGINT) AS g
        |  FROM c JOIN t ON c.user_id = t.user_id)
        |SELECT user_id, CAST(SUM(g) AS DOUBLE) / 1000000 AS entropy
        |FROM terms GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      val c = events(s, d).groupBy($"user_id", $"event_type")
        .agg(count(lit(1)).as("n"))
      val t = c.groupBy($"user_id").agg(sum($"n").as("tot"))
      val p = $"n".cast(DoubleType) / $"tot"
      c.join(t, "user_id")
        .select($"user_id",
          round(p * log(p) * -1000000L, 0).cast(LongType).as("g"))
        .groupBy($"user_id")
        .agg((sum($"g").cast(DoubleType) / 1000000L).as("entropy"))
        .orderBy($"user_id")
    },

    // Linear interpolation over an hourly grid (ts_resample is the LOCF
    // twin): per hour keep the LAST observed value (selection, no float
    // arithmetic), then fill each gap from its bracketing observations at
    // the exact integer time fraction. Two window passes over the same
    // user_id partitioning; the grid join is per-user sequence explosion,
    // no cross join.
    Q("ts_interpolate",
      s"""WITH base AS (
         |  SELECT user_id, hr, v100 FROM (
         |    SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS hr,
         |      CAST(round(value * 100) AS BIGINT) AS v100,
         |      row_number() OVER (PARTITION BY user_id, time_bucket(INTERVAL '1 hour', ts)
         |        ORDER BY ts DESC, event_id DESC) AS rn
         |    FROM events WHERE user_id < 3) WHERE rn = 1),
         |grid AS (
         |  SELECT CAST(u.user_id AS BIGINT) AS user_id, g.hr
         |  FROM (SELECT unnest([0,1,2]) AS user_id) u,
         |    (SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
         |       TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 HOUR)) AS hr) g),
         |j AS (
         |  SELECT g.user_id, g.hr, b.v100,
         |    CASE WHEN b.v100 IS NOT NULL THEN g.hr END AS ohr
         |  FROM grid g LEFT JOIN base b ON b.user_id = g.user_id AND b.hr = g.hr),
         |f AS (
         |  SELECT user_id, hr, v100,
         |    last_value(v100 IGNORE NULLS) OVER wp AS pv,
         |    last_value(ohr IGNORE NULLS) OVER wp AS phr,
         |    first_value(v100 IGNORE NULLS) OVER wf AS nv,
         |    first_value(ohr IGNORE NULLS) OVER wf AS nhr
         |  FROM j WINDOW
         |    wp AS (PARTITION BY user_id ORDER BY hr
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |    wf AS (PARTITION BY user_id ORDER BY hr
         |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         |SELECT user_id, hr,
         |  ${interpCase(c => s"epoch_us($c)")} AS v_interp
         |FROM f ORDER BY user_id, hr""".stripMargin) { (s, d) =>
      val hr = date_trunc("hour", $"ts")
      val pick = Window.partitionBy($"user_id", $"hr")
        .orderBy($"ts".desc, $"event_id".desc)
      val base = events(s, d).filter($"user_id" < 3)
        .select($"user_id", hr.as("hr"),
          round($"value" * 100).cast(LongType).as("v100"), $"ts", $"event_id")
        .withColumn("rn", row_number().over(pick))
        .filter($"rn" === 1).select($"user_id", $"hr", $"v100")
      val grid = s.range(3).select($"id".as("user_id"), explode(expr(
        "sequence(timestamp'2024-01-01 00:00:00', " +
          "timestamp'2024-01-30 23:00:00', interval 1 hour)")).as("hr"))
      val wp = Window.partitionBy($"user_id").orderBy($"hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wf = Window.partitionBy($"user_id").orderBy($"hr")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      grid.join(base, Seq("user_id", "hr"), "left")
        .withColumn("ohr", when($"v100".isNotNull, $"hr"))
        .select($"user_id", $"hr", $"v100",
          last($"v100", ignoreNulls = true).over(wp).as("pv"),
          last($"ohr", ignoreNulls = true).over(wp).as("phr"),
          first($"v100", ignoreNulls = true).over(wf).as("nv"),
          first($"ohr", ignoreNulls = true).over(wf).as("nhr"))
        .selectExpr("user_id", "hr",
          interpCase(c => s"unix_micros($c)") + " AS v_interp")
        .orderBy($"user_id", $"hr")
    },

    // Behavioral co-occurrence: how many users exhibit BOTH event types —
    // the market-basket / feature-correlation primitive. The self-join
    // runs on the per-user DISTINCT type set, which is bounded by the
    // type vocabulary (≤ |types| rows per user, never per-event), so at
    // 100 TB the joined frame is |users|·|types| — the candidate pairs
    // per user are C(|types|,2), independent of event volume. Exact
    // integer counts, total (a_type, b_type) order.
    Q("events_cooccur",
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
        |SELECT x.event_type AS a_type, y.event_type AS b_type,
        |  count(*) AS n_users
        |FROM ut x JOIN ut y
        |  ON x.user_id = y.user_id AND x.event_type < y.event_type
        |GROUP BY 1, 2 ORDER BY a_type, b_type""".stripMargin) { (s, d) =>
      val ut = events(s, d).select($"user_id", $"event_type").distinct()
      ut.as("x").join(ut.as("y"),
          col("x.user_id") === col("y.user_id") &&
            col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("a_type"), col("y.event_type").as("b_type"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy($"a_type", $"b_type")
    },

    // Last-touch attribution: credit each purchase to the user's most
    // recent non-purchase event within the 7 preceding days; purchases
    // with no touch in the window land in the '(none)' channel. Shape at
    // 100 TB: the candidate join is the same per-user interval join as
    // events_funnel (both sides shuffle once on user_id, the 7-day band
    // bounds per-user pairs); the argmax is a window over CANDIDATE pairs
    // partitioned by purchase — never over raw events. Tie-break on
    // (ts, event_id) makes the chosen touch total; value sums go through
    // DECIMAL (Tables.dsum) so the attributed revenue is engine-exact.
    Q("events_attribution",
      """WITH p AS (SELECT event_id, user_id, ts, value FROM events
        |  WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, ts, event_id, event_type FROM events
        |  WHERE event_type <> 'purchase'),
        |cand AS (SELECT p.event_id AS pid, p.value, t.event_type AS channel,
        |    row_number() OVER (PARTITION BY p.event_id
        |      ORDER BY t.ts DESC, t.event_id DESC) AS rk
        |  FROM p JOIN t ON t.user_id = p.user_id
        |    AND t.ts < p.ts AND t.ts >= p.ts - INTERVAL 7 DAY),
        |best AS (SELECT pid, value, channel FROM cand WHERE rk = 1)
        |SELECT coalesce(b.channel, '(none)') AS channel,
        |  count(*) AS n_conv,
        |  CAST(SUM(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE) AS attributed_value
        |FROM p LEFT JOIN best b ON b.pid = p.event_id
        |GROUP BY 1 ORDER BY channel""".stripMargin) { (s, d) =>
      val ev = events(s, d)
      val p = ev.filter($"event_type" === "purchase")
        .select($"event_id".as("pid"), $"user_id".as("pu"), $"ts".as("pts"),
          $"value")
      val t = ev.filter($"event_type" =!= "purchase")
        .select($"user_id", $"ts", $"event_id", $"event_type")
      val best = p.join(t,
          $"user_id" === $"pu" && $"ts" < $"pts" &&
            $"ts" >= $"pts" - expr("interval 7 days"))
        .withColumn("rk", row_number().over(
          Window.partitionBy($"pid").orderBy($"ts".desc, $"event_id".desc)))
        .filter($"rk" === 1)
        .select($"pid".as("bpid"), $"event_type".as("channel"))
      p.join(best, $"bpid" === $"pid", "left")
        .groupBy(coalesce($"channel", lit("(none)")).as("channel"))
        .agg(count(lit(1)).as("n_conv"),
          dsum($"value").as("attributed_value"))
        .orderBy($"channel")
    },

    // Per-user EWMA (α = 1/2) of event value over the trailing 10 events.
    // Exact cross-engine arithmetic: weights 2^(9−lag) are INTEGERS after
    // scaling by 2^9, values go through DECIMAL(18,2), so the weighted sum
    // is exact in both engines and the single final double division is
    // IEEE-identical. The trailing window is a bounded rn-band self-join
    // (≤10 partners/row, shuffled once on user_id) — the same plan at any
    // scale — rather than an ordered-list fold whose summation order a
    // SQL engine doesn't contractually fix. Row identity (user_id, ts,
    // event_id) is total: event_id is unique.
    Q("ts_ewma",
      """WITH base AS (SELECT user_id, ts, event_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT c.user_id, c.ts, c.event_id,
        |  CAST(SUM(CAST(p.value AS DECIMAL(18,2)) *
        |      CAST(pow(2, 9 - (c.rn - p.rn)) AS BIGINT)) AS DOUBLE)
        |    / SUM(CAST(pow(2, 9 - (c.rn - p.rn)) AS BIGINT)) AS ewma
        |FROM base c JOIN base p
        |  ON p.user_id = c.user_id AND p.rn BETWEEN c.rn - 9 AND c.rn
        |GROUP BY c.user_id, c.ts, c.event_id
        |ORDER BY c.user_id, c.ts, c.event_id""".stripMargin) { (s, d) =>
      // r13 (guide §2.4 — remove shuffles outright): the rn-band self-join
      // (10× row blowup + a (user,ts,event) pair aggregation) IS a trailing
      // window — collect the ≤10 frame values with one window over the one
      // user_id exchange and fold them row-locally. Arithmetic is the
      // reference's exactly: element i of the n frame values (rn ascending)
      // has lag n−1−i, weight 2^(9−lag) as an exact LONG (shiftleft ==
      // pow(2,·) cast BIGINT for these exponents), the numerator sums
      // DECIMAL(18,2)·LONG products exactly, ONE double division at the
      // end; Σ_{lag<n} 2^(9−lag) has the closed form 2^10 − 2^(10−n). The
      // oracle keeps the self-join formulation — hash-identical is the
      // proof (plus the r13 plan diff: 3 exchanges → 2, join gone).
      // Assumes non-null value (holds by the events generator: verified 0
      // nulls at every armed scale, pinned by StatQueriesSpec; a null would
      // shrink the collected frame where the join kept the weight row, and
      // the oracle gate would flag the divergence corpus-specifically).
      events(s, d)
        .withColumn("vals", collect_list(dec($"value", 2)).over(
          Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
            .rowsBetween(-9, 0)))
        .withColumn("n", size($"vals"))
        .select($"user_id", $"ts", $"event_id",
          (aggregate(
            transform($"vals", (v, i) =>
              v * pow(lit(2), lit(9) - ($"n" - 1 - i)).cast(LongType)),
            lit(BigDecimal(0)).cast(DecimalType(38, 2)), (acc, x) => acc + x)
            .cast(DoubleType) /
            (lit(1024L) - pow(lit(2), lit(10) - $"n").cast(LongType))).as("ewma"))
        .orderBy($"user_id", $"ts", $"event_id")
    },

    // Exact rolling median over the trailing 10 events per user — the
    // robust-statistics twin of ts_ewma (outlier-resistant smoothing).
    // Deterministic because the exact median is a SELECTION plus, for even
    // frames, ONE linear interpolation lo + (hi−lo)·0.5 — the same formula
    // Spark's `percentile` and DuckDB's `quantile_cont` both evaluate on
    // the same stored doubles; no variable-order float accumulation
    // anywhere. Spark disallows frames on median/percentile windows, so
    // the trailing frame is the same bounded rn-band self-join as ts_ewma
    // (≤10 partners/row, one user_id shuffle — scale-invariant shape);
    // DuckDB keeps the window form of the identical quantile.
    Q("win_rolling_median",
      """WITH base AS (SELECT user_id, ts, event_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT user_id, ts, event_id,
        |  quantile_cont(CAST(value AS DOUBLE), 0.5) OVER (
        |    PARTITION BY user_id ORDER BY rn
        |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS med
        |FROM base ORDER BY user_id, ts, event_id""".stripMargin) { (s, d) =>
      // r13 (guide §2.4, the ts_ewma move): Spark disallows a frame on
      // percentile() itself, but the ≤10 trailing values collect fine —
      // one window on the one user_id exchange, then Percentile's exact
      // selection arithmetic row-local over the sorted frame values:
      // position = (n−1)·0.5; ⌊pos⌋ == ⌈pos⌉ (or equal keys) → a[⌊pos⌋];
      // else (⌈pos⌉−pos)·a[⌊pos⌋] + (pos−⌊pos⌋)·a[⌈pos⌉] — the BRANCHES
      // AND OPERAND ORDER are Percentile.getPercentile's verbatim, so the
      // doubles are bit-identical (the oracle keeps DuckDB's window
      // quantile_cont; hash-identical is the proof). Plan: self-join +
      // pair aggregation gone, 10× candidate blowup gone.
      // Assumes (user_id, ts, event_id) is unique per row, as ts_ewma does
      // (event_id is unique; 0 duplicates at every armed scale, pinned by
      // StatQueriesSpec): under a tie each engine orders the tied rows
      // arbitrarily, so the ROWS frame's members — and the median — could
      // differ between engines and runs.
      val vals = sort_array(collect_list($"value").over(
        Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
          .rowsBetween(-9, 0)))
      val posn = (col("n") - 1).cast(DoubleType) * 0.5
      val lo = floor(posn).cast(IntegerType)
      val hi = ceil(posn).cast(IntegerType)
      val aLo = element_at($"vals", lo + 1)
      val aHi = element_at($"vals", hi + 1)
      events(s, d)
        .withColumn("vals", vals).withColumn("n", size($"vals"))
        .select($"user_id", $"ts", $"event_id",
          when(hi === lo || aHi === aLo, aLo)
            .otherwise((hi - posn) * aLo + (posn - lo) * aHi).as("med"))
        .orderBy($"user_id", $"ts", $"event_id")
    })

  // $"…" sugar without a SparkSession-bound `implicits` import.
  private implicit class Interp(val sc: StringContext) {
    def $(args: Any*): org.apache.spark.sql.Column = col(sc.s(args: _*))
  }
}
