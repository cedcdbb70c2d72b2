package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** Round-3 analytics surface: the operator families a production pipeline
  * layers on top of the relational core — runtime bloom filtering, exact
  * stratified sampling, frequency sketches, histograms, regular-expression
  * extraction, semi-structured (VARIANT) access, time-series resampling with
  * gap fill, and funnel analysis.
  *
  * The reference stores datasets but has no analytics surface
  * (`/root/reference/src/lib.rs:1-7`); these extend SURVEY.md §2B with
  * shapes that matter at 100 TB: every query here is one or two shuffles,
  * and the scale notes on each entry say what changes at 1000 executors.
  */
object AnalyticsQueries {
  import Tables._
  import graft.functions.{CrossHash => H}

  val queries: Seq[Q] = Seq(

    // Bloom-filter semi-join — the runtime-filter pattern made explicit.
    // Build side: a 1 MiB bloom over the selective dim keys, collected once
    // (exactly what Catalyst's InjectRuntimeFilter does via a scalar
    // subquery). Probe side: `might_contain` runs INSIDE the fact scan,
    // before the shuffle, so at 100 TB the exchange only carries the ~10%
    // of lineitem that can match; the exact join afterwards removes bloom
    // false positives, which is why the oracle is the plain join.
    Q("join_bloom",
      """SELECT l.l_orderkey, l.l_linenumber, o.o_totalprice
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_totalprice > 480000
        |ORDER BY l_orderkey, l_linenumber, o_totalprice""".stripMargin) { (s, d) =>
      val dim = orders(s, d).filter($"o_totalprice" > 480000)
      val bloomAgg = Bridge.column(
        new BloomFilterAggregate(new XxHash64(Seq(Bridge.expression($"o_orderkey"))))
          .toAggregateExpression())
      val bf = dim.agg(bloomAgg.as("bf")).head().getAs[Array[Byte]](0)
      val might = Bridge.column(BloomFilterMightContain(
        Literal(bf, BinaryType),
        new XxHash64(Seq(Bridge.expression($"l_orderkey")))))
      lineitem(s, d).filter(might)
        .join(dim.select($"o_orderkey", $"o_totalprice"),
          $"l_orderkey" === $"o_orderkey")
        .select($"l_orderkey", $"l_linenumber", $"o_totalprice")
        // o_totalprice tiebreak keeps the order total over the output
        // tuple under duplicate (l_orderkey, l_linenumber) pairs
        .orderBy($"l_orderkey", $"l_linenumber", $"o_totalprice")
    },

    // Exact stratified sampling: 20% per stratum, deterministic. Rows are
    // ordered inside each stratum by a seeded hash (CrossHash affine) and
    // the first ⌈n/5⌉ kept — reproducible across runs and engines, unlike
    // Bernoulli `sample()`. One window shuffle on the stratum key; at
    // 100 TB with exact quotas unneeded, the no-shuffle variant is
    // `WHERE hash % 5 = 0` on the same seeded hash (≈20% without the
    // window), or `df.stat.sampleBy` for approximate fractions.
    Q("sample_stratified", {
      val hv = H.sqlAffine(0, "c_custkey")
      s"""WITH r AS (
         |  SELECT c_custkey, c_mktsegment,
         |    row_number() OVER (PARTITION BY c_mktsegment ORDER BY $hv, c_custkey) AS rn,
         |    count(*) OVER (PARTITION BY c_mktsegment) AS n
         |  FROM customer)
         |SELECT c_custkey, c_mktsegment, CAST(rn AS BIGINT) AS rn
         |FROM r WHERE rn <= (n + 4) // 5
         |ORDER BY c_custkey""".stripMargin
    }) { (s, d) =>
      val w = Window.partitionBy($"c_mktsegment")
        .orderBy(H.affine(0, $"c_custkey"), $"c_custkey")
      val wn = Window.partitionBy($"c_mktsegment")
      customer(s, d)
        .select($"c_custkey", $"c_mktsegment",
          row_number().over(w).cast(LongType).as("rn"),
          count(lit(1)).over(wn).as("n"))
        .filter($"rn" <= expr("(n + 4) div 5")) // integral div, both sides BIGINT
        .select($"c_custkey", $"c_mktsegment", $"rn")
        .orderBy($"c_custkey")
    },

    // Global deterministic k-sample: bottom-100 by seeded hash. Spark plans
    // orderBy+limit as TakeOrderedAndProject — per-partition bounded heaps,
    // then a driver merge of 100-row heads; NO global sort shuffle, so the
    // same plan samples 100 rows from 100 TB with one pass. Membership is a
    // pure function of the key (hash order), so reruns and engines agree —
    // the deterministic stand-in for reservoir sampling.
    Q("sample_bottomk", {
      val hv = H.sqlAffine(1, "c_custkey")
      s"""SELECT c_custkey, c_mktsegment, $hv AS hv
         |FROM customer ORDER BY hv, c_custkey LIMIT 100""".stripMargin
    }) { (s, d) =>
      customer(s, d)
        .select($"c_custkey", $"c_mktsegment", H.affine(1, $"c_custkey").as("hv"))
        .orderBy($"hv", $"c_custkey")
        .limit(100)
    },

    // Approximate percentiles (GK-family sketch): mergeable map-side
    // state like the count-min sketch, the quantile path at 100 TB where
    // exact `percentile` would shuffle whole value sets per group. Sketch
    // values are engine-specific, so the checked surface is the sketch's
    // own guarantee: the RANK of each approximate percentile, recomputed
    // exactly against the data, must sit within 1/accuracy (+ slack) of
    // the requested fraction. The oracle pins the `*_ok` booleans true —
    // robust to merge order, since the rank bound holds under any
    // partitioning. AnalyticsSpec still bounds the raw values.
    Q("agg_approx_percentile",
      """SELECT l_returnflag, count(*) AS cnt, true AS p50_ok, true AS p90_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val eps = 0.01 // accuracy=1000 → rank error ≤ 0.001; 10× slack
      val ap = lineitem(s, d).groupBy($"l_returnflag")
        .agg(
          percentile_approx($"l_quantity", lit(0.5), lit(1000)).as("a50"),
          percentile_approx($"l_quantity", lit(0.9), lit(1000)).as("a90"),
          count(lit(1)).as("cnt"))
      def rankOk(approx: Column, p: Double): Column = {
        val le = sum(when($"l_quantity" <= approx, 1L).otherwise(0L))
          .cast(DoubleType) / max($"cnt")
        val lt = sum(when($"l_quantity" < approx, 1L).otherwise(0L))
          .cast(DoubleType) / max($"cnt")
        le >= p - eps && lt <= p + eps
      }
      lineitem(s, d).join(broadcast(ap), "l_returnflag")
        .groupBy($"l_returnflag")
        .agg(max($"cnt").cast(LongType).as("cnt"),
          rankOk($"a50", 0.5).as("p50_ok"),
          rankOk($"a90", 0.9).as("p90_ok"))
        .orderBy($"l_returnflag")
    },

    // Count-min sketch (depth 4 × width 64) over supplier keys, with the
    // estimate replayed against exact counts for a probe set. The sketch is
    // a pure groupBy on (row, cell) — fully map-side combinable, fixed
    // 4×64-cell output regardless of input size, which is the whole point
    // at 100 TB: frequency estimation with O(1) state per partition. The
    // hash rows are the cross-engine affine family, so DuckDB rebuilds the
    // identical sketch and the estimates hash-match exactly.
    Q("agg_count_min", {
      def cellSql(key: String, i: String) =
        s"(($key * (((2*$i+1)*1103515245 + 12345) % ${H.P1}) + " +
          s"(($i*777767777 + 131071) % ${H.P1})) % ${H.P1}) % 64"
      s"""WITH cells AS (
         |  SELECT i, ${cellSql("l_suppkey", "i")} AS cell, count(*) AS c
         |  FROM lineitem, range(4) t(i) GROUP BY i, cell),
         |probe AS (
         |  SELECT l_suppkey, count(*) AS exact_cnt
         |  FROM lineitem WHERE l_suppkey <= 10 GROUP BY l_suppkey),
         |pc AS (
         |  SELECT p.l_suppkey, p.exact_cnt, t.i,
         |    ${cellSql("p.l_suppkey", "t.i")} AS cell
         |  FROM probe p, range(4) t(i))
         |SELECT pc.l_suppkey, pc.exact_cnt, min(c.c) AS est
         |FROM pc JOIN cells c ON c.i = pc.i AND c.cell = pc.cell
         |GROUP BY pc.l_suppkey, pc.exact_cnt
         |ORDER BY l_suppkey""".stripMargin
    }) { (s, d) =>
      // cell_i(x) = affine_i(x) mod 64 with i as a COLUMN (the seeded
      // coefficients are computed in-row; same formula as CrossHash.affine)
      def cell(key: Column, i: Column) = {
        val a = ((i * 2 + 1).cast(LongType) * 1103515245L + 12345L) % H.P1
        val b = (i.cast(LongType) * 777767777L + 131071L) % H.P1
        ((key * a + b) % H.P1) % 64
      }
      val li = lineitem(s, d).select($"l_suppkey")
      val cells = li.select($"l_suppkey", explode(sequence(lit(0), lit(3))).as("i"))
        .groupBy($"i", cell($"l_suppkey", $"i").as("cell"))
        .agg(count(lit(1)).as("c"))
      val probe = li.filter($"l_suppkey" <= 10)
        .groupBy($"l_suppkey").agg(count(lit(1)).as("exact_cnt"))
      probe.select($"l_suppkey", $"exact_cnt", explode(sequence(lit(0), lit(3))).as("i"))
        .withColumn("cell", cell($"l_suppkey", $"i"))
        .join(cells, Seq("i", "cell"))
        .groupBy($"l_suppkey", $"exact_cnt").agg(min($"c").as("est"))
        .orderBy($"l_suppkey")
    },

    // KMV (theta-family) distinct sketch WITH SET ALGEBRA: keep the K=64
    // smallest affine hashes of the distinct users per event type, estimate
    // distinct counts as (K−1)·P1/h_K, merge two sketches by re-trimming
    // their union, and estimate the intersection via the standard KMV
    // Jaccard (|KMV(A∪B) ∩ KMV(A) ∩ KMV(B)| / K). This is the mergeable
    // construction production set-operation sketches (Apache DataSketches
    // theta) are built on: per-group state is K hashes regardless of input
    // size, merges are associative — 100 TB fan-in is K-sized partial
    // states up a tree. Unlike agg_approx_distinct's opaque HLL, every
    // number here is a deterministic pure function of the affine
    // permutation (a coprime to prime P1 ⇒ bijective on keys < P1), so the
    // DuckDB oracle rebuilds the sketches bit-for-bit and the driver gate
    // hash-checks the whole estimate, not just row shape.
    Q("agg_kmv_theta", {
      val h = H.sqlAffine(0, "user_id")
      s"""WITH base AS (
         |  SELECT DISTINCT event_type AS t, $h AS h FROM events
         |  WHERE event_type IN ('click', 'view')),
         |ka AS (SELECT h FROM base WHERE t = 'click' ORDER BY h LIMIT 64),
         |kb AS (SELECT h FROM base WHERE t = 'view' ORDER BY h LIMIT 64),
         |ku AS (SELECT DISTINCT h FROM base ORDER BY h LIMIT 64),
         |na AS (SELECT count(*) AS n, max(h) AS hk FROM ka),
         |nb AS (SELECT count(*) AS n, max(h) AS hk FROM kb),
         |nu AS (SELECT count(*) AS n, max(h) AS hk FROM ku),
         |j AS (SELECT count(*) AS m FROM ku
         |  JOIN ka USING (h) JOIN kb USING (h))
         |SELECT 64 AS k,
         |  CASE WHEN na.n < 64 THEN CAST(na.n AS DOUBLE)
         |       ELSE 63.0 * ${H.P1} / na.hk END AS est_click,
         |  CASE WHEN nb.n < 64 THEN CAST(nb.n AS DOUBLE)
         |       ELSE 63.0 * ${H.P1} / nb.hk END AS est_view,
         |  CASE WHEN nu.n < 64 THEN CAST(nu.n AS DOUBLE)
         |       ELSE 63.0 * ${H.P1} / nu.hk END AS est_union,
         |  CAST(j.m AS DOUBLE) / nu.n *
         |    (CASE WHEN nu.n < 64 THEN CAST(nu.n AS DOUBLE)
         |          ELSE 63.0 * ${H.P1} / nu.hk END) AS est_inter
         |FROM na, nb, nu, j""".stripMargin
    }) { (s, d) =>
      val base = events(s, d)
        .filter($"event_type".isin("click", "view"))
        .select($"event_type".as("t"), H.affine(0, $"user_id").as("h"))
        .distinct()
      // K-smallest = TakeOrdered: per-partition top-K then a K-sized driver
      // merge — the distributed trim an Aggregator would do, no global sort
      def kmv(df: org.apache.spark.sql.DataFrame) =
        df.orderBy($"h").limit(64).select($"h")
      val ka = kmv(base.filter($"t" === "click"))
      val kb = kmv(base.filter($"t" === "view"))
      val ku = kmv(base.select($"h").distinct())
      def stats(df: org.apache.spark.sql.DataFrame, n: String, hk: String) =
        df.agg(count(lit(1)).as(n), max($"h").as(hk))
      def est(n: Column, hk: Column): Column =
        when(n < 64, n.cast(DoubleType))
          .otherwise(lit(63.0) * H.P1 / hk)
      val j = ku.join(ka, "h").join(kb, "h").agg(count(lit(1)).as("m"))
      stats(ka, "na", "hka").crossJoin(stats(kb, "nb", "hkb"))
        .crossJoin(stats(ku, "nu", "hku")).crossJoin(j)
        .select(lit(64).as("k"),
          est($"na", $"hka").as("est_click"),
          est($"nb", $"hkb").as("est_view"),
          est($"nu", $"hku").as("est_union"),
          ($"m".cast(DoubleType) / $"nu" * est($"nu", $"hku")).as("est_inter"))
    },

    // Equi-width histogram in exact integer space: bucket on cents div
    // 5 000 000 (= $50k buckets) so the bucketing is integer arithmetic,
    // never float-edge-sensitive. One map-side-combinable groupBy; the
    // standard first step of any distribution profile over 100 TB.
    Q("agg_histogram",
      """SELECT CAST(round(o_totalprice*100) AS BIGINT) // 5000000 AS bucket,
        |  count(*) AS cnt,
        |  CAST(min(o_totalprice) AS DOUBLE) AS lo,
        |  CAST(max(o_totalprice) AS DOUBLE) AS hi
        |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, d) =>
      orders(s, d)
        .groupBy(expr("CAST(round(o_totalprice*100) AS BIGINT) div 5000000")
          .as("bucket"))
        .agg(count(lit(1)).as("cnt"),
          min($"o_totalprice").cast(DoubleType).as("lo"),
          max($"o_totalprice").cast(DoubleType).as("hi"))
        .orderBy($"bucket")
    },

    // Regular-expression extraction family: extract-all + count + replace
    // + match test. Pure codegen'd string expressions — scales linearly,
    // no shuffle until the final sort. DuckDB needs the 'g' flag to match
    // Spark's replace-all default.
    Q("fn_regex",
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '(s[a-z]{3,})', 1)) AS INT) AS n_s_words,
        |  coalesce(regexp_extract_all(text, '(s[a-z]{3,})', 1)[1], '') AS first_s_word,
        |  CAST(regexp_matches(text, 'spark') AS INT) AS has_spark,
        |  CAST(length(regexp_replace(text, 'table', 'TBL', 'g')) AS BIGINT) AS rep_len
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      documents(s, d).select($"doc_id",
          size(regexp_extract_all($"text", lit("(s[a-z]{3,})"), lit(1))).as("n_s_words"),
          coalesce(try_element_at(regexp_extract_all($"text", lit("(s[a-z]{3,})"), lit(1)),
            lit(1)), lit("")).as("first_s_word"),
          $"text".rlike("spark").cast(IntegerType).as("has_spark"),
          length(regexp_replace($"text", "table", "TBL")).cast(LongType).as("rep_len"))
        .orderBy($"doc_id")
    },

    // URL handling (the web-corpus curation shape): construct a
    // deterministic URL per document, then host/path extraction and
    // tracking-parameter canonicalization via the SAME regexes in both
    // engines — canonical-URL grouping is the dedup key every crawl
    // pipeline starts from. All string ops, embarrassingly parallel.
    Q("fn_url",
      """WITH u AS (
        |  SELECT doc_id,
        |    'https://' || source || '.example.com/' || lang || '/doc/'
        |      || CAST(doc_id AS VARCHAR)
        |      || CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&id='
        |              || CAST(doc_id % 7 AS VARCHAR) ELSE '' END AS url
        |  FROM documents)
        |SELECT doc_id, url,
        |  regexp_extract(url, '^https?://([^/]+)', 1) AS host,
        |  regexp_extract(url, '^https?://[^/]+(/[^?]*)', 1) AS path,
        |  regexp_replace(url, '[?&]utm_[a-z]+=[^&]*', '') AS canonical,
        |  CAST(regexp_matches(url, '[?]') AS INT) AS has_query
        |FROM u ORDER BY doc_id""".stripMargin) { (s, d) =>
      documents(s, d)
        .select($"doc_id",
          concat(lit("https://"), $"source", lit(".example.com/"), $"lang",
            lit("/doc/"), $"doc_id".cast(StringType),
            when($"doc_id" % 3 === 0,
              concat(lit("?utm_source=feed&id="), ($"doc_id" % 7).cast(StringType)))
              .otherwise("")).as("url"))
        .select($"doc_id", $"url",
          regexp_extract($"url", "^https?://([^/]+)", 1).as("host"),
          regexp_extract($"url", "^https?://[^/]+(/[^?]*)", 1).as("path"),
          regexp_replace($"url", "[?&]utm_[a-z]+=[^&]*", "").as("canonical"),
          $"url".rlike("[?]").cast(IntegerType).as("has_query"))
        .orderBy($"doc_id")
    },

    // Semi-structured access through Spark 4 VARIANT: parse once, then
    // typed path extraction (`variant_get`) — the shredded-at-read scale
    // path for JSON event payloads, vs per-access string parsing
    // (fn_map_json covers the classic get_json_object route). A missing
    // path through try_variant_get yields NULL, as does the oracle's
    // json_extract on the same path.
    Q("fn_variant",
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS k,
        |  json_extract_string(props, '$.k') AS k_str,
        |  CAST(json_extract_string(props, '$.missing') AS INT) AS miss
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      val v = parse_json($"props")
      events(s, d).select($"event_id",
          variant_get(v, "$.k", "int").as("k"),
          variant_get(v, "$.k", "string").as("k_str"),
          try_variant_get(v, "$.missing", "int").as("miss"))
        .orderBy($"event_id")
    },

    // Time-series resample: sparse per-user events onto a dense hourly
    // grid (Jan 2024), forward-filling the last observed hourly sum.
    // Aggregate first (events → one row per user×hour), THEN join the
    // grid — so the expensive side is one groupBy at full scale and the
    // grid join is bounded by users × hours, not by events. The fill is a
    // running `last(ignoreNulls)` window per user — one shuffle, ordered
    // within user. Leading hours before a user's first event stay NULL in
    // both engines.
    Q("ts_resample",
      """WITH base AS (
        |  SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS hr,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v,
        |    count(*) AS n
        |  FROM events WHERE user_id < 3 GROUP BY user_id, hr),
        |grid AS (
        |  SELECT CAST(u.user_id AS BIGINT) AS user_id, g.hr
        |  FROM (SELECT unnest([0,1,2]) AS user_id) u,
        |    (SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
        |       TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 HOUR)) AS hr) g)
        |SELECT g.user_id, g.hr, coalesce(b.n, 0) AS n,
        |  last_value(b.v IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.hr
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_fill
        |FROM grid g LEFT JOIN base b ON b.user_id = g.user_id AND b.hr = g.hr
        |ORDER BY g.user_id, g.hr""".stripMargin) { (s, d) =>
      val base = events(s, d).filter($"user_id" < 3)
        .groupBy($"user_id", date_trunc("hour", $"ts").as("hr"))
        .agg(dsum($"value").as("v"), count(lit(1)).as("n"))
      // grid = per-user explode of the hour sequence (no cross join — the
      // sequence literal is generated inside each user row)
      val grid = s.range(3).select($"id".as("user_id"), explode(expr(
        "sequence(timestamp'2024-01-01 00:00:00', " +
          "timestamp'2024-01-30 23:00:00', interval 1 hour)")).as("hr"))
      val w = Window.partitionBy($"user_id").orderBy($"hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(base, Seq("user_id", "hr"), "left")
        .select($"user_id", $"hr", coalesce($"n", lit(0L)).as("n"),
          last($"v", ignoreNulls = true).over(w).as("v_fill"))
        .orderBy($"user_id", $"hr")
    },

    // Cohort retention: users grouped by first-active day, counted on each
    // later active day (bounded to a 7-day window). Two combinable
    // aggregations and one join on user_id — the cohort side is one row
    // per user, broadcast-sized relative to the activity table, so the
    // shape is one shuffle of the distinct (user, day) activity set no
    // matter how many raw events back it.
    Q("events_retention",
      """WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |coh AS (SELECT user_id, min(day) AS cohort FROM act GROUP BY user_id)
        |SELECT c.cohort, CAST(datediff('day', c.cohort, a.day) AS INT) AS offset_days,
        |  count(*) AS n_users
        |FROM act a JOIN coh c ON a.user_id = c.user_id
        |WHERE datediff('day', c.cohort, a.day) <= 7
        |GROUP BY c.cohort, offset_days
        |ORDER BY cohort, offset_days""".stripMargin) { (s, d) =>
      val act = events(s, d)
        .select($"user_id", to_date($"ts").as("day")).distinct()
      val coh = act.groupBy($"user_id").agg(min($"day").as("cohort"))
      act.join(coh, Seq("user_id"))
        .select($"cohort", datediff($"day", $"cohort").as("offset_days"))
        .filter($"offset_days" <= 7)
        .groupBy($"cohort", $"offset_days")
        .agg(count(lit(1)).as("n_users"))
        .orderBy($"cohort", $"offset_days")
    },

    // Conversion funnel: views that lead to a purchase by the same user
    // within 30 minutes, aggregated per day. The view→purchase pairing is
    // a per-user interval join (the batch shape of the stream-stream
    // interval join in graft.streaming.StreamingOps): both sides shuffle
    // once on user_id and the time band bounds the per-user pair count, so
    // the join never goes quadratic in total events — only within a
    // (user, 30 min) neighborhood.
    Q("events_funnel",
      """WITH v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
        |cv AS (SELECT DISTINCT v.event_id
        |  FROM v JOIN p ON p.user_id = v.user_id
        |    AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE)
        |SELECT CAST(ts AS DATE) AS day, count(*) AS n_views,
        |  CAST(sum(CASE WHEN event_id IN (SELECT event_id FROM cv)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_conv
        |FROM v GROUP BY day ORDER BY day""".stripMargin) { (s, d) =>
      val ev = events(s, d)
      val v = ev.filter($"event_type" === "view")
        .select($"event_id", $"user_id", $"ts")
      val p = ev.filter($"event_type" === "purchase")
        .select($"user_id".as("pu"), $"ts".as("pts"))
      val converted = v.join(p,
          $"pu" === $"user_id" && $"pts" > $"ts" &&
            $"pts" <= $"ts" + expr("interval 30 minutes"), "left_semi")
        .select($"event_id", lit(1).as("c"))
      v.join(converted, Seq("event_id"), "left")
        .groupBy(to_date($"ts").as("day"))
        .agg(count(lit(1)).as("n_views"),
          sum(coalesce($"c", lit(0))).cast(LongType).as("n_conv"))
        .orderBy($"day")
    },

    // Strict THREE-step funnel: view → click (≤30 min later) → purchase
    // (≤30 min after the click), same user, ordered. Each hop is the same
    // bounded per-user interval join as events_funnel — the chain shuffles
    // all three legs once on user_id and the time bands keep per-user pair
    // counts linear, so step depth adds joins, never quadratic blowup.
    // Semi-join de-dups multi-path conversions (a view with 3 qualifying
    // clicks counts once).
    Q("events_funnel3",
      """WITH v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
        |c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
        |s2 AS (SELECT DISTINCT v.event_id
        |  FROM v JOIN c ON c.user_id = v.user_id
        |    AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE),
        |s3 AS (SELECT DISTINCT v.event_id
        |  FROM v JOIN c ON c.user_id = v.user_id
        |    AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
        |  JOIN p ON p.user_id = v.user_id
        |    AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE)
        |SELECT CAST(v.ts AS DATE) AS day, count(*) AS n_views,
        |  CAST(sum(CASE WHEN v.event_id IN (SELECT event_id FROM s2)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_step2,
        |  CAST(sum(CASE WHEN v.event_id IN (SELECT event_id FROM s3)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_step3
        |FROM v GROUP BY day ORDER BY day""".stripMargin) { (s, d) =>
      val ev = events(s, d)
      val v = ev.filter($"event_type" === "view")
        .select($"event_id", $"user_id", $"ts")
      val c = ev.filter($"event_type" === "click")
        .select($"user_id".as("cu"), $"ts".as("cts"))
      val p = ev.filter($"event_type" === "purchase")
        .select($"user_id".as("pu"), $"ts".as("pts"))
      val band30 = expr("interval 30 minutes")
      val s2 = v.join(c,
          $"cu" === $"user_id" && $"cts" > $"ts" && $"cts" <= $"ts" + band30,
          "left_semi")
        .select($"event_id", lit(1).as("c2"))
      val s3 = v.join(c,
          $"cu" === $"user_id" && $"cts" > $"ts" && $"cts" <= $"ts" + band30)
        .join(p,
          $"pu" === $"user_id" && $"pts" > $"cts" && $"pts" <= $"cts" + band30,
          "left_semi")
        .select($"event_id").distinct()
        .withColumn("c3", lit(1))
      v.join(s2, Seq("event_id"), "left")
        .join(s3, Seq("event_id"), "left")
        .groupBy(to_date($"ts").as("day"))
        .agg(count(lit(1)).as("n_views"),
          sum(coalesce($"c2", lit(0))).cast(LongType).as("n_step2"),
          sum(coalesce($"c3", lit(0))).cast(LongType).as("n_step3"))
        .orderBy($"day")
    },

    // RFM (recency / frequency / monetary) segmentation — the classic
    // customer-value rollup. Quartile codes come from EXACT global
    // percentile thresholds (one 1-row aggregate, broadcast back), not
    // ntile: ntile needs a single-partition global sort over all users,
    // while threshold bucketing keeps the assignment embarrassingly
    // parallel — the only shuffle is the per-user aggregate. Thresholds
    // and values are exact (epoch-day ints, counts, decimal sums), so the
    // >-comparisons are engine-identical.
    Q("events_rfm",
      """WITH a AS (SELECT user_id, CAST(max(ts) AS DATE) AS last_day,
        |    count(*) AS freq,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS monetary
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        |b AS (SELECT user_id, last_day,
        |    CAST(date_diff('day', DATE '1970-01-01', last_day) AS BIGINT) AS rdays,
        |    freq, monetary FROM a),
        |t AS (SELECT
        |    quantile_cont(rdays, 0.25) AS r1, quantile_cont(rdays, 0.5) AS r2,
        |    quantile_cont(rdays, 0.75) AS r3,
        |    quantile_cont(freq, 0.25) AS f1, quantile_cont(freq, 0.5) AS f2,
        |    quantile_cont(freq, 0.75) AS f3,
        |    quantile_cont(monetary, 0.25) AS m1, quantile_cont(monetary, 0.5) AS m2,
        |    quantile_cont(monetary, 0.75) AS m3 FROM b)
        |SELECT user_id, last_day, freq, monetary,
        |  1 + CAST(rdays > r1 AS INT) + CAST(rdays > r2 AS INT)
        |    + CAST(rdays > r3 AS INT) AS r_q,
        |  1 + CAST(freq > f1 AS INT) + CAST(freq > f2 AS INT)
        |    + CAST(freq > f3 AS INT) AS f_q,
        |  1 + CAST(monetary > m1 AS INT) + CAST(monetary > m2 AS INT)
        |    + CAST(monetary > m3 AS INT) AS m_q
        |FROM b, t ORDER BY user_id""".stripMargin) { (s, d) =>
      val a = events(s, d).filter($"event_type" === "purchase")
        .groupBy($"user_id")
        .agg(max($"ts").cast(DateType).as("last_day"),
          count(lit(1)).as("freq"), dsum($"value").as("monetary"))
        .withColumn("rdays",
          datediff($"last_day", lit("1970-01-01").cast(DateType)).cast(LongType))
      val t = a.agg(
        expr("percentile(rdays, 0.25)").as("r1"), expr("percentile(rdays, 0.5)").as("r2"),
        expr("percentile(rdays, 0.75)").as("r3"),
        expr("percentile(freq, 0.25)").as("f1"), expr("percentile(freq, 0.5)").as("f2"),
        expr("percentile(freq, 0.75)").as("f3"),
        expr("percentile(monetary, 0.25)").as("m1"), expr("percentile(monetary, 0.5)").as("m2"),
        expr("percentile(monetary, 0.75)").as("m3"))
      def bucket(v: Column, q1: Column, q2: Column, q3: Column): Column =
        lit(1) + (v > q1).cast(IntegerType) + (v > q2).cast(IntegerType) +
          (v > q3).cast(IntegerType)
      a.crossJoin(broadcast(t))
        .select($"user_id", $"last_day", $"freq", $"monetary",
          bucket($"rdays", $"r1", $"r2", $"r3").as("r_q"),
          bucket($"freq", $"f1", $"f2", $"f3").as("f_q"),
          bucket($"monetary", $"m1", $"m2", $"m3").as("m_q"))
        .orderBy($"user_id")
    },

    // Market-basket pair mining: co-occurring part pairs within an order.
    // Pair blowup is bounded by (items/order choose 2) — ≤ ~80 with
    // TPC-H's ≤13 distinct parts per order — LINEAR in order count at any
    // scale. The basket is built by groupBy(orderkey).collect_set, NOT
    // the DISTINCT + orderkey self-join the oracle runs: the self-join
    // sort-merge-sorted two 60M-row sides and read the exchange twice
    // (2.8 GB shuffle, 36 s at sf10), while the set agg exchanges each
    // item once with near-perfect map-side combine (lineitem files are
    // orderkey-clustered) and emits pairs row-locally from the sorted
    // basket — p1 < p2 by construction. Per-group state is bounded by
    // the basket size, so there is no skew cliff. Top-k lands in
    // TakeOrdered (no global sort materialization).
    Q("basket_pairs",
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS support
        |FROM items a JOIN items b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2 ORDER BY support DESC, p1, p2 LIMIT 100""".stripMargin) { (s, d) =>
      // Width dispatch (the inter_counts pairBuildPartitions pattern):
      // pair volume is Σ C(basket,2) ≈ O·b̄(b̄−1)/2 — at a FIXED session
      // width, per-task aggregate state grows linearly with the corpus
      // (measured sf10→sf30 per-task spill 3.0× on 3× data at 98 fixed
      // tasks; `runMain graft.Ab <sfDir> 1 basket_pairs` prints the
      // per-task peak memory and spill). Estimate the volume from two cheap
      // table stats (one map-combined pass), scale BOTH heavy stages
      // with it: the per-order basket build and the (p1,p2) support
      // count — the second repartition sits before the pair aggregation
      // deliberately; measured combine ratio is ~1 (near-unique pairs),
      // so pre-exchange partial agg bought nothing while pinning the
      // reduce state to 1/32nd of the corpus.
      val li = lineitem(s, d)
      val st = li.agg(count(lit(1)).cast("double").as("l"),
        approx_count_distinct($"l_orderkey").cast("double").as("o")).head()
      val (l, o) = (st.getDouble(0), st.getDouble(1))
      val bbar = if (o > 0) l / o else 0.0
      val estPairs = o * bbar * math.max(0.0, bbar - 1) / 2.0
      val parts = graft.llm.LlmQueries.pairBuildPartitions(s, estPairs * 2.0)
      li.repartition(parts, $"l_orderkey")
        .groupBy($"l_orderkey")
        .agg(sort_array(collect_set($"l_partkey")).as("ps"))
        .filter(size($"ps") >= 2)
        .select($"ps", posexplode($"ps"))
        .select($"col".as("p1"),
          explode(slice($"ps", $"pos" + 2, size($"ps") - $"pos" - 1)).as("p2"))
        .repartition(parts, $"p1", $"p2")
        .groupBy($"p1", $"p2")
        .agg(count(lit(1)).as("support"))
        .orderBy($"support".desc, $"p1", $"p2")
        .limit(100)
    },

    // Running distinct-count per user: "how many event types has this user
    // seen so far". Window DISTINCT aggregates don't exist; the standard
    // rewrite is a first-occurrence flag (row_number over (user, type)) +
    // a running sum — two window passes that BOTH hash-partition on
    // user_id, so AQE reuses one exchange and nothing is global.
    Q("win_running_distinct",
      """WITH f AS (SELECT user_id, ts, event_id, event_type,
        |  CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END AS first_seen
        |  FROM events)
        |SELECT user_id, ts, event_id,
        |  CAST(SUM(first_seen) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS n_types_seen
        |FROM f ORDER BY user_id, ts, event_id""".stripMargin) { (s, d) =>
      val perType = Window.partitionBy($"user_id", $"event_type")
        .orderBy($"ts", $"event_id")
      val run = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, d)
        .withColumn("first_seen",
          when(row_number().over(perType) === 1, 1).otherwise(0))
        .select($"user_id", $"ts", $"event_id",
          sum($"first_seen").over(run).cast(IntegerType).as("n_types_seen"))
        .orderBy($"user_id", $"ts", $"event_id")
    },

    // Behavioral trigrams: the event-type path n-gram table (session-mining
    // / next-action-model features). lead() over the per-user stream — one
    // user_id shuffle — then a vocabulary-bounded groupBy (≤ |types|³
    // rows out regardless of corpus size).
    Q("events_ngrams",
      """WITH s AS (SELECT user_id, event_type AS t1,
        |  lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t2,
        |  lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t3
        |  FROM events)
        |SELECT t1, t2, t3, count(*) AS n FROM s WHERE t3 IS NOT NULL
        |GROUP BY 1, 2, 3 ORDER BY n DESC, t1, t2, t3""".stripMargin) { (s, d) =>
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      events(s, d)
        .select($"event_type".as("t1"),
          lead($"event_type", 1).over(w).as("t2"),
          lead($"event_type", 2).over(w).as("t3"))
        .filter($"t3".isNotNull)
        .groupBy($"t1", $"t2", $"t3").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"t1", $"t2", $"t3")
    },

    // Weekly cohort churn: users active in week W with no activity in
    // W+1. Week = floor(epoch-day-delta / 7) — explicit integer bucket
    // arithmetic, not date_trunc('week'), so both engines agree on
    // boundaries without ISO-week conventions. The (wk, user) frame is a
    // DISTINCT (one shuffle), the W→W+1 probe a self left-anti-shaped
    // join on user_id — both partition by user-scale keys, output is
    // week-vocabulary-sized.
    Q("events_churn",
      """WITH au AS (SELECT DISTINCT
        |    CAST(floor(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7) AS INT) AS wk,
        |    user_id FROM events)
        |SELECT a.wk, count(*) AS active,
        |  CAST(SUM(CASE WHEN b.user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS churned
        |FROM au a LEFT JOIN au b ON b.user_id = a.user_id AND b.wk = a.wk + 1
        |GROUP BY a.wk ORDER BY a.wk""".stripMargin) { (s, d) =>
      val au = events(s, d)
        .select(floor(datediff($"ts".cast(DateType),
            lit("2024-01-01").cast(DateType)) / 7).cast(IntegerType).as("wk"),
          $"user_id")
        .distinct()
      au.as("a").join(au.as("b"),
          col("b.user_id") === col("a.user_id") && col("b.wk") === col("a.wk") + 1,
          "left")
        .groupBy(col("a.wk").as("wk"))
        .agg(count(lit(1)).as("active"),
          sum(when(col("b.user_id").isNull, 1).otherwise(0)).cast(LongType)
            .as("churned"))
        .orderBy($"wk")
    },

    // DAU/WAU stickiness per week. Three distinct-user rollups (day grain,
    // then week grain), all integer counts; the ratio is ONE double
    // division over an integer product, so engines agree bit-for-bit.
    // At 100 TB the (day, user) DISTINCT is the only full-data shuffle;
    // everything above it is vocabulary-sized.
    Q("events_stickiness",
      """WITH d AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |dau AS (SELECT day, count(*) AS dau FROM d GROUP BY day),
        |wau AS (SELECT CAST(floor(date_diff('day', DATE '2024-01-01', day) / 7) AS INT) AS wk,
        |    count(DISTINCT user_id) AS wau
        |  FROM d GROUP BY 1),
        |wd AS (SELECT CAST(floor(date_diff('day', DATE '2024-01-01', day) / 7) AS INT) AS wk,
        |    CAST(sum(dau) AS BIGINT) AS sum_dau, count(*) AS n_days
        |  FROM dau GROUP BY 1)
        |SELECT wd.wk, wau, sum_dau, n_days,
        |  CAST(sum_dau AS DOUBLE) / (n_days * wau) AS stickiness
        |FROM wd JOIN wau ON wd.wk = wau.wk ORDER BY wd.wk""".stripMargin) { (s, d) =>
      val byDay = events(s, d)
        .select($"ts".cast(DateType).as("day"), $"user_id").distinct()
      val wkCol = floor(datediff($"day", lit("2024-01-01").cast(DateType)) / 7)
        .cast(IntegerType).as("wk")
      val dau = byDay.groupBy($"day").agg(count(lit(1)).as("dau"))
      val wau = byDay.select(wkCol, $"user_id")
        .groupBy($"wk").agg(countDistinct($"user_id").as("wau"))
      val wd = dau.select(wkCol, $"dau")
        .groupBy($"wk")
        .agg(sum($"dau").cast(LongType).as("sum_dau"), count(lit(1)).as("n_days"))
      wd.join(wau, "wk")
        .select($"wk", $"wau", $"sum_dau", $"n_days",
          ($"sum_dau".cast(DoubleType) / ($"n_days" * $"wau")).as("stickiness"))
        .orderBy($"wk")
    },

    // Time-to-convert: first 'view' → first 'purchase' per user. One
    // conditional-min rollup (a single user_id shuffle — the CASE mins
    // are partial-aggregable, so map-side combine does most of the work
    // at 100 TB), then a null/order filter. The delta is exact integer
    // microseconds (epoch_us/unix_micros); the seconds column is ONE
    // double division of that integer.
    Q("events_time_to_convert",
      """WITH f AS (SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
        |  FROM events GROUP BY user_id)
        |SELECT user_id, first_view, first_purchase,
        |  epoch_us(first_purchase) - epoch_us(first_view) AS us_to_convert,
        |  CAST(epoch_us(first_purchase) - epoch_us(first_view) AS DOUBLE)
        |    / 1000000.0 AS secs_to_convert
        |FROM f
        |WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
        |  AND first_view < first_purchase
        |ORDER BY user_id""".stripMargin) { (s, d) =>
      events(s, d)
        .groupBy($"user_id")
        .agg(min(when($"event_type" === "view", $"ts")).as("first_view"),
          min(when($"event_type" === "purchase", $"ts")).as("first_purchase"))
        .filter($"first_view".isNotNull && $"first_purchase".isNotNull &&
          $"first_view" < $"first_purchase")
        .select($"user_id", $"first_view", $"first_purchase",
          (unix_micros($"first_purchase") - unix_micros($"first_view"))
            .as("us_to_convert"),
          ((unix_micros($"first_purchase") - unix_micros($"first_view"))
            .cast(DoubleType) / 1000000.0).as("secs_to_convert"))
        .orderBy($"user_id")
    },

    // Ordinal distribution family: quartile assignment (ntile) + relative
    // position (percent_rank, cume_dist) per market segment. ntile numbers
    // ROW POSITIONS, not ranks, so the window ORDER BY must be total
    // (acctbal, custkey) or tied rows land in engine-dependent buckets.
    // percent_rank = (rank-1)/(n-1) and cume_dist = peers/n are single IEEE
    // divisions of exact integers — bit-identical across engines. One
    // window shuffle on the segment key; at 100 TB each segment's rows
    // sort within their partition, no global sort.
    Q("win_ntile",
      """SELECT c_custkey, c_mktsegment,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy($"c_mktsegment").orderBy($"c_acctbal", $"c_custkey")
      customer(s, d).select($"c_custkey", $"c_mktsegment",
          ntile(4).over(w).cast(LongType).as("quartile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .orderBy($"c_custkey")
    },

    // Deterministic MODE: built-in mode() breaks ties arbitrarily in both
    // engines, so the modal value is computed as count-then-argmax with an
    // explicit (cnt DESC, value ASC) tiebreak — reproducible everywhere.
    // Two map-side-combinable aggregations; the window runs over the tiny
    // grouped frame (|statuses|×|priorities| rows), not the fact table.
    Q("agg_mode",
      """WITH c AS (SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
        |  FROM orders GROUP BY o_orderstatus, o_orderpriority)
        |SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_orderstatus
        |    ORDER BY cnt DESC, o_orderpriority) AS rn FROM c)
        |WHERE rn = 1 ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
      val c = orders(s, d)
        .groupBy($"o_orderstatus", $"o_orderpriority")
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy($"o_orderstatus")
        .orderBy($"cnt".desc, $"o_orderpriority")
      c.withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"o_orderstatus", $"o_orderpriority".as("mode_priority"), $"cnt")
        .orderBy($"o_orderstatus")
    },

    // Bitwise aggregates (bit_and / bit_or / bit_xor): order-independent
    // by algebra, so partial aggregation composes freely — the cheapest
    // possible distributed aggregate (fixed 8-byte state per partition),
    // used in practice for flag-mask rollups and XOR-based set
    // reconciliation (a missing/duplicated row flips the xor).
    Q("agg_bitops",
      """SELECT l_returnflag,
        |  CAST(bit_and(l_suppkey) AS BIGINT) AS b_and,
        |  CAST(bit_or(l_partkey) AS BIGINT) AS b_or,
        |  CAST(bit_xor(l_orderkey) AS BIGINT) AS b_xor,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .groupBy($"l_returnflag")
        .agg(expr("bit_and(l_suppkey)").cast(LongType).as("b_and"),
          expr("bit_or(l_partkey)").cast(LongType).as("b_or"),
          expr("bit_xor(l_orderkey)").cast(LongType).as("b_xor"),
          count(lit(1)).as("cnt"))
        .orderBy($"l_returnflag")
    },

    // Recursive CTE (Spark 4's WITH RECURSIVE, planned as UnionLoop):
    // level-order walk of the implicit binary tree parent(k)=⌊k/2⌋ over
    // part keys. ONE shared SQL text is both the Spark query and the
    // oracle — the recursive join keys on floor(p_partkey/2), an EQUI key
    // both engines hash-join (an OR-of-equalities child condition would
    // force a nested loop). Iterations = tree depth = ⌈log₂ maxkey⌉ (~15
    // at sf0.1, 21 at sf10) — each a hash join of the frontier against
    // part, so the total work is one scan of part per LEVEL, not per row.
    Q("sql_recursive", RecursiveTreeSql) { (s, d) =>
      // the walk visits each part exactly once (linear, not exponential),
      // but Spark's default 1M-row recursion valve is a runaway guard the
      // sf10 gate (2M parts) trips. The raised ceiling is a SESSION
      // BOOTSTRAP policy (GraftSession.RecursionRowLimit, set in every
      // gate builder), NOT a mutation here: UnionLoopExec reads the conf
      // at execution time, so a set-then-restore around this lazily-
      // executed frame would silently re-arm the 1M valve before the
      // recursion ever ran — and a set without restore would disable the
      // valve for every later recursive query on a shared session.
      part(s, d).createOrReplaceTempView("part")
      s.sql(RecursiveTreeSql)
    },

    // Salted skewed join (SkewOps.saltedJoin registered end-to-end): ~80%
    // of events collapse onto ONE hot key, the pathological fact⋈dim shape
    // where a plain hash join funnels the hot key through a single reducer
    // (at 100 TB: one straggler task holding the stage). The salt spreads
    // the hot key over 8 (key, salt) reducers; the dim replicates 8× (tiny
    // — dims are, or you'd broadcast). The salt is CONTENT-hashed, so a
    // recomputed lost task re-derives identical assignments (retry-stable,
    // the SPARK-23207 class of bug). Oracle is the plain join — salting
    // must be invisible in the result. AQE's skewedJoin handles the
    // sort-merge case adaptively; this is the explicit form for when AQE
    // can't (fixed partitioning, streaming state, aggregation builds).
    Q("join_skew",
      """WITH big AS (
        |  SELECT CASE WHEN user_id % 10 < 8 THEN 'click' ELSE event_type END AS k,
        |         event_id
        |  FROM events),
        |dim AS (SELECT DISTINCT event_type AS dk FROM events)
        |SELECT b.k AS k, CAST(length(b.k) AS INT) AS w,
        |       count(*) AS n, CAST(sum(b.event_id) AS BIGINT) AS id_sum
        |FROM big b JOIN dim d ON b.k = d.dk
        |GROUP BY b.k ORDER BY k""".stripMargin) { (s, d) =>
      val ev = events(s, d)
      val big = ev.select(
        when(pmod($"user_id", lit(10)) < 8, lit("click"))
          .otherwise($"event_type").as("k"),
        $"event_id")
      // shuffle_hash hint: at THIS scale Catalyst would broadcast the
      // 5-row dim and trivially avoid the skew — the hint simulates the
      // 100 TB case the salt exists for (dim too big to broadcast), so the
      // plan under audit is the real salted SHUFFLE: both sides hash on
      // (key, salt) and the hot key spreads over 8 reducers
      val dim = ev.select($"event_type".as("dk")).distinct().hint("shuffle_hash")
      SkewOps.saltedJoin(big, dim, "k", "dk", n = 8)
        .groupBy($"k")
        .agg(count(lit(1)).as("n"), sum($"event_id").as("id_sum"))
        .select($"k", length($"k").cast(IntegerType).as("w"), $"n", $"id_sum")
        .orderBy($"k")
    }
  )

  private lazy val RecursiveTreeSql: String =
    """WITH RECURSIVE tree(k, depth) AS (
      |  SELECT CAST(1 AS BIGINT) AS k, 0 AS depth
      |  UNION ALL
      |  SELECT p.p_partkey, t.depth + 1
      |  FROM tree t JOIN part p
      |  ON CAST(floor(p.p_partkey / 2) AS BIGINT) = t.k
      |)
      |SELECT depth, count(*) AS n, min(k) AS lo, max(k) AS hi
      |FROM tree GROUP BY depth ORDER BY depth""".stripMargin

  // $"…" sugar without a SparkSession-bound `implicits` import.
  private implicit class Interp(val sc: StringContext) {
    def $(args: Any*): Column = col(sc.s(args: _*))
  }
}
