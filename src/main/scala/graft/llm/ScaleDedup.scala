package graft.llm

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Scale-path dedup companions to [[LlmQueries]]: benchmark decontamination
  * by exact token-span overlap, and the one connected-components entry
  * point every clustering query calls ([[connectedComponents]]: a driver
  * union-find while the pair graph fits the driver heap, the distributed
  * star contraction above that cap).
  */
object ScaleDedup {
  import Tables._
  import graft.functions.{CrossHash => H}

  /** Span length for decontamination (tokens per exact-match window). */
  private val SpanLen = 5

  /** Span length for corpus-internal exact-substring dedup. */
  private val SubLen = 8

  /** Driver heap per pair on [[connectedComponents]]' union-find path,
    * measured on disjoint pairs (two new nodes per pair, the worst case):
    * the smallest `-Xmx` that completes the call grows ~575 MB per million
    * pairs (collected rows of boxed longs, the `LongMap` parent table, the
    * labels and the local frame), not the 16 B of two raw longs.
    */
  private[llm] val DriverBytesPerPair = 600L

  /** Share of the driver heap the pair graph may take; the rest stays
    * free for the session, memo frames and the caller's own collect.
    */
  private val DriverHeapShare = 4L

  /** Most pairs [[connectedComponents]] union-finds on the driver of a JVM
    * with `maxHeapBytes` (`Runtime.maxMemory`): a quarter of the heap at
    * [[DriverBytesPerPair]] — 1.3M pairs at 3 GiB, 3.6M at 8 GiB.
    */
  private[llm] def driverPairCap(maxHeapBytes: Long): Long =
    maxHeapBytes / DriverHeapShare / DriverBytesPerPair

  /** Connected components of an undirected pair graph — the one entry point
    * for every clustering query. Input: two LONG node-id columns, any
    * orientation, self-loops ignored. Output: (id, cluster) for every node
    * incident to an edge, cluster = min node id of its component.
    *
    * The path follows the pair count (one job). At most `maxDriverPairs`
    * pairs are collected once and union-found on the driver (min root, so
    * the labels are deterministic) and come back as a local frame: 2 jobs
    * in all. Above the cap the graph would not fit the driver, and
    * [[starContraction]] labels it without ever collecting it. Both paths
    * give identical labels (spec-asserted on both sides of the cap).
    */
  def connectedComponents(pairs: DataFrame,
      maxDriverPairs: Long = driverPairCap(Runtime.getRuntime.maxMemory)): DataFrame = {
    val e = pairs.toDF("a", "b")
    // an RDD count is one job; `Dataset.count` is two under AQE, whose
    // single-partition exchange runs as a stage job of its own
    if (e.queryExecution.toRdd.count() > maxDriverPairs) starContraction(e)
    else {
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (c != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      e.collect().foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        if (a != b) {
          parent.getOrElseUpdate(a, a)
          parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
        }
      }
      val labeled = parent.keys.toArray.map(u => (u, find(u)))
      pairs.sparkSession.createDataFrame(labeled.toSeq).toDF("id", "cluster")
    }
  }

  /** Alternating large-star / small-star connected components (Kiveris et
    * al., "Connected Components in MapReduce and Beyond"): O(log n) rounds
    * on any graph shape, where min-label propagation needs rounds =
    * diameter. Each half-round is one aggregation (per-node neighborhood
    * min) + one join, both partitioned by node id; no neighborhood is ever
    * collected, so hot nodes cost a shuffle skew, not memory. The path
    * [[connectedComponents]] takes above its driver cap, and the one
    * `dedup_cluster_dist` always takes. Same input and output contract.
    */
  private[llm] def starContraction(pairs: DataFrame, maxRounds: Int = 50): DataFrame = {
    def canon(df: DataFrame): DataFrame = df
      .filter($"a" =!= $"b")
      .select(greatest($"a", $"b").as("src"), least($"a", $"b").as("dst"))
      .distinct()
    def sym(e: DataFrame): DataFrame =
      e.union(e.select($"dst".as("src"), $"src".as("dst")))
    // per-node m(u) = min(Γ(u) ∪ {u}) over the symmetrized edges
    def mins(s: DataFrame): DataFrame =
      s.groupBy($"src").agg(least(min($"dst"), $"src").as("m"))
    def halfRound(e: DataFrame, large: Boolean): DataFrame = {
      val s = sym(e)
      val withMin = s.join(mins(s), "src")
      val moved =
        if (large) withMin.filter($"dst" > $"src").select($"dst".as("a"), $"m".as("b"))
        else withMin.filter($"dst" <= $"src").select($"dst".as("a"), $"m".as("b"))
          .union(mins(s).select($"src".as("a"), $"m".as("b")))
      canon(moved)
    }
    // exact fingerprint of the canonical edge set: (count, Σ src·2³² + dst).
    // The sum runs in DECIMAL(38,0) end-to-end: per-edge src·2³² alone
    // overflows LONG once ids reach 2³¹, and the SUM overflows far earlier
    // (≈ 4×10³ edges at 500k ids — found by the sf10 gate, where ANSI mode
    // correctly refused the silent wrap the convergence check would
    // otherwise have keyed on).
    def fingerprint(e: DataFrame): (Long, java.math.BigDecimal) = {
      val fp = ($"src".cast(DecimalType(38, 0)) * lit(4294967296L) + $"dst")
      val r = e.agg(count(lit(1)), sum(fp)).head()
      (r.getLong(0),
        if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1))
    }
    // localCheckpoint (not persist): truncates LINEAGE, not just caches —
    // without it the logical plan doubles every round and Catalyst
    // planning time explodes long before the data does
    var e = canon(pairs.toDF("a", "b")).localCheckpoint()
    var fp = fingerprint(e)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val next = halfRound(halfRound(e, large = true), large = false).localCheckpoint()
      val nfp = fingerprint(next)
      converged = nfp == fp
      fp = nfp
      e = next
      rounds += 1
    }
    // fixpoint is a star forest: src (non-root) → dst (root); roots label
    // themselves
    e.select($"src".as("id"), $"dst".as("cluster"))
      .union(e.select($"dst".as("id"), $"dst".as("cluster")).distinct())
      .distinct()
  }

  val queries: Seq[Q] = Seq(

    // Benchmark decontamination: which corpus docs (doc_id ≥ 10) contain an
    // exact 5-token span that also appears in the "benchmark" set
    // (doc_id < 10)? The standard train-set hygiene operator. Spark side:
    // one posexplode + per-token polynomial hash, then a single window pass
    // turns token hashes into rolling span hashes (lead(h,k) — no
    // re-tokenization per span), and the span join is against the DISTINCT
    // benchmark spans, a tiny broadcast side at any corpus scale: cost is
    // one shuffle of corpus spans by hash. The oracle rebuilds identical
    // span hashes via a DuckDB list comprehension over the same
    // cross-engine polynomial.
    Q("decontaminate_spans", {
      def h(x: String) = H.sqlWordHash(x)
      val spanExpr = H.sqlFoldHash((0 until SpanLen).map(k => h(s"ws[i+$k]")))
      s"""WITH spans AS (
         |  SELECT doc_id,
         |    unnest([$spanExpr FOR i IN range(1, len(ws) - ${SpanLen - 2})]) AS sp
         |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
         |bench AS (SELECT DISTINCT sp FROM spans WHERE doc_id < 10)
         |SELECT doc_id, count(*) AS n_hits, count(DISTINCT sp) AS n_uniq
         |FROM spans WHERE doc_id >= 10 AND sp IN (SELECT sp FROM bench)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val toks = documents(s, d)
        .select($"doc_id", posexplode(split($"text", " ")))
        .withColumnRenamed("col", "w")
        .withColumn("h", H.wordHash($"w"))
      val w = Window.partitionBy($"doc_id").orderBy($"pos")
      // rolling span hash: fold of this token's hash and the next SpanLen-1
      // (lead returns NULL past the end → NULL span, filtered)
      val span = H.foldHash((0 until SpanLen).map {
        case 0 => $"h"
        case k => lead($"h", k).over(w)
      })
      val spans = toks.select($"doc_id", span.as("sp")).filter($"sp".isNotNull)
      val bench = spans.filter($"doc_id" < 10).select($"sp").distinct()
      spans.filter($"doc_id" >= 10)
        .join(bench, "sp")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_hits"), countDistinct($"sp").as("n_uniq"))
        .orderBy($"doc_id")
    },

    // Exact-substring dedup (the "repeated span" detector of Lee et al.
    // 2022, "Deduplicating Training Data Makes Language Models Better"):
    // every 8-token span appearing in ≥2 DISTINCT documents, with its doc
    // frequency, total occurrence count and first carrier — the curation
    // signal for cross-doc boilerplate that MinHash (whole-doc similarity)
    // cannot see. Same machinery as decontaminate_spans: one posexplode,
    // one per-doc window pass turning token hashes into rolling span
    // hashes, then ONE shuffle grouping spans by hash — no suffix array,
    // no pairwise comparison, scales linearly in corpus tokens.
    Q("dedup_substring", {
      def h(x: String) = H.sqlWordHash(x)
      val spanExpr = H.sqlFoldHash((0 until SubLen).map(k => h(s"ws[i+$k]")))
      s"""WITH spans AS (
         |  SELECT doc_id,
         |    unnest([$spanExpr FOR i IN range(1, len(ws) - ${SubLen - 2})]) AS sp
         |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
         |SELECT sp, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ,
         |  min(doc_id) AS min_doc
         |FROM spans GROUP BY sp HAVING count(DISTINCT doc_id) >= 2
         |ORDER BY sp""".stripMargin
    }) { (s, d) =>
      val toks = documents(s, d)
        .select($"doc_id", posexplode(split($"text", " ")))
        .withColumnRenamed("col", "w")
        .withColumn("h", H.wordHash($"w"))
      val w = Window.partitionBy($"doc_id").orderBy($"pos")
      val span = H.foldHash((0 until SubLen).map {
        case 0 => $"h"
        case k => lead($"h", k).over(w)
      })
      toks.select($"doc_id", span.as("sp")).filter($"sp".isNotNull)
        .groupBy($"sp")
        .agg(countDistinct($"doc_id").as("n_docs"), count(lit(1)).as("n_occ"),
          min($"doc_id").as("min_doc"))
        .filter($"n_docs" >= 2)
        .orderBy($"sp")
    },

    // PageRank centrality over the full near-dup similarity graph —
    // rank the canonical representative inside each duplicate cluster.
    // Five power iterations in EXACT integer arithmetic: mass in 1e-12
    // units, per-edge contribution = floor(p/deg), damping = (85·Σ)//100 —
    // so Spark's loop and the oracle's unrolled CTE chain agree
    // bit-for-bit (no float accumulation order anywhere). Each iteration
    // is one join + one aggregation partitioned by node; at full scale the
    // same loop runs over the complete graph with localCheckpoint rounds
    // like [[starContraction]].
    Q("graph_pagerank", {
      val tokSub = "(SELECT doc_id, text FROM documents)"
      val tok =
        s"""SELECT doc_id, unnest(list_distinct(
           |  [ws[i]||' '||ws[i+1]||' '||ws[i+2] FOR i IN range(1, len(ws)-1)])) AS w
           |FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM $tokSub)""".stripMargin
      val iters = (1 to 5).map { k =>
        s"""p$k AS (SELECT e.v AS u,
           |    CAST(150000000000 // n + (85 * sum(p.p // dg.d)) // 100 AS BIGINT) AS p
           |  FROM edges e JOIN p${k - 1} p ON p.u = e.u JOIN deg dg ON dg.u = e.u, nn
           |  GROUP BY e.v, n)""".stripMargin
      }.mkString(",\n")
      // MATERIALIZED: DuckDB 1.0 inlines every CTE reference, so without
      // the hints the corpus² pair build re-executes once per `edges`/`deg`
      // reference in the unrolled iteration chain (6+ replays — measured
      // 137 s vs 8.8 s at sf1, and an out-of-disk spill at sf10). The
      // hints change execution only; the value chain is untouched.
      s"""WITH tok AS MATERIALIZED ($tok),
         |cnt AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
         |pair AS MATERIALIZED (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |  FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id),
         |good AS MATERIALIZED (
         |  SELECT a_id, b_id FROM pair
         |  JOIN cnt ca ON ca.doc_id = a_id JOIN cnt cb ON cb.doc_id = b_id
         |  WHERE CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) >= 0.5),
         |edges AS MATERIALIZED (SELECT a_id AS u, b_id AS v FROM good
         |          UNION ALL SELECT b_id, a_id FROM good),
         |deg AS MATERIALIZED (SELECT u, count(*) AS d FROM edges GROUP BY u),
         |nn AS (SELECT count(*) AS n FROM deg),
         |p0 AS (SELECT u, 1000000000000 // n AS p FROM deg, nn),
         |$iters
         |SELECT u AS doc_id, p AS score FROM p5 ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val good = LlmQueries.goodPairs(s, d)
        .select($"a_id", $"b_id")
      // ONE localCheckpoint, on the edge list: truncates the jaccard
      // lineage so the 5 iteration levels below reference a tiny leaf —
      // persist alone keeps the full logical plan, and Catalyst re-
      // optimizes the whole pair pipeline once per reference (measured
      // 16 s planning vs <2 s with the truncation). The iterations
      // themselves need no checkpoint: their subtrees are shallow and all
      // five pipeline into one job.
      val edges = good.union(good.select($"b_id", $"a_id"))
        .toDF("u", "v").localCheckpoint()
      val deg = edges.groupBy($"u").agg(count(lit(1)).as("d"))
      val nNodes = math.max(1L, deg.count()) // guard: empty graph → empty result
      val base = 150000000000L / nNodes // floor(0.15·S / N), S = 1e12
      var p = deg.select($"u", lit(1000000000000L / nNodes).as("p"))
      for (_ <- 1 to 5) {
        p = edges.join(p, "u").join(deg, "u")
          .groupBy($"v")
          .agg((lit(base) + expr("(85 * sum(p div d)) div 100")).as("p"))
          .select($"v".as("u"), $"p")
      }
      p.select($"u".as("doc_id"), $"p".as("score")).orderBy($"doc_id")
    },

    // dedup_cluster's 100 TB path: the star contraction that
    // [[connectedComponents]] cuts over to above its driver cap, run here at
    // every scale — no driver materialization of the graph, O(log n)
    // double-rounds of one join + one min-aggregate partitioned by node id.
    // Oracle and output are IDENTICAL to dedup_cluster, proving the scale
    // path computes the same components as the driver union-find.
    Q("dedup_cluster_dist", LlmQueries.ClusterOracleSql) { (s, d) =>
      starContraction(LlmQueries.goodPairs(s, d).select($"a_id", $"b_id"))
        .select($"id".as("doc_id"), $"cluster")
        .orderBy($"doc_id")
    }
  )

  // $"…" sugar without a SparkSession-bound `implicits` import.
  private implicit class Interp(val sc: StringContext) {
    def $(args: Any*): Column = col(sc.s(args: _*))
  }
}
