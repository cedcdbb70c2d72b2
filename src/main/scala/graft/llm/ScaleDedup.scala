package graft.llm

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Scale-path dedup companions to [[LlmQueries]]: benchmark decontamination
  * by exact token-span overlap, and the fully distributed connected-components
  * clustering that replaces the driver union-find of `dedup_cluster` when the
  * near-dup pair graph outgrows driver memory (the cutover its guard names).
  */
object ScaleDedup {
  import Tables._
  import graft.functions.{CrossHash => H}

  /** Span length for decontamination (tokens per exact-match window). */
  private val SpanLen = 5

  /** Span length for corpus-internal exact-substring dedup. */
  private val SubLen = 8

  /** Alternating large-star / small-star connected components (Kiveris et
    * al., "Connected Components in MapReduce and Beyond") — the O(log n)-
    * round worst-case path that min-label propagation (rounds = diameter)
    * falls back to on high-diameter graphs. Each half-round is one
    * aggregation (per-node neighborhood min) + one join, both partitioned
    * by node id; no neighborhood is ever collected, so hot nodes cost a
    * shuffle skew, not memory.
    *
    * Input: undirected edge pairs (any orientation, self-loops ignored).
    * Output: (id, cluster) for every node incident to an edge, cluster =
    * min node id of its component — identical labeling to the union-find
    * and label-propagation paths (spec-asserted).
    */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 50): DataFrame = {
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
    // like [[connectedComponents]].
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

    // dedup_cluster's 100 TB path: min-label propagation over the near-dup
    // edge list, entirely distributed — no driver materialization of the
    // graph. Each round is one join + one min-aggregate, both partitioned
    // by node id; labels strictly decrease, so `changed == 0` is a sound
    // fixpoint test, reached after diameter rounds (near-dup components are
    // quasi-cliques — 2-3 rounds in practice; the O(log n) worst-case
    // refinement is large-star/small-star alternation on the same edge
    // frame). Oracle and output are IDENTICAL to dedup_cluster, proving
    // the scale path computes the same components as the driver union-find.
    Q("dedup_cluster_dist", LlmQueries.ClusterOracleSql) { (s, d) =>
      val good = LlmQueries.goodPairs(s, d)
        .select($"a_id", $"b_id")
      // localCheckpoint, not persist: the loop references edges every
      // round, and persist alone would re-optimize the whole pair
      // pipeline's logical plan each time (see graph_pagerank)
      val edges = good.union(good.select($"b_id", $"a_id"))
        .toDF("src", "dst").localCheckpoint()
      // seed with min(self, neighbors) — one aggregation that IS the first
      // propagation round (saves a distinct + a full round vs identity init)
      var labels = edges.groupBy($"src")
        .agg(least(min($"dst"), $"src").as("label"))
        .select($"src".as("id"), $"label").persist()
      // Labels only ever DECREASE, so Σlabel strictly decreases until the
      // fixpoint — one cheap agg action per round doubles as both the
      // materialization of `next` and the convergence test (no per-round
      // join+count).
      var prevSum = Long.MaxValue
      var curSum = labels.agg(sum($"label")).head().getLong(0)
      var rounds = 0
      while (curSum < prevSum && rounds < 50) {
        val prop = edges.join(labels, $"dst" === $"id")
          .select($"src".as("id"), $"label")
        val next = labels.union(prop)
          .groupBy($"id").agg(min($"label").as("label")).persist()
        prevSum = curSum
        curSum = next.agg(sum($"label")).head().getLong(0)
        labels.unpersist(blocking = false)
        labels = next
        rounds += 1
      }
      // (edges stays checkpointed: unpersisting a localCheckpoint would
      // orphan the truncated lineage if the result were recomputed)
      labels.select($"id".as("doc_id"), $"label".as("cluster"))
        .orderBy($"doc_id")
    }
  )

  // $"…" sugar without a SparkSession-bound `implicits` import.
  private implicit class Interp(val sc: StringContext) {
    def $(args: Any*): Column = col(sc.s(args: _*))
  }
}
