package graft.llm

import graft.{Q, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Composite pipeline operators: the batch k-NN join (many query vectors at
  * once — the shape of embedding-based retrieval/labeling jobs) and the
  * end-to-end keep-set filter that chains dedup + quality gates into the
  * single query a training-data pipeline actually runs.
  */
object CompositeQueries {
  import Tables._
  import graft.functions.VectorFns._

  /** Query-side bound for the k-NN join demo (vec_id < KnnQueries). */
  private val KnnQueries = 20

  val queries: Seq[Q] = Seq(

    // Batch k-NN join: top-3 cosine neighbors for EACH of 20 query vectors
    // in one pass — sim_topk generalized from one query to a query SET.
    // The query side broadcasts (it is small by construction in retrieval
    // jobs); the corpus streams through codegen'd fixed-point dot products
    // and a per-query top-k window. At 100 TB the same plan holds with the
    // corpus pre-bucketed by IVF cell (sim_ann_ivf) so each query probes
    // a cell subset instead of the full scan.
    Q("sim_knn_join",
      s"""WITH e AS (SELECT vec_id, ${sqlQuantize("embedding")} AS v FROM embeddings),
         |n AS (SELECT vec_id, v, ${sqlQnorm2("v")} AS n2 FROM e),
         |q AS (SELECT vec_id AS q_id, v AS qv, n2 AS qn2 FROM n WHERE vec_id < $KnnQueries),
         |s AS (SELECT q.q_id, n.vec_id AS n_id,
         |  CAST(${sqlQdot("n.v", "q.qv")} AS DOUBLE) /
         |    (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(q.qn2 AS DOUBLE))) AS cos
         |  FROM n, q WHERE n.vec_id <> q.q_id),
         |r AS (SELECT q_id, n_id, cos,
         |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rk FROM s)
         |SELECT q_id, n_id, CAST(rk AS INT) AS rk, cos
         |FROM r WHERE rk <= 3 ORDER BY q_id, rk""".stripMargin) { (s, d) =>
      val e = embeddings(s, d)
        .select($"vec_id", quantize($"embedding").as("v"))
        .withColumn("n2", qnorm2($"v"))
      val q = e.filter($"vec_id" < KnnQueries)
        .select($"vec_id".as("q_id"), $"v".as("qv"), $"n2".as("qn2"))
      val cos = qcosine($"v", $"n2", $"qv", $"qn2")
      val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"n_id")
      e.crossJoin(broadcast(q)).filter($"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id".as("n_id"), cos.as("cos"))
        .withColumn("rk", row_number().over(w))
        .filter($"rk" <= 3)
        .select($"q_id", $"n_id", $"rk", $"cos")
        .orderBy($"q_id", $"rk")
    },

    // The end-to-end keep-set: canonical copy per exact-duplicate group
    // (min doc_id over the sha256 group) ∩ quality gates (length band,
    // punctuation ratio, stopword ratio) — the composed filter a pipeline
    // runs before tokenization. One hash-group shuffle + one semi-join;
    // every gate is a codegen'd scalar on the scan, so the filter reaches
    // 100 TB as a single pass over the corpus plus the dedup exchange.
    Q("pipeline_keepset",
      """WITH canon AS (
        |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)),
        |q AS (SELECT doc_id, CAST(length(text) AS INT) AS n_chars,
        |  CAST(len(string_split(text, ' ')) AS INT) AS n_words,
        |  CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
        |    / length(text) AS punct_ratio,
        |  CAST(len(list_filter(string_split(text, ' '),
        |    w -> w IN ('the','a','of','and','to','in','is','that'))) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS stop_ratio
        |FROM documents)
        |SELECT q.doc_id, n_chars, n_words, punct_ratio, stop_ratio
        |FROM q JOIN canon ON q.doc_id = canon.doc_id
        |WHERE n_words BETWEEN 20 AND 400
        |  AND punct_ratio <= 0.1 AND stop_ratio >= 0.02
        |ORDER BY q.doc_id""".stripMargin) { (s, d) =>
      val docs = documents(s, d)
      val canon = docs.groupBy(sha2($"text", 256))
        .agg(min($"doc_id").as("doc_id")).select($"doc_id")
      val words = split($"text", " ")
      val nWords = size(words)
      val punctRatio = size(regexp_extract_all($"text", lit("[.,!?;:]"), lit(0)))
        .cast(DoubleType) / length($"text")
      val stopRatio = size(filter(words, w =>
        w.isin("the", "a", "of", "and", "to", "in", "is", "that")))
        .cast(DoubleType) / nWords
      docs.join(canon, Seq("doc_id"), "left_semi")
        .select($"doc_id", length($"text").as("n_chars"), nWords.as("n_words"),
          punctRatio.as("punct_ratio"), stopRatio.as("stop_ratio"))
        .filter($"n_words".between(20, 400) &&
          $"punct_ratio" <= 0.1 && $"stop_ratio" >= 0.02)
        .orderBy($"doc_id")
    }
  )

  // $"…" sugar without a SparkSession-bound `implicits` import.
  private implicit class Interp(val sc: StringContext) {
    def $(args: Any*): Column = col(sc.s(args: _*))
  }
}
