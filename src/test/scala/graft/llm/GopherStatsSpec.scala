package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** r12 optimization pins: the quality family's training paths moved from
  * explode→groupBy→join frames onto row-local array frames
  * ([[QualityDistill.stumpVec]]/[[QualityDistill.cascadeVec]]/
  * [[QualityLinear.featVec]]) fed by the one-scan
  * [[graft.functions.TextStats.gopherStats]] kernel. The REFERENCE
  * formulations (featFrame/featLin/gopherLabel/jointLabel/searchFrame —
  * the shapes the DuckDB oracle replays) stay in the tree, and this spec
  * diffs the two element-wise so a kernel drift can never silently move
  * the trained models.
  */
class GopherStatsSpec extends AnyFunSuite with SparkTestBase {

  // \s-separator zoo, bullets, unicode (multi-byte + non-ASCII letters),
  // empty/whitespace-only docs, CRLF, trailing newline, 0x0B/\f
  private val edgeTexts = Seq(
    "", " ", "\t\n \r", "one", "one two three",
    "  leading and  double  spaces ", "tab\tsep\nand line",
    "- bullet line\n  - indented bullet\n\t* tab bullet\nplain\n* last",
    "-\n*\n --\nx-y", "über schön 漢字 emoji😀 mixé",
    "123 456 !!! ???", "a\u000Bb\fc\rd", "ends with newline\n",
    // \u000B (vertical tab) spelled out — two literal VT chars sat
    // invisibly in the texts above/below before, making the one
    // Java-\s-vs-RE2-prose divergence char look unexercised; also pin it
    // as LEADING line whitespace before a bullet marker (rlike ^\s*[-*])
    "\u000B- vt-led bullet\nx\u000B* not-a-bullet",
    "crlf line\r\nnext", "multi\n\n\nempty lines\n",
    "*star at start", " \t mixed \u000B ws \f runs \r here "
  )

  private def edgeDocs = {
    val rows = edgeTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    spark.createDataFrame(rows).toDF("doc_id", "text")
  }

  private def corpus = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    .select(col("doc_id"), col("text"))

  test("gopher_stats kernel == the split/rlike expression formulation") {
    for (docs <- Seq(edgeDocs, corpus)) {
      val fromKernel = docs.select(col("doc_id"),
          graft.functions.TextStats.gopherStatsCol(col("text")).as("g"))
        .select(col("doc_id"), col("g.n_words"), col("g.sum_wlen"),
          col("g.n_alpha"), col("g.n_lines"), col("g.n_bullet"))
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5)))).toMap
      // word stats via the reference explode shape (docs with no words
      // get (0,0,0) — the kernel emits that directly)
      val words = docs.select(col("doc_id"),
          explode(split(col("text"), "\\s+")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("nw"), sum(length(col("w"))).as("sw"),
          sum(when(col("w").rlike("[a-zA-Z]"), 1L).otherwise(0L)).as("na"))
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      val lines = docs.select(col("doc_id"),
          explode(split(col("text"), "\n")).as("l"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("nl"),
          sum(when(col("l").rlike("^\\s*[-*]"), 1L).otherwise(0L)).as("nb"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      fromKernel.foreach { case (id, (nw, sw, na, nl, nb)) =>
        val (ew, es, ea) = words.getOrElse(id, (0L, 0L, 0L))
        val (el, eb) = lines(id)
        assert((nw, sw, na) == ((ew, es, ea)),
          s"word stats drifted for doc $id: kernel=($nw,$sw,$na) expr=($ew,$es,$ea)")
        assert((nl, nb) == ((el, eb)),
          s"line stats drifted for doc $id: kernel=($nl,$nb) expr=($el,$eb)")
      }
    }
  }

  test("row-local joint label == the reference jointLabel frame") {
    val docs = corpus
    val (y, labeled) = QualityDistill.jointLabelCols
    val fromCols = docs.select(col("doc_id"), y.as("y"))
      .where(labeled)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ref = QualityDistill.jointLabel(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fromCols == ref, "row-local joint label drifted from the frame")
  }

  test("featVec array == featLin (doc, b, x) pivot, per doc and feature") {
    val docs = corpus
    val fromVec = QualityLinear.featVec(docs.select(col("doc_id"), col("text")))
      .select(col("xv"))
    // featVec drops doc_id (training never needs it) — compare multisets
    // of feature vectors instead
    val vecBags = fromVec.collect().map(_.getSeq[Long](0).toVector)
      .groupBy(identity).view.mapValues(_.length).toMap
    val refBags = QualityLinear.featLin(docs).collect()
      .groupBy(_.getLong(0)).map { case (_, rows) =>
        val m = rows.map(r => r.getLong(1).toInt -> r.getLong(2)).toMap
        (0 until QualityLinear.D).map(m).toVector
      }.toSeq.groupBy(identity).view.mapValues(_.length).toMap
    assert(vecBags == refBags, "featVec drifted from the featLin pivot")
  }

  test("bestSplitVec == searchFrame on the reference frames (stump search)") {
    val docs = corpus
    val fromVec = QualityDistill.bestSplitVec(
      QualityDistill.stumpVec(docs).filter(col("labeled"))).collect()
    val ref = QualityDistill.searchFrame(
      QualityDistill.featFrame(docs), QualityDistill.gopherLabel(docs)).collect()
    assert(fromVec.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      ref.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq,
      "vec split search drifted from the (doc, b, x) reference")
  }

  test("standardizeVec == standardize on the reference frame") {
    val docs = corpus
    val n = docs.count()
    val (muV, rngV) = QualityLinear.standardizeVec(QualityLinear.featVec(docs), n)
    val (muR, rngR) = QualityLinear.standardize(QualityLinear.featLin(docs), n)
    assert(muV.toSeq == muR.toSeq, "mu drifted")
    assert(rngV.toSeq == rngR.toSeq, "rng drifted")
  }

  test("training paths are zero-doc-keyed-shuffle: gradient round plan has no hash exchange") {
    // the r12 claim: one map-combine aggregate per round — the only
    // exchange in a gradient job is the 1-row SinglePartition collect
    val vec = QualityLinear.featVec(corpus)
    val sign = col("y") * 2L - 1L
    val aggs = (0 until QualityLinear.D).map(b =>
      sum(sign * element_at(col("xv"), b + 1)).as(s"g$b")) :+ count(lit(1)).as("cnt")
    val plan = vec.filter(col("labeled"))
      .agg(aggs.head, aggs.tail: _*)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning"),
      s"gradient round still shuffles doc-keyed:\n$plan")
  }
}
