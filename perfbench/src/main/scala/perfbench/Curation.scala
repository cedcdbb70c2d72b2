package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}

/** `curation_queries`: Layer-2 registry queries over the fixed tables in
  * `data`. Each query is built by `q.fn` (plan) and then driven by iterating
  * every output row, as `graft.Bench` does. The cold pass runs in a fresh
  * session, so it pays the SessionMemo / FrameRegistry fills; later passes
  * are warm. Every drive also counts the rows and sums a hash of each row,
  * and both are compared with the values in `expected`.
  */
final class Curation(c: Conf) extends Workload {
  import Curation._

  private lazy val expected: Map[String, (Long, Option[Long])] =
    if (c.capture) Map.empty else readExpected(c.expected)

  private val byName: Map[String, graft.Q] = graft.SparkEntry.all.map(q => q.name -> q).toMap
  // (query, pass) -> (rows, hash), for capture
  private val seen = mutable.LinkedHashMap.empty[(String, Int), (Long, Long)]

  def setup(spark: SparkSession, t: Tracer): Unit = t.span("gen", "gen") {
    Tables.foreach(n => spark.read.parquet(s"${c.data}/$n.parquet").schema)
    spark.range(1000).selectExpr("sum(id)").collect()
  }

  def pass(spark: SparkSession, t: Tracer, r: Recorder): Unit = Queries.foreach { name =>
    val q = byName(name)
    r.op(name) {
      val p0 = System.nanoTime()
      val df = t.span("q.plan", name)(q.fn(spark, c.data))
      val p1 = System.nanoTime()
      val (rows, hash) = t.span("q.drive", name)(drive(df))
      val p2 = System.nanoTime()
      r.extra(s"$name.plan_s", (p1 - p0) / 1e9)
      r.extra(s"$name.drive_s", (p2 - p1) / 1e9)
      seen((name, r.pass)) = (rows, hash)
      if (c.capture) None
      else expected.get(name) match {
        case None => Some(s"$name: no expected value")
        case Some((n, _)) if n != rows => Some(s"$name: $rows rows, expected $n")
        case Some((_, Some(h))) if h != hash => Some(s"$name: row hash $hash, expected $h")
        case _ => None
      }
    }
  }

  // pass times fall for about 17 s after the cold pass while the JIT
  // compiles (on 4 cores: 6.4, 5.7, 5.1 s, then 4.0-4.3 s), so those passes
  // are untimed
  override def warmupSeconds: Double = 15.0
  // at least three steady passes, so each query has several warm samples
  override def minPasses: Int = 3

  def detail(r: Recorder): Seq[(String, Any)] = {
    if (c.capture) writeExpected()
    val warm = r.ops.filter(o => o.pass > 0 && !o.traced)
    Seq(
      "curation_cold_s" -> r.ops.filter(_.pass == 0).map(_.ms).sum / 1e3,
      "curation_warm_passes" -> warm.map(_.pass).distinct.size,
      "queries" -> Queries)
  }

  def layers(spark: SparkSession, t: Tracer, r: Recorder): Seq[(String, Double)] = {
    val warm = r.ops.filter(o => o.traced && o.pass > 0).map(_.pass).distinct
    val perQuery = Queries.flatMap { n =>
      val cold = r.ops.filter(o => o.pass == 0 && o.kind == n).map(_.ms / 1e3)
      Seq(s"q.$n.plan_s" -> Stats.median(r.steady(s"$n.plan_s", tracedPasses = true)),
        s"q.$n.drive_s" -> Stats.median(r.steady(s"$n.drive_s", tracedPasses = true)),
        s"q.$n.cold_s" -> cold.headOption.getOrElse(0.0))
    }
    // per registry module, over the traced warm passes
    val warmSpans = t.find("pass", n => warm.exists(p => n == s"pass $p"))
    val perModule = Modules.toSeq.flatMap { case (mod, names) =>
      val ss = t.find("q.plan", names.contains) ++ t.find("q.drive", names.contains)
      val inWarm = ss.filter(s => warmSpans.exists(w => s.startNs >= w.startNs && s.endNs <= w.endNs))
      val tot = t.totals(inWarm)
      val k = math.max(1, warm.size).toDouble
      Seq(s"curation.$mod.jobs" -> tot.jobs / k, s"curation.$mod.shuffle_mb" -> tot.shuffleMb / k,
        s"curation.$mod.exec_cpu_s" -> tot.cpuS / k, s"curation.$mod.gc_s" -> tot.gcS / k,
        s"curation.$mod.spill_mb" -> tot.spillMb / k)
    }
    perQuery ++ perModule
  }

  /** Drive every output row, counting rows and summing a 64-bit hash of each
    * row's bytes (order-independent, so partitioning does not matter).
    */
  private def drive(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L
      var h = 0L
      while (it.hasNext) {
        val u = proj(it.next())
        n += 1
        h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
      }
      Iterator((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((a, b), (x, y)) => (a + x, b + y) }
  }

  /** Capture mode: record each query's row count, and its hash when every
    * pass agreed on it (a query whose row bytes vary run to run is checked on
    * its row count alone).
    */
  private def writeExpected(): Unit = {
    val entries = Queries.map { n =>
      val vals = seen.collect { case ((q, _), v) if q == n => v }.toSeq.distinct
      val rows = vals.map(_._1).distinct
      require(rows.size == 1, s"$n: row count varies across passes: $rows")
      n -> Json.obj("rows" -> rows.head,
        "hash" -> (if (vals.size == 1) Some(vals.head._2.toString) else None))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(c.expected),
      (Json.render(Json.Obj(entries)) + "\n").getBytes("UTF-8"))
  }
}

object Curation {
  /** The queries, in the order each pass runs them: joins and shuffles,
    * driver jobs inside query builders, regex chains, codec UDFs and memo
    * builds. The list is a subset so that the cold pass, the warm-up and
    * three steady passes fit one run; the registry's `shardpack_*` queries
    * are left out because they write under a fixed /tmp path, outside the
    * benchmark's working directory.
    */
  val Modules: Seq[(String, Seq[String])] = Seq(
    "operators" -> Seq("sql_q5"),
    "llm" -> Seq("dedup_minhash_cluster", "text_normalize", "multimodal_video_features",
      "dedup_fuzzy"))
  val Queries: Seq[String] = Modules.flatMap(_._2)

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def readExpected(path: String): Map[String, (Long, Option[Long])] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
    import scala.jdk.CollectionConverters._
    node.properties().asScala.map { e =>
      val v = e.getValue
      val h = v.get("hash")
      e.getKey -> ((v.get("rows").asLong(),
        if (h == null || h.isNull) None else Some(h.asText().toLong)))
    }.toMap
  }
}
