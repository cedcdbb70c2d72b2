package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.col

import graft.sources.shardpack.{HadoopConfs, ShardpackDataSource, ShardpackIndex, ShardpackOps}

/** `keyed_mixed`: keyed random access with writes mixed in, one client in a
  * closed loop. Set-up writes a key-sorted bucket and its sidecar index;
  * the timed phase runs on a fresh copy of it. Each pass is a block of
  * [[KeyedMixed.Block]] ops: point lookups (Zipf-skewed, some for absent
  * keys) and one range scan in seeded order, then one single-key upsert
  * through `ShardpackOps.merge`. Every returned payload is checked against the
  * SHA-256 of the version the generator says is current.
  */
final class KeyedMixed(c: Conf) extends Workload {
  import KeyedMixed._

  private def pristine = s"${c.work}/keyed/pristine"
  private def live = s"${c.work}/keyed/live"
  private val rng = Rng.at(c.seed, 0, 99)
  private val version = mutable.HashMap.empty[Long, Int].withDefaultValue(0)
  // Zipf(ZipfS) over key ranks; rank -> key index is a fixed permutation so
  // hot keys spread over the shards
  private lazy val zipfCdf: Array[Double] = {
    val w = Array.tabulate(Records.toInt)(k => 1.0 / math.pow(k + 1, ZipfS))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }
  private val rankOffset = java.lang.Math.floorMod(Rng.mix(c.seed), Records)

  private def zipfKey(): Long = {
    val u = rng.nextDouble()
    var i = java.util.Arrays.binarySearch(zipfCdf, u)
    if (i < 0) i = -i - 1
    (math.min(i, Records.toInt - 1) * 40503L + rankOffset) % Records
  }

  private def fs: FileSystem = new Path(live).getFileSystem(HadoopConfs.session())

  private def shards(dir: String): Map[String, Long] =
    ShardpackDataSource.listShards(fs, new Path(dir)).filter(_.isFile)
      .map(st => st.getPath.getName -> st.getLen)
      .filter { case (n, _) => !n.startsWith("_") && !n.startsWith(".") }.toMap

  def setup(spark: SparkSession, t: Tracer): Unit = {
    fs.delete(new Path(pristine), true)
    val seed = c.seed
    t.span("gen", "gen") {
      val rows = spark.sparkContext.parallelize(0L until Records, spark.sparkContext.defaultParallelism)
        .map(i => Gen.toRow(Gen.keyedRecord(seed, i, 0)))
      spark.createDataFrame(rows, ShardpackDataSource.Schema)
        .write.format("shardpack").option("sortedWrite", "true")
        .option("targetShards", Shards.toString).mode("append").save(pristine)
    }
    t.span("index.build", "index")(ShardpackIndex.build(spark, pristine))
  }

  override def prepare(spark: SparkSession): Unit = {
    fs.delete(new Path(live), true)
    FileUtil.copy(fs, new Path(pristine), fs, new Path(live), false, HadoopConfs.session())
  }

  private def expectedSha(i: Long): String =
    Gen.sha256Hex(Gen.keyedRecord(c.seed, i, version(i)).entries.head.data)

  /** None when `row` carries the current version of record `i`. */
  private def checkRow(i: Long, row: Row): Option[String] = {
    val entries = row.getSeq[Row](2)
    if (row.getString(0) != Gen.keyedKey(i)) Some(s"row ${row.getString(0)} for key ${Gen.keyedKey(i)}")
    else if (entries.size != 1 || Gen.sha256Hex(entries.head.getAs[Array[Byte]](3)) != expectedSha(i))
      Some(s"payload of ${Gen.keyedKey(i)} is not version ${version(i)}")
    else None
  }

  private def indexValid(): Boolean =
    ShardpackIndex.load(fs, new Path(live)).exists { m =>
      shards(live).forall { case (n, len) => m.get(n).exists(_.len == len) }
    }

  /** Plan then run a keyed read; records planning and execution times and,
    * when traced, the scan's pruning counters.
    */
  private def read(spark: SparkSession, t: Tracer, r: Recorder, kind: String, name: String,
      filter: org.apache.spark.sql.Column): Array[Row] = t.span(kind, name) {
    val g0 = Main.driverGcSeconds
    val t0 = System.nanoTime()
    val df = spark.read.format("shardpack").load(live).filter(filter)
    val plan = df.queryExecution.executedPlan
    val t1 = System.nanoTime()
    val rows = df.collect()
    r.extra(s"$kind.plan_ms", (t1 - t0) / 1e6)
    r.extra(s"$kind.exec_ms", (System.nanoTime() - t1) / 1e6)
    r.extra(s"$kind.driver_gc_s", Main.driverGcSeconds - g0)
    if (r.traced) plan.collectFirst { case b: BatchScanExec => b }.foreach { b =>
      val pruned = b.metrics.get("shardsPruned").map(_.value.toDouble).getOrElse(0.0)
      r.extra(s"$kind.shards_pruned", pruned)
      r.extra(s"$kind.records_skipped", b.metrics.get("recordsSkipped").map(_.value.toDouble).getOrElse(0.0))
      // shards a lookup that finds its key actually opens
      if (rows.nonEmpty) r.extra(s"$kind.hit_opened", b.inputPartitions.size - pruned)
    }
    rows
  }

  def pass(spark: SparkSession, t: Tracer, r: Recorder): Unit = {
    // lookups and the range scan in seeded order, then the upsert: its
    // sidecar invalidation then lands at the same point of every block, so
    // the cold block's time does not depend on where the seed put it
    val kinds = mutable.ArrayBuffer.fill(Block - 2)("lookup") :+ "range"
    (kinds.indices.reverse).foreach { k => // seeded Fisher-Yates
      val j = rng.nextInt(k + 1)
      val x = kinds(k); kinds(k) = kinds(j); kinds(j) = x
    }
    (kinds :+ "upsert").foreach {
      case "lookup" =>
        val absent = rng.nextInt(100) < AbsentPct
        val i = if (absent) rng.nextInt(Records.toInt).toLong else zipfKey()
        val key = if (absent) Gen.absentKey(i) else Gen.keyedKey(i)
        if (r.traced) r.extra("lookup.indexed", if (indexValid()) 1.0 else 0.0)
        r.op("lookup") {
          val rows = read(spark, t, r, "lookup", key, col("key") === key)
          if (absent) { if (rows.isEmpty) None else Some(s"absent key $key returned ${rows.length} rows") }
          else if (rows.length != 1) Some(s"key $key returned ${rows.length} rows")
          else checkRow(i, rows.head)
        }
      case "range" =>
        val lo = rng.nextInt((Records - RangeLen).toInt).toLong
        r.op("range") {
          val rows = read(spark, t, r, "range", s"range $lo",
            col("key") >= Gen.keyedKey(lo) && col("key") < Gen.keyedKey(lo + RangeLen))
            .sortBy(_.getString(0))
          if (rows.length != RangeLen) Some(s"range at $lo returned ${rows.length} rows")
          else rows.zipWithIndex.iterator.map { case (row, k) => checkRow(lo + k, row) }
            .collectFirst { case Some(e) => e }
        }
      case "upsert" =>
        val i = zipfKey()
        val rec = Gen.keyedRecord(c.seed, i, version(i) + 1)
        val before = shards(live)
        r.op("upsert") {
          val up = spark.createDataFrame(java.util.List.of(Gen.toRow(rec)), ShardpackDataSource.Schema)
          t.span("ops.merge", Gen.keyedKey(i))(ShardpackOps.merge(spark, live, up))
          version(i) += 1
          None
        }
        val after = shards(live)
        val added = after.keySet -- before.keySet
        r.extra("upsert.shards_rewritten", (before.keySet -- after.keySet).size.toDouble)
        r.extra("upsert.shards_added", added.size.toDouble)
        r.extra("upsert.write_amp", added.toSeq.map(after).sum.toDouble / Gen.userBytes(rec))
    }
  }

  override def primary: Option[String] = Some("lookup")

  def detail(r: Recorder): Seq[(String, Any)] = {
    val done = r.ops.filter(o => o.pass > 0 && !o.traced)
    def ms(kind: String) = done.filter(_.kind == kind).map(_.ms)
    Seq(
      "records" -> Records, "shards_target" -> Shards, "block" -> Block,
      "lookup_ms" -> ms("lookup"), "range_ms" -> ms("range"), "upsert_ms" -> ms("upsert"),
      "keyed_ops_s" -> done.size / (done.map(_.ms).sum / 1e3),
      "shards_at_end" -> shards(live).size)
  }

  def layers(spark: SparkSession, t: Tracer, r: Recorder): Seq[(String, Double)] = {
    def per(kind: String, f: Totals => Double): Double = {
      val ss = t.find(kind)
      if (ss.isEmpty) 0.0 else f(t.totals(ss)) / ss.size
    }
    def mean(k: String) = {
      val v = r.steady(k, tracedPasses = true) ++ r.cold(k)
      if (v.isEmpty) 0.0 else v.sum / v.size
    }
    Seq(
      "lookup.plan_ms" -> Stats.median(r.steady("lookup.plan_ms", tracedPasses = true)),
      "lookup.exec_ms" -> Stats.median(r.steady("lookup.exec_ms", tracedPasses = true)),
      "lookup.jobs_per_op" -> per("lookup", _.jobs.toDouble),
      "lookup.tasks_per_op" -> per("lookup", _.tasks.toDouble),
      "lookup.shards_pruned_per_op" -> mean("lookup.shards_pruned"),
      "lookup.records_skipped_per_op" -> mean("lookup.records_skipped"),
      "lookup.shards_opened_per_hit" -> mean("lookup.hit_opened"),
      "lookup.driver_gc_s" -> (r.steady("lookup.driver_gc_s", tracedPasses = true) ++ r.cold("lookup.driver_gc_s")).sum,
      "lookup.indexed_share" -> mean("lookup.indexed"),
      "range.tasks_per_op" -> per("range", _.tasks.toDouble),
      "upsert.jobs_per_op" -> per("ops.merge", _.jobs.toDouble),
      "upsert.exec_cpu_s_per_op" -> per("ops.merge", _.cpuS),
      "upsert.shards_rewritten_per_op" -> mean("upsert.shards_rewritten"),
      "upsert.shards_added_per_op" -> mean("upsert.shards_added"),
      "upsert.write_amp" -> mean("upsert.write_amp"),
      "keyed.shards_at_end" -> shards(live).size.toDouble)
  }
}

object KeyedMixed {
  /** ~1 KiB records in a key-sorted bucket of [[Shards]] shards. */
  val Records = 65536L
  val Shards = 16
  /** Ops per pass: one range scan, one upsert, the rest point lookups. */
  val Block = 20
  val AbsentPct = 10
  val RangeLen = 100
  val ZipfS = 0.99
}
