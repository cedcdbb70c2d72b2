package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Settings of one benchmark process. `work` is a scratch directory the
  * process owns; `data` holds the fixed curation tables.
  */
final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: String, data: String, cores: Int, expected: String, capture: Boolean,
    traceOut: String)

/** One timed operation: its kind, latency, the pass it ran in, and whether
  * tracing was on during that pass.
  */
final case class Op(kind: String, ms: Double, pass: Int, traced: Boolean)

/** Collects op timings and correctness outcomes. A failed op (exception or
  * wrong result) is counted in `failed` and never enters the timings.
  */
final class Recorder {
  val ops = mutable.ArrayBuffer.empty[Op]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  var pass = 0
  var traced = false
  private val extras = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Int, Boolean, Double)]]

  def fail(msg: String): Unit = {
    System.err.println(s"[perfbench] failed op: $msg")
    failed += 1
    if (errors.size < 20) errors += msg
  }

  /** Time `f`, which returns None when the result is right and a reason when
    * it is wrong.
    */
  def op(kind: String)(f: => Option[String]): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    val verdict = try f catch { case e: Throwable => Some(s"$kind threw: $e") }
    val ms = (System.nanoTime() - t0) / 1e6
    verdict match {
      case None => ops += Op(kind, ms, pass, traced)
      case Some(msg) => fail(msg)
    }
  }

  /** A side measurement (e.g. a lookup's planning time), listed per key
    * with the pass it was taken in.
    */
  def extra(key: String, v: Double): Unit =
    extras.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += ((pass, traced, v))

  /** Side measurements of `key` from steady passes that were (or were not) traced. */
  def steady(key: String, tracedPasses: Boolean): Seq[Double] =
    extras.get(key).toSeq.flatten.collect { case (p, t, v) if p > 0 && t == tracedPasses => v }

  /** Side measurements of `key` from the cold pass. */
  def cold(key: String): Seq[Double] =
    extras.get(key).toSeq.flatten.collect { case (0, _, v) => v }
}

/** A benchmark workload: `setup` builds the inputs in a fresh session,
  * `pass` runs one unit of timed work. The first pass after set-up is the
  * cold pass (pass 0); warm-up passes are numbered -1 and steady passes
  * from 1.
  */
trait Workload {
  /** Build the workload's inputs; called once per set-up repetition. */
  def setup(spark: SparkSession, t: Tracer): Unit
  /** Untimed preparation between set-up and the first pass. */
  def prepare(spark: SparkSession): Unit = ()
  def pass(spark: SparkSession, t: Tracer, r: Recorder): Unit
  /** The workload's own figures, from untraced passes. */
  def detail(r: Recorder): Seq[(String, Any)]
  /** Per-layer figures from traced passes. */
  def layers(spark: SparkSession, t: Tracer, r: Recorder): Seq[(String, Double)]
  /** Minimum steady passes, so the op sample holds enough latencies. */
  def minPasses: Int = 2
  /** Untimed passes after the cold pass, while the JIT settles. */
  def warmupSeconds: Double = 0.0
  /** The op kind whose latencies make `op_p50_ms` and `op_tail_ms`
    * (None: every op).
    */
  def primary: Option[String] = None
}

object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  def session(c: Conf): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .appName(s"perfbench-${c.workload}")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      // same scan-split sizing as the repo's Bench sessions
      .config("spark.sql.files.openCostInBytes", "131072")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${c.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.work}/warehouse")
      .config(graft.GraftSession.RecursionRowLimitKey, graft.GraftSession.RecursionRowLimit)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def peakHeapMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1e6

  def driverGcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Conf(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("data"), need("cores").toInt,
      need("expected"), m.get("capture").contains("1"),
      m.getOrElse("trace-out", s"${need("work")}/trace.json"))
  }

  def workload(c: Conf): Workload = c.workload match {
    case "keyed_mixed" => new KeyedMixed(c)
    case "curation_queries" => new Curation(c)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val c = parse(args)
    val w = workload(c)
    val t = new Tracer
    val r = new Recorder
    // Set-up runs several times, each in a fresh session, so set-up time is
    // a median; the last session carries on into the timed phase.
    var spark: SparkSession = null
    val setupS = (1 to SetupReps).map { _ =>
      if (spark != null) { t.detach(); spark.stop() }
      val t0 = System.nanoTime()
      spark = session(c)
      if (c.trace) t.attach(spark.sparkContext)
      t.span("setup", "setup")(w.setup(spark, t))
      (System.nanoTime() - t0) / 1e9
    }
    w.prepare(spark)
    // Timed phase: the cold pass, untimed warm-up passes if the workload
    // asks for them, then steady passes for `seconds`. A traced run
    // alternates untraced and traced steady passes, at least three so a
    // warm-up trend cancels; the difference between the two kinds is the
    // tracing overhead.
    val passS = mutable.ArrayBuffer.empty[(Double, Boolean)]
    def timedPass(i: Int, traced: Boolean): Double = {
      r.pass = i
      r.traced = traced
      if (c.trace) { if (traced) t.attach(spark.sparkContext) else t.detach() }
      val p0 = System.nanoTime()
      t.span("pass", s"pass $i")(w.pass(spark, t, r))
      (System.nanoTime() - p0) / 1e9
    }
    val coldS = timedPass(0, c.trace)
    val warm0 = System.nanoTime()
    while ((System.nanoTime() - warm0) / 1e9 < w.warmupSeconds) timedPass(-1, traced = false)
    // A pass starts only if it should end within `seconds`, judged by the
    // previous one, so slow passes do not add a pass on some runs only.
    val start = System.nanoTime()
    val minPasses = if (c.trace) math.max(3, w.minPasses) else w.minPasses
    var i = 1
    var last = 0.0
    while (i <= minPasses || (System.nanoTime() - start) / 1e9 + last <= c.seconds) {
      val traced = c.trace && i % 2 == 0
      last = timedPass(i, traced)
      passS += ((last, traced))
      i += 1
    }
    if (c.trace) t.attach(spark.sparkContext)
    val layers =
      if (!c.trace) Nil
      else {
        val heap = "jvm.peak_heap_mb" -> peakHeapMb
        (w.layers(spark, t, r) :+ heap) ++ FormatProbe.run(c.seed)
      }
    if (c.trace)
      java.nio.file.Files.write(java.nio.file.Paths.get(c.traceOut),
        Json.render(t.dump()).getBytes("UTF-8"))
    val out = Json.obj(
      "workload" -> c.workload, "seed" -> c.seed, "trace" -> c.trace, "cores" -> c.cores,
      "setup_s" -> setupS,
      "cold_s" -> coldS,
      "pass_s" -> passS.filter(!_._2).map(_._1),
      "traced_pass_s" -> passS.filter(_._2).map(_._1),
      "primary" -> w.primary,
      "ops" -> r.ops.filter(_.pass > 0).filter(!_.traced)
        .map(o => Json.obj("kind" -> o.kind, "ms" -> o.ms)),
      "attempted" -> r.attempted, "failed" -> r.failed, "errors" -> r.errors.toSeq,
      "detail" -> Json.Obj(w.detail(r) :+ ("jvm_gc_s" -> driverGcSeconds)),
      "layers" -> Json.Obj(layers))
    spark.stop()
    println("PERFBENCH_RAW " + Json.render(out))
  }
}
