package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Interleaved same-JVM A/B over named variants, on Bench's session
  * ([[GraftSession.local]]) and Bench's row drive ([[Bench.drive]]).
  *
  * Usage: runMain graft.Ab <sfDir> <rounds> <variant>...
  *
  * A variant is a registry query, a `build:*` stage, or a named variant
  * (`minhash_band_auto`, `minhash_band_shj`; [[llm.LlmQueries.abVariants]]).
  * `rounds` counts runs, the first (cold) one included: 0 prints each
  * frame's formatted plan without driving it (`build:*` stages are
  * skipped), 1 runs cold only. Run 1 goes in the given order; runs 2..N
  * rotate it one step per run, so on a shared host every variant leads
  * equally often when the variant count divides N−1. A `build:*` stage is
  * an idempotent memo fill: only its cold run measures the fill, its
  * later runs time the memo hit.
  *
  * Per variant it prints the cold time, the min and median of the warm
  * runs, the last run's time inside `fn` (plan construction and driver
  * jobs) apart from drive time, and the last run's task totals; then each
  * frame's formatted plan once; then one JSON line, last on stdout.
  *
  * With SPARK_GRAFT_REGEN_BUDGET=1 the measured shuffle-read MB of the
  * registry and `build:*` variants (cold run for a build, last run for a
  * query — what Bench records) are merged into the sfDir's section of
  * SHUFFLE_BUDGET.json; named variants never enter a budget.
  */
object Ab {
  private val Usage = "usage: Ab <sfDir> <rounds> <variant>..."

  /** `run` returns the frame to drive, or None for a `build:*` stage, whose
    * work happens inside the call.
    */
  final case class Variant(name: String, kind: String,
      run: (SparkSession, String) => Option[DataFrame])

  final case class Run(planS: Double, driveS: Double, tasks: TaskTotals) {
    def totalS: Double = planS + driveS
  }

  final case class Record(variant: Variant, runs: Seq[Run]) {
    def cold: Double = runs.head.totalS
    def warm: Seq[Double] = runs.tail.map(_.totalS)
  }

  private def variants: Map[String, Variant] = (
    SparkEntry.all.map(q => Variant(q.name, "query", (s, d) => Some(q.fn(s, d)))) ++
      SparkEntry.builds.map { case (n, f) =>
        Variant(n, "build", (s, d) => { f(s, d); None })
      } ++
      llm.LlmQueries.abVariants.map { case (n, f) =>
        Variant(n, "named", (s, d) => Some(f(s, d)))
      }).map(v => v.name -> v).toMap

  /** Validates everything before a session exists: an unknown or repeated
    * variant, or rounds that are not a non-negative integer, throw.
    */
  def parse(args: Seq[String]): (String, Int, Seq[Variant]) = args match {
    case sfDir +: r +: names if names.nonEmpty =>
      val rounds = r.toIntOption.filter(_ >= 0).getOrElse(
        throw new IllegalArgumentException(s"rounds must be an integer >= 0, got '$r'"))
      val dup = names.diff(names.distinct)
      if (dup.nonEmpty) throw new IllegalArgumentException(s"repeated variant: ${dup.head}")
      val table = variants
      (sfDir, rounds, names.map(n => table.getOrElse(n,
        throw new IllegalArgumentException(s"unknown variant '$n'\n$Usage"))))
    case _ => throw new IllegalArgumentException(Usage)
  }

  /** Variant indices in run order for run `run` (1-based) of `k` variants. */
  def order(k: Int, run: Int): Seq[Int] = {
    val shift = if (run < 2) 0 else (run - 2) % k
    (0 until k).map(i => (i + shift) % k)
  }

  /** Runs `rounds` >= 1 rounds; returns one record per variant, in the
    * given order, and the last frame of each frame variant.
    */
  def measure(spark: SparkSession, sfDir: String, rounds: Int,
      vs: Seq[Variant]): (Seq[Record], Seq[(String, DataFrame)]) = {
    val meter = new TaskMeter(spark.sparkContext)
    try {
      // absorb session init so the first cold run measures the variant
      spark.range(1000).selectExpr("sum(id)").collect()
      val runs = vs.map(_ => Seq.newBuilder[Run])
      val frames = scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]
      for (r <- 1 to rounds; i <- order(vs.size, r)) {
        val ((planS, driveS), t) = meter.measure {
          val t0 = System.nanoTime()
          val df = vs(i).run(spark, sfDir)
          val t1 = System.nanoTime()
          df.foreach { d => Bench.drive(d); frames(vs(i).name) = d }
          ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
        }
        runs(i) += Run(planS, driveS, t)
      }
      (vs.zip(runs).map { case (v, b) => Record(v, b.result()) }, frames.toSeq)
    } finally meter.close()
  }

  /** Shuffle-read MB a budget re-arm merges, per registry or `build:*`
    * variant: a build's cold run (its memo fill), a query's last run.
    */
  def budgetEntries(recs: Seq[Record]): Map[String, Double] =
    recs.filter(_.variant.kind != "named").map { r =>
      val run = if (r.variant.kind == "build") r.runs.head else r.runs.last
      r.variant.name -> run.tasks.shuffleReadBytes / 1e6
    }.toMap

  private def median(xs: Seq[Double]): Double =
    { val s = xs.sorted; (s((s.size - 1) / 2) + s(s.size / 2)) / 2 }

  /** One record's printed fields, in order; warm stats are null after a
    * cold-only run, and the rest are the last run's.
    */
  def fields(r: Record): Seq[(String, Any)] = {
    val last = r.runs.last
    val t = last.tasks
    def warm(f: Seq[Double] => Double): Any = if (r.warm.isEmpty) null else f(r.warm)
    Seq("cold_s" -> r.cold, "warm_n" -> r.warm.size, "warm_min_s" -> warm(_.min),
      "warm_median_s" -> warm(median), "plan_s" -> last.planS, "drive_s" -> last.driveS,
      "tasks" -> t.tasks, "shuffle_read_mb" -> t.shuffleReadBytes / 1e6,
      "shuffle_write_mb" -> t.shuffleWriteBytes / 1e6,
      "max_task_peak_mem_mb" -> t.maxPeakMemBytes / 1e6,
      "spill_mem_mb" -> t.memSpillBytes / 1e6, "spill_disk_mb" -> t.diskSpillBytes / 1e6)
  }

  private def show(v: Any): String = v match {
    case d: Double => f"$d%.3f"
    case x => String.valueOf(x)
  }

  def json(r: Record): String =
    (Seq(s""""variant":"${r.variant.name}"""", s""""kind":"${r.variant.kind}"""") ++
      fields(r).map { case (k, v) => s""""$k":${show(v)}""" }).mkString("{", ",", "}")

  def run(spark: SparkSession, sfDir: String, rounds: Int, vs: Seq[Variant]): Unit = {
    def plan(name: String, df: DataFrame): Unit = {
      println(s"========== $name")
      df.explain("formatted")
    }
    val head = s""""sf":"$sfDir","rounds":$rounds,"cpus":${spark.sparkContext.defaultParallelism}"""
    if (rounds == 0) {
      // a build stage has no plan to print, and calling it would run it
      val planned = vs.filter(_.kind != "build")
        .flatMap(v => v.run(spark, sfDir).map { df => plan(v.name, df); v.name })
      println(s"""{$head,"plans":${planned.map("\"" + _ + "\"").mkString("[", ",", "]")}}""")
    } else {
      val (recs, frames) = measure(spark, sfDir, rounds, vs)
      recs.foreach { r =>
        println(f"[ab] ${r.variant.name}%-24s " +
          fields(r).map { case (k, v) => s"$k=${show(v)}" }.mkString(" "))
      }
      frames.foreach { case (n, df) => plan(n, df) }
      if (sys.env.get("SPARK_GRAFT_REGEN_BUDGET").contains("1")) {
        val scale = new java.io.File(sfDir).getName
        ShuffleBudget.mergeSection(scale, budgetEntries(recs))
        System.err.println(s"[ab] merged into $scale section of ${ShuffleBudget.DefaultPath}")
      }
      println(s"""{$head,"variants":${recs.map(json).mkString("[", ",", "]")}}""")
    }
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, rounds, vs) = parse(args.toSeq)
    val spark = GraftSession.local()
    try run(spark, sfDir, rounds, vs) finally spark.stop()
  }
}
