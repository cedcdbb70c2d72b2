package graft
import org.apache.spark.sql.DataFrame
object Bench {
  /** One entry's numbers: its (min) time, the part of that run spent
    * inside its builder, its shuffle-read bytes, and whether it threw.
    */
  private final case class Entry(sec: Double, planS: Double,
      shuffleBytes: Long, failed: Boolean)

  /** SPARK_GRAFT_BENCH_FORCE: unset or `1` drives every output row, `0`
    * drives `count()`. Anything else fails before a session starts — a
    * typo must not silently pick the measurement semantics.
    */
  def rowDrive(v: Option[String]): Boolean = v match {
    case None | Some("1") => true
    case Some("0") => false
    case Some(other) => throw new IllegalArgumentException(
      s"SPARK_GRAFT_BENCH_FORCE must be 0 or 1, got '$other'")
  }

  /** The timed action: iterate every OUTPUT ROW
    * (queryExecution.toRdd.foreachPartition — no driver collect, no
    * row-format conversion). count() lets Catalyst column-prune a
    * PROJECTED deterministic UDF column, so map-only codec queries
    * (multimodal_*_features) benched at scan+sort cost, not delivered-row
    * cost — what a writer downstream of the query would pay (guide §1.4's
    * point about count() vs the noop sink). DEFAULT SINCE r13 — a
    * deliberate measurement-semantics break, re-baselined at every armed
    * scale in the same commit (OPTIMIZATION_r13.md records both old- and
    * new-semantics totals on the same host). `rows = false` is the old
    * count() drive, kept for cross-round comparison
    * (SPARK_GRAFT_BENCH_FORCE=0, parsed at start-up by [[rowDrive]]).
    */
  def drive(df: DataFrame, rows: Boolean = true): Unit =
    if (rows) df.queryExecution.toRdd.foreachPartition { it =>
      while (it.hasNext) it.next()
    }
    else { df.count(); () }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // runs per query; the reported time is the MIN across runs. One warm +
    // one measured pass per query makes the committed number decision-grade:
    // single-shot timings on a shared host showed up to 9× phantom
    // regressions on untouched code (round-4 postmortem), while the min of
    // two runs bounds host-noise outliers and excludes one-time
    // codegen/JIT/cache-fill cost.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt.max(1)
    val force = rowDrive(sys.env.get("SPARK_GRAFT_BENCH_FORCE"))
    val spark = GraftSession.local()
    // self-provision a missing scale dir (sf1 is gitignored and regenerated
    // per session): the armed testdata-sf1 budget section must not be
    // silently skippable just because the dir is absent. Driver-owned dirs
    // under /root/testdata are never auto-written.
    if (!new java.io.File(sfDir).exists() && !sfDir.startsWith("/root/testdata")) {
      val src = sys.env.getOrElse("SPARK_GRAFT_SF_SRC", "/root/testdata/sf0.1")
      val reps = sys.env.getOrElse("GEN_REPLICAS", "10").toInt
      System.err.println(s"[Bench] $sfDir absent — generating from $src ×$reps")
      GenScale.replicate(spark, src, sfDir, reps)
    }
    // per-query shuffle-read accounting: the number the 100 TB design
    // notes argue about, measured. The reported figure is the FINAL
    // (warm) run's, matching the min-time semantics — memoized
    // intermediates (goodPairs, minhash) legitimately read cache and
    // shuffle ~0 on later invocations.
    val meter = new TaskMeter(spark.sparkContext)
    // absorb session init (context launch, codegen compiler, FS client) so
    // the first timed query measures the query, not the JVM
    spark.range(1000).selectExpr("sum(id)").collect()
    // Shared memo builds (pair graphs, LSH/IVF index state, BPE table)
    // are charged to explicit named build:* stages FIRST, so per-query
    // times are ordering-independent — previously each memo fill landed
    // on whichever consumer the registry ran first (round-7 verdict:
    // dedup_minhash_cluster reported 0.1 s vs 8.2 s across artifacts on
    // memo-fill ordering alone). Builds run exactly once: they are
    // idempotent cache fills, and a second run would measure the cache.
    // A build's whole fill runs inside its call, so its plan_s is its time.
    val buildResults = SparkEntry.builds.map { case (name, f) =>
      val ((sec, failed), t) = meter.measure {
        val t0 = System.nanoTime()
        val failed = try { f(spark, sfDir); false } catch { case _: Throwable => true }
        ((System.nanoTime() - t0) / 1e9, failed)
      }
      name -> Entry(sec, sec, t.shuffleReadBytes, failed)
    }
    // registry order (not Map hash order): run-to-run and round-to-round
    // timings stay comparable per query. plan_s is the time inside `q.fn`
    // (plan construction and the builder's driver jobs) of the run that
    // gave the min time; the rest of that run is the drive.
    val results = buildResults ++ SparkEntry.all.map { q =>
      var failed = false
      val timed = (1 to runs).map { _ =>
        meter.measure {
          val t0 = System.nanoTime()
          var t1 = t0
          try { val df = q.fn(spark, sfDir); t1 = System.nanoTime(); drive(df, force) }
          catch { case _: Throwable => failed = true }
          ((System.nanoTime() - t0) / 1e9, (t1 - t0) / 1e9)
        }
      }
      val (sec, planS) = timed.map(_._1).minBy(_._1)
      q.name -> Entry(sec, planS, timed.last._2.shuffleReadBytes, failed)
    }
    // a throwing query is reported as "failed", never min-folded into the
    // timing map: a broken query's wall-clock is not a benchmark number
    val ok = results.filter(!_._2.failed)
    def perEntry(v: Entry => Double): String =
      ok.map { case (k, e) => s"\"" + k + "\":" + v(e) }.mkString("{", ",", "}")
    val qs = perEntry(_.sec)
    val planS = perEntry(_.planS)
    val sh = perEntry(e => math.round(e.shuffleBytes / 1e5) / 10.0)
    val fails = results.filter(_._2.failed).map(k => s"\"" + k._1 + "\"")
      .mkString("[", ",", "]")
    val total = ok.map(_._2.sec).sum
    // shuffle-budget gate (ShuffleBudget scaladoc): Bench owns the section
    // named after the SF dir it ran against ("sf0.1", "testdata-sf1", …) —
    // regenerate with SPARK_GRAFT_REGEN_BUDGET=1 after a deliberate plan
    // change; otherwise any query over budget (or missing an entry, budget
    // -1) lands in "shuffle_over_budget" in the committed bench JSON. A
    // scale with no recorded section is measured, not gated (check() is
    // empty then) — arming a new scale is one REGEN run. Gating sf1
    // matters beyond proportional volume: it is the scale where plan SHAPE
    // changes surface (AQE broadcast→shuffle demotions cross their size
    // thresholds between sf0.1 and sf1).
    val shuffleMb = ok.map { case (k, e) => k -> e.shuffleBytes / 1e6 }.toMap
    val scale = new java.io.File(sfDir).getName
    val over =
      if (sys.env.get("SPARK_GRAFT_REGEN_BUDGET").contains("1")) {
        ShuffleBudget.saveSection(scale, shuffleMb)
        System.err.println(s"rebaselined $scale section of ${ShuffleBudget.DefaultPath}")
        Seq.empty
      } else ShuffleBudget.check(scale, shuffleMb)
    val overJson = over.map { case (q, m, b) =>
      s"\"" + q + s"\":{\"measured_mb\":$m,\"budget_mb\":$b}"
    }.mkString("{", ",", "}")
    // session-wide persisted-frame footprint after the full run — the
    // memo families' peak residency (FrameRegistry): scale artifacts
    // record it alongside time and shuffle so a leaking family shows up
    // as a number, not an OOM two decades later
    val persistedMb = math.round(FrameRegistry.totalPersistedMb(spark) * 10) / 10.0
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"plan_s":$planS,"shuffle_mb":$sh,"failed":$fails,"shuffle_over_budget":$overJson,"persisted_mb":$persistedMb,"sf":"$sfDir","runs_per_query":$runs,"agg":"min"}"""
    println(json)
    // also persist the full line: the driver's committed BENCH_rN.json is a
    // 2000-char log tail that truncates mid-JSON on a 186-query registry
    // (round-5 verdict "What's wrong" #3), so keep a self-contained artifact
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes("UTF-8"))
    // LAST stdout line: a compact summary the driver's 2000-char log tail
    // can always capture whole. At 254 registry entries the full line above
    // is ~13 KB and truncates mid-JSON in the captured tail, which left
    // PERF_r11/r12 with no parseable bench at all (round-12 verdict item 1).
    // Totals and health live here; per-query detail stays in the full line
    // and BENCH_FULL.json. The failed/over-budget lists are elided (counts
    // kept) in the degenerate case where they alone would blow the size
    // guarantee.
    val nFailed = results.size - ok.size
    def compact(lists: Boolean): String = {
      val f = if (lists) fails else "[]"
      val o = if (lists) overJson else "{}"
      s"""{"metric":"total","value":$total,"unit":"sec","n":${ok.size},"n_failed":$nFailed,"failed":$f,"n_over_budget":${over.size},"shuffle_over_budget":$o,"persisted_mb":$persistedMb,"sf":"$sfDir","runs_per_query":$runs,"agg":"min","full":"BENCH_FULL.json"}"""
    }
    val compactJson = { val c = compact(true); if (c.length <= 1000) c else compact(false) }
    println(compactJson)
    spark.stop()
  }
}
