package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class AbSpec extends AnyFunSuite with SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  test("registry, build:* and named variants resolve") {
    val (sf, rounds, vs) = Ab.parse(Seq(sfDir, "3", "agg_group",
      "build:shingle_stats", "minhash_band_auto", "minhash_band_shj"))
    assert(sf == sfDir && rounds == 3)
    assert(vs.map(v => v.name -> v.kind) == Seq("agg_group" -> "query",
      "build:shingle_stats" -> "build", "minhash_band_auto" -> "named",
      "minhash_band_shj" -> "named"))
  }

  test("unknown variants and bad rounds are rejected before any Spark job") {
    val (_, jobs) = jobsDuring {
      Seq(Seq(sfDir, "2", "agg_group", "no_such_query"), Seq(sfDir, "-1", "agg_group"),
        Seq(sfDir, "x", "agg_group"), Seq(sfDir, "2"), Seq(sfDir, "2", "agg_group", "agg_group"))
        .foreach(a => intercept[IllegalArgumentException](Ab.parse(a)))
    }
    assert(jobs == 0)
  }

  test("every record has a cold run, rounds-1 warm runs and non-negative task fields") {
    val rounds = 3
    val (_, _, vs) = Ab.parse(Seq(sfDir, rounds.toString, "agg_group",
      "build:shingle_stats", "minhash_band_shj"))
    val (recs, frames) = Ab.measure(spark, sfDir, rounds, vs)
    assert(recs.map(_.variant.name) == vs.map(_.name))
    assert(frames.map(_._1) == Seq("agg_group", "minhash_band_shj"))
    recs.foreach { r =>
      assert(r.cold >= 0 && r.warm.size == rounds - 1 && r.warm.forall(_ >= 0), r.variant.name)
      r.runs.foreach { run =>
        val t = run.tasks
        assert(run.planS >= 0 && run.driveS >= 0)
        assert(Seq(t.tasks, t.shuffleReadBytes, t.shuffleWriteBytes, t.maxPeakMemBytes,
          t.memSpillBytes, t.diskSpillBytes).forall(_ >= 0), s"${r.variant.name}: $t")
      }
      assert(Ab.json(r).startsWith(s"""{"variant":"${r.variant.name}""""))
    }
    // every run of a driven aggregate is charged its tasks and shuffle
    assert(recs.head.runs.forall(r => r.tasks.tasks > 0 && r.tasks.shuffleReadBytes > 0))
    // named variants never enter a budget; a build is charged its cold fill
    val budget = Ab.budgetEntries(recs)
    assert(budget.keySet == Set("agg_group", "build:shingle_stats"))
    assert(budget("build:shingle_stats") == recs(1).runs.head.tasks.shuffleReadBytes / 1e6)
  }

  test("rounds 0 prints frame plans and runs no build stage") {
    var built = false
    val build = Ab.Variant("build:probe", "build", (_, _) => { built = true; None })
    val (_, _, vs) = Ab.parse(Seq(sfDir, "0", "agg_group"))
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Ab.run(spark, sfDir, 0, build +: vs))
    val lines = out.toString("UTF-8").trim.split("\n")
    assert(!built)
    assert(lines.contains("========== agg_group"))
    assert(lines.last.startsWith("{") && lines.last.contains(""""plans":["agg_group"]"""))
  }

  test("the rotation makes every variant lead equally often") {
    for (k <- 1 to 4) {
      val rounds = 1 + 3 * k
      assert(Ab.order(k, 1) == (0 until k))
      val warm = (2 to rounds).map(Ab.order(k, _))
      assert(warm.forall(_.sorted == (0 until k)))
      assert(warm.map(_.head).groupBy(identity).values.map(_.size).toSet == Set(3), s"k=$k")
    }
  }

  test("a budget re-arm: Bench replaces the scale's section, Ab merges into it") {
    val path = Files.createTempFile("budget", ".json").toString
    ShuffleBudget.saveSection("other", Map("q" -> 3.0), path)
    // b = 1.04 is stored as (1.0, 1.7); re-deriving it would give 1.6
    ShuffleBudget.saveSection("sf", Map("a" -> 2.0, "b" -> 1.04, "c" -> 0.0), path)
    val before = ShuffleBudget.load(path)
    ShuffleBudget.mergeSection("sf", Map("a" -> 5.0, "build:new" -> 1.0), path)
    val merged = ShuffleBudget.load(path)
    assert(merged("other") == before("other"))
    assert(merged("sf") == before("sf") ++ Map("a" -> ((5.0, ShuffleBudget.budgetFor(5.0))),
      "build:new" -> ((1.0, ShuffleBudget.budgetFor(1.0)))))
    ShuffleBudget.saveSection("sf", Map("z" -> 1.0), path)
    val replaced = ShuffleBudget.load(path)
    assert(replaced("sf").keySet == Set("z"))
    assert(replaced("other") == before("other"))
    Files.delete(java.nio.file.Paths.get(path))
  }
}
