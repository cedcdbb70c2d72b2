package graft

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** Per-query shuffle-read budgets — the regression gate for "a plan grew a
  * new exchange". Round-5 verdict: the measurement existed (`shuffle_mb` in
  * Bench) but nothing failed when a query regressed into a shuffle it
  * didn't have. The budget file pins, per query, the measured warm-run
  * shuffle-read MB plus slack, per scale, with two enforcers:
  *
  *  - [[TestSection]] (`"sf0.01@test"`) — measured by
  *    [[graft.ShuffleBudgetSpec]] under the test session (local[4], 4
  *    shuffle partitions) with a `count()` drive, which lets Catalyst prune
  *    most aggregate inputs (204 of its 233 entries read 0.0 MB); enforced
  *    on every `sbt test`. No data dir is named like it, so a Bench run
  *    at sf0.01 never gates its row-driven numbers against it.
  *  - Bench scales (`"sf0.1"`, `"testdata-sf1"`, …) — measured by [[Bench]]
  *    under [[GraftSession.local]] (local[32], 32 partitions by default),
  *    section named after the SF dir; enforced on every bench run at an
  *    armed scale, breaches land in the committed bench JSON as
  *    `"shuffle_over_budget"`. A scale without a section is measured, not
  *    gated.
  *
  * Each measurer owns its section: rerunning it with
  * `SPARK_GRAFT_REGEN_BUDGET=1` rebaselines that section only, so the two
  * environments never cross-contaminate each other's numbers. [[Ab]]
  * measures under Bench's session and honours the same variable, but
  * merges only the registry and `build:*` entries it ran into the
  * section. Slack is multiplicative + additive (×1.3 + 0.3 MB): shuffle
  * bytes for a fixed plan on fixed data are stable to a few percent
  * (compression block boundaries, AQE coalescing), while a genuinely new
  * exchange on these tables shows up ≥1 MB even at sf0.01.
  */
object ShuffleBudget {
  val DefaultPath = "SHUFFLE_BUDGET.json"
  val TestSection = "sf0.01@test"

  def budgetFor(measuredMb: Double): Double =
    math.ceil((measuredMb * 1.3 + 0.3) * 10) / 10

  /** scale -> query -> (measured_mb, budget_mb); empty if the file is absent. */
  def load(path: String = DefaultPath): Map[String, Map[String, (Double, Double)]] = {
    val f = new File(path)
    if (!f.exists()) return Map.empty
    val root = new ObjectMapper().readTree(f)
    root.properties().asScala.map { e =>
      e.getKey -> e.getValue.properties().asScala.map { q =>
        q.getKey -> ((q.getValue.get("measured_mb").asDouble(),
          q.getValue.get("budget_mb").asDouble()))
      }.toMap
    }.toMap
  }

  /** Replace one scale's section, preserving the others — the full
    * re-arm of a measurer that ran every entry ([[Bench]], the spec).
    */
  def saveSection(scale: String, measuredMb: Map[String, Double],
      path: String = DefaultPath): Unit =
    write(load(path) + (scale -> entries(measuredMb)), path)

  /** Merge entries into one scale's section: the named entries are
    * re-armed, every other entry of the section (and every other section)
    * is kept verbatim — the partial re-arm of a measurer that ran only
    * some entries ([[Ab]]).
    */
  def mergeSection(scale: String, measuredMb: Map[String, Double],
      path: String = DefaultPath): Unit = {
    val all = load(path)
    write(all + (scale -> (all.getOrElse(scale, Map.empty) ++ entries(measuredMb))), path)
  }

  private def entries(measuredMb: Map[String, Double]): Map[String, (Double, Double)] =
    measuredMb.map { case (k, m) => k -> ((math.round(m * 10) / 10.0, budgetFor(m))) }

  private def write(all: Map[String, Map[String, (Double, Double)]], path: String): Unit = {
    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
    all.toSeq.sortBy(_._1).foreach { case (sc, qs) =>
      val sec = root.putObject(sc)
      qs.toSeq.sortBy(_._1).foreach { case (q, (meas, bud)) =>
        val n: ObjectNode = sec.putObject(q)
        n.put("measured_mb", meas)
        n.put("budget_mb", bud)
      }
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    ()
  }

  /** Breaches: (query, measured_mb, budget_mb). Queries without a budget
    * entry are breaches too (measured vs -1) — adding a query without
    * rebaselining must fail loudly, not silently widen the surface.
    */
  def check(scale: String, measuredMb: Map[String, Double],
      path: String = DefaultPath): Seq[(String, Double, Double)] = {
    val section = load(path).getOrElse(scale, Map.empty)
    if (section.isEmpty) return Seq.empty // no file/section: gate not armed
    measuredMb.toSeq.sortBy(_._1).flatMap { case (q, m) =>
      section.get(q) match {
        case None => Some((q, math.round(m * 10) / 10.0, -1.0))
        case Some((_, bud)) if m > bud => Some((q, math.round(m * 10) / 10.0, bud))
        case _ => None
      }
    }
  }
}
