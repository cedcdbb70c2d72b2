package graft

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Committed plan-fingerprint artifact (PLANS.json) — the physical-plan
  * analog of [[ShuffleBudget]]: per scale, per query, one canonical
  * [[PlanAudit.Fingerprint]] string (join strategies, exchange count,
  * codegen spans, pushed filters, scale warns). Two enforcers own their
  * sections:
  *
  *  - `"sf0.01"` — [[graft.PlanFingerprintSpec]] under the test session;
  *    enforced on every `sbt test`, so a broadcast→SMJ demotion or a lost
  *    pushdown fails a TEST instead of waiting for a bench read.
  *  - `"sf0.1"` (and any other dir PlanAudit is pointed at) —
  *    [[PlanAudit]]'s main, which prints drift and rebaselines with
  *    `SPARK_GRAFT_REGEN_PLANS=1`.
  *
  * Intentional plan changes update the artifact in the same commit —
  * exactly the SHUFFLE_BUDGET.json discipline.
  */
object Plans {
  val DefaultPath = "PLANS.json"

  /** scale -> query -> fingerprint; empty if the file is absent. */
  def load(path: String = DefaultPath): Map[String, Map[String, String]] = {
    val f = new File(path)
    if (!f.exists()) return Map.empty
    val root = new ObjectMapper().readTree(f)
    root.properties().asScala.map { e =>
      e.getKey -> e.getValue.properties().asScala.map { q =>
        q.getKey -> q.getValue.asText()
      }.toMap
    }.toMap
  }

  /** Replace one scale's section, preserving the others. */
  def saveSection(scale: String, fps: Map[String, String],
      path: String = DefaultPath): Unit = {
    val all = load(path) + (scale -> fps)
    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
    all.toSeq.sortBy(_._1).foreach { case (sc, qs) =>
      val sec = root.putObject(sc)
      qs.toSeq.sortBy(_._1).foreach { case (q, fp) => sec.put(q, fp) }
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    ()
  }

  /** Drifts: (query, fingerprint-now, fingerprint-committed). A query
    * with no committed entry drifts against `"<absent>"` — adding a query
    * without recording its plan must be loud; a committed entry whose
    * query no longer exists drifts the other way.
    */
  def diff(scale: String, fps: Map[String, String],
      path: String = DefaultPath): Seq[(String, String, String)] = {
    val section = load(path).getOrElse(scale, Map.empty)
    if (section.isEmpty) return Seq.empty // section not armed yet
    val now = fps.toSeq.sortBy(_._1).flatMap { case (q, fp) =>
      section.get(q) match {
        case None => Some((q, fp, "<absent>"))
        case Some(want) if want != fp => Some((q, fp, want))
        case _ => None
      }
    }
    val stale = (section.keySet -- fps.keySet).toSeq.sorted
      .map(q => (q, "<absent>", section(q)))
    now ++ stale
  }
}
