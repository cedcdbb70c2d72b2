package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Central lifecycle registry for session-persisted DataFrames. Two
  * lifecycles:
  *
  *  - [[tracked]]: session-lived shared intermediates. Every tracked frame
  *    comes from a frame [[Memo]] (family = the memo's name, tag = the
  *    dir); registering the same slot again releases the previous
  *    occupant. Released by [[releaseSlot]]/[[releaseFamily]].
  *  - [[transient]]: per-call frames with no natural memo key (a pipeline
  *    scoring a live frame). Each family keeps at most [[TransientCap]]
  *    live frames — registering past the cap unpersists the OLDEST
  *    (unpersist degrades to recompute, never to wrong results, so
  *    eviction is always safe).
  *
  * [[report]] names every live frame with its cached size;
  * [[totalPersistedMb]] is the session-wide storage footprint (all
  * persisted RDDs, registered or not) — Bench emits it per run so scale
  * artifacts record the peak persisted footprint alongside time and
  * shuffle volume.
  */
object FrameRegistry {

  /** Max live per-call frames per transient family. */
  val TransientCap = 4

  private final case class Slot(session: SparkSession, family: String, tag: String)
  private val frames =
    new java.util.concurrent.ConcurrentHashMap[Slot, DataFrame]()
  private val seq = new java.util.concurrent.atomic.AtomicLong()

  /** Persist + register a session-lived memo frame under (family, tag).
    * Idempotent per slot: a re-registration releases the previous frame.
    */
  def tracked(s: SparkSession, family: String, df: DataFrame,
      tag: String): DataFrame = {
    // stopped sessions' slots would pin the session and every frame plan
    Memo.dropStopped(frames)(_.session)
    val out = df.persist()
    val prev = frames.put(Slot(s, family, tag), out)
    if (prev != null && (prev ne out)) prev.unpersist()
    out
  }

  /** Persist + register a per-call frame under a bounded family. */
  def transient(s: SparkSession, family: String, df: DataFrame): DataFrame = {
    val out = tracked(s, family, df, tag = s"t${seq.incrementAndGet()}")
    evictOver(s, family, TransientCap)
    out
  }

  private val TransientTag = "^t(\\d+)$".r

  private def evictOver(s: SparkSession, family: String, cap: Int): Unit = {
    // only transient-tagged slots participate in age eviction: a family
    // that also receives tracked() registrations (arbitrary/dir tags)
    // must neither crash the parse nor have its memo entries evicted
    val live = slots(s).filter(_.family == family).flatMap { k =>
      k.tag match { case TransientTag(n) => Some((n.toLong, k)); case _ => None }
    }.sortBy(_._1).map(_._2)
    live.dropRight(cap).foreach { k =>
      val df = frames.remove(k)
      if (df != null) df.unpersist()
    }
  }

  private def slots(s: SparkSession): Seq[Slot] = {
    import scala.jdk.CollectionConverters._
    frames.keySet.asScala.toSeq.filter(_.session eq s)
  }

  /** Unpersist + drop ONE (family, tag) slot; returns whether it was
    * live. The surgical release for multi-tag families (one slot per
    * dir): releasing the whole family would silently unpersist sibling
    * dirs' caches in multi-dir sessions.
    */
  def releaseSlot(s: SparkSession, family: String, tag: String): Boolean = {
    val df = frames.remove(Slot(s, family, tag))
    if (df != null) df.unpersist()
    df != null
  }

  /** Unpersist + drop every frame of `family`; returns how many. */
  def releaseFamily(s: SparkSession, family: String): Int = {
    val ks = slots(s).filter(_.family == family)
    ks.foreach { k =>
      val df = frames.remove(k)
      if (df != null) df.unpersist()
    }
    ks.size
  }

  /** Live registered frames with their cached plan sizes (bytes; the
    * optimizer's post-materialization estimate for cached relations).
    */
  def report(s: SparkSession): Seq[(String, String, Long)] =
    slots(s).sortBy(k => (k.family, k.tag)).map { k =>
      val df = frames.get(k)
      val bytes =
        if (df == null) 0L
        else s.sessionState.executePlan(df.queryExecution.logical)
          .optimizedPlan.stats.sizeInBytes.toLong
      (k.family, k.tag, bytes)
    }

  /** Session-wide persisted storage (MB) — every cached RDD, registered
    * here or not. The number Bench emits as `persisted_mb`.
    */
  def totalPersistedMb(s: SparkSession): Double =
    s.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e6
}
