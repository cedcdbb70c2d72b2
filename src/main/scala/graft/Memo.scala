package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A shared intermediate computed once per (session, dir) and declared in
  * one place: `Memo.frame(name) { (s, d) => … }` or
  * `Memo.value(name) { (s, d) => … }`; callers write `memo(s, d)`. Sound
  * because a dir is an immutable shard set — every query over it may share
  * one build (pair graphs, signature frames, index state, trained models,
  * corpus profiles).
  *
  *  - A frame memo persists its frame through [[FrameRegistry.tracked]]
  *    under (family = `name`, tag = dir), so [[FrameRegistry.report]]
  *    names it and [[FrameRegistry.releaseSlot]] reaches it.
  *  - A value memo keeps whatever its build returns (a scalar, a
  *    broadcast, a trained model, driver-side centroids).
  *
  * [[fill]] is what Bench charges to a `build:*` stage: a frame memo is
  * forced with `count`, a value memo by computing it.
  *
  * Each memo owns its map. Builds nest (goodPairs → interCounts → the
  * corpus profile → docCount), and a nested `computeIfAbsent` on the SAME
  * `ConcurrentHashMap` throws `IllegalStateException: Recursive update`
  * whenever the two keys share a bin — which depends on the session's
  * identity hash and the dir string, so one shared map would fail at
  * random. No build reads its own memo, so per-memo maps never nest on
  * themselves.
  */
final class Memo[V] private (val name: String,
    build: (SparkSession, String) => V, force: V => Unit) {

  private val entries = new ConcurrentHashMap[(SparkSession, String), V]()

  def apply(s: SparkSession, d: String): V = {
    Memo.dropStopped(entries)(_._1)
    entries.computeIfAbsent((s, d), _ => build(s, d))
  }

  /** Compute (once) and force the value. */
  def fill(s: SparkSession, d: String): Unit = force(apply(s, d))

  /** This memo as the `build:<name>` stage that runs [[fill]]. */
  def stage: Memo.Stage = Memo.Stage(name, this)(fill)
}

object Memo {

  def frame(name: String)(build: (SparkSession, String) => DataFrame)
      : Memo[DataFrame] =
    new Memo[DataFrame](name,
      (s, d) => FrameRegistry.tracked(s, name, build(s, d), d),
      df => { df.count(); () })

  def value[V](name: String)(build: (SparkSession, String) => V): Memo[V] =
    new Memo[V](name, build, _ => ())

  /** A `build:<name>` stage of Bench: the memo it fills and how. Most
    * stages are a memo's own [[Memo.stage]]; a stage with extra behaviour
    * (a dispatch guard, a parent release) or a second name declares its
    * `fill` explicitly.
    */
  final case class Stage(name: String, memo: Memo[_])(
      val fill: (SparkSession, String) => Unit)

  /** Drop the entries whose session has stopped: their RDDs went with the
    * SparkContext, but the map would otherwise pin the session and every
    * plan it built (spec suites restart sessions many times per JVM). A
    * map-sized scan of `isStopped` flags, no Spark work; serves every
    * memo and [[FrameRegistry]]'s slot map.
    */
  private[graft] def dropStopped[K](m: ConcurrentHashMap[K, _])(
      session: K => SparkSession): Unit = {
    import scala.jdk.CollectionConverters._
    m.keySet.asScala.filter(session(_).sparkContext.isStopped)
      .foreach(m.remove)
  }
}
