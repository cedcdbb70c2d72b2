package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler._

/** One timed interval. Benchmark spans wrap a call into a layer; job and
  * stage spans are added by the listener under the span that launched them.
  * Times are epoch nanoseconds so they line up with Spark's event times.
  */
final class Span(val id: Int, val parent: Int, val kind: String, val name: String,
    val startNs: Long) {
  var endNs: Long = -1L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var lastTaskEndNs = 0L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Totals over a set of benchmark spans and every job and stage under them. */
final case class Totals(wallS: Double, jobs: Int, tasks: Long, cpuS: Double, gcS: Double,
    shuffleMb: Double, spillMb: Double, lastTaskEndNs: Long)

/** In-memory span recorder. The benchmark sets the Spark local property
  * [[Tracer.Prop]] to the open span's id before each call, so the listener
  * can hang every job (including jobs a query builder launches while it
  * plans) under the span that caused it. Disabled, [[span]] only runs its
  * body: untraced runs install no listener.
  */
final class Tracer {
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val children = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Span]]
  private val jobs = mutable.HashMap.empty[Int, Span]
  private val stageJob = mutable.HashMap.empty[Int, Span]
  private val stages = mutable.HashMap.empty[Int, Span]
  private var stack: List[Span] = Nil
  private var sc: SparkContext = _
  private var enabled = false

  def nowNs: Long = System.nanoTime() + offsetNs

  private def newSpan(parent: Int, kind: String, name: String, start: Long): Span =
    synchronized {
      val s = new Span(spans.size, parent, kind, name, start)
      spans += s
      children.getOrElseUpdate(parent, mutable.ArrayBuffer.empty) += s
      s
    }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val owner = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
      owner.foreach { id =>
        val j = newSpan(id.toInt, "job", s"job ${e.jobId}", e.time * 1000000L)
        Tracer.this.synchronized {
          jobs(e.jobId) = j
          e.stageIds.foreach(sid => if (!stageJob.contains(sid)) stageJob(sid) = j)
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.remove(e.jobId).foreach(_.endNs = e.time * 1000000L)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val si = e.stageInfo
      Tracer.this.synchronized(stageJob.get(si.stageId)).foreach { j =>
        val start = si.submissionTime.getOrElse(System.currentTimeMillis()) * 1000000L
        val st = newSpan(j.id, "stage", s"stage ${si.stageId}", start)
        Tracer.this.synchronized(stages(si.stageId) = st)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      Tracer.this.synchronized(stages.get(si.stageId)).foreach { st =>
        st.endNs = si.completionTime.getOrElse(System.currentTimeMillis()) * 1000000L
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stages.get(e.stageId).foreach { st =>
        st.tasks += 1
        st.lastTaskEndNs = math.max(st.lastTaskEndNs, e.taskInfo.finishTime * 1000000L)
        val m = e.taskMetrics
        if (m != null) {
          st.cpuNs += m.executorCpuTime
          st.gcMs += m.jvmGCTime
          st.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  /** Point the tracer at a (new) session's context and start listening. */
  def attach(ctx: SparkContext): Unit = {
    detach()
    sc = ctx
    sc.addSparkListener(listener)
    enabled = true
  }

  /** Stop listening (the untraced half of a traced run's passes). */
  def detach(): Unit = if (enabled) {
    drain()
    sc.removeSparkListener(listener)
    enabled = false
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (sc != null && !sc.isStopped) ListenerBridge.drain(sc)

  def span[T](kind: String, name: String)(f: => T): T =
    if (!enabled) f
    else {
      val s = newSpan(stack.headOption.map(_.id).getOrElse(-1), kind, name, nowNs)
      val prev = sc.getLocalProperty(Tracer.Prop)
      stack = s :: stack
      sc.setLocalProperty(Tracer.Prop, s.id.toString)
      try f
      finally {
        s.endNs = nowNs
        stack = stack.tail
        sc.setLocalProperty(Tracer.Prop, prev)
      }
    }

  private def kids(s: Span): Seq[Span] = synchronized(children.get(s.id).toSeq.flatten)

  /** Duration minus the part of it that child spans cover. */
  def selfSeconds(s: Span): Double = {
    val iv = kids(s).filter(_.endNs > 0)
      .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += math.max(0L, curB - curA); curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += math.max(0L, curB - curA)
    (s.endNs - s.startNs - covered) / 1e9
  }

  private def subtree(s: Span): Seq[Span] = kids(s).flatMap(c => c +: subtree(c))

  /** Benchmark spans of `kind`, optionally restricted by name. */
  def find(kind: String, name: String => Boolean = _ => true): Seq[Span] =
    synchronized(spans.toVector).filter(s => s.kind == kind && name(s.name) && s.endNs > 0)

  def totals(ss: Seq[Span]): Totals = {
    drain()
    val below = ss.flatMap(subtree)
    val st = below.filter(_.kind == "stage")
    Totals(ss.map(_.seconds).sum, below.count(_.kind == "job"), st.map(_.tasks).sum,
      st.map(_.cpuNs).sum / 1e9,
      st.map(_.gcMs).sum / 1e3, st.map(_.shuffleBytes).sum / 1e6,
      st.map(_.spillBytes).sum / 1e6, (0L +: st.map(_.lastTaskEndNs)).max)
  }

  /** Every span with its self time, for writing out at exit. */
  def dump(): Json.Obj = {
    drain()
    val all = synchronized(spans.toVector)
    Json.obj("spans" -> all.map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_s" -> (if (s.endNs > 0) selfSeconds(s) else 0.0), "tasks" -> s.tasks,
        "cpu_s" -> s.cpuNs / 1e9, "gc_s" -> s.gcMs / 1e3,
        "shuffle_mb" -> s.shuffleBytes / 1e6, "spill_mb" -> s.spillBytes / 1e6)
    })
  }
}

object Tracer {
  val Prop = "perfbench.span"
}
