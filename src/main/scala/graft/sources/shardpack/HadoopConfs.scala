package graft.sources.shardpack

import java.io.{ObjectInputStream, ObjectOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** Hadoop configuration plumbing for the DSv2 source/sink.
  *
  * A bare `new Configuration()` drops every `spark.hadoop.*` setting the
  * user configured (S3 credentials, endpoints, custom defaultFS), so all
  * driver-side code paths resolve the session's Hadoop conf and ship it to
  * executors via [[SerializableHadoopConf]] (Configuration is a Hadoop
  * Writable, not java-Serializable).
  */
object HadoopConfs {
  /** The active session's Hadoop conf (includes spark.hadoop.* overrides);
    * falls back to a default conf outside a session (unit tests of the
    * codec layer).
    */
  def session(): Configuration =
    SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  /** The session's Hadoop conf as tasks carry it: ONE broadcast per
    * SparkContext and conf content, so a task holds only the broadcast
    * handle and each executor reads the ~1,000-entry conf once (local
    * mode: never; the driver's copy is served in place). Embedded in the
    * task binary instead, the conf was serialized for every job and
    * deserialized for every task: ~35 ms of a one-task keyed scan's
    * execution on a 4-core host. The broadcast holds a snapshot; a later
    * `spark.hadoop.*` change makes the next call broadcast afresh.
    * Outside a live session the conf ships inline.
    */
  def serializable(): SerializableHadoopConf =
    SparkSession.getActiveSession.map(_.sparkContext).filterNot(_.isStopped) match {
      case Some(sc) => shipped(sc)
      case None => new SerializableHadoopConf(session())
    }

  // the last shipped conf; dropped when its context stops, so a stopped
  // SparkContext and its broadcast are not kept reachable from here
  private var last: Option[(SparkContext, Map[String, String], SerializableHadoopConf)] = None

  private def shipped(sc: SparkContext): SerializableHadoopConf = synchronized {
    val live = sc.hadoopConfiguration
    val props = live.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
    last match {
      case Some((c, p, s)) if (c eq sc) && p == props => s
      case other =>
        if (!other.exists(_._1 eq sc)) sc.addSparkListener(new SparkListener {
          override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = forget(sc)
        })
        val snap = new Configuration(live)
        val s = new SerializableHadoopConf(snap,
          Some(sc.broadcast(new SerializableHadoopConf(snap))))
        last = Some((sc, props, s))
        s
    }
  }

  private def forget(sc: SparkContext): Unit = synchronized {
    if (last.exists(_._1 eq sc)) last = None
  }
}

/** java-Serializable wrapper for a Hadoop Configuration (standard Spark
  * pattern; Configuration only implements Hadoop's Writable). With a
  * broadcast ([[HadoopConfs.serializable]]) only the handle is
  * serialized and the conf is read from the broadcast on first use.
  */
final class SerializableHadoopConf private[shardpack] (
    @transient private var conf: Configuration,
    shipped: Option[Broadcast[SerializableHadoopConf]]) extends Serializable {
  def this(conf: Configuration) = this(conf, None)

  def value: Configuration = {
    if (conf == null) conf = shipped.get.value.value
    conf
  }

  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    if (shipped.isEmpty) conf.write(out)
  }
  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    if (shipped.isEmpty) {
      conf = new Configuration(false)
      conf.readFields(in)
    }
  }
}
