package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Shared local SparkSession for test suites (one per JVM; sbt forks once). */
object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

trait SparkTestBase extends BeforeAndAfterAll { self: Suite =>
  lazy val spark: SparkSession = {
    val s = SparkTestSession.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Jobs started inside `f`, listener bus drained at both ends. */
  def jobsDuring[A](f: => A): (A, Int) = {
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    val sc = spark.sparkContext
    org.apache.spark.graftbridge.ListenerBridge.drain(sc)
    sc.addSparkListener(l)
    try {
      val a = f
      org.apache.spark.graftbridge.ListenerBridge.drain(sc)
      (a, n.get)
    } finally sc.removeSparkListener(l)
  }
}
