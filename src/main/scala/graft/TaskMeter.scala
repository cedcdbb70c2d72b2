package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Task-metric totals of one measured window. */
final case class TaskTotals(tasks: Long, shuffleReadBytes: Long,
    shuffleWriteBytes: Long, maxPeakMemBytes: Long,
    memSpillBytes: Long, diskSpillBytes: Long)

/** Task-end accounting shared by [[Bench]] and [[Ab]], registered on
  * construction: [[measure]] attributes every task that ends inside `f`
  * to that window, draining the asynchronous listener bus at both
  * boundaries — without the drain, task-end events posted by one query
  * would be charged to the next.
  */
final class TaskMeter(sc: SparkContext) extends SparkListener {
  private var t = TaskTotals(0, 0, 0, 0, 0, 0)
  sc.addSparkListener(this)

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null) synchronized {
      t = TaskTotals(t.tasks + 1,
        t.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
        t.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        math.max(t.maxPeakMemBytes, m.peakExecutionMemory),
        t.memSpillBytes + m.memoryBytesSpilled,
        t.diskSpillBytes + m.diskBytesSpilled)
    }
  }

  def measure[A](f: => A): (A, TaskTotals) = {
    org.apache.spark.graftbridge.ListenerBridge.drain(sc)
    synchronized { t = TaskTotals(0, 0, 0, 0, 0, 0) }
    val a = f
    org.apache.spark.graftbridge.ListenerBridge.drain(sc)
    (a, synchronized(t))
  }

  def close(): Unit = sc.removeSparkListener(this)
}
