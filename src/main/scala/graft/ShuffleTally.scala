package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Running totals of the shuffle bytes every finished task read and
  * wrote — the one task-end tally behind [[Bench]]'s canary, [[Prof]] and
  * the tests' `TestMetrics`. Task-end events arrive on the listener bus
  * asynchronously, so a reader drains the bus (or waits for the counters
  * to hold still) before taking a reading.
  */
class ShuffleTally extends SparkListener {
  val read = new AtomicLong(0L)
  val write = new AtomicLong(0L)
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }
}
