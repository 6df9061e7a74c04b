package org.apache.spark.graft

import _root_.graft.ShuffleTally
import org.apache.spark.SparkContext

/** Test-only listener helpers for the scale-curve pins (round-13
  * directive 1): wall-clock ratios drift with machine load, but the bytes
  * a plan shuffles are a property of the PLAN and the DATA — a quadratic
  * term shows up as ~100× the bytes at a 10× input whatever the CPU
  * contention. Lives under `org.apache.spark` only to reach the
  * `private[spark]` listener-bus drain (the deterministic alternative to
  * sleep-polling for the async task-end events); nothing here ships in
  * the library jar (test scope).
  */
object TestMetrics {

  /** Block until every event posted so far has reached every listener. */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Total shuffle (read, write) bytes across every task `body` runs.
    * The listener bus is drained before reading the tally, so the counts
    * are complete and repeatable.
    */
  def shuffleBytes(sc: SparkContext)(body: => Unit): (Long, Long) = {
    val tally = new ShuffleTally
    sc.addSparkListener(tally)
    try {
      body
      drainListenerBus(sc)
    } finally sc.removeSparkListener(tally)
    (tally.read.get(), tally.write.get())
  }
}
