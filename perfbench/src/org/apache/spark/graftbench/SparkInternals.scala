package org.apache.spark.graftbench

import org.apache.spark.{CleanerListener, SparkContext}

/** The two package-private Spark hooks the harness needs: draining the
  * listener bus, so every event of a finished call has been delivered
  * before the harness reads its counters, and watching the
  * ContextCleaner, so a repetition starts only after the previous
  * repetition's garbage has been cleaned. */
object SparkInternals {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)

  /** Number of cleanups the ContextCleaner has done since `watch`. */
  final class CleanerWatch extends CleanerListener {
    @volatile var cleaned = 0L
    def rddCleaned(rddId: Int): Unit = cleaned += 1
    def shuffleCleaned(shuffleId: Int): Unit = cleaned += 1
    def broadcastCleaned(broadcastId: Long): Unit = cleaned += 1
    def accumCleaned(accId: Long): Unit = cleaned += 1
    def checkpointCleaned(rddId: Long): Unit = cleaned += 1
  }

  def watchCleaner(sc: SparkContext): CleanerWatch = {
    val w = new CleanerWatch
    sc.cleaner.foreach(_.attachListener(w))
    w
  }

  /** Run a full GC, then wait until the cleaner has done no cleanup for
    * `quietMs` (its reference queue is polled every 100 ms), at most
    * `maxMs`. */
  def gcAndWaitForCleaner(w: CleanerWatch, quietMs: Long = 300,
      maxMs: Long = 5000): Unit = {
    System.gc()
    val deadline = System.currentTimeMillis + maxMs
    var seen = w.cleaned
    var quietSince = System.currentTimeMillis
    while (System.currentTimeMillis - quietSince < quietMs &&
        System.currentTimeMillis < deadline) {
      Thread.sleep(50)
      if (w.cleaned != seen) {
        seen = w.cleaned
        quietSince = System.currentTimeMillis
      }
    }
  }
}
