package org.apache.spark

import java.util.concurrent.atomic.AtomicLong

/** Two hooks into parts of Spark that are private to it. */
object PerfbenchBus {
  /** The benchmark drains the live listener bus so that every listener
    * event an operation caused is delivered before the next operation
    * starts and the events can be attributed to it. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** A count of the cleanups (of broadcasts, shuffles, RDDs, accumulators
    * and checkpoints) the context cleaner makes from now on: it makes them
    * on its own thread after a GC has collected their references. */
  def cleanups(sc: SparkContext): AtomicLong = {
    val n = new AtomicLong
    sc.cleaner.foreach(_.attachListener(new CleanerListener {
      def rddCleaned(rddId: Int): Unit = n.incrementAndGet()
      def shuffleCleaned(shuffleId: Int): Unit = n.incrementAndGet()
      def broadcastCleaned(broadcastId: Long): Unit = n.incrementAndGet()
      def accumCleaned(accId: Long): Unit = n.incrementAndGet()
      def checkpointCleaned(rddId: Long): Unit = n.incrementAndGet()
      def sparkListenerCleaned(listenerId: Int): Unit = n.incrementAndGet()
    }))
    n
  }
}
