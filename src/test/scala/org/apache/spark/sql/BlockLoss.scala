package org.apache.spark.sql

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}

/** Test-only fault injection: the loss of every cached or checkpointed
  * block, as an executor loss causes it on a cluster. Lives in Spark's
  * package because `BlockManagerMaster` is `private[spark]`. */
object BlockLoss {

  /** Run `body` while a listener removes every persisted RDD's blocks
    * once the `after`-th jobs (counted from the start of `body`) end;
    * returns `body`'s value and how many drops happened. Listener events
    * arrive asynchronously, so a drop lands while the jobs after it run. */
  def during[A](spark: SparkSession, after: Set[Int])(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val drops = new AtomicInteger
    val dropper = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (after(jobs.incrementAndGet())) {
          sc.getPersistentRDDs.keys.foreach(sc.env.blockManager.master.removeRdd(_, true))
          drops.incrementAndGet(): Unit
        }
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(dropper)
    try {
      val a = body
      sc.listenerBus.waitUntilEmpty()
      (a, drops.get)
    } finally sc.removeSparkListener(dropper)
  }
}
