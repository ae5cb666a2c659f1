package org.apache.spark.grafttest

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Test access to the one scheduler hook Spark keeps package-private:
  * wait until every queued listener event has been delivered, so a
  * listener has seen all jobs launched so far. */
object Listeners {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Spark jobs `f` starts on this thread (they carry its job group). */
  def jobsDuring[T](sc: SparkContext)(f: => T): (Int, T) = {
    val group = "jobs-during-" + Thread.currentThread().getId
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "jobsDuring")
    try {
      val out = f
      drain(sc)
      (jobs.get(), out)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
