package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The one scheduler hook the traced run needs that Spark keeps
  * package-private: waiting until every queued listener event has been
  * delivered, so an operation's jobs, stages and tasks are all counted
  * before its span is closed. */
object Access {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
