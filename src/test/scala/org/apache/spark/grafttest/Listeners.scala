package org.apache.spark.grafttest

import org.apache.spark.SparkContext

/** Test access to the one scheduler hook Spark keeps package-private:
  * wait until every queued listener event has been delivered, so a
  * listener has seen all jobs launched so far. */
object Listeners {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
