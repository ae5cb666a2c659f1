package graft

import org.apache.spark.sql.SparkSession

/** One shared session across all suites (Spark startup dominates test
  * time otherwise): the gate session, [[PlanShapes.gateSession]]. */
object TestSpark {
  lazy val spark: SparkSession = PlanShapes.gateSession()
  val sf: String = "/root/testdata/sf0.001"
}
