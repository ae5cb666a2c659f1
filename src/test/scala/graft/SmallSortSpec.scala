package graft

import org.apache.spark.grafttest.Listeners
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contract for [[graft.plans.SmallSortOnePartition]]: a small global
  * `ORDER BY` reads one `Exchange SinglePartition` instead of a range
  * exchange, which saves the range partitioner's sampling job and keeps
  * the rows and their order. The guards, and AQE's refusal of a
  * re-plan with more shuffles, leave the range exchange or the top-K
  * in place everywhere else. Every case runs on a `newSession()`, so
  * the rule it sees is the one `GraftExtensions` injected.
  */
class SmallSortSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def session(conf: (String, String)*): SparkSession = {
    val s = spark.newSession()
    conf.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  private def withoutRule: SparkSession = session(
    "spark.sql.adaptive.optimizer.excludedRules" -> graft.plans.SmallSortOnePartition.ruleName)

  /** 40 groups over 4 input partitions: a hash exchange, then the sort. */
  private def groups(s: SparkSession): DataFrame =
    s.range(0, 4000, 1, 4).select((col("id") % 40).as("k"), col("id").as("v"))
      .groupBy("k").agg(sum("v").as("total"), collect_list("v").as("vs"))

  /** Rows, Spark jobs and the final (post-execution) plan of `df`. */
  private def run(df: DataFrame): (Seq[Row], Int, String) = {
    val (jobs, rows) = Listeners.jobsDuring(df.sparkSession.sparkContext)(df.collect().toSeq)
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
      case p => fail(s"not an adaptive plan:\n$p")
    }
    (rows, jobs, plan.toString)
  }

  private def exchanges(plan: String): Int = "Exchange ".r.findAllMatchIn(plan).size

  test("a small ORDER BY sorts in one partition and runs one job fewer") {
    val q = (s: SparkSession) => groups(s).select("k", "total").orderBy(col("total").desc)
    val (rows, jobs, plan) = run(q(session()))
    val (rowsOff, jobsOff, planOff) = run(q(withoutRule))
    assert(plan.contains("SinglePartition") && !plan.toLowerCase.contains("rangepartitioning"),
      s"the rule did not fire:\n$plan")
    assert(planOff.toLowerCase.contains("rangepartitioning"), planOff)
    assert(jobs == jobsOff - 1, s"$jobs jobs with the rule, $jobsOff without")
    assert(rows.size == 40 && rows == rowsOff, "the rule changed the rows or their order")
  }

  test("broadcast threshold -1 turns the rule off") {
    val (_, _, plan) = run(groups(session("spark.sql.autoBroadcastJoinThreshold" -> "-1"))
      .select("k", "total").orderBy("total"))
    assert(plan.toLowerCase.contains("rangepartitioning"), plan)
  }

  test("a sort above an explode keeps its range exchange") {
    val q = (s: SparkSession) => groups(s).select(col("k"), explode(col("vs")).as("v")).orderBy("v")
    val (rows, _, plan) = run(q(session()))
    assert(plan.toLowerCase.contains("rangepartitioning"), plan)
    assert(rows.map(_.getLong(1)) == (0L until 4000L))
  }

  test("a top-K keeps TakeOrderedAndProject and gains no exchange") {
    val q = (s: SparkSession) => groups(s).select("k", "total").orderBy(col("total").desc).limit(5)
    val (rows, _, plan) = run(q(session()))
    val (rowsOff, _, planOff) = run(q(withoutRule))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(exchanges(plan) == exchanges(planOff), s"with the rule:\n$plan\nwithout:\n$planOff")
    assert(rows == rowsOff)
  }

  test("a sort over its own range repartition gains no exchange") {
    val q = (s: SparkSession) => groups(s).select("k", "total").repartitionByRange(4, col("k"))
      .orderBy("k")
    val (rows, _, plan) = run(q(session()))
    val (_, _, planOff) = run(q(withoutRule))
    assert(exchanges(plan) == exchanges(planOff), s"with the rule:\n$plan\nwithout:\n$planOff")
    assert(rows.map(_.getLong(0)) == (0L until 40L))
  }
}
