package graft

import org.apache.spark.sql.execution.FormattedMode

/** Registry-WIDE static plan audit (round 18, optimization guide §1/§7):
  * `explain("formatted")` for EVERY registered query at the given SF,
  * reduced to the plan-shape facts the optimization playbook checks —
  * Exchange count, join strategies, scan pushdown (PushedFilters /
  * ReadSchema), WholeStageCodegen span count — plus the anti-pattern
  * screens this repo has been burned by before:
  *
  *  - SortAggregate (the r13 min/max-over-STRING trap: silently plans
  *    an external sort instead of hash agg),
  *  - CartesianProduct / non-broadcast BroadcastNestedLoopJoin
  *    (accidental all-pairs),
  *  - parquet scans with a filter directly above but NO pushed filters
  *    (pushdown defeated — opaque expression over the scan column).
  *
  * Usage: sbt -batch "runMain graft.PlanAudit <sfDir> [out.tsv]"
  * Prints one TSV row per query and a summary of every query tripping
  * a screen; the committed artifact is plans/r19/plan_audit.tsv.
  * Static explain only — nothing executes, so the audit covers the
  * whole registry in one JVM in minutes. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("plans/r19/plan_audit.tsv")
    val spark = GraftSession.forRun(GraftSession.runCpus, sfDir)

    val rows = new scala.collection.mutable.ArrayBuffer[String]
    val flags = new scala.collection.mutable.ArrayBuffer[String]
    rows += Seq("query", "exchanges", "wsc_spans", "bhj", "smj", "shj",
      "bnlj", "cartesian", "sort_agg", "hash_agg", "obj_hash_agg",
      "windows", "scans", "scans_pushed", "scans_filter_unpushed",
      "bnlj_sides")
      .mkString("\t")

    // BNLJ BOUND LEDGER (round 19, r18 VERDICT task 4): classify every
    // BroadcastNestedLoopJoin's BUILD side by the plan node that bounds
    // its row count, walking down through unary operators. A BNLJ is
    // benign only when its broadcast side is provably O(1)/O(k) rows in
    // SF: a keyless aggregate (exactly 1 row — the scalar-subquery /
    // global-stats crossJoin pattern) or an explicit limit (≤ k rows —
    // greedy top-k selection). Anything else is flagged for manual
    // proof — the anti-pattern screen discipline that caught the
    // SortAggregate families in round 18, applied to the next
    // cartesian-in-waiting.
    def bnljBound(p: org.apache.spark.sql.execution.SparkPlan): String = {
      import org.apache.spark.sql.execution._
      import org.apache.spark.sql.execution.aggregate._
      p match {
        case a: HashAggregateExec if a.groupingExpressions.isEmpty => "scalar1"
        case a: ObjectHashAggregateExec if a.groupingExpressions.isEmpty => "scalar1"
        case a: SortAggregateExec if a.groupingExpressions.isEmpty => "scalar1"
        case g: GlobalLimitExec => s"limit${g.limit}"
        case t: TakeOrderedAndProjectExec => s"limit${t.limit}"
        case l: LocalTableScanExec => s"local${l.rows.size}"
        case r: RangeExec => s"range${r.numElements}"
        case u: UnaryExecNode => bnljBound(u.child)
        case other => s"UNBOUNDED:${other.nodeName}"
      }
    }
    def bnljSides(plan: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
      plan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec =>
          val side = j.buildSide match {
            case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
            case _ => j.right
          }
          bnljBound(side)
      }

    for (name <- SparkEntry.queries.keys.toSeq.sorted) {
      val fn = SparkEntry.queries(name)
      try {
        val df = fn(spark, sfDir)
        val f = df.queryExecution.explainString(FormattedMode)
        def c(p: String): Int = p.r.findAllIn(f).length
        val exch = c("""(?m)^\s*[+:]?-? ?Exchange """) + c("""\(\d+\) Exchange""")
        val wsc = c("""WholeStageCodegen \(""")
        val bhj = c("""\(\d+\) BroadcastHashJoin""")
        val smj = c("""\(\d+\) SortMergeJoin""")
        val shj = c("""\(\d+\) ShuffledHashJoin""")
        val bnlj = c("""\(\d+\) BroadcastNestedLoopJoin""")
        val cart = c("""\(\d+\) CartesianProduct""")
        val sortAgg = c("""\(\d+\) SortAggregate""")
        val hashAgg = c("""\(\d+\) HashAggregate""")
        val objAgg = c("""\(\d+\) ObjectHashAggregate""")
        val win = c("""\(\d+\) Window""")
        // scan blocks: formatted details carry "PushedFilters: [...]"
        val scans = c("""\(\d+\) Scan parquet""")
        val pushed = c("""PushedFilters: \[(?!\])""")
        // a Filter whose child is a parquet scan but the scan pushed
        // nothing — candidate defeated-pushdown (heuristic: counts
        // scans with empty PushedFilters while the plan has Filters)
        val emptyPushed = c("""PushedFilters: \[\]""")
        val filters = c("""\(\d+\) Filter""")
        val unpushed = if (filters > 0) emptyPushed else 0
        val sides = bnljSides(df.queryExecution.sparkPlan)
        val sidesCol = if (sides.isEmpty) "-" else sides.mkString(";")
        rows += Seq(name, exch, wsc, bhj, smj, shj, bnlj, cart, sortAgg,
          hashAgg, objAgg, win, scans, pushed, unpushed, sidesCol)
          .mkString("\t")
        if (cart > 0) flags += s"$name: CartesianProduct x$cart"
        if (sides.exists(_.startsWith("UNBOUNDED")))
          flags += s"$name: BNLJ build side not provably bounded [$sidesCol]"
        if (sortAgg > 0) flags += s"$name: SortAggregate x$sortAgg"
      } catch {
        case e: Exception =>
          rows += s"$name\tERROR\t${e.getClass.getSimpleName}"
          flags += s"$name: explain failed ${e.getClass.getSimpleName}"
      }
    }
    val w = new java.io.PrintWriter(out)
    try rows.foreach(w.println) finally w.close()
    println(s"[audit] ${rows.size - 1} queries -> $out")
    if (flags.isEmpty) println("[audit] screens: CLEAN")
    else flags.foreach(fl => println(s"[audit] FLAG $fl"))
    spark.stop()
  }
}
