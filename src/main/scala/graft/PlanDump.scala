package graft

/** Plan audit aid: prints the physical plan of each named query
  * (args: sfDir query...). Source for PLANS.md excerpts.
  *
  * With `-final`, each query is EXECUTED (noop sink) first and the
  * post-execution adaptive plan is printed (`isFinalPlan=true`) — the
  * plan AQE actually ran, with runtime join strategy revisions and
  * coalesced shuffle reads, which the static explain can't show. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val finalMode = args.contains("-final")
    // -formatted: explain("formatted") output (numbered operators +
    // per-operator details incl. PushedFilters/ReadSchema) — the form
    // the round-18 optimization artifacts (plans/r18/*.txt) commit.
    val fmtMode = args.contains("-formatted")
    val rest = args.filterNot(a => a == "-final" || a == "-formatted")
    val spark = GraftSession.forRun(GraftSession.runCpus, rest(0))
    for (q <- rest.tail) {
      println(s"===== $q =====")
      val df = SparkEntry.queries(q)(spark, rest(0))
      // execute THIS QueryExecution's cached adaptive plan (a .write or
      // .foreach wraps a fresh QueryExecution, and the clone — not df —
      // would carry the finalized plan)
      if (finalMode) df.queryExecution.executedPlan.execute().foreach(_ => ())
      val mode =
        if (fmtMode) org.apache.spark.sql.execution.FormattedMode
        else org.apache.spark.sql.execution.SimpleMode
      println(df.queryExecution.explainString(mode))
    }
    spark.stop()
  }
}
