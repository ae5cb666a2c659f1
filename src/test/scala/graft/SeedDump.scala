package graft

/** Replay one fuzz seed interactively:
  * `sbt "Test/runMain graft.SeedDump <seed> [sfDir]"` — prints the
  * generated DuckDB SQL and the Spark-side result, the two artifacts a
  * failing-seed investigation starts from. */
object SeedDump {
  def main(args: Array[String]): Unit = {
    val q = OracleFuzz.gen(args(0).toInt)
    println("SQL:\n" + q.sql)
    val spark = PlanShapes.gateSession()
    q.build(spark, args.lift(1).getOrElse("/root/testdata/sf0.001")).show(50, false)
    spark.stop()
  }
}
