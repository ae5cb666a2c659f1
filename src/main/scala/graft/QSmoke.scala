package graft

object QSmoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.forRun(GraftSession.runCpus, args(0))
    for (q <- args.tail) {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(q)(spark, args(0))
      val n = df.count()
      println(f"[qsmoke] $q rows=$n ${(System.nanoTime()-t0)/1e9}%.2f s")
      df.show(5, false)
    }
    spark.stop()
  }
}
