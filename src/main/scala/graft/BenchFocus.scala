package graft

/** Per-query bench isolation harness (round 18, VERDICT task 1): the
  * exact Bench session + noop-sink protocol for a NAMED subset of the
  * registry, with per-run whole-stage-codegen compile accounting read
  * from Spark's own CodegenMetrics source. Exists because adjudicating
  * a per-query flag inside the 312-query session confounds three
  * costs — JIT/codegen compilation, cache materialization, and the
  * plan's real work — and the committed artifact only records their
  * sum. Usage:
  *
  *   sbt -batch "runMain graft.BenchFocus <sfDir> <query...>"
  *
  * Prints, per query: the throwaway (cold) time, four warm runs, and
  * for each run the codegen compile-time delta (ms) and
  * generated-class-count delta, so "the query is slow" separates into
  * "the query recompiles every run" (codegen-cache thrash — its own
  * stage count exceeds spark.sql.codegen cache capacity) vs "the work
  * itself grew".
  */
object BenchFocus {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val cpus = GraftSession.runCpus
    val spark = GraftSession.forRun(cpus, sfDir)

    // Spark's codegen source is a singleton object with codahale
    // counters; METRIC_COMPILATION_TIME is a Histogram whose COUNT is
    // the number of compilations — pair it with the generated-class
    // counter for a per-run "did this run recompile" signal.
    val cg = org.apache.spark.metrics.source.CodegenMetrics
    def compCount: Long = cg.METRIC_COMPILATION_TIME.getCount
    def classCount: Long = cg.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount
    def compTimeMs: Long = {
      // sum of recorded compile times: snapshot is bounded, use mean*count
      val h = cg.METRIC_COMPILATION_TIME
      (h.getSnapshot.getMean * h.getCount / 1e0).toLong
    }

    // Optional session-speed anchor: the same registry-independent
    // canary Bench times first, so a focus run's numbers can be
    // compared against a committed record's canary ratio.
    if (sys.env.contains("SPARK_GRAFT_FOCUS_CANARY")) {
      def canaryOnce(): Double = {
        val t0 = System.nanoTime()
        spark.range(0L, 200000000L, 1L, cpus)
          .selectExpr("xxhash64(id) % 1000000 as k")
          .groupBy("k").count()
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val cold = canaryOnce()
      val warm = math.min(canaryOnce(), canaryOnce())
      println(f"[focus] canary cold $cold%.2f s warm $warm%.2f s")
    }

    for (q <- args.tail) {
      val fn = SparkEntry.queries(q)
      def once(tag: String): Double = {
        val (c0, k0, t0ms) = (compCount, classCount, compTimeMs)
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val secs = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        println(f"[focus] $q $tag ${secs}%.2f s  codegen: +${compCount - c0} compiles " +
          f"(+${compTimeMs - t0ms} ms est) +${classCount - k0} classes")
        secs
      }
      once("cold")
      val warm = (1 to 4).map(i => once(s"warm$i"))
      println(f"[focus] $q WARM-MIN ${warm.min}%.2f s")
    }
    spark.stop()
  }
}
