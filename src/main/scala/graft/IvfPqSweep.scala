package graft

/** nprobe recall/cost curve for the IVF-PQ shortlist (round 18,
  * VERDICT task 3). Two measured points existed (nprobe=1 recall
  * 0.20, nprobe=3 recall 0.33); this sweeps the knob through the same
  * hash-checked eval fold the registered rows use and times each
  * point warm (throwaway + min-of-2, the Bench discipline), so the
  * production knob can sit at the knee of a curve instead of a guess.
  *
  *   sbt -batch "runMain graft.IvfPqSweep <sfDir> <nprobe...>"
  */
object IvfPqSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val probes = if (args.length > 1) args.tail.map(_.toInt).toSeq
                 else Seq(1, 2, 3, 5, 8)
    val spark = GraftSession.forRun(GraftSession.runCpus, sfDir)
    for (np <- probes) {
      def once(): (Double, org.apache.spark.sql.Row) = {
        val t0 = System.nanoTime()
        val row = graft.operators.Similarity
          .ivfPqSweepPoint(spark, sfDir, np).collect()(0)
        val secs = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        (secs, row)
      }
      once() // throwaway: JIT/codegen + quantizer cache warm-up
      val (ta, row) = once()
      val (tb, _) = once()
      val t = math.min(ta, tb)
      println(f"[sweep] nprobe=$np t=$t%.2f s n_cand=${row.getLong(0)} " +
        f"cand_recall=${row.getDouble(5)}%.3f rec=${row.getDouble(7)}%.3f " +
        f"prec=${row.getDouble(6)}%.3f")
    }
    spark.stop()
  }
}
