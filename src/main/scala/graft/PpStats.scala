package graft

/** Diagnostic main for the PPJoin family's candidate false-positive
  * ratio — the quantity that sized the round-13 sf100 single-node
  * boundary (137:1 at sf10 ⇒ ~150 GB of verify shuffle scratch).
  * Prints, for the given SF dir: candidate pair counts out of the
  * jaccard-prefix and containment candidate stages, the verified
  * (true) pair counts, and the resulting FP ratios. Usage:
  *   runMain graft.PpStats <sfDir> [jaccard|containment ...]
  */
object PpStats {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.forRun(GraftSession.runCpus, args(0))
    val dir = args(0)
    val which = if (args.length > 1) args.tail.toSet else Set("jaccard", "containment")
    val tok = operators.Dedup.shingleTok(spark, dir)
    if (which("jaccard")) {
      val t0 = System.nanoTime()
      val cand = operators.Dedup.jaccardPrefixCandidates(tok).count()
      val t1 = System.nanoTime()
      val truePairs = SparkEntry.queries("dedup_jaccard_prefix")(spark, dir).count()
      println(f"[ppstats] jaccard cand=$cand true=$truePairs " +
        f"ratio=${cand.toDouble / math.max(1L, truePairs)}%.1f " +
        f"cand_s=${(t1 - t0) / 1e9}%.1f full_s=${(System.nanoTime() - t1) / 1e9}%.1f")
    }
    if (which("containment")) {
      val t0 = System.nanoTime()
      val cand = operators.Dedup.containmentCandidates(tok).count()
      val t1 = System.nanoTime()
      val truePairs = SparkEntry.queries("dedup_containment")(spark, dir).count()
      println(f"[ppstats] containment cand=$cand true=$truePairs " +
        f"ratio=${cand.toDouble / math.max(1L, truePairs)}%.1f " +
        f"cand_s=${(t1 - t0) / 1e9}%.1f full_s=${(System.nanoTime() - t1) / 1e9}%.1f")
    }
    spark.stop()
  }
}
