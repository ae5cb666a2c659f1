package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Per-round ANN quality telemetry: measured recall@3 against the
  * exact brute-force top-k for every ANN variant, plus returned-pair
  * counts, written to a COMMITTED artifact (ANN_RECALL.json). The
  * InvariantSpec floors guarantee the operators aren't broken; this
  * artifact makes the *measured* quality visible across rounds, and
  * AnnRecallSpec turns it into a tripwire — a >10-point recall drop vs
  * the committed value fails `sbt test`.
  *
  * Usage: runMain graft.AnnRecall [sfDir] [outPath]
  */
object AnnRecall {
  val Variants: Seq[String] =
    Seq("sim_ann_lsh", "sim_ann_multiprobe", "sim_ann_ivf", "sim_ann_ivfpq")

  /** (recall@3, returned pairs) per variant, plus the exact pair count
    * under the reserved key "__exact". The exact query returns top-5;
    * the denominator is its rnk <= 3 slice so recall@3 compares
    * like-for-like with the variants' top-3 output. */
  def measure(spark: SparkSession, sfDir: String): Map[String, (Double, Long)] = {
    val exact = SparkEntry.queries("sim_cosine_topk")(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("rnk") <= 3)
      .select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val per = Variants.map { v =>
      val got = pairs(spark, sfDir, v)
      val recall =
        if (exact.isEmpty) 0.0 else (exact & got).size.toDouble / exact.size
      v -> (math.floor(recall * 10000 + 0.5) / 10000, got.size.toLong)
    }.toMap
    per + ("__exact" -> (1.0, exact.size.toLong))
  }

  private def pairs(spark: SparkSession, sfDir: String, name: String): Set[(Long, Long)] =
    SparkEntry.queries(name)(spark, sfDir)
      .select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "ANN_RECALL.json"
    val spark = GraftSession.forRun(GraftSession.runCpus, sfDir)
    val m = measure(spark, sfDir)
    val variants = Variants.map { v =>
      val (r, n) = m(v)
      s"""  "$v": {"recall": $r, "pairs": ${n}}"""
    }.mkString(",\n")
    val json =
      s"""{
         | "sf_dir": "$sfDir",
         | "k": 3,
         | "exact_pairs": ${m("__exact")._2},
         | "variants": {
         |$variants
         | }
         |}
         |""".stripMargin
    Files.writeString(Paths.get(out), json)
    println(s"[ann-recall] wrote $out")
    println(json)
    spark.stop()
  }
}
