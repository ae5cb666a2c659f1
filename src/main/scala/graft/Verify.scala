package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, and
  * errors.json, the cause of each query that failed. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing args: restrict to these query names (local
    // iteration aid; the driver always runs the full set)
    val only = args.drop(2).toSet
    val spark = GraftSession.forRun(GraftSession.runCpus, sfDir)
    new java.io.File(outDir).mkdirs()
    // query -> cause of its failure, written as errors.json so the
    // oracle check can say why a query has no output
    val errors = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> Bench.cause(e))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      errors.toSeq.sorted.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    // Scala-side fingerprints (see PlanShapes.implHash): lets the gate
    // detect QueryDef fn edits that leave the oracle SQL untouched.
    // Always computed against the canonical SF so sweeps at any SF
    // record the same hash; skipped silently if that dir is absent.
    if (Files.isDirectory(Paths.get(PlanShapes.CanonicalSf))) {
      val fps = SparkEntry.oracleSql.keys.toSeq.sorted
        .filter(k => only.isEmpty || only(k))
        .flatMap { k =>
          try Some(s"${q(k)}: ${q(PlanShapes.implHash(spark, k))}")
          catch { case e: Throwable =>
            System.err.println(s"[verify] impl_fp $k failed: ${e.getMessage}")
            None
          }
        }
      Files.writeString(Paths.get(s"$outDir/impl_fp.json"),
        fps.mkString("{", ",", "}"))
    }
    spark.stop()
  }
}
