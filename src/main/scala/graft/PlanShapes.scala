package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Physical-plan SHAPE fingerprints for the bench headline set — the
  * round-7 "plan drift" tripwire. The r5→r6 bench-outlier episode cost
  * a round of attention re-timing queries whose plans had not actually
  * changed; the cheap guard is to diff the PLANS, not the times: hash a
  * normalized executedPlan string per headline query into a committed
  * artifact (tools/plan_shapes.json) and fail `sbt test`
  * (PlanDriftSpec) when any shape changes without the artifact (and a
  * PLANS.md note) being updated in the same commit.
  *
  * Normalization strips everything run-dependent — expression ids,
  * plan ids, file paths/locations, statistics — leaving the operator
  * tree and its strategy choices (join types, exchange placement,
  * pushed filters), which is exactly what a regression would alter.
  *
  * The fingerprints are config-sensitive (partition counts, AQE
  * thresholds, data sizes feed strategy choices), so the generator
  * runs in the same [[gateSession]] as TestSpark, at sf0.001.
  *
  * The hashed plan is the INITIAL adaptive plan, taken before anything
  * runs. AQE runtime rules (`injectRuntimeOptimizerRule`, e.g.
  * [[plans.SmallSortOnePartition]]) act only when a stage finishes, so
  * the tripwire never sees them: a runtime rule that changes a final
  * plan needs its own test (SmallSortSpec).
  *
  * Regenerate after an intentional plan change:
  *   sbt "runMain graft.PlanShapes"         # rewrites tools/plan_shapes.json
  * and record WHY in PLANS.md in the same commit.
  */
object PlanShapes {
  val ArtifactPath = "tools/plan_shapes.json"

  /** The gate session, shared by TestSpark, [[main]] and SeedDump:
    * [[GraftSession.builder]] on local[4] with 4 shuffle partitions
    * (UTC comes from the builder). Plan fingerprints, `Tables.fanout`
    * widths and the committed gate artifacts all assume this shape. */
  def gateSession(): SparkSession = {
    val s = GraftSession.builder("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def normalize(plan: String): String = plan
    .replaceAll("#\\d+", "#")
    // Lambda variable names carry a SESSION-GLOBAL counter (x_157):
    // adding/removing any higher-order function anywhere shifts every
    // later query's lambdas, which is run-order noise, not shape.
    .replaceAll("lambda [A-Za-z]+_\\d+", "lambda v_")
    // FileScan truncates DataFilters to ~100 chars BEFORE id stripping,
    // so expression-id widths (#89 vs #123) shift the truncation point.
    // The content duplicates the Filter node above the scan — drop it.
    .replaceAll("(?s)DataFilters: \\[.*?(?=, Format:)", "DataFilters: [..]")
    .replaceAll("plan_id=\\d+", "plan_id=")
    .replaceAll("Location: [A-Za-z0-9]+\\([^)]*\\)\\[[^\\]]*\\]", "Location: PATH")
    .replaceAll("file:[^\\s\\],)]+", "file:PATH")
    .replaceAll("/tmp/[^\\s\\],)]+", "PATH")
    .replaceAll("/root/testdata/[^\\s\\],)]+", "PATH")
    .replaceAll("Statistics\\([^)]*\\)", "Statistics()")
    // Content-addressed identifiers (graft.Caches.tableSuffix digests
    // inside catalog table names, e.g. graft_li_bucketed_<16 hex>)
    // re-key whenever the SOURCE inventory changes — a staged-testdata
    // drill or regeneration then trips the fingerprint with no plan
    // change (the r14/r15 join_bucketed flips). The digest is cache
    // bookkeeping, not shape: normalize it away. Measured first
    // (round 17): the impl hashes were ALREADY invariant under a
    // cleared /tmp/graft_cache and a relocated java.io.tmpdir — the
    // digest suffix was the one remaining spurious-trip trigger.
    .replaceAll("(graft_[a-z0-9_]+_)[0-9a-f]{16}", "$1DIGEST")

  def shapeHash(spark: SparkSession, sfDir: String, name: String): String = {
    val plan = SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString
    sha256(normalize(plan))
  }

  private def sha256(s: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Canonical data dir for IMPLEMENTATION fingerprints: always the
    * smallest SF, so the hash is invariant under which SF a sweep
    * verified (a few queries embed data-derived driver scalars —
    * learned BPE merges, max keys — as plan literals, which are
    * deterministic for a fixed dir but differ across SFs).
    * Env-overridable (round 13) so the TESTDATA-regeneration recovery
    * can be rehearsed against a staged copy without touching the real
    * fixtures: `GRAFT_CANONICAL_SF=/tmp/staged sbt ...` — the drill in
    * CLAUDE.md's regeneration playbook uses exactly this. */
  val CanonicalSf =
    sys.env.getOrElse("GRAFT_CANONICAL_SF", "/root/testdata/sf0.001")

  /** Scala-side fingerprint of one registered query: sha256 of the
    * normalized ANALYZED logical plan built against [[CanonicalSf]].
    * The analyzed plan is a pure function of the QueryDef's Spark code
    * (pre-optimizer: no stats, no strategy choices), so it changes
    * exactly when someone edits the fn (or a helper it calls) — the
    * half of the edit workflow the oracle-SQL hash cannot see.
    * Session-shape noise is normalized away on top of [[normalize]]:
    * `fanout` repartition widths and `range` split counts follow
    * defaultParallelism, which differs between the Verify session and
    * the test session. */
  def implHash(spark: SparkSession, name: String): String = {
    val plan = SparkEntry.queries(name)(spark, CanonicalSf)
      .queryExecution.analyzed.toString
    sha256(normalize(plan)
      .replaceAll("Repartition \\d+", "Repartition N")
      .replaceAll("splits=Some\\(\\d+\\)", "splits=N")
      // CTE definition ids are a session-global counter (like lambda
      // variable suffixes): same query, different id per run order.
      .replaceAll("(CTERelationDef|CTERelationRef|UnionLoop|UnionLoopRef) \\d+",
        "$1 N"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = gateSession()
    val entries = Bench.headline.toSeq.sorted.map { q =>
      s"""  "$q": "${shapeHash(spark, sfDir, q)}""""
    }
    val json = entries.mkString("{\n", ",\n", "\n}\n")
    Files.writeString(Paths.get(ArtifactPath), json)
    println(s"[plan-shapes] wrote ${entries.size} fingerprints to $ArtifactPath")
    spark.stop()
  }
}
