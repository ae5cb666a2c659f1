package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one timing harness: every query time the repo reports comes from
  * [[Bench.run]]. One main, three invocations, all at
  * `SPARK_GRAFT_SF_DIR` (default `/root/testdata/sf0.1`):
  *
  * {{{
  *   sbt "runMain graft.Bench"                                 # full-registry record
  *   sbt "runMain graft.Bench <query...>"                      # named subset
  *   sbt "runMain graft.Bench --scale <dirB> <ratio> <query...>"  # scaling exponent
  * }}}
  *
  *  - No arguments: every registered query, written line-per-query to
  *    `SPARK_GRAFT_BENCH_OUT` (default `bench_results.json`, the
  *    committed record) and summarized on one compact stdout line.
  *  - Named: one `[bench]` line per query — throwaway time, timed runs,
  *    min, and the codegen compile/class deltas of each run, so "the
  *    query is slow" separates into "it recompiles every run"
  *    (codegen-cache thrash) and "the work itself grew". Writes no file.
  *  - `--scale`: each query at `SPARK_GRAFT_SF_DIR` (A) and at `dirB`
  *    (B, `ratio`× the size), A then B back to back so both share one
  *    JVM/JIT state; prints α = log(t_B/t_A) / log(ratio) per query
  *    and a trailing JSON object (committed observations: SCALING.md).
  *    α ≈ 1 is linear, α ≈ 0 overhead-bound, α ≳ 1.3 a hidden
  *    super-linearity.
  *
  * Every invocation times the calibration canary at its start and end.
  * A failed run is a NEGATIVE time, so a crash never passes as a fast
  * result, and its cause (`ExceptionClass: message`) is printed or
  * recorded.
  */
object Bench {
  /** Plan-drift tripwire set (consumed by PlanShapes/PlanDriftSpec):
    * one representative per operator family. Since round 10 the
    * compact stdout line carries the 40 slowest queries instead, so
    * this set no longer affects the harness capture — grow it freely
    * when a new family lands. */
  val headline: Set[String] = Set(
    "q1_pricing_summary", "sql_q3_shipping", "sql_q5_local_supplier",
    "sql_q18_large_orders", "sql_scalar_subquery",
    "scan_parquet", "join_inner_hash", "join_sortmerge", "join_asof",
    "join_skew_salted", "join_bucketed", "agg_hash", "agg_percentile",
    "window_rank", "window_analytic", "events_sessionize",
    "window_tumbling", "keymap_assign", "topk_per_group",
    "dedup_exact_docs", "dedup_minhash_verified", "dedup_clusters",
    "dedup_ngram_jaccard", "dedup_embedding_lsh",
    "sim_cosine_topk", "sim_ann_lsh", "sim_ann_ivf",
    "text_langid", "text_lm_score", "text_quality", "text_token_count",
    "scan_partition_pruned", "scale_incremental_agg", "scale_cdc_apply",
    "join_range_binned", "events_attribution", "text_heavy_hitters",
    "text_decontaminate", "pipeline_curate_corpus", "scale_zorder",
    "text_repetition", "agg_bitmap_distinct", "window_merge_intervals",
    "sql_q21_waiting_suppliers", "text_tfidf", "events_dau_wau", "scale_runtime_filter",
    "pipeline_pack_sequences", "sample_per_group", "profile_key_skew",
    "dedup_fuzzy_names", "events_rfm", "pipeline_spec_join",
    "sample_train_split", "pipeline_mixture_plan",
    "sql_q9_product_profit", "graph_pagerank", "fn_regex",
    "join_asof_nearest", "text_line_dedup", "corpus_budget_select",
    "graph_triangles", "dedup_jaccard_prefix", "sim_ann_ivfpq",
    "sample_weighted", "graph_communities", "agg_percentile_select",
    "dedup_apply",
    // round-6 additions: one representative per new family
    "dedup_containment", "agg_weighted_percentile", "agg_kmv_distinct",
    "text_sentence_dedup", "events_feature_matrix", "sample_negatives",
    "agg_tdigest_reaggregate", "pipeline_spec_full", "events_abtest_ztest",
    "text_winnowing_matches", "agg_kmv_setops", "join_dpp",
    "profile_distribution_drift", "dedup_incremental", "stats_bootstrap_ci",
    "events_cusum", "pipeline_shuffle_shard", "dedup_winnowing_verified",
    // round-7 additions
    "text_bpe_tokenize", "text_bpe_pair_stats", "text_bpe_apply_merge",
    "text_bpe_fertility", "dedup_span_maximal", "dedup_span_apply",
    "dedup_winnowing_incremental", "pipeline_spec_curate",
    "text_classifier_score", "sim_rp_project", "pipeline_shard_manifest",
    "timeseries_holt", "stats_feature_scale", "stats_ks_test", "stats_chi2",
    "stats_winsorize", "window_sliding_distinct", "timeseries_holt_winters",
    "stats_mannwhitney", "events_markov_stationary", "agg_gini",
    "stats_mutual_information", "stats_permutation_test", "text_zipf",
    "pipeline_dataset_card", "dedup_minhash_eval", "events_peak_detection",
    "events_dwell_time", "stats_benford", "text_ngram_novelty",
    "events_pareto_share", "agg_distinct_salted", "orders_backlog",
    "agg_ship_lag", "sql_transitive_closure",
    // round-10 additions: new/changed this round
    "sim_ann_eval", "text_classifier_fit_score", "mm_simhash_pairs",
    "dedup_simhash_pairs", "sim_ann_multiprobe",
    "stats_welch_ttest", "stats_anova", "sim_maxsim_rerank",
    "stats_ols_multi", "stats_mad_outliers",
    "timeseries_changepoint", "sim_mmr_diversify",
    "events_funnel_windowed", "text_rake_keywords",
    "timeseries_seasonal_anomaly", "events_ltv_cohort",
    "stats_power_sample_size", "text_style_similarity",
    "timeseries_crosscorr",
    // round-11 additions
    "dedup_semantic", "corpus_dsir_select",
    // round-12 additions: newly oracle-checked / scale-parameterized
    "dedup_semantic_k16", "dedup_rolling_chunks", "mm_simhash",
    // round-13 additions: scale-ruled + hierarchical semantic dedup
    "dedup_semantic_auto", "dedup_semantic_coarse",
    "dedup_semantic_coarse_auto",
    // round-15 addition: score-fusion reranker
    "sim_rerank_fuse",
    // round-16 addition: perceptual image near-dup pairs
    "mm_phash_pairs")

  /** One query's measurement under [[run]]'s protocol. `runs` are the
    * timed runs, negative where a run failed; `compiles` and `classes`
    * are the whole-stage-codegen compile and generated-class deltas of
    * the throwaway followed by each timed run; `error` is the cause of
    * the first failed timed run; `branches` are the [[Materialize]]
    * decisions its builds took, `site:small|large` sorted by site. */
  final case class Timing(name: String, throwaway: Double, runs: Seq[Double],
      compiles: Seq[Long], classes: Seq[Long], error: Option[String],
      branches: Seq[String]) {
    /** The min of the successful timed runs: one flaky success still
      * yields a time. Negative only when every timed run failed. */
    def best: Double = {
      val ok = runs.filter(_ > 0)
      if (ok.nonEmpty) ok.min else runs.min
    }
    def failed: Boolean = best < 0
  }

  /** Times one query at `dir` with the one protocol:
    *
    *  - The noop sink forces every output column; `count()` would let
    *    Catalyst prune the very work being measured.
    *  - ONE untimed throwaway right before the timed runs. The first
    *    execution of an expression shape pays JIT and codegen, a cost
    *    of the process, not the plan (dedup_exact_docs 15.6 s cold vs
    *    0.47 s warm). A global warm pass up front does not work: the
    *    codegen cache holds fewer shapes than the registry, so late
    *    queries re-paid evicted compiles in both timed runs. The
    *    throwaway also performs one-time cache builds; its time is kept.
    *  - Min of two timed runs, robust to a GC pause in one. When they
    *    disagree by >1.5× AND >0.75 s (the measured noise envelope), or
    *    one fails and the other does not, a third run is taken.
    *  - After every run, every persisted RDD is unpersisted: each
    *    invocation makes its own `localCheckpoint`s, and stale ones
    *    accumulate across a session (measured at sf10: later queries up
    *    to 8× slower, dedup_jaccard_prefix 8 s → 62 s). This relies on
    *    no operator keeping a persisted or checkpointed frame across
    *    invocations; checkpoint blocks cannot be recomputed, so such a
    *    cache would fail the NEXT query.
    *  - Shuffle partitions are sized to `dir`'s bytes
    *    ([[GraftSession.shufflePartitions]]), the value a session built
    *    for `dir` would have.
    */
  def run(spark: SparkSession, dir: String, name: String, q: () => DataFrame): Timing = {
    spark.conf.set("spark.sql.shuffle.partitions",
      GraftSession.shufflePartitions(GraftSession.runCpus, GraftSession.dirBytes(dir)).toString)
    // Compilation COUNT (the histogram's count) and generated classes:
    // a warm run with compiles > 0 evicted its own classes.
    def counts = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount)
    case class Run(secs: Double, compiles: Long, classes: Long, error: Option[String],
        branches: Seq[String])
    def once(): Run = {
      val (c0, k0) = counts
      val t0 = System.nanoTime()
      val error =
        try { q().write.format("noop").mode("overwrite").save(); None }
        catch { case e: Throwable => Some(cause(e)) }
      val secs = (System.nanoTime() - t0) / 1e9
      val branches = Materialize.drain().map { case (site, b) => s"$site:${b.name}" }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      drainScratch(spark, name)
      val (c1, k1) = counts
      Run(if (error.isEmpty) secs else -secs, c1 - c0, k1 - k0, error, branches)
    }
    val w = once()
    val (a, b) = (once(), once())
    val noisy = a.secs > 0 && b.secs > 0 &&
      math.max(a.secs, b.secs) / math.min(a.secs, b.secs) > 1.5 &&
      math.abs(a.secs - b.secs) > 0.75
    val timed = if (noisy || (a.secs < 0) != (b.secs < 0)) Seq(a, b, once()) else Seq(a, b)
    val all = w +: timed
    Timing(name, w.secs, timed.map(_.secs), all.map(_.compiles), all.map(_.classes),
      timed.flatMap(_.error).headOption, all.flatMap(_.branches).distinct.sorted)
  }

  /** `ExceptionClass: first line of the message`. */
  private[graft] def cause(e: Throwable): String =
    e.getClass.getName + ": " +
      Option(e.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse("")

  /** Bytes of Spark scratch (`blockmgr-*` block stores, `spark-*`
    * shuffle and temp dirs) under the local-dir roots, counting only
    * directories written since this JVM started: a dead process's
    * leftovers are nothing a GC here can free. -1 when unreadable. */
  private def scratchBytes(spark: SparkSession): Long =
    try {
      val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
      val roots = sys.env.get("SPARK_LOCAL_DIRS")
        .orElse(spark.sparkContext.getConf.getOption("spark.local.dir"))
        .getOrElse(System.getProperty("java.io.tmpdir"))
      def walk(f: java.io.File): Long =
        if (f.isFile) f.length()
        else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      roots.split(",").map { d =>
        Option(new java.io.File(d.trim).listFiles()).getOrElse(Array.empty)
          .filter(f => (f.getName.startsWith("blockmgr-") || f.getName.startsWith("spark-")) &&
            f.lastModified >= jvmStart)
          .map(walk).sum
      }.sum
    } catch { case _: Throwable => -1L }

  /** Waits out dead shuffle files once this session's scratch passes
    * 2 GiB. They are reaped only when ContextCleaner sees the dead
    * ShuffleDependency after a driver GC, and a large driver heap can
    * run a whole big-SF session without one: graph_pagerank's three
    * sf10 runs left ~25 GB behind and its sf100 run hit ENOSPC on a box
    * that fits the live query. So: GC, then poll once a second while
    * the footprint is still shrinking (stop after two non-shrinking
    * polls, at least three polls, at most 45 — a 40 GiB drain at disk
    * speed takes tens of seconds, and stopping mid-drain let the next
    * timed run start on a dirty disk), and warn when more than 8 GiB
    * survives. The session sets
    * `spark.cleaner.referenceTracking.blocking.shuffle`, so each
    * cleanup finishes before the cleaner takes the next. Below 2 GiB
    * a run pays one directory listing. */
  private def drainScratch(spark: SparkSession, name: String): Unit = {
    var cur = scratchBytes(spark)
    if (cur > (2L << 30)) {
      var prev = Long.MaxValue
      var i = 0
      var stalls = 0
      while (cur > (2L << 30) && (stalls < 2 || i < 3) && i < 45) {
        stalls = if (cur < prev) 0 else stalls + 1
        prev = cur
        System.gc(); Thread.sleep(1000)
        cur = scratchBytes(spark)
        i += 1
      }
      if (cur > (8L << 30))
        println(s"[bench] WARN: ${cur >> 30} GiB shuffle scratch survived GC after $name")
    }
  }

  /** The calibration canary: a fixed registry-independent workload —
    * 200 M-row range → hash → 1 M-key groupBy, one scan leg and one
    * shuffle leg, the two costs every query is made of. Dividing by its
    * ratio separates uniform session drift (25-33% measured on
    * identical bytecode) from plan regressions. Timed cold (JIT and
    * codegen), warm at the start (min of 2, the normalization
    * reference) and warm at the end (min of 2), because drift can
    * arrive mid-run, where a start-only canary cannot see it. */
  private def canary(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 200000000L, 1L, GraftSession.runCpus)
      .selectExpr("xxhash64(id) % 1000000 as k")
      .groupBy("k").count()
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  // Locale.ROOT everywhere: the JVM default locale can emit comma
  // decimal separators, which is invalid JSON.
  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  private def jsonStr(s: String): String = s.iterator.map {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => String.format(java.util.Locale.ROOT, "\\u%04x", Int.box(c.toInt))
    case c => c.toString
  }.mkString("\"", "", "\"")

  /** A JSON object with one `"key": value` line per entry, so git diffs
    * of the committed record read per query. */
  private def lines(kv: Seq[(String, String)]): String =
    if (kv.isEmpty) "{}"
    else kv.map { case (k, v) => "    " + jsonStr(k) + ": " + v }.mkString("{\n", ",\n", "\n  }")

  /** The full-registry record (the committed `bench_results.json`) and
    * the compact stdout line. The record keeps per query the min
    * ("queries"), every timed run ("runs" — bench_diff reads their
    * spread so a delta inside it is never flagged), the throwaway
    * ("warm", kept out of "runs" because it is systematically cold),
    * the codegen compiles of throwaway and timed runs ("compiles"),
    * for failed queries the cause ("errors"), and for queries whose
    * build took a [[Materialize]] branch the branches
    * ("branches", `site:small|large,…`).
    *
    * The compact line exists because the driver captures only the
    * ~2000-char TAIL of stdout: its map holds the 40 slowest queries
    * (the perf-relevant tier), and the summary fields come after the
    * map, so a tail capture keeps them even if the map overflows. */
  private[graft] def record(spark: SparkSession, sfDir: String, canaryColdS: Double,
      canaryS: Double, canaryEndS: Double, ts: Seq[Timing]): (String, String) = {
    val shuffleParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val advisoryMb = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes").toLong >> 20
    val total = ts.map(t => math.abs(t.best)).sum
    val warmupS = ts.map(t => math.abs(t.throwaway)).sum
    val failed = ts.filter(_.failed)
    val failedJson = failed.map(t => jsonStr(t.name)).sorted.mkString("[", ",", "]")
    val errors = lines(failed.map(t => t.name -> jsonStr(t.error.getOrElse(""))))
    val branches = lines(ts.filter(_.branches.nonEmpty)
      .map(t => t.name -> jsonStr(t.branches.mkString(","))))
    def perQuery(v: Timing => String) = lines(ts.map(t => t.name -> v(t)))
    val full =
      s"""{
         |  "metric": "total",
         |  "value": ${fmt(total)},
         |  "unit": "sec",
         |  "sf": "$sfDir",
         |  "canary_s": ${fmt(canaryS)},
         |  "canary_cold_s": ${fmt(canaryColdS)},
         |  "canary_end_s": ${fmt(canaryEndS)},
         |  "config": {"cpus": ${GraftSession.runCpus}, "shuffle_partitions": $shuffleParts, "advisory_mb": $advisoryMb, "codegen_cache": ${GraftSession.CodegenCacheEntries}},
         |  "warmup_s": ${fmt(warmupS)},
         |  "n_queries": ${ts.size},
         |  "failed": $failedJson,
         |  "errors": $errors,
         |  "queries": ${perQuery(t => fmt(t.best))},
         |  "runs": ${perQuery(_.runs.map(fmt).mkString("[", ", ", "]"))},
         |  "warm": ${perQuery(t => fmt(t.throwaway))},
         |  "compiles": ${perQuery(_.compiles.mkString("[", ", ", "]"))},
         |  "branches": $branches
         |}""".stripMargin
    val slowest40 = ts.sortBy(t => -math.abs(t.best)).take(40).sortBy(_.name)
      .map(t => jsonStr(t.name) + ":" + fmt(t.best)).mkString("{", ",", "}")
    val compact =
      s"""{"metric":"total","queries":$slowest40,"warmup_s":${fmt(warmupS)},"canary_s":${fmt(canaryS)},"canary_end_s":${fmt(canaryEndS)},"shuffle_partitions":$shuffleParts,"value":$total,"unit":"sec","failed":$failedJson,"n_queries":${ts.size},"sf":"$sfDir"}"""
    (full, compact)
  }

  /** A named-mode line: throwaway, timed runs, min, codegen deltas. */
  private def line(t: Timing): String =
    s"[bench] ${t.name} throwaway ${fmt(t.throwaway)} s runs ${t.runs.map(fmt).mkString(" ")} " +
      s"min ${fmt(t.best)} s codegen +${t.compiles.mkString("/+")} compiles " +
      s"+${t.classes.mkString("/+")} classes" +
      t.error.fold("")(e => (if (t.failed) " FAILED: " else " one run failed: ") + e)

  def main(args: Array[String]): Unit = {
    val (scale, names) = args.toList match {
      case "--scale" :: dirB :: ratio :: qs => (Some((dirB, ratio.toDouble)), qs)
      case qs => (None, qs)
    }
    val registry = SparkEntry.queries
    val unknown = names.filterNot(registry.contains)
    require(unknown.isEmpty && (scale.isEmpty || names.nonEmpty),
      s"unknown queries: ${unknown.mkString(" ")}; usage: Bench | Bench <query...> | " +
        "Bench --scale <dirB> <ratio> <query...>")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.forRun(GraftSession.runCpus, sfDir,
      _.config("spark.cleaner.referenceTracking.blocking.shuffle", "true"))
    def time(dir: String, name: String): Timing =
      run(spark, dir, name, () => registry(name)(spark, dir))

    val canaryColdS = canary(spark)
    val canaryS = math.min(canary(spark), canary(spark))
    if (names.nonEmpty)
      println(s"[bench] canary cold ${fmt(canaryColdS)} s warm ${fmt(canaryS)} s")
    // Each mode times its queries now and returns how to report once
    // the end-of-run canary is known.
    val report: Double => Unit = scale match {
      case None if names.isEmpty =>
        val ts = registry.keys.toSeq.sorted.map(time(sfDir, _))
        canaryEndS => {
          val (full, compact) = record(spark, sfDir, canaryColdS, canaryS, canaryEndS, ts)
          val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_results.json")
          try {
            val w = new java.io.PrintWriter(out)
            try w.println(full) finally w.close()
          } catch { case _: Throwable => () }
          println(compact)
        }
      case None =>
        names.foreach(n => println(line(time(sfDir, n))))
        canaryEndS => println(s"[bench] canary end ${fmt(canaryEndS)} s")
      case Some((dirB, ratio)) =>
        val rows = names.map { n =>
          val (a, b) = (time(sfDir, n), time(dirB, n))
          Seq(a, b).find(_.failed) match {
            case Some(f) =>
              println(s"[scale] $n FAILED: ${f.error.getOrElse("")}")
              (n, -1.0, -1.0, Double.NaN)
            case None =>
              val alpha = math.log(b.best / a.best) / math.log(ratio)
              println("[scale] %-28s A=%8.2fs B=%8.2fs alpha=%6.2f".formatLocal(
                java.util.Locale.ROOT, n, a.best, b.best, alpha))
              (n, a.best, b.best, alpha)
          }
        }
        // A failed query's alpha is JSON null (a NaN token would make
        // the object unparseable); its -1 times stay valid JSON.
        def f3(v: Double) = if (v.isNaN) "null" else fmt(v)
        canaryEndS => {
          println(s"[bench] canary end ${fmt(canaryEndS)} s")
          println(rows.map { case (n, a, b, al) =>
            s""""$n":{"a_s":${f3(a)},"b_s":${f3(b)},"alpha":${f3(al)}}"""
          }.mkString("{", ",", "}"))
        }
    }
    report(math.min(canary(spark), canary(spark)))
    spark.stop()
  }
}
