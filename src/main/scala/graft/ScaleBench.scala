package graft

/** Two-point scaling harness (round 12, VERDICT task 1): time the
  * named queries at TWO scale factors in one JVM and report the
  * per-query scaling exponent α = log(t_B/t_A) / log(|B|/|A|) — the
  * empirical check behind every "linear at 100 TB" design argument:
  * α ≈ 1 is linear, α ≈ 0 is overhead-bound (fixed cost dominates at
  * these sizes), α ≫ 1.3 is a hidden super-linearity that would bite
  * at cluster scale.
  *
  * Protocol per (query, dir): one untimed warm run (JIT/codegen —
  * the Bench discipline), then best-of-2 timed noop-sink runs.
  * Queries run A then B back-to-back so both points share identical
  * JVM/JIT state. Output: one line per query plus a trailing JSON
  * object (committed observations land in SCALING.md).
  *
  * Usage:
  * `sbt "runMain graft.ScaleBench <dirA> <dirB> <sizeRatio> <q>..."`
  */
object ScaleBench {
  def main(args: Array[String]): Unit = {
    val dirA = args(0)
    val dirB = args(1)
    val ratio = args(2).toDouble
    val names = args.drop(3).toSeq
    val cpus = GraftSession.runCpus
    // Shuffle sizing is SCALE-AWARE per data directory (round 15):
    // each (query, dir) pair runs at the partitions the engine would
    // use for that corpus size — cores until the input outgrows them,
    // one partition per ~128 MB of source bytes after, capped at 4×
    // cores (GraftSession.shufflePartitions; the round-13 sf100 spill
    // cliff and the round-14 small-SF tax are the two measurements
    // bounding the rule). shuffle.partitions is runtime-settable, so
    // the per-dir value is applied in time() below; the session
    // default here covers dirA.
    //
    // Make shuffle removal SYNCHRONOUS once GC surfaces the dead
    // dependency (round 15): with the default fire-and-forget
    // cleaner, decade-3 graph runs each left ~30 GiB of dead shuffle
    // scratch behind (the [scale] WARN below measured it) and the
    // NEXT run inherited a fuller disk — graph_communities sf100
    // ENOSPC'd on garbage, not on its own live footprint.
    val spark = GraftSession.forRun(cpus, dirA,
      _.config("spark.cleaner.referenceTracking.blocking.shuffle", "true"))

    // Local-dir scratch bytes (sum over spark.local.dir roots) — the
    // observable the GC-between-runs loop below is accountable to. -1
    // when unreadable (never fail a measurement over a diagnostic).
    def scratchBytes(): Long =
      try {
        val dirs = spark.sparkContext.getConf
          .get("spark.local.dir", sys.env.getOrElse("SPARK_LOCAL_DIRS", System.getProperty("java.io.tmpdir")))
        dirs.split(",").map { d =>
          val root = new java.io.File(d.trim)
          def walk(f: java.io.File): Long =
            if (f.isFile) f.length()
            else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
          // only Spark's own subtrees: blockmgr-* (block store) and
          // spark-* (shuffle + temp) — /tmp holds unrelated files.
          Option(root.listFiles()).getOrElse(Array.empty)
            .filter(f => f.getName.startsWith("blockmgr-") || f.getName.startsWith("spark-"))
            .map(walk).sum
        }.sum
      } catch { case _: Throwable => -1L }

    def time(name: String, dir: String): Double = {
      val fn = SparkEntry.queries(name)
      // Per-dir scale-aware partitions (see session comment above).
      spark.conf.set("spark.sql.shuffle.partitions",
        GraftSession.shufflePartitions(cpus, GraftSession.dirBytes(dir)).toString)
      def once(): Double = {
        val t0 = System.nanoTime()
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        val secs = (System.nanoTime() - t0) / 1e9
        // Each invocation of a checkpoint-using query materializes a
        // FRESH localCheckpoint; the previous run's blocks are garbage
        // that only a GC-triggered ContextCleaner pass would free.
        // Left alone they accumulate across the warm+timed runs of
        // every query in the session (GBs at sf10 — measured: they
        // inflated later queries up to 8×, dedup_jaccard_prefix 8 s →
        // 62 s at the same SF), so drop them eagerly: each run pays
        // exactly its own materialization and nothing lingers.
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        // SHUFFLE files are the other garbage class (round 14): they
        // are reaped only when ContextCleaner sees the dead
        // ShuffleDependency via driver GC, and a 64 g driver heap can
        // run a whole decade-3 session without one — measured:
        // graph_pagerank's three sf10 runs left ~25 GB of dead
        // shuffle scratch, and its sf100 run then hit ENOSPC on a
        // box that fits the live query with room to spare. Force the
        // collection between (untimed boundaries of) runs and give
        // the async cleaner a beat to land the deletions. This is
        // the in-session analogue of spark.cleaner.periodicGC (whose
        // 30 min default never fires inside one session). A single
        // gc()+sleep is best-effort (ContextCleaner deletion is async
        // and one GC hint may miss the dead ShuffleDependency —
        // round-15 ADVICE), so loop until the scratch footprint stops
        // shrinking (≤3 iterations) and LOG what remains: a missed
        // cleanup must be visible before the next run inherits a
        // fuller disk, not an ENOSPC three queries later.
        // Patient loop (round 15): the GC → reference-queue → cleaner
        // pipeline is asynchronous relative to System.gc() even with
        // blocking removals, so poll until the footprint stabilizes
        // below 2 GiB or 8 attempts pass — measured: a 3-attempt /
        // 500 ms loop declared victory while ~30 GiB was still queued.
        // Keep polling while the footprint is STILL SHRINKING — the
        // cleaner draining 40 GiB at disk speed takes tens of seconds,
        // and giving up mid-drain (the old 8-attempt cap) let the next
        // timed run start against a dirty disk (communities' first
        // decade-3 α read 1.22 for exactly this reason). Stall
        // detection (two non-shrinking polls) still exits promptly
        // when nothing more will come.
        // "Two non-shrinking polls" is tracked with an explicit stall
        // counter (round-16, r15 ADVICE): the previous `cur < prev`
        // guard exited on the FIRST flat poll once i >= 3, so a bursty
        // cleaner that paused deletion for one 1-second poll still
        // aborted the drain mid-way — the exact failure the raised cap
        // was meant to fix.
        var prev = Long.MaxValue
        var i = 0
        var stalls = 0
        var cur = { System.gc(); Thread.sleep(1000); scratchBytes() }
        while (cur >= 0 && cur > (2L << 30) && (stalls < 2 || i < 3) && i < 45) {
          stalls = if (cur < prev) 0 else stalls + 1
          prev = cur
          System.gc(); Thread.sleep(1000)
          cur = scratchBytes()
          i += 1
        }
        if (cur > (8L << 30))
          println(f"[scale] WARN: ${cur / (1L << 30)} GiB shuffle scratch survived GC after $name")
        secs
      }
      // SPARK_GRAFT_SCALE_RUNS=1 → single timed run, no warm throwaway
      // (round 17): decade-3 A/B runs are 10+ min each, so JIT/codegen
      // warmup is noise against the run itself and best-of-2 triples
      // the session cost. Only for long-run A/Bs seeking ≥2× effects;
      // committed ladder rows keep the full protocol unless annotated.
      if (sys.env.get("SPARK_GRAFT_SCALE_RUNS").contains("1")) once()
      else { once(); math.min(once(), once()) }
    }

    val rows = names.map { n =>
      try {
        // dirA == "-" → B-only mode (round 17): time just the big SF
        // (for config A/Bs whose small-SF point exists from another
        // config) — alpha is emitted as null.
        val tA = if (dirA == "-") Double.NaN else time(n, dirA)
        val tB = time(n, dirB)
        val alpha = math.log(tB / tA) / math.log(ratio)
        println(f"[scale] $n%-28s A=$tA%8.2fs B=$tB%8.2fs alpha=$alpha%6.2f")
        (n, tA, tB, alpha)
      } catch {
        case e: Throwable =>
          println(s"[scale] $n FAILED: ${e.getMessage}")
          (n, -1.0, -1.0, Double.NaN)
      }
    }
    // Failed queries carry NaN alpha (and -1 sentinel times, which are
    // valid JSON); emit JSON null for the NaN — a literal NaN token
    // would make the trailing object unparseable. Negative alphas from
    // successful runs are real measurements and pass through.
    def f3(v: Double) =
      if (v.isNaN) "null"
      else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    println(rows.map { case (n, a, b, al) =>
      s""""$n":{"a_s":${f3(a)},"b_s":${f3(b)},"alpha":${f3(al)}}"""
    }.mkString("{", ",", "}"))
    spark.stop()
  }
}
