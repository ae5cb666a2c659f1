package graft.bench

import scala.collection.mutable
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry
import Harness._

/** The two registry workloads: one client runs the frozen query list in
  * whole passes, each pass in a seed-shuffled order. One operation is
  * one query: `fn(spark, dataDir)` and a `collect()` of its result,
  * whose fingerprint is checked against the DuckDB oracle afterwards.
  */
object QueryWorkload {
  final case class Op(name: String, lat: Double, ok: Boolean, rows: Long, hash: String, err: String)

  /** Per-operation layer readings of the traced run. */
  final case class Layers(buildS: Double, execS: Double, analysisMs: Double,
      optimizeMs: Double, physicalMs: Double, compiles: Long, persisted: Int, blockBytes: Long,
      start: Long, end: Long)

  def loadList(path: String): Seq[String] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toVector
    finally src.close()
  }

  /** The frozen list must still name registered, oracle-checked queries;
    * a workload never shrinks silently. */
  def validate(names: Seq[String]): Unit = {
    if (names.isEmpty) throw new BenchError("empty query list")
    val dup = names.diff(names.distinct)
    if (dup.nonEmpty) throw new BenchError(s"query listed twice: ${dup.mkString(", ")}")
    val gone = names.filterNot(SparkEntry.queries.contains)
    if (gone.nonEmpty) throw new BenchError(s"listed queries not in SparkEntry.queries: ${gone.mkString(", ")}")
    val noOracle = names.filterNot(SparkEntry.oracleSql.contains)
    if (noOracle.nonEmpty) throw new BenchError(s"listed queries without an oracle: ${noOracle.mkString(", ")}")
  }

  def run(c: Conf): String = {
    val names = loadList(c.get("list"))
    validate(names)
    val registry = SparkEntry.queries
    write(s"${c.work}/oracle.json", names.map(n => s"${q(n)}: ${q(SparkEntry.oracleSql(n))}")
      .mkString("{", ",\n", "}"))

    def execute(spark: SparkSession, name: String, plant: Boolean): Op = {
      val t0 = System.nanoTime()
      try {
        val df = registry(name)(spark, c.data)
        val rows = df.collect()
        val lat = secs(t0)
        Op(name, lat, ok = true, rows.length, Canon.hash(df.schema, rows,
          if (plant) Seq("planted wrong row") else Nil), "")
      } catch { case e: Throwable => Op(name, secs(t0), ok = false, 0, "", e.toString) }
      finally unpersistAll(spark)
    }

    /** Whole passes, each in its own seed-shuffled order (so a run
      * averages over several orders of the shared codegen cache), at
      * least `least` and then while the measured time stays within half a
      * pass of `budget`. Returns the operations and the seconds they took. */
    def passes(budget: Double, salt: Int, least: Int = 3)(op: (String, Int) => Op): (Seq[Op], Double) = {
      val ops = mutable.ArrayBuffer.empty[Op]
      val t0 = System.nanoTime()
      var last = 0.0
      var pass = 0
      while (pass < least || secs(t0) + last / 2 < budget) {
        val p0 = System.nanoTime()
        new scala.util.Random(c.seed * 7919 + salt * 1000 + pass).shuffle(names)
          .foreach(n => ops += op(n, ops.size))
        last = secs(p0)
        pass += 1
      }
      (ops.toSeq, secs(t0))
    }

    // Set-up, repeated: a fresh session, the write-once caches cleared,
    // and one untimed warm-up pass over every listed query, so no timed
    // operation pays JIT, codegen or write-once-cache costs. After the
    // first (cold) set-up, `settle` more untimed passes let the JIT
    // compiler catch up with the engine and the generated classes, so the
    // later set-ups and the timed passes run at the engine's steady pace
    // rather than on its warm-up curve.
    var spark: SparkSession = null
    val setupS, sessionS = mutable.ArrayBuffer.empty[Double]
    var warm = Seq.empty[Op]
    for (k <- 0 until c.setups) {
      if (spark != null) spark.stop()
      deleteTree(cacheDir)
      val t0 = System.nanoTime()
      spark = startSession(c, c.data)
      sessionS += secs(t0)
      warm = names.map(execute(spark, _, plant = false))
      setupS += secs(t0)
      if (k == 0)
        passes(0, -1, least = c.get("settle").toInt)((name, _) => execute(spark, name, plant = false))
    }

    val s = spark
    val fields = mutable.ArrayBuffer.empty[String]
    if (!c.trace) {
      val (ops, wall) =
        passes(c.seconds, 0)((name, i) => execute(s, name, c.plantWrong && i == 0))
      fields += s""""timed_s": ${num(wall)}, "live_heap_mb": ${num(LiveHeap.measure())}"""
      fields += opsJson(ops)
    } else {
      // Untraced reference passes before and after the traced phase, so a
      // warm-up trend cancels out of trace.overhead_share.
      def untraced(salt: Int) =
        passes(c.seconds / 4, salt, least = 1)((name, _) => execute(s, name, plant = false))
      val (ref1, refWall1) = untraced(2)
      val tracer = new Tracer(s)
      s.sparkContext.addSparkListener(tracer)
      val layers = mutable.ArrayBuffer.empty[Layers]
      val (ops, wall) = passes(c.seconds, 1) { (name, i) =>
        val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val t0 = System.nanoTime()
        var df: DataFrame = null
        var bs, es = 0.0
        val startMs = System.currentTimeMillis()
        val op = try {
          val rows = tracer.span(i, "op", "", name) {
            var t = System.nanoTime()
            df = tracer.span(i, "build")(registry(name)(s, c.data))
            bs = secs(t); t = System.nanoTime()
            tracer.span(i, "plan")(df.queryExecution.executedPlan)
            t = System.nanoTime()
            val r = tracer.span(i, "exec")(df.collect())
            es = secs(t)
            r
          }
          Op(name, secs(t0), ok = true, rows.length, Canon.hash(df.schema, rows), "")
        } catch { case e: Throwable => Op(name, secs(t0), ok = false, 0, "", e.toString) }
        val endMs = System.currentTimeMillis()
        val sc = s.sparkContext
        val persisted = sc.getPersistentRDDs.size
        val blocks = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
        unpersistAll(s)
        val phases = if (df == null) Map.empty[String, Double]
          else df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
        layers += Layers(bs, es, phases.getOrElse("analysis", 0.0),
          phases.getOrElse("optimization", 0.0), phases.getOrElse("planning", 0.0),
          CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0, persisted, blocks, startMs, endMs)
        op
      }
      tracer.drain()
      s.sparkContext.removeSparkListener(tracer)
      val (ref2, refWall2) = untraced(3)
      val n = ops.size.toDouble
      val build = tracer.total(ops.indices.map(_ -> "build"))
      val all = tracer.total(ops.indices.flatMap(i => Seq(i -> "op", i -> "build", i -> "plan", i -> "exec")))
      val idleMs = ops.indices.map { i =>
        val l = layers(i)
        tracer.idleMs(tracer.total(Seq(i -> "op", i -> "build", i -> "plan", i -> "exec")), l.start, l.end)
      }.sum
      val meanCompileMs = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean
      val compiles = layers.map(_.compiles).sum.toDouble
      val m = Seq(
        "build.s" -> layers.map(_.buildS).sum / n,
        "build.jobs" -> build.jobs / n,
        "plan.analysis_ms" -> layers.map(_.analysisMs).sum / n,
        "plan.optimize_ms" -> layers.map(_.optimizeMs).sum / n,
        "plan.physical_ms" -> layers.map(_.physicalMs).sum / n,
        "codegen.compiles_per_op" -> compiles / n,
        "codegen.compile_ms_per_op" -> compiles * meanCompileMs / n,
        "exec.s" -> layers.map(_.execS).sum / n,
        "materialize.persisted_rdds_per_op" -> layers.map(_.persisted).sum / n,
        "materialize.block_bytes" -> layers.map(_.blockBytes).sum / n,
        "materialize.cache_bytes" -> dirBytes(cacheDir).toDouble)
      fields += s""""timed_s": ${num(wall)}, "ref_timed_s": ${num(refWall1 + refWall2)}, "ref_ops": ${ref1.size + ref2.size}, "traced_ops": ${ops.size}"""
      fields += layersJson(m ++ Tracing.common(all, idleMs, wall, n, c.cores))
      fields += s""""spans": [${tracer.spanLines.mkString(",\n")}]"""
      fields += opsJson(ops)
    }
    fields += s""""setup_s": [${setupS.map(num).mkString(", ")}]"""
    fields += s""""session_start_s": [${sessionS.map(num).mkString(", ")}]"""
    fields += s""""shuffle_partitions": ${s.conf.get("spark.sql.shuffle.partitions")}"""
    fields += s""""warm": ${opsJson(warm).stripPrefix("\"ops\": ")}"""
    s.stop()
    fields.mkString("{", ",\n", "}")
  }

  def opsJson(ops: Seq[Op]): String = ops.map { o =>
    s"""{"name": ${q(o.name)}, "lat": ${num(o.lat)}, "ok": ${o.ok}, "rows": ${o.rows}, "hash": ${q(o.hash)}, "err": ${q(o.err)}}"""
  }.mkString("\"ops\": [", ",\n", "]")

  def layersJson(m: Seq[(String, Double)]): String =
    m.map { case (k, v) => s"${q(k)}: ${num(v)}" }.mkString("\"layers\": {", ", ", "}")
}

/** Layer metrics both traced workloads report the same way. */
object Tracing {
  def common(all: Tracer#Agg, idleMs: Long, wall: Double, n: Double,
      cores: Int): Seq[(String, Double)] = Seq(
    "driver.jobs_per_op" -> all.jobs / n,
    "driver.stages_per_op" -> all.stages / n,
    "driver.no_stage_running_s_per_op" -> idleMs / 1000.0 / n,
    "driver.idle_core_share" -> (1.0 - all.runMs / 1000.0 / (wall * cores)),
    "exec.task_run_ms" -> all.runMs / n,
    "exec.task_cpu_ms" -> all.cpuNs / 1e6 / n,
    "exec.gc_ms" -> all.gcMs / n,
    "exec.tasks_per_op" -> all.tasks / n,
    "exec.input_bytes" -> all.inBytes / n,
    "exec.shuffle_write_bytes" -> all.shufW / n,
    "exec.shuffle_read_bytes" -> all.shufR / n,
    "exec.spill_bytes" -> all.spill / n,
    "exec.peak_exec_mem_mb" -> all.peakMem / (1024.0 * 1024.0))
}
