package graft.bench

import java.net.InetSocketAddress
import java.util.Properties
import scala.collection.mutable
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.etl._
import Harness._

/** Plain-Scala reference of the `KeyMap` semantics: existing values keep
  * their keys; novel values, in value order, take the lowest free keys. */
final class RefKeyMap(init: Seq[(Long, String)]) {
  val keys: mutable.HashMap[String, Long] = mutable.HashMap.from(init.map(_.swap))
  private val used = mutable.BitSet.fromSpecific(init.map(_._1.toInt))
  private var lowest = 0

  def transact(values: Iterable[String]): Unit =
    values.iterator.filterNot(keys.contains).toVector.distinct.sorted.foreach { v =>
      while (used(lowest)) lowest += 1
      keys(v) = lowest.toLong
      used += lowest
    }
}

/** The paper's pipeline as an incremental star-schema load. One
  * operation is one batch: extract facts from NDJSON (`JsonSource`) and
  * one page from a local HTTP server (`HttpJsonSource`, with seeded 429
  * refusals), read the dimension from embedded Derby (`JdbcSource`),
  * assign keys (`KeyMap.transact`), append the novel dimension rows
  * (`JdbcSink`) and load the facts through `KeyMap.lookup` into a
  * `ParquetSink`. */
object EtlWorkload {
  final case class Op(batch: Int, lat: Double, ok: Boolean, rows: Long, err: String)

  private val factSchema = StructType(Seq(
    StructField("fact_id", LongType), StructField("sku", StringType),
    StructField("qty", IntegerType), StructField("amount", DoubleType)))

  /** Local JDK HTTP server for the batch pages; refuses the first request
    * of each listed batch with 429. */
  final class PageServer(dir: String, refuse: Set[Int]) {
    private val refused = mutable.Set.empty[Int]
    @volatile var requests, retries = 0L
    private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/page/", (ex: HttpExchange) => {
      val b = ex.getRequestURI.getPath.stripPrefix("/page/").toInt
      requests += 1
      val (code, body) = refused.synchronized {
        if (refuse(b) && !refused(b)) { refused += b; retries += 1; (429, Array.emptyByteArray) }
        else (200, java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f"$dir/page_$b%04d.json")))
      }
      ex.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length.toLong)
      if (body.nonEmpty) ex.getResponseBody.write(body)
      ex.close()
    })
    server.start()
    def url(b: Int): String = s"http://127.0.0.1:${server.getAddress.getPort}/page/$b"
    def reset(): Unit = refused.synchronized(refused.clear())
    def stop(): Unit = server.stop(0)
  }

  def run(c: Conf): String = {
    val dir = c.data
    val batches = c.get("batches").toInt
    val settle = c.get("settle").toInt
    val perBatch = c.get("rows").toLong + c.get("http_rows").toLong
    val refuse = c.get("refuse").split(',').filter(_.nonEmpty).map(_.toInt).toSet
    val pages = new PageServer(dir, refuse)
    System.setProperty("derby.system.home", s"${c.work}/derby")
    System.setProperty("derby.stream.error.file", s"${c.work}/derby/derby.log")
    // No log syncs on commit: the benchmark measures the engine, not how
    // fast the machine's disk honours fsync.
    System.setProperty("derby.system.durability", "test")
    val props = new Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val initDim = {
      val src = scala.io.Source.fromFile(s"$dir/dim.tsv", "UTF-8")
      try src.getLines().map { l => val Array(k, v) = l.split('\t'); (k.toLong, v) }.toVector
      finally src.close()
    }

    var spark: SparkSession = null
    var url, sink = ""
    // (persisted RDDs, their block bytes) at the end of each batch, before cleanup
    val materialized = mutable.ArrayBuffer.empty[(Int, Long)]
    def batchPath(b: Int) = f"$dir/batch_$b%04d.json"

    /** One batch; `span` wraps each layer call (identity when untraced). */
    def batch(b: Int, span: (String, () => Any) => Any): Op = {
      val s = spark
      val t0 = System.nanoTime()
      try {
        val (facts, snap) = span("extract", () => {
          val json = JsonSource(batchPath(b), factSchema).read(s)
          val http = HttpJsonSource(pages.url(b), factSchema, backoffMs = 10L).read(s)
          (json.unionByName(http),
            KeyMap.fromDim(JdbcSource(url, "DIM", props).read(s).localCheckpoint(), "sk", "sku"))
        }).asInstanceOf[(DataFrame, KeyMap)]
        val next = span("keymap", () =>
          KeyMap(snap.transact(facts.select("sku")).dim.localCheckpoint())).asInstanceOf[KeyMap]
        span("load", () => JdbcSink(url, "DIM", props).write(
          next.dim.join(snap.dim.select("key"), Seq("key"), "left_anti")
            .select(col("key").as("sk"), col("value").as("sku"))))
        span("lookup", () => ParquetSink(sink, SaveMode.Append).write(
          next.lookup(facts, "sku").select(col("fact_id"), col("sku"), col("key"),
            col("qty"), col("amount"))))
        Op(b, secs(t0), ok = true, perBatch, "")
      } catch { case e: Throwable => Op(b, secs(t0), ok = false, 0, e.toString) }
      finally {
        val sc = s.sparkContext
        materialized += ((sc.getPersistentRDDs.size, sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum))
        unpersistAll(s)
      }
    }
    val untraced: (String, () => Any) => Any = (_, f) => f()

    // Set-up, repeated: fresh session, fresh Derby database loaded with
    // the initial dimension, fresh sink, and one untimed warm-up batch.
    // After the first (cold) set-up, `settle` more untimed batches let the
    // JIT compiler catch up, so the later set-ups and the timed batches run
    // at the engine's steady pace rather than on its warm-up curve; they
    // pay no one-time cost the set-ups do not pay again.
    val setupS, sessionS = mutable.ArrayBuffer.empty[Double]
    var start = 1 // the first batch the current Derby database has not seen
    for (k <- 0 until c.setups) {
      if (spark != null) spark.stop()
      deleteTree(cacheDir)
      pages.reset()
      val t0 = System.nanoTime()
      spark = startSession(c, dir)
      sessionS += secs(t0)
      url = s"jdbc:derby:${c.work}/derby/db$k;create=true"
      sink = s"${c.work}/sink$k/facts"
      JdbcSink(url, "DIM", props, SaveMode.Overwrite).write(
        spark.createDataFrame(initDim).toDF("sk", "sku").repartition(1))
      val w = batch(0, untraced)
      if (!w.ok) throw new BenchError(s"warm-up batch failed: ${w.err}")
      setupS += secs(t0)
      start = 1
      if (k == 0) for (b <- 1 to settle) {
        val w = batch(b, untraced)
        if (!w.ok) throw new BenchError(s"warm-up batch failed: ${w.err}")
        start = b + 1
      }
    }
    val s = spark

    /** Batches from `first` until `budget` seconds have passed. */
    def timed(first: Int, budget: Double)(op: Int => Op): (Seq[Op], Double) = {
      val ops = mutable.ArrayBuffer.empty[Op]
      val t0 = System.nanoTime()
      while ((ops.isEmpty || secs(t0) < budget) && first + ops.size < batches)
        ops += op(first + ops.size)
      (ops.toSeq, secs(t0))
    }
    def dimRows(): Long = JdbcSource(url, "DIM", props).read(s).count()

    val fields = mutable.ArrayBuffer.empty[String]
    val ops: Seq[Op] = if (!c.trace) {
      val (ops, wall) = timed(start, c.seconds)(batch(_, untraced))
      fields += s""""timed_s": ${num(wall)}, "live_heap_mb": ${num(LiveHeap.measure())}"""
      ops
    } else {
      // Untraced reference batches before and after the traced phase, so a
      // warm-up trend cancels out of trace.overhead_share.
      val (ref1, refWall1) = timed(start, c.seconds / 4)(batch(_, untraced))
      val tracer = new Tracer(s)
      s.sparkContext.addSparkListener(tracer)
      val dim0 = dimRows()
      val req0 = pages.requests; val ret0 = pages.retries
      val sinkBytes0 = dirBytes(new java.io.File(sink))
      val first = start + ref1.size
      materialized.clear()
      val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val times = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
      val (ops, wall) = timed(first, c.seconds) { b =>
        val i = b - first
        tracer.span(i, "op", "", s"batch_$b")(batch(b, (name, f) => {
          val t = System.nanoTime()
          try tracer.span(i, name)(f()) finally times(name) += secs(t)
        }))
      }
      tracer.drain()
      s.sparkContext.removeSparkListener(tracer)
      val n = ops.size.toDouble
      val names = Seq("op", "extract", "keymap", "load", "lookup")
      val all = tracer.total(ops.indices.flatMap(i => names.map(i -> _)))
      val idleMs = ops.indices.map { i =>
        val sp = tracer.spans.filter(x => x.op == i && x.name == "op").head
        tracer.idleMs(tracer.total(names.map(i -> _)), sp.start, sp.end)
      }.sum
      val inBytes = (first until first + ops.size).map(b =>
        new java.io.File(batchPath(b)).length + new java.io.File(f"$dir/page_$b%04d.json").length).sum
      val outBytes = dirBytes(new java.io.File(sink)) - sinkBytes0
      val novel = dimRows() - dim0
      val compiles = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0).toDouble
      val nulls = spark.read.parquet(sink).filter(col("fact_id") >= first * perBatch && col("key").isNull).count()
      val m = Seq(
        "codegen.compiles_per_op" -> compiles / n,
        "codegen.compile_ms_per_op" ->
          compiles * CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean / n,
        "exec.s" -> times("lookup") / n,
        "materialize.persisted_rdds_per_op" -> materialized.map(_._1).sum / n,
        "materialize.block_bytes" -> materialized.map(_._2).sum / n,
        "materialize.cache_bytes" -> dirBytes(cacheDir).toDouble,
        "etl.extract_s" -> times("extract") / n,
        "etl.extract_rows" -> perBatch.toDouble,
        "etl.http_requests" -> (pages.requests - req0) / n,
        "etl.http_retries" -> (pages.retries - ret0) / n,
        "etl.keymap_s" -> times("keymap") / n,
        "etl.keymap_jobs" -> tracer.total(ops.indices.map(_ -> "keymap")).jobs / n,
        "etl.novel_keys" -> novel / n,
        "etl.lookup_null_keys" -> nulls.toDouble,
        "etl.load_s" -> (times("load") + times("lookup")) / n,
        "etl.rows_written" -> perBatch.toDouble,
        "etl.jdbc_rows_per_s" -> (if (times("load") > 0) novel / times("load") else 0.0),
        "etl.bytes_written_per_input_byte" -> outBytes.toDouble / math.max(1L, inBytes))
      val (ref2, refWall2) = timed(first + ops.size, c.seconds / 4)(batch(_, untraced))
      fields += s""""timed_s": ${num(wall)}, "ref_timed_s": ${num(refWall1 + refWall2)}, "ref_ops": ${ref1.size + ref2.size}, "traced_ops": ${ops.size}"""
      fields += QueryWorkload.layersJson(m ++ Tracing.common(all, idleMs, wall, n, c.cores))
      fields += s""""spans": [${tracer.spanLines.mkString(",\n")}]"""
      ref1 ++ ops ++ ref2
    }

    if (c.plantWrong) // one fact row with a wrong key, loaded beside the first timed batch
      ParquetSink(sink, SaveMode.Append).write(s.createDataFrame(Seq((start * perBatch, "planted", 0L, 0, 0.0)))
        .toDF("fact_id", "sku", "key", "qty", "amount"))
    val failed = verify(s, initDim, start, ops, url, props, sink, perBatch, dir)
    fields += "\"ops\": " + ops.map { o =>
      val ok = o.ok && !failed(o.batch)
      s"""{"name": "batch", "batch": ${o.batch}, "lat": ${num(o.lat)}, "ok": $ok, "rows": ${o.rows}, "hash": "", "err": ${q(if (o.ok && !ok) "output check failed" else o.err)}}"""
    }.mkString("[", ",\n", "]")
    fields += s""""setup_s": [${setupS.map(num).mkString(", ")}]"""
    fields += s""""session_start_s": [${sessionS.map(num).mkString(", ")}]"""
    fields += s""""shuffle_partitions": ${s.conf.get("spark.sql.shuffle.partitions")}"""
    s.stop()
    pages.stop()
    fields.mkString("{", ",\n", "}")
  }

  /** Batches whose output disagrees with the reference: loaded row
    * count, a NULL or wrong looked-up key, or (charged to the last batch)
    * a final Derby dimension that differs from the reference. */
  def verify(s: SparkSession, initDim: Seq[(Long, String)], start: Int, ops: Seq[Op], url: String,
      props: Properties, sink: String, perBatch: Long, dir: String): Set[Int] = {
    val ref = new RefKeyMap(initDim)
    val skuRe = "\"sku\":\\s*\"([^\"]*)\"".r
    def values(path: String): Iterator[String] = {
      val src = scala.io.Source.fromFile(path, "UTF-8")
      try src.getLines().flatMap(l => skuRe.findFirstMatchIn(l).map(_.group(1))).toVector.iterator
      finally src.close()
    }
    val done = (0 until start) ++ ops.map(_.batch)
    done.foreach(b => ref.transact(values(f"$dir/batch_$b%04d.json").toSeq ++
      values(f"$dir/page_$b%04d.json")))
    import s.implicits._
    val expected = ref.keys.toSeq.toDF("sku", "want")
    val loaded = s.read.parquet(sink).join(expected, Seq("sku"), "left")
      .groupBy((col("fact_id") / perBatch).cast(IntegerType).as("batch")).agg(count(lit(1)).as("n"),
        count(when(col("key").isNull, 1)).as("nulls"),
        count(when(col("want").isNull || col("key") =!= col("want"), 1)).as("bad"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val bad = ops.map(_.batch).filter { b =>
      !loaded.get(b).contains((perBatch, 0L, 0L))
    }.toSet
    val dim = JdbcSource(url, "DIM", props).read(s).collect()
      .map(r => r.getString(1) -> r.getLong(0)).toMap
    if (dim != ref.keys.toMap && ops.nonEmpty) bad + ops.last.batch else bad
  }
}
