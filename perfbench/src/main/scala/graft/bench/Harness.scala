package graft.bench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import graft.GraftSession

/** Raised for a benchmark that cannot run as defined (a frozen query
  * that left the registry, a missing input); the process exits non-zero
  * without a result. */
final class BenchError(msg: String) extends RuntimeException(msg)

/** Run parameters, passed by `run.py` as `key=value` arguments. */
final case class Conf(kv: Map[String, String]) {
  private def need(k: String): String = kv.getOrElse(k, throw new BenchError(s"missing argument $k"))
  def workload: String = need("workload")
  def data: String = need("data")
  def work: String = need("work")
  def out: String = need("out")
  def seed: Long = need("seed").toLong
  def seconds: Double = need("seconds").toDouble
  def trace: Boolean = kv.get("trace").contains("1")
  def cores: Int = need("cores").toInt
  def setups: Int = need("setups").toInt
  def plantWrong: Boolean = kv.get("plant_wrong").contains("1")
  def get(k: String): String = need(k)
}

object Conf {
  def parse(args: Array[String]): Conf = Conf(args.map { a =>
    val i = a.indexOf('=')
    if (i < 0) throw new BenchError(s"bad argument $a")
    a.take(i) -> a.drop(i + 1)
  }.toMap)
}

object Harness {
  /** The engine's user-facing session: `GraftSession.builder` on
    * `local[cores]`, with the engine's input-aware shuffle sizing, and
    * every scratch directory inside the run's work directory.
    *
    * Spark's generated-class cache holds 2000 classes, as in `graft.Bench`,
    * not Spark's 100: at 100 the workloads' working sets sit at the edge
    * of the cache's LRU, so how many classes an operation recompiled
    * depended on where a run's class hashes fell, and that moved whole
    * runs by 20–30%. */
  def startSession(c: Conf, inputDir: String): SparkSession = {
    GraftSession.quietStartup()
    val s = GraftSession.builder(s"local[${c.cores}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions",
        GraftSession.shufflePartitions(c.cores, GraftSession.dirBytes(inputDir)).toString)
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${c.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftSession.quietBenignLogs()
    s
  }

  /** Drops every persisted or locally checkpointed RDD — the engine's
    * operators materialize within one call, and `graft.Bench` clears
    * them after every query the same way. */
  def unpersistAll(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def dirBytes(f: java.io.File): Long =
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def cacheDir: java.io.File = new java.io.File(System.getProperty("java.io.tmpdir"), "graft_cache")

  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def write(path: String, text: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), text)
}

/** Driver heap occupancy right after a full garbage collection, taken
  * once when the timed phase ends (outside its time), so the reading is
  * the live heap the workload leaves, not whatever garbage a young
  * collection happened to keep. */
object LiveHeap {
  private def used: Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)

  /** Collections until the heap stops shrinking: objects whose cleanup a
    * collection triggers (Spark's context cleaner drops the blocks of
    * collected broadcasts and shuffles on its own thread) are gone only
    * a collection or two later, depending on how fast that thread runs. */
  def measure(): Double = {
    var last = Double.MaxValue
    var now = { System.gc(); used }
    var rounds = 1
    while (rounds < 8 && (rounds < 3 || now < last - 0.5)) {
      Thread.sleep(200)
      System.gc()
      last = now
      now = math.min(now, used)
      rounds += 1
    }
    now
  }
}
