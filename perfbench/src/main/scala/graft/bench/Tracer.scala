package graft.bench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Layer attribution for the traced run, read only from Spark's public
  * listener events. Every call the benchmark makes into a layer runs
  * under its own job group, so each job, stage and task is charged to
  * the span that launched it. Spans stay in memory until the run ends.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  final class Agg {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, inBytes, shufW, shufR, spill, peakMem = 0L
    val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  import Tracer.Span

  private val groups = mutable.HashMap.empty[String, Agg]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  val spans = mutable.ArrayBuffer.empty[Span]
  private def agg(g: String): Agg = groups.getOrElseUpdate(g, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("untraced")
    e.stageIds.foreach(stageGroup(_) = g)
    agg(g).jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val a = agg(stageGroup.getOrElse(si.stageId, "untraced"))
    a.stages += 1
    for (s <- si.submissionTime; c <- si.completionTime) a.stageSpans += ((s, c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(stageGroup.getOrElse(e.stageId, "untraced"))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.inBytes += m.inputMetrics.bytesRead
      a.shufW += m.shuffleWriteMetrics.bytesWritten
      a.shufR += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
    }
  }

  /** Runs `body` as span `name` of operation `op`, with its Spark jobs
    * in job group `op<op>/<name>`. */
  def span[T](op: Int, name: String, parent: String = "op", label: String = "")(body: => T): T = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(s"op$op/$name", name, interruptOnCancel = false)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      spans += Span(op, name, parent, label, t0, System.currentTimeMillis())
      if (outer == null) sc.clearJobGroup()
      else sc.setJobGroup(outer, outer, interruptOnCancel = false)
    }
  }

  def drain(): Unit = org.apache.spark.graftbench.Access.drainListeners(spark.sparkContext)

  /** Sum over the given groups (all spans of the listed operations). */
  def total(keys: Seq[(Int, String)]): Agg = synchronized {
    val t = new Agg
    for ((op, n) <- keys; a <- groups.get(s"op$op/$n")) {
      t.jobs += a.jobs; t.stages += a.stages; t.tasks += a.tasks
      t.runMs += a.runMs; t.cpuNs += a.cpuNs; t.gcMs += a.gcMs
      t.inBytes += a.inBytes; t.shufW += a.shufW; t.shufR += a.shufR
      t.spill += a.spill; t.peakMem = math.max(t.peakMem, a.peakMem)
      t.stageSpans ++= a.stageSpans
    }
    t
  }

  /** Milliseconds of [start, end] during which none of `a`'s stages ran. */
  def idleMs(a: Agg, start: Long, end: Long): Long = {
    var covered = 0L
    var cursor = start
    for ((s, e) <- a.stageSpans.sortBy(_._1)) {
      val lo = math.max(s, cursor); val hi = math.min(e, end)
      if (hi > lo) { covered += hi - lo; cursor = hi }
    }
    (end - start) - covered
  }

  /** Span records as JSON lines; `self_ms` is the span's duration minus
    * the part its children cover. */
  def spanLines: Seq[String] = {
    val byOp = spans.groupBy(_.op)
    spans.toSeq.map { s =>
      val kids = byOp(s.op).filter(k => k.parent == s.name && k.name != s.name)
      val self = (s.end - s.start) - kids.map(k => k.end - k.start).sum
      val parent = if (s.parent.isEmpty) "null" else Harness.q(s.parent)
      s"""{"op_id":${s.op},"name":${Harness.q(s.name)},"label":${Harness.q(s.label)},""" +
        s""""parent":$parent,"start_ms":${s.start},"end_ms":${s.end},"self_ms":$self}"""
    }
  }
}

object Tracer {
  /** One timed call; `label` names the operation (query or batch) on
    * its top-level span. */
  final case class Span(op: Int, name: String, parent: String, label: String, start: Long, end: Long)
}
