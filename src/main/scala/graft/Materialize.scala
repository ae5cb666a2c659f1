package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one materialization policy: every plan-conditional branch in the
  * engine is decided here, by one rule over one size.
  *
  * An input is [[Small]] when its size is below its limit and [[Large]]
  * otherwise. The size is the bytes under a directory
  * ([[GraftSession.dirBytes]]) or, for `Tables.fanout`, the planned
  * split count against the session's cores. Each call site keeps only
  * its action:
  *
  *  - `fanout`: Small repartitions to the cores; Large keeps the scan's
  *    own splits (see `Tables.fanout`).
  *  - `shingleTok` ([[TokenStoreLimit]]), `edges` and `matGraphRel`
  *    ([[GraphLimit]]): Small `localCheckpoint`s the shared relation so
  *    its consumers read one in-memory copy. Large does not: a
  *    checkpoint re-stores the relation as row-oriented serialized
  *    blocks, 3-4× the compressed columnar footprint, and at sf100 that
  *    block store is itself the disk eater (the round-14 edge ENOSPC) or,
  *    held on heap, the GC bomb that cost the round-16 triangles run its
  *    executor. Past the limit consumers re-scan compressed parquet:
  *    `shingleTok` and `edges` read their store, and `matGraphRel`
  *    persists its relation once through [[Caches.once]].
  *  - `kcore` ([[GraphLimit]]): Small stays lazy; Large checkpoints
  *    each round's survivors (see `Graph.graphKcore`).
  *
  * The session conf `spark.graft.branch` (`small` | `large`) pins every
  * site and skips the size probe, so scale ladders can compare one plan
  * at two sizes (round 17: an unpinned α conflated data growth with the
  * two sizes taking opposite branches) and `BranchParitySpec` can run
  * both sides of every branch at the gate SF. It is read from the
  * session's conf, so `-Dspark.graft.branch=large` in
  * `tools/run_main.sh`'s `EXTRA_JAVA_OPTS` pins a whole run. Unset, the
  * gate and bench SFs are far below every byte limit, so impl
  * fingerprints see the Small side.
  *
  * Each decision is recorded per thread, one entry per site (the last
  * decision wins), so a caller that never [[drain]]s holds at most one
  * entry per site.
  */
object Materialize {
  sealed abstract class Branch(val name: String)
  case object Small extends Branch("small")
  case object Large extends Branch("large")

  val BranchConf = "spark.graft.branch"

  /** Shingle token store bytes below which `shingleTok` checkpoints. */
  val TokenStoreLimit: Long = 8L << 30

  /** Graph relation bytes (the edge store, or the source directory for
    * the co-purchase relations and the k-core rounds) below which the
    * graph sites take the Small side. */
  val GraphLimit: Long = 4L << 30

  private val decisions =
    ThreadLocal.withInitial[scala.collection.mutable.Map[String, Branch]](
      () => scala.collection.mutable.Map.empty)

  private def choose(spark: SparkSession, site: String, size: => Long, limit: Long): Branch = {
    val b = spark.conf.getOption(BranchConf) match {
      case None          => if (size < limit) Small else Large
      case Some("small") => Small
      case Some("large") => Large
      case Some(other)   =>
        throw new IllegalArgumentException(s"$BranchConf must be small or large, not '$other'")
    }
    decisions.get.update(site, b)
    b
  }

  /** Small when the bytes under `dir` are below `limit`. */
  def bytes(spark: SparkSession, site: String, dir: String, limit: Long): Branch =
    choose(spark, site, GraftSession.dirBytes(dir), limit)

  /** Small when `df`'s planned scan has fewer splits than the session
    * has cores. Counting splits plans the scan (no job), so the
    * analyzed plan depends on this branch; the gate fixture is one
    * split per table, below any core count a gate machine has. */
  def splits(site: String, df: DataFrame): Branch =
    choose(df.sparkSession, site, df.rdd.getNumPartitions,
      df.sparkSession.sparkContext.defaultParallelism)

  /** This thread's decisions since the last drain, site → branch,
    * sorted by site; clears the record. */
  def drain(): Seq[(String, Branch)] = {
    val d = decisions.get
    val out = d.toSeq.sortBy(_._1)
    d.clear()
    out
  }
}
