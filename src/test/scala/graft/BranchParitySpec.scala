package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Both sides of every [[Materialize]] branch return the same rows.
  * Every registered query whose build records a decision runs at
  * sf0.001 with `spark.graft.branch` pinned `small`, and again pinned
  * `large`; the sorted rows must be exactly equal. */
class BranchParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  /** A session sharing the gate session's context, with every branch pinned. */
  private def pinned(b: String): SparkSession = {
    val s = spark.newSession()
    s.conf.set(Materialize.BranchConf, b)
    s
  }

  /** Each row rendered exactly: doubles in their round-trip form, binary
    * as hex, nested values recursively, map entries in key order. */
  private def cell(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("x'", "", "'")
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + "->" + cell(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case x => x.toString
  }

  private def sortedRows(df: DataFrame): Seq[String] = df.collect().map(cell).toSeq.sorted

  private val graphStores = Seq("tripairs_v1", "trioriented_v1", "liftli_v1")

  test("every branching query returns the same rows on the small and the large side") {
    // the large runs must build the persisted graph relations, not read old ones
    val fs = new Path(sf).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def store(kind: String) = new Path(Caches.dir(spark, kind, sf, Seq("lineitem")))
    graphStores.foreach(k => fs.delete(store(k), true))

    val (small, large) = (pinned("small"), pinned("large"))
    val t0 = System.nanoTime()
    Materialize.drain()
    val checked = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val df = fn(small, sf)
      val sites = Materialize.drain().map(_._1)
      if (sites.isEmpty) None
      else {
        val same = sortedRows(df) == sortedRows(fn(large, sf))
        Materialize.drain()
        Some((name, sites, same))
      }
    }
    info(f"${checked.size} branching queries, both sides, in ${(System.nanoTime() - t0) / 1e9}%.1f s")

    val differ = checked.filterNot(_._3).map(_._1)
    assert(differ.isEmpty, s"rows differ between the small and the large side: $differ")
    assert(checked.flatMap(_._2).toSet ==
      Set("fanout", "shingleTok", "edges", "matGraphRel", "kcore"), checked)
    for (k <- graphStores) assert(fs.exists(store(k)), s"the large side published no $k store")
  }

  test("the pin overrides the measured choice; an unknown pin fails loudly") {
    // a 4-split range on local[4] is Large by split count
    def fanned(s: SparkSession) = Tables.fanout(s.range(0L, 100L, 1L, 4).toDF())
    Materialize.drain()
    assert(fanned(spark.newSession()).rdd.getNumPartitions == 4)
    assert(Materialize.drain() == Seq("fanout" -> Materialize.Large))
    assert(fanned(pinned("small")).queryExecution.analyzed.toString.contains("Repartition"))
    assert(Materialize.drain() == Seq("fanout" -> Materialize.Small))
    val e = intercept[IllegalArgumentException](fanned(pinned("medium")))
    assert(e.getMessage.contains("medium"))
  }

  test("the decision record holds at most one entry per site") {
    val s = pinned("large")
    Materialize.drain()
    for (_ <- 1 to 3) Tables.fanout(s.range(10L).toDF())
    Materialize.bytes(s, "kcore", sf, Materialize.GraphLimit)
    assert(Materialize.drain() == Seq("fanout" -> Materialize.Large, "kcore" -> Materialize.Large))
    assert(Materialize.drain().isEmpty)
  }
}
