// In package graft.operators: trainCentroids is operators-private.
package graft.operators

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** The two empty-cell rules of the quantized Lloyd trainers, on tiny
  * in-memory corpora whose first two init seeds coincide: every point
  * ties between the twin seeds and goes to the lower id, so the
  * higher twin's cell has no points after round 1. The IVF/PQ store
  * trainer keeps such a centroid at its old position (the lloydSql
  * oracle's COALESCE over a LEFT JOIN); the cluster_kmeans model drops
  * it (its oracle has no COALESCE). */
class LloydEmptyCellSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val a0 = Seq(1.0, 0.0)
  private val a1 = Seq(1.0, 0.5)
  private val b = Seq(0.0, 1.0)

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("trainCentroids keeps a cell that lost every point at its old position") {
    import spark.implicits._
    val ids = (0L until 200L)
    // trainCentroids' sample and init order, replicated: the md5
    // 'cs:' hash-split, then (md5(vec_id), vec_id)
    val seeds = ids
      .filter(id => java.lang.Long.parseLong(md5(s"cs:$id").take(8), 16) % 4 == 0)
      .sortBy(id => (md5(id.toString), id))
    assert(seeds.size > 6, "fixture: sample too small")
    val (s0, s1, s2) = (seeds(0), seeds(1), seeds(2))
    val e = ids.map { id =>
      if (id == s0 || id == s1) a0 else if (id == s2) b
      else if (id % 2 == 0) a1 else b
    }
    val v = ids.zip(e).toDF("vec_id", "e")
    val one = Similarity.trainCentroids(v, 3, 1)
    assert(one.map(_._1) == Seq(0L, 1L, 2L), s"expected k rows, got $one")
    assert(one(1)._2 == a0, s"the empty cell must keep its seed, got ${one(1)}")
    assert(one(0)._2 != a0, "fixture: cell 0's mean must move off the seed")
    assert(Similarity.trainCentroids(v, 3, 2).map(_._1) == Seq(0L, 1L, 2L),
      "two rounds must still return k rows")
  }

  test("kmeansModelSeq drops a cell that lost every point") {
    import spark.implicits._
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_lloyd_empty_${System.nanoTime()}").getAbsolutePath
    // ids 0 and 1 are the twin seeds, id 2 the third
    (0L until 40L).map { id =>
      val e = if (id < 2) a0 else if (id == 2) b else if (id % 2 == 0) a1 else b
      (id, e.map(_.toFloat))
    }.toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val model = Similarity.kmeansModelSeq(spark, dir, 3)
    assert(model.map(_._1) == Seq(0L, 2L), s"expected k-1 rows (cell 1 dropped), got $model")
  }
}
