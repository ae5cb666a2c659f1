package graft

import java.util.concurrent.CyclicBarrier
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.Path
import org.apache.spark.grafttest.Listeners
import org.scalatest.funsuite.AnyFunSuite

/** [[Caches.once]], the one write-once publish path: a store is built
  * once, published by one rename, and is either complete or absent. */
class WriteOnceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** A fresh source dir per case, so every case owns its store key; the
    * store and any temp of it are deleted afterwards. */
  private def withStore(kind: String)(f: (String, String) => Unit): Unit = {
    val src = java.nio.file.Files.createTempDirectory("graft_write_once").toString
    try f(src, Caches.dir(spark, kind, src, Nil))
    finally entries(kind, src).foreach(n => fs.delete(new Path(parent(kind, src), n), true))
  }

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def parent(kind: String, src: String): Path = new Path(Caches.dir(spark, kind, src, Nil)).getParent

  /** Names under graft_cache that belong to this store: itself or a temp. */
  private def entries(kind: String, src: String): Seq[String] = {
    val name = new Path(Caches.dir(spark, kind, src, Nil)).getName
    val dir = parent(kind, src)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).map(_.getPath.getName).filter(_.contains(name)).sorted.toSeq
  }

  private def listing(dir: String): Seq[String] =
    fs.listStatus(new Path(dir)).map(_.getPath.getName).sorted.toSeq

  private def ids(dir: String): Seq[Long] =
    Tables.read(spark, dir).as[Long].collect().toSeq.sorted

  test("a second once for the same key does not build and starts no Spark job") {
    withStore("wo_hit_v1") { (src, dst) =>
      var builds = 0
      def store(): String = Caches.once(spark, "wo_hit_v1", src, Nil) { out =>
        builds += 1
        Seq(1L, 2L).toDF("id").write.parquet(out)
      }
      assert(store() == dst)
      val (jobs, again) = Listeners.jobsDuring(spark.sparkContext)(store())
      assert(again == dst)
      assert(builds == 1, "a hit must not build")
      assert(jobs == 0, s"a hit started $jobs Spark jobs")
      assert(ids(dst) == Seq(1L, 2L))
    }
  }

  test("a build that throws publishes nothing, and the next call builds again") {
    withStore("wo_fail_v1") { (src, dst) =>
      val e = intercept[IllegalStateException](Caches.once(spark, "wo_fail_v1", src, Nil) { out =>
        Seq(1L).toDF("id").write.parquet(out)
        throw new IllegalStateException("build failed")
      })
      assert(e.getMessage == "build failed")
      assert(entries("wo_fail_v1", src).isEmpty, "neither a store nor a temp may remain")
      var built = false
      Caches.once(spark, "wo_fail_v1", src, Nil) { out =>
        built = true
        Seq(3L).toDF("id").write.parquet(out)
      }
      assert(built)
      assert(entries("wo_fail_v1", src) == Seq(new Path(dst).getName))
      assert(ids(dst) == Seq(3L))
    }
  }

  test("the loser of a publish race leaves the winner's store as it was") {
    withStore("wo_lose_v1") { (src, dst) =>
      var published = Seq.empty[String]
      val out = Caches.once(spark, "wo_lose_v1", src, Nil) { tmp =>
        Seq(2L).toDF("id").write.parquet(tmp)
        // another process publishes the same store meanwhile
        Seq(1L).toDF("id").write.parquet(dst)
        published = listing(dst)
      }
      assert(out == dst)
      assert(listing(dst) == published, "the loser's temp must not land inside the store")
      assert(entries("wo_lose_v1", src) == Seq(new Path(dst).getName), "no temp may remain")
      assert(ids(dst) == Seq(1L))
    }
  }

  test("two threads racing on one key build once and both read the complete store") {
    withStore("wo_race_v1") { (src, _) =>
      val builds = new AtomicInteger(0)
      val start = new CyclicBarrier(2)
      val counts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val threads = (1 to 2).map { _ =>
        new Thread(() => {
          start.await()
          val dst = Caches.once(spark, "wo_race_v1", src, Nil) { out =>
            builds.incrementAndGet()
            Thread.sleep(200) // hold the build open while the other thread arrives
            spark.range(100).write.parquet(out)
          }
          counts.add(Tables.read(spark, dst).count())
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      assert(builds.get() == 1)
      assert(counts.toArray.toSeq == Seq(100L, 100L))
    }
  }

  test("a file: URI source digests its real files: a touched table re-keys the store") {
    val src = java.nio.file.Files.createTempDirectory("graft_write_once_uri")
    try {
      java.nio.file.Files.copy(java.nio.file.Paths.get(TestSpark.sf, "orders.parquet"),
        src.resolve("orders.parquet"))
      val uri = "file:" + src
      def key(dir: String) = Caches.dir(spark, "wo_uri_v1", dir, Seq("orders"))
      val before = key(uri)
      assert(key(src.toString) == before, "a plain path and its file: URI name one store")
      val table = new Path(src.toString, "orders.parquet")
      fs.setTimes(table, fs.getFileStatus(table).getModificationTime + 60000L, -1L)
      assert(key(uri) != before, "a changed table must re-key the store")
    } finally fs.delete(new Path(src.toString), true)
  }

  test("a kind without a _vN logic-version tag is rejected") {
    for (kind <- Seq("wo_plain", "wo_v", "wo_v1x", "wo_v1_tmp")) {
      intercept[IllegalArgumentException](
        Caches.once(spark, kind, TestSpark.sf, Nil)(_ => fail(s"$kind was built")))
    }
  }
}
