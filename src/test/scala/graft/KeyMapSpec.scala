package graft

import java.util.concurrent.atomic.AtomicInteger
import graft.etl.KeyMap
import org.apache.spark.grafttest.Listeners
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** The reference's doc-test assertions
  * (`/root/reference/src/keymap.rs:24-35,153-170`): keys {0,1,3} → next
  * free key is 2; after inserting at 2 the next is 4; existing values
  * keep their keys. */
class KeyMapSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def base: KeyMap = KeyMap.fromDim(
    Seq((0L, "zero"), (1L, "one"), (3L, "three")).toDF("k", "v"), "k", "v")

  test("lowest free key fills the gap (mex = 2)") {
    assert(base.lowestFreeKey() == 2L)
  }

  test("transact assigns mex to a new value, then next free is 4") {
    val km = base.transact(Seq("two").toDF("value"))
    assert(km.lookupKey("two").contains(2L))
    assert(km.lowestFreeKey() == 4L)
  }

  test("transact returns the existing key for a known value") {
    val km = base.transact(Seq("zero").toDF("value"))
    assert(km.lookupKey("zero").contains(0L))
    assert(km.dim.count() == 3)
  }

  test("batch transact fills gaps in value order then extends past max") {
    // novel values sorted: alpha, beta → slots 2 (gap), 4 (past max 3)
    val km = base.transact(Seq("alpha", "beta", "one").toDF("value"))
    assert(km.lookupKey("alpha").contains(2L))
    assert(km.lookupKey("beta").contains(4L))
    assert(km.lookupKey("one").contains(1L))
    assert(km.dim.count() == 5)
  }

  test("keys {0, 2^40}: novel values take 1 and 2, then the mex is 3") {
    // listing the free keys below the max key would take 2^40 rows
    val far = KeyMap.fromDim(Seq((0L, "zero"), (1L << 40, "far")).toDF("k", "v"), "k", "v")
    val km = far.transact(Seq("b", "a").toDF("value"))
    assert(km.lookupKey("a").contains(1L))
    assert(km.lookupKey("b").contains(2L))
    assert(km.lowestFreeKey() == 3L)
  }

  test("empty keymap starts at 0") {
    val km = KeyMap.empty(spark).transact(Seq("a", "b").toDF("value"))
    assert(km.lookupKey("a").contains(0L))
    assert(km.lookupKey("b").contains(1L))
  }

  test("transact on an unmaterialized dim launches no Spark job") {
    // count only this thread's jobs: they carry its job group
    val sc = spark.sparkContext
    val group = "keymap-transact-lazy"
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "KeyMap.transact")
    try {
      // one gap (2), three novel values: 2, then past max 3 → 4, 5
      val km = base.transact(Seq("b", "a", "zero", "c", "a").toDF("value"))
      Listeners.drain(sc)
      assert(jobs.get() == 0, s"transact launched ${jobs.get()} Spark jobs")
      val keys = km.dim.as[(Long, String)].collect().map(_.swap).toMap
      assert(keys == Map("zero" -> 0L, "one" -> 1L, "three" -> 3L,
        "a" -> 2L, "b" -> 4L, "c" -> 5L))
      Listeners.drain(sc)
      assert(jobs.get() > 0, "the listener saw no job for the collect")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("lookup broadcasts the dim onto facts") {
    val facts = Seq("zero", "three", "zero").toDF("name")
    val joined = base.lookup(facts, "name")
    assert(joined.count() == 3)
    assert(joined.filter("key = 0").count() == 2)
  }
}
