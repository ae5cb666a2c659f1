package graft

import java.util.Locale
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.run]], the one timing protocol, driven with in-memory
  * queries: failures are negative and name their cause, a flaky run
  * still yields a time, a run leaves nothing persisted, and the record
  * is valid JSON whatever the default locale. */
class BenchSpec extends AnyFunSuite {
  // Own conf (run sets shuffle partitions), shared SparkContext.
  private lazy val spark = TestSpark.spark.newSession()
  private def rows() = spark.range(0L, 1000L).selectExpr("id * 2 as x")
  private def time(name: String)(q: => org.apache.spark.sql.DataFrame) =
    Bench.run(spark, TestSpark.sf, name, () => q)
  private def failing(name: String) =
    time(name)(throw new IllegalStateException("no \"table\" here\nsecond line"))

  test("a query that always throws is failed, with negative runs and its cause") {
    val t = failing("always_throws")
    assert(t.failed && t.throwaway < 0 && t.runs.size == 2 && t.runs.forall(_ < 0))
    assert(t.error.contains("java.lang.IllegalStateException: no \"table\" here"))
  }

  test("a query that fails once and then succeeds is timed, not failed") {
    // failing the throwaway leaves the timed runs clean; failing the
    // first timed run takes a third
    for (failAt <- Seq(1, 2)) {
      var calls = 0
      val t = time(s"flaky_$failAt") {
        calls += 1
        if (calls == failAt) throw new RuntimeException("transient") else rows()
      }
      assert(!t.failed && t.best > 0, t)
      assert(t.runs.count(_ < 0) == failAt - 1 && (failAt == 1 || t.runs.size == 3), t)
      assert(t.error == (if (failAt == 1) None else Some("java.lang.RuntimeException: transient")), t)
      assert(t.compiles.size == t.runs.size + 1 && t.classes.size == t.runs.size + 1, t)
    }
  }

  test("a localCheckpoint made by the query is unpersisted after its run") {
    val t = time("checkpointed")(rows().localCheckpoint())
    assert(!t.failed, t)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("the full record and the compact line parse as JSON under a comma-decimal locale") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      val ts = Seq(time("a_ok")(rows()), failing("b_bad"))
      val (full, compact) = Bench.record(spark, TestSpark.sf, 1.5, 1.25, 1.125, ts)
      val json = new ObjectMapper()
      val r = json.readTree(full)
      assert(r.get("n_queries").asInt == 2 && r.get("canary_s").asDouble == 1.25)
      assert(r.get("failed").size == 1 && r.get("failed").get(0).asText == "b_bad")
      assert(r.get("errors").get("b_bad").asText ==
        "java.lang.IllegalStateException: no \"table\" here")
      assert(r.get("errors").get("a_ok") == null)
      for (f <- Seq("queries", "runs", "warm", "compiles"))
        assert(r.get(f).size == 2, f)
      assert(r.get("queries").get("a_ok").asDouble >= 0)
      val c = json.readTree(compact)
      assert(c.get("n_queries").asInt == 2 && c.get("failed").get(0).asText == "b_bad")
    } finally Locale.setDefault(saved)
  }

  test("the record names the materialization branch each query's build took") {
    // a 4-split range on local[4] is Large by split count
    val ts = Seq(time("a_plain")(rows()), time("b_fanned")(Tables.fanout(rows())))
    assert(ts.map(_.branches) == Seq(Nil, Seq("fanout:large")))
    val r = new ObjectMapper().readTree(Bench.record(spark, TestSpark.sf, 1.5, 1.25, 1.125, ts)._1)
    assert(r.get("branches").size == 1 && r.get("branches").get("b_fanned").asText == "fanout:large")
  }
}
