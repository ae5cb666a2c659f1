package graft

import org.scalatest.funsuite.AnyFunSuite

/** Contract for [[graft.plans.RewriteDotProduct]]: the optimizer rule
  * must (a) actually fire — the physical plan of a query written with
  * the composable `aggregate(zip_with(...))` dot shape contains the
  * codegen'd `dot_product` and no interpreted aggregate-lambda dot —
  * and (b) be a pure performance rewrite: results bit-identical with
  * the rule disabled (the vector-column contract under which the two
  * forms agree; the oracle gate re-proves this against DuckDB for
  * every affected registered query).
  */
class RewriteRuleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  /** Run `body` against an isolated session without the rule.
    * `newSession()` shares the SparkContext but gets fresh session
    * state and its own SQL conf, so excluding the injected rule there
    * never reaches the shared TestSpark session — other suites
    * (plan-hash specs) can never observe the rule switched off, even
    * under parallel execution. */
  private def withoutRule[A](body: org.apache.spark.sql.SparkSession => A): A = {
    val fresh = spark.newSession()
    fresh.conf.set("spark.sql.optimizer.excludedRules", graft.plans.RewriteDotProduct.ruleName)
    body(fresh)
  }

  test("rewrite fires on both literal-operand and column-operand dots") {
    // sim_rp_project: dotLambda against a literal plane matrix;
    // cluster_kmeans: dotLambda between two data columns.
    for (name <- Seq("sim_rp_project", "cluster_kmeans")) {
      val phys = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(phys.contains("dot_product"),
        s"$name: RewriteDotProduct did not fire\n$phys")
      assert(!phys.toLowerCase.contains("zip_with"),
        s"$name: an interpreted zip_with dot survived the rewrite")
    }
  }

  test("rewrite is a pure performance change: results bit-identical") {
    for (name <- Seq("sim_rp_project", "cluster_kmeans", "sim_ann_multiprobe")) {
      val withRule = SparkEntry.queries(name)(spark, sf).collect().toSeq
      val withoutIt = withoutRule { s =>
        SparkEntry.queries(name)(s, sf).collect().toSeq
      }
      assert(withRule == withoutIt,
        s"$name: rewrite changed results — not a pure optimization")
    }
  }

  test("rewrite reproduces zip_with null semantics: ragged, null array, null element") {
    import spark.implicits._
    // Parquet round-trip: (a) blocks ConvertToLocalRelation from
    // constant-folding the whole plan, so the codegen'd path actually
    // runs; (b) parquet list columns analyze as containsNull=true —
    // exactly the schema real embedding scans present to the rule.
    val dir = java.nio.file.Files
      .createTempDirectory("graft_dot_null").toString
    Seq(
      (1, Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0, 4.0)),
      (2, Seq[java.lang.Double](1.0, 2.0, 5.0), Seq[java.lang.Double](3.0, 4.0)),
      (3, Seq[java.lang.Double](1.0), null),
      (4, Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](2.0, 3.0))
    ).toDF("id", "a", "b").write.mode("overwrite").parquet(dir)
    val dot = org.apache.spark.sql.functions.expr(
      "aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, v) -> acc + v)")
    def run(s: org.apache.spark.sql.SparkSession): Seq[Option[Double]] =
      s.read.parquet(dir)
        .select(org.apache.spark.sql.functions.col("id"), dot.as("d"))
        .orderBy("id").collect()
        .map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1))).toSeq
    val rewritten = spark.read.parquet(dir)
      .select($"id", dot.as("d"))
    val phys = rewritten.queryExecution.executedPlan.toString
    assert(phys.contains("dot_product"), s"rewrite did not fire\n$phys")
    val got = run(spark)
    // equal-length → 11.0; ragged → NULL (zip_with null-pads);
    // null array → NULL; null element → NULL (x*y poisons the sum)
    assert(got == Seq(Some(11.0), None, None, None),
      s"DotProduct diverged from zip_with null semantics: $got")
    val lambda = withoutRule(run)
    assert(lambda == got, "lambda form and rewritten form disagree")
  }
}
