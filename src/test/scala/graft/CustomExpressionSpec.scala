package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Edge behavior of the custom Catalyst pieces (codegen'd dot_product,
  * simhash_agg typed-imperative aggregate). */
class CustomExpressionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("a fresh session has all 14 graft functions and the dot-product rule") {
    val fresh = spark.newSession()
    val names = Seq("dot_product", "simhash_agg", "rolling_hash", "mg_topk",
      "tdigest_quantile", "tdigest_sketch", "tdigest_merge_quantile", "tdigest_quantile_of",
      "bitmap_construct_obj_agg", "bitmap_or_obj_agg", "bitmap_and",
      "bloom_agg", "bloom_might_contain", "bpe_subwords")
    val missing = names.filterNot(fresh.catalog.functionExists)
    assert(missing.isEmpty, s"missing from a fresh session: $missing")
    val phys = SparkEntry.queries("sim_rp_project")(fresh, TestSpark.sf)
      .queryExecution.executedPlan.toString
    assert(phys.contains("dot_product"), s"RewriteDotProduct did not fire\n$phys")
  }

  test("dot_product matches the lambda formulation exactly") {
    val df = Tables.embeddings(spark, TestSpark.sf)
      .select(col("embedding").cast("array<double>").as("e"))
      .select(
        expr("dot_product(e, e)").as("fast"),
        aggregate(zip_with(col("e"), col("e"), (x, y) => x * y),
          lit(0.0), (a, x) => a + x).as("slow"))
    // bitwise equality: same sequential summation order
    assert(df.filter(col("fast") =!= col("slow")).count() == 0)
  }

  test("bpe_subwords matches the reference higher-order-function walk on the corpus") {
    val base = array(operators.TextOps.bpeVocab.map(lit): _*)
    val df = Tables.documents(spark, TestSpark.sf)
      .select(filter(split(col("text"), " "), t => t =!= "").as("tk"))
      .select(
        concat_ws(" ", operators.TextOps.subwords(col("tk"))).as("fast"),
        concat_ws(" ", transform(col("tk"),
          w => operators.TextOps.bpeWordWith(base, w))).as("slow"))
    assert(df.count() > 0)
    assert(df.filter(col("fast") =!= col("slow")).count() == 0)
  }

  test("bpe_subwords: extra merge pieces, longest-match shadowing, empty and null input") {
    val df = Seq(Seq("thewindow", "xyz", "table"), Seq.empty[String]).toDF("tk")
    val out = df.select(operators.TextOps.subwords(col("tk")).as("ps"))
      .collect().map(_.getSeq[String](0))
    // 'the'+'wind'(> 'win')+'ow'; out-of-vocab 'xyz' falls back per char
    assert(out(0) == Seq("the", "wind", "ow", "x", "y", "z", "table"))
    assert(out(1) == Seq.empty)
    // learned merge 'thewind' wins over 'the'+'wind' once appended
    val merged = df.limit(1)
      .select(operators.TextOps.subwords(col("tk"), lit("thewind")).as("ps"))
      .collect()(0).getSeq[String](0)
    assert(merged == Seq("thewind", "ow", "x", "y", "z", "table"))
    val nul = df.withColumn("n", lit(null).cast("array<string>"))
      .select(operators.TextOps.subwords(col("n"))).collect()
    assert(nul.forall(_.isNullAt(0)))
  }

  test("dot_product handles empty and null arrays") {
    val df = Seq(
      (Seq(1.0, 2.0), Seq(3.0, 4.0)),
      (Seq.empty[Double], Seq.empty[Double])).toDF("a", "b")
    val out = df.select(expr("dot_product(a, b)").as("d")).collect().map(_.getDouble(0))
    assert(out.toSeq == Seq(11.0, 0.0))
    val withNull = df.withColumn("c", lit(null).cast("array<double>"))
      .select(expr("dot_product(a, c)")).collect()
    assert(withNull.forall(_.isNullAt(0)))
  }

  test("dot_product: ragged and null-element inputs yield NULL (zip_with parity)") {
    // round 11: DotProduct mirrors the lambda form's null semantics
    // exactly, so RewriteDotProduct is provably semantics-preserving —
    // a ragged pair null-pads under zip_with and poisons the sum, and
    // dot_product must agree (it used to truncate to the shorter side)
    val ragged = Seq((Seq(1.0, 2.0, 9.0), Seq(10.0, 10.0))).toDF("a", "b")
      .select(expr("dot_product(a, b)")).collect()(0)
    assert(ragged.isNullAt(0), "ragged pair must be NULL, not a truncated dot")
    val nullElem = spark.range(1).select(
      expr("dot_product(array(1.0D, CAST(NULL AS DOUBLE)), array(2.0D, 3.0D))"))
      .collect()(0)
    assert(nullElem.isNullAt(0), "a null element must poison the sum to NULL")
  }

  test("bitmap_and: byte-wise AND, min-length truncation, null propagation") {
    val df = Seq(
      (Array[Byte](0x0F, 0x33, 0x70), Array[Byte](0x05, 0x0F.toByte)),
      (Array[Byte](), Array[Byte](1, 2, 3))).toDF("a", "b")
    val out = df.select(expr("bitmap_and(a, b)").as("r")).collect()
    assert(out(0).getAs[Array[Byte]]("r").toSeq == Seq[Byte](0x05, 0x03))
    assert(out(1).getAs[Array[Byte]]("r").isEmpty)
    val withNull = df.withColumn("c", lit(null).cast("binary"))
      .select(expr("bitmap_and(a, c)")).collect()
    assert(withNull.forall(_.isNullAt(0)))
  }

  test("bitmap_and intersection count equals the two-semi-join answer") {
    val bmBoth = SparkEntry.queries("agg_bitmap_intersect")(spark, TestSpark.sf)
      .collect()(0).getLong(0)
    val ev = Tables.events(spark, TestSpark.sf)
    val p = ev.filter(col("event_type") === "purchase").select("user_id").distinct()
    val e = ev.filter(col("event_type") === "error").select("user_id").distinct()
    assert(bmBoth == p.join(e, "user_id").count())
  }

  test("simhash_agg: identical token multisets give identical fingerprints") {
    val df = Seq(
      (1L, "alpha"), (1L, "beta"), (1L, "gamma"),
      (2L, "gamma"), (2L, "alpha"), (2L, "beta"), // same set, other order
      (3L, "completely"), (3L, "different")).toDF("id", "w")
      .withColumn("h", xxhash64(col("w")))
      .groupBy("id").agg(expr("simhash_agg(h)").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(df(1L) == df(2L))
    assert(df(1L) != df(3L))
  }

  test("rolling_hash computes the polynomial hash with the rolling recurrence") {
    val rows = Seq("abcdef").toDF("s")
      .select(expr("rolling_hash(s, 3)").as("h")).collect()(0)
      .getSeq[Long](0)
    assert(rows.length == 4) // 6 - 3 + 1 windows
    // direct polynomial evaluation of each window must match
    val B = 1000003L
    def direct(w: String): Long = w.getBytes.foldLeft(0L)((h, b) => h * B + (b & 0xffL))
    assert(rows == Seq("abc", "bcd", "cde", "def").map(direct))
    // shift resistance: inserting a prefix leaves later window hashes intact
    val shifted = Seq("xyabcdef").toDF("s")
      .select(expr("rolling_hash(s, 3)").as("h")).collect()(0).getSeq[Long](0)
    assert(shifted.drop(2) == rows)
  }

  test("rolling_hash edge cases: short string and empty") {
    val out = Seq("ab", "").toDF("s")
      .select(expr("rolling_hash(s, 3)").as("h")).collect()
    assert(out.forall(_.getSeq[Long](0).isEmpty))
  }

  test("content-defined chunks realign after a prefix shift (CDC resistance)") {
    // THE property fixed-size chunking lacks: prepending bytes shifts
    // every fixed block, but content-defined boundaries (h & 63 == 0)
    // depend only on the local window, so all chunks after the first
    // boundary are byte-identical. Dedup over CDC chunk fingerprints
    // therefore still matches a shifted document.
    def chunks(s: String): Seq[String] = {
      val hs = Seq(s).toDF("s")
        .select(expr("rolling_hash(s, 16)").as("h")).collect()(0).getSeq[Long](0)
      val bounds = hs.zipWithIndex.collect { case (h, i) if (h & 63L) == 0L => i }
      val cuts = (0 +: bounds.map(_ + 16)) :+ s.length
      cuts.sliding(2).collect { case Seq(a, b) if b > a => s.substring(a, b) }.toSeq
    }
    val doc = Tables.documents(spark, TestSpark.sf).filter(col("doc_id") === 0)
      .select("text").collect()(0).getString(0)
    val base = chunks(doc)
    val shifted = chunks("PREFIX INSERTED AT SYNC TIME " + doc)
    assume(base.length >= 3, "doc too short to carry boundaries")
    // every base chunk after the first boundary must survive the shift
    val surviving = base.drop(1).count(shifted.contains)
    assert(surviving >= base.length - 2,
      s"only $surviving/${base.length - 1} post-boundary chunks realigned")
  }

  test("simhash_agg merges partials consistently across partition counts") {
    def run(parts: Int): Long =
      Tables.documents(spark, TestSpark.sf).repartition(parts)
        .select(explode(split(col("text"), " ")).as("w"))
        .withColumn("h", xxhash64(col("w")))
        .agg(expr("simhash_agg(h)")).collect()(0).getLong(0)
    assert(run(1) == run(7))
  }

  test("mg_topk keeps at most k counters and never loses a true heavy hitter") {
    import spark.implicits._
    // 1000×'hot' + 50 each of 40 cold items: n=3000, k=5 ⇒ guarantee
    // threshold n/(k+1)=500 < freq(hot) — 'hot' MUST survive the sketch
    val rows = Seq.fill(1000)("hot") ++ (1 to 40).flatMap(i => Seq.fill(50)(s"cold$i"))
    val df = rows.toDF("w").repartition(8) // force partial-buffer merges
    val out = df.agg(expr("mg_topk(w, 5)").as("mg"))
      .select(explode(col("mg")).as("c"))
      .select(col("c.item"), col("c.est"))
      .collect()
    assert(out.length <= 5)
    val hot = out.find(_.getString(0) == "hot")
    assert(hot.isDefined)
    // MG estimate underestimates by at most n/(k+1)
    assert(hot.get.getLong(1) >= 1000 - 3000 / 6 && hot.get.getLong(1) <= 1000)
  }

  test("mg_topk rejects non-literal and non-positive k at analysis time") {
    import spark.implicits._
    val df = Seq(("a", 3)).toDF("w", "n")
    for (bad <- Seq("mg_topk(w, n)", "mg_topk(w, 0)", "mg_topk(n, 5)")) {
      val e = intercept[Exception] { df.agg(expr(bad)).collect() }
      assert(e.getMessage.toLowerCase.contains("mg_topk"), s"$bad: ${e.getMessage}")
    }
  }

  test("mg_topk with k >= cardinality is exact regardless of partitioning") {
    import spark.implicits._
    val rows = Seq.fill(7)("a") ++ Seq.fill(3)("b") ++ Seq.fill(5)("c")
    def run(parts: Int): Map[String, Long] =
      rows.toDF("w").repartition(parts)
        .agg(expr("mg_topk(w, 10)").as("mg"))
        .select(explode(col("mg")).as("c"))
        .collect().map(r => r.getStruct(0).getString(0) -> r.getStruct(0).getLong(1)).toMap
    val expect = Map("a" -> 7L, "b" -> 3L, "c" -> 5L)
    assert(run(1) == expect && run(6) == expect)
  }

  test("tdigest_quantile: bounded rank error on a known distribution") {
    import spark.implicits._
    // 1..10000 shuffled deterministically: every quantile's true value
    // is known exactly; rank error = |estimate − q·n| / n
    val n = 10000
    val xs = (1 to n).map(i => ((i * 2654435761L) % n).toInt -> i.toDouble)
      .sortBy(_._1).map(_._2)
    val df = xs.toDF("x").repartition(8)
    for (q <- Seq(0.01, 0.5, 0.95, 0.99)) {
      val est = df.agg(expr(s"tdigest_quantile(x, 200, $q)")).collect()(0).getDouble(0)
      val rankErr = math.abs(est - q * n) / n
      assert(rankErr <= 0.01, s"q=$q est=$est rank error $rankErr > 1%")
    }
  }

  test("tdigest_quantile: merge-stable across partitionings, exact at extremes") {
    import spark.implicits._
    val xs = (1 to 5000).map(i => math.pow(1.002, i)) // skewed tail
    def run(parts: Int, q: Double): Double =
      xs.toDF("x").repartition(parts)
        .agg(expr(s"tdigest_quantile(x, 200, $q)")).collect()(0).getDouble(0)
    for (q <- Seq(0.5, 0.99)) {
      val a = run(1, q); val b = run(16, q)
      // different merge orders may shift centroids; both answers must
      // stay inside the same ±1% rank band around the true quantile
      val trueV = xs((q * 5000).toInt - 1)
      val band = (xs(math.max(0, (q * 5000).toInt - 51)), xs(math.min(4999, (q * 5000).toInt + 49)))
      for (v <- Seq(a, b))
        assert(v >= band._1 && v <= band._2, s"q=$q v=$v outside ±1% rank band $band")
    }
    // q=0 / q=1 clamp to the tracked exact extrema — never extrapolated
    assert(run(4, 0.0) >= xs.head - 1e-9)
    assert(run(4, 1.0) == xs.last)
  }

  test("tdigest_quantile rejects bad arguments at analysis time") {
    import spark.implicits._
    val df = Seq(1.0, 2.0).toDF("x")
    for (bad <- Seq("tdigest_quantile(x, 5, 0.5)", "tdigest_quantile(x, 200, 1.5)",
        "tdigest_quantile(x, x, 0.5)")) {
      val e = intercept[Exception] { df.agg(expr(bad)).collect() }
      assert(e.getMessage.toLowerCase.contains("tdigest"), s"$bad: ${e.getMessage}")
    }
  }

  test("tdigest buffer: centroid count stays O(delta) under heavy load") {
    val buf = new graft.functions.TDigestBuffer(100.0)
    (1 to 100000).foreach(i => buf.add(((i * 48271L) % 100000).toDouble))
    assert(buf.centroidCount <= 250,
      s"centroids ${buf.centroidCount} exceed ~2*delta bound")
    // serde round-trip preserves the quantile function
    val bytes = buf.toBytes
    val back = graft.functions.TDigestBuffer.fromBytes(bytes, 100.0)
    for (q <- Seq(0.1, 0.5, 0.9))
      assert(math.abs(buf.quantile(q) - back.quantile(q)) < 1e-9)
  }

  test("tdigest buffer: merging range-partitioned partials stays O(delta)") {
    // disjoint ascending partials concatenate into an already-sorted
    // centroid list — the sortedness early-exit must not let the count
    // grow with the number of merged partials
    val acc = new graft.functions.TDigestBuffer(100.0)
    (0 until 64).foreach { p =>
      val part = new graft.functions.TDigestBuffer(100.0)
      (1 to 1000).foreach(i => part.add(p * 1000.0 + i))
      acc.mergeWith(part)
    }
    assert(acc.centroidCount <= 250,
      s"centroids ${acc.centroidCount} grew with merged partial count")
    // quantiles stay sane over the uniform 0..64000 range
    assert(math.abs(acc.quantile(0.5) - 32000.0) < 640.0)
  }
}
