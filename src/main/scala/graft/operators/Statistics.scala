package graft.operators

import graft.{Parity, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Statistical aggregates, percentiles, pivot, and the SQL-text entry
  * surface (SURVEY.md §3.4 lifecycle item 3).
  *
  * Float-parity: central-moment aggregates (stddev/corr/covar) use
  * numerically-stable merge formulas whose ulp behavior differs across
  * engines — outputs are rounded coarsely enough (Parity) that the
  * residual difference cannot flip a rounded digit at these magnitudes.
  */
object Statistics {
  import Tables._

  private def aggStats(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        Parity.r2(stddev_samp(col("l_extendedprice"))).as("sd_price"),
        Parity.r6(corr(col("l_quantity"), col("l_extendedprice"))).as("corr_qty_price"),
        Parity.r2(covar_samp(col("l_quantity"), col("l_extendedprice"))).as("covar_qty_price"),
        // DuckDB's skewness is the sample-adjusted Fisher–Pearson
        // (× √(n(n−1))/(n−2)); Spark's is the population g1 — adjust to
        // match (diverges at the 4th decimal for small n otherwise).
        Parity.r4(skewness(col("l_discount")) *
          sqrt(count(lit(1)) * (count(lit(1)) - 1)) / (count(lit(1)) - 2)).as("skew_disc"))
      .orderBy(col("l_returnflag"))

  /** Exact interpolated percentiles (oracle: quantile_cont), computed
    * over a map-side-combined VALUE HISTOGRAM per group, then
    * cumulative-count window math over histogram rows. No aggregation
    * buffer ever holds a group's values (Spark's built-in `percentile`
    * does); sort work is O(|distinct values|) per group — a large win
    * when values repeat (discrete measures: see agg_median_mode, 50
    * values standing in for 600k rows) and a clean degeneration to the
    * distributed-sort recipe when they don't (l_extendedprice here is
    * ~97% unique, so this IS the sort path, with spill and identical
    * asymptotics — nothing lost). A value v with cumulative end
    * position `cum` (1-based) covers 0-based ranks [cum−cnt, cum−1];
    * the two boundary VALUES bracketing pos = p·(n−1) interpolate as
    * lo + (hi−lo)·frac — bitwise-identical to DuckDB's quantile_cont.
    *
    * THIS IS THE DOCUMENTED NAIVE-EXACT TWIN of
    * [[aggPercentileSelect]]: its per-group cumulative window caps
    * reducer parallelism at #groups, so on a near-continuous measure
    * at fleet scale the two-phase bin-selection path is the one to
    * reach for (every production caller — e.g. [[statsWinsorize]] —
    * uses [[binSelectQuantiles]]). Kept in the registry deliberately
    * as the reference recipe the select path is verified against
    * (identical oracle row), and plan-asserted as such in
    * PlanAssertionSpec. */
  private def aggPercentile(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byFlag = Window.partitionBy(col("l_returnflag"))
    val cumW = byFlag.orderBy(col("l_extendedprice"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hist = lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_extendedprice"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(cumW))
      .withColumn("n", sum(col("cnt")).over(byFlag))
    def pct(p: Double, name: String) = {
      val pos = lit(p) * (col("n") - 1)
      val coversLo = floor(pos) >= col("cum") - col("cnt") && floor(pos) < col("cum")
      val coversHi = ceil(pos) >= col("cum") - col("cnt") && ceil(pos) < col("cum")
      val lo = max(when(coversLo, col("l_extendedprice")))
      val hi = max(when(coversHi, col("l_extendedprice")))
      Parity.r4(lo + (hi - lo) * (min(pos) - floor(min(pos)))).as(name)
    }
    hist
      .groupBy(col("l_returnflag"))
      .agg(pct(0.5, "p50"), pct(0.9, "p90"))
      .orderBy(col("l_returnflag"))
  }

  /** TWO-PHASE BIN SELECTION core — exact interpolated percentiles of
    * `l_extendedprice` per `l_returnflag` for an arbitrary percentile
    * set, the scale-safe exact path where [[aggPercentile]]'s
    * per-group cumulative window (reducer parallelism = #groups) and
    * the GK sketch (approximate) both fall short. Phase 1: fixed-width
    * value-bin counts per group (ONE map-side-combinable hash-agg over
    * the corpus), cumulative counts over the ~#bins METADATA rows
    * locate the bin holding each target rank. Phase 2: only the
    * located bins' rows (≈ n/#bins per group, broadcast-pruned
    * semi-join) are exactly ranked with a (group, bin)-partitioned
    * window — the full-group sort never happens, parallelism is
    * groups × bins throughout. Bracketing ranks floor/ceil of
    * pos = p·(n−1) + `lo + (hi−lo)·frac` interpolation ⇒
    * bitwise-identical to DuckDB quantile_cont. Returns one row per
    * (l_returnflag, p) with the UNROUNDED quantile `q` — callers pivot
    * and apply their own Parity rounding. Shared by
    * [[aggPercentileSelect]] and [[statsWinsorize]]'s bounds. */
  private def binSelectQuantiles(spark: SparkSession, dir: String,
      ps: Seq[Double]): DataFrame =
    binSelectQuantilesOn(lineitem(spark, dir), "l_returnflag",
      "l_extendedprice", ps, 1000.0)

  /** The generalized two-phase bin-selection core: exact interpolated
    * quantiles of `vc` per `grp` over ANY input relation (round 10 —
    * factored out of the lineitem-specific [[binSelectQuantiles]] so
    * derived measures like [[statsMadOutliers]]'s deviation column get
    * the same scale-safe path). Same recipe and guarantees as the
    * original: phase-1 fixed-width bin counts + metadata-row cumsums
    * locate the bracketing bins, phase-2 exactly ranks only the
    * located bins' rows, interpolation is bitwise quantile_cont. */
  private[operators] def binSelectQuantilesOn(df: DataFrame, grp: String,
      vc: String, ps: Seq[Double], binW: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = df.select(col(grp), col(vc).as("v"),
      floor(col(vc) / binW).cast("long").as("bin"))
    val wBin = Window.partitionBy(col(grp)).orderBy(col("bin"))
    val wFlag = Window.partitionBy(col(grp))
    val cum = b.groupBy(col(grp), col("bin")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(
        wBin.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cum_prev", col("cum") - col("c"))
      .withColumn("n", sum(col("c")).over(wFlag))
    // the 0-based bracketing ranks per group: floor/ceil of
    // pos = p·(n−1) for each requested p
    val targets = cum.select(col(grp), col("n")).distinct()
      .select(col(grp),
        explode(array(ps.map(lit(_)): _*)).as("p"), col("n"))
      .withColumn("pos", col("p") * (col("n") - 1))
      .select(col(grp), col("p"), col("pos"),
        explode(array(floor(col("pos")).cast("long"),
          ceil(col("pos")).cast("long"))).as("rk"))
    val located = targets.join(cum, Seq(grp))
      .filter(col("rk") >= col("cum_prev") && col("rk") < col("cum"))
      .select(col(grp), col("p"), col("pos"), col("rk"),
        col("bin"), col("cum_prev"))
    // phase 2: open ONLY the located bins; global rank = bin offset +
    // exact local rank inside the (group, bin) partition
    val wLocal = Window.partitionBy(col(grp), col("bin")).orderBy(col("v"))
    val vals = b.join(
        broadcast(located.select(col(grp), col("bin")).distinct()),
        Seq(grp, "bin"))
      .withColumn("lrk", row_number().over(wLocal).cast("long") - 1)
      .join(broadcast(located), Seq(grp, "bin"))
      .filter(col("lrk") === col("rk") - col("cum_prev"))
      .select(col(grp), col("p"), col("pos"), col("rk"), col("v"))
    vals.groupBy(col(grp), col("p"), col("pos"))
      .agg(min(when(col("rk") === floor(col("pos")).cast("long"), col("v"))).as("vlo"),
        min(when(col("rk") === ceil(col("pos")).cast("long"), col("v"))).as("vhi"))
      .select(col(grp), col("p"),
        (col("vlo") + (col("vhi") - col("vlo")) *
          (col("pos") - floor(col("pos")))).as("q"))
  }

  /** Exact percentile via two-phase bin selection — see
    * [[binSelectQuantiles]] for the recipe and scale argument. */
  private def aggPercentileSelect(spark: SparkSession, dir: String): DataFrame =
    binSelectQuantiles(spark, dir, Seq(0.5, 0.9))
      .groupBy(col("l_returnflag"))
      .agg(Parity.r4(max(when(col("p") === 0.5, col("q")))).as("p50"),
        Parity.r4(max(when(col("p") === 0.9, col("q")))).as("p90"))
      .orderBy(col("l_returnflag"))

  /** Sketch-based percentile (GK) — constant memory per group at any
    * scale, returns a member value not an interpolation ⇒ no oracle. */
  private def aggApproxPercentile(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("p50_approx"),
        percentile_approx(col("l_extendedprice"), lit(0.99), lit(10000)).as("p99_approx"))
      .orderBy(col("l_returnflag"))

  /** T-DIGEST percentiles via the custom mergeable
    * [[graft.functions.TDigestAgg]] sketch — the constant-size
    * (O(δ) centroids), arbitrarily-mergeable alternative to both the
    * exact sort and Spark's GK `approx_percentile`, with rank error
    * ∝ q(1−q) (sharpest exactly at the p95/p99 tails operations care
    * about). Partial digests combine map-side in any order, so at
    * 100 TB the shuffle carries ~2δ centroids per group instead of
    * data rows, and the SAME digests could be persisted per partition
    * and re-merged across days (the pre-aggregable story
    * agg_hll_reaggregate tells for distincts, here for quantiles).
    * Estimates are arrival-order dependent like every t-digest ⇒
    * no-oracle by design; InvariantSpec bounds the RANK error vs the
    * exactly-sorted fixture and asserts merge-stability across
    * repartitionings. */
  private def aggTdigestPercentile(spark: SparkSession, dir: String): DataFrame = {
    // ONE digest per group, three scalar extractions (round 18): the
    // previous three independent tdigest_quantile aggregates each
    // built an identical digest over the same rows — 3× the sketch
    // CPU and 3× the shuffled partial-digest bytes for copies of one
    // state. Bit-identical output (see TDigestQuantileOf scaladoc).
    lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(expr("tdigest_sketch(l_extendedprice, 200)").as("sk"))
      .select(col("l_returnflag"),
        expr("tdigest_quantile_of(sk, 200, 0.5)").as("p50_td"),
        expr("tdigest_quantile_of(sk, 200, 0.95)").as("p95_td"),
        expr("tdigest_quantile_of(sk, 200, 0.99)").as("p99_td"))
      .orderBy(col("l_returnflag"))
  }

  /** WEIGHTED percentile — the mixture-planning quantile (token-
    * weighted median doc length, quantity-weighted price bands): the
    * smallest value v whose cumulative weight reaches q·W. Exact and
    * deterministic: weights (quantities) are integer-valued doubles,
    * so every cumulative/partial weight sum is EXACT in IEEE
    * arithmetic regardless of addition order — no rounding formula,
    * no ulp-boundary risk on the threshold compare, and crucially the
    * freedom to REARRANGE the summation: the two-phase bin-select
    * below reproduces the ordered full-table cumsum bit-for-bit as
    * `cum_prev(bin) + local_cw`.
    *
    * Scale (round 12, measured): the original single window over the
    * fact table partitioned by l_returnflag capped reducer
    * parallelism at #groups = 3 — the 10× rehearsal measured it
    * α ≈ 0.97 at 10.2 s, the slowest sf1 point. This form is the
    * [[binSelectQuantilesOn]] discipline for weights instead of
    * counts: phase 1 is one map-side-combinable (flag, bin) weight
    * agg + metadata-row cumsums locating the bins where q·W is
    * crossed; phase 2 opens ONLY the located bins and runs the
    * ordered cumsum over their few rows. Same output, shuffle volume
    * = #bins + located-bin rows. (sf1: 10.2 s → ~1 s.) */
  private def aggWeightedPercentile(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val binW = 1000.0
    val li = lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_extendedprice"),
        col("l_quantity"), col("l_orderkey"), col("l_linenumber"),
        floor(col("l_extendedprice") / binW).cast("long").as("bin"))
    val wBin = Window.partitionBy(col("l_returnflag")).orderBy(col("bin"))
    val wFlag = Window.partitionBy(col("l_returnflag"))
    val cum = li.groupBy(col("l_returnflag"), col("bin"))
      .agg(sum(col("l_quantity")).as("w"))
      .withColumn("cum", sum(col("w")).over(
        wBin.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cum_prev", col("cum") - col("w"))
      .withColumn("tw", sum(col("w")).over(wFlag))
    // per (flag, q): the threshold q·W and the single bin that crosses
    // it — cum_prev < thr ≤ cum (metadata rows only)
    val targets = cum.select(col("l_returnflag"), col("tw")).distinct()
      .select(col("l_returnflag"),
        explode(array(lit(0.5), lit(0.9))).as("q"), col("tw"))
      .withColumn("thr", col("q") * col("tw"))
    val located = targets.join(cum, Seq("l_returnflag"))
      .filter(col("thr") > col("cum_prev") && col("thr") <= col("cum"))
      .select(col("l_returnflag"), col("q"), col("thr"),
        col("bin"), col("cum_prev"))
    // phase 2: ordered local cumsum inside the located bins only; the
    // global cumulative weight is exactly cum_prev + local
    val wLocal = Window.partitionBy(col("l_returnflag"), col("bin"))
      .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    li.join(broadcast(located.select(col("l_returnflag"), col("bin")).distinct()),
        Seq("l_returnflag", "bin"))
      .withColumn("lcw", sum(col("l_quantity")).over(wLocal))
      .join(broadcast(located), Seq("l_returnflag", "bin"))
      .filter(col("cum_prev") + col("lcw") >= col("thr"))
      .groupBy(col("l_returnflag"))
      .agg(
        min(when(col("q") === 0.5, col("l_extendedprice"))).as("wp50"),
        min(when(col("q") === 0.9, col("l_extendedprice"))).as("wp90"))
      .orderBy(col("l_returnflag"))
  }

  /** Fixed-width histogram over a measure column: one hash-agg on the
    * bin id (map-side combinable — shuffle volume is #bins, not rows),
    * the distribution-profiling primitive. Bin id from floor-division:
    * exact in IEEE doubles at these magnitudes, so cross-engine safe. */
  private def aggHistogram(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .groupBy((floor(col("l_extendedprice") / 5000) * 5000).cast("bigint").as("bin_lo"))
      .agg(
        count(lit(1)).as("n"),
        Parity.r2(min(col("l_extendedprice"))).as("bin_min"),
        Parity.r2(max(col("l_extendedprice"))).as("bin_max"))
      .orderBy(col("bin_lo"))

  /** Median (interpolated, quantile_cont parity) plus a DETERMINISTIC
    * mode (most frequent value, ties toward the smallest — Spark's
    * built-in `mode` is tie-nondeterministic, hence the explicit form).
    *
    * Both derive from ONE value histogram: group by (flag, value) with
    * map-side combine, then window math over the ~|distinct values|
    * histogram rows — the median comes from cumulative counts (the two
    * boundary VALUES bracket pos = 0.5·(n−1)), never from a per-row
    * sort. For a bounded-cardinality measure this shrinks the shuffle
    * from the fact table to the histogram; the general-cardinality
    * full-sort recipe stays available as agg_percentile. */
  private def aggMedianMode(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("cnt"))
    val byFlag = Window.partitionBy(col("l_returnflag"))
    val cumW = byFlag.orderBy(col("l_quantity"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val modeW = byFlag.orderBy(col("cnt").desc, col("l_quantity"))
    val hist = counts
      .withColumn("cum", sum(col("cnt")).over(cumW)) // 1-based end position
      .withColumn("n", sum(col("cnt")).over(byFlag))
      .withColumn("rk", row_number().over(modeW))
    val pos = lit(0.5) * (col("n") - 1) // 0-based; value v covers [cum-cnt, cum-1]
    val coversLo = floor(pos) >= col("cum") - col("cnt") && floor(pos) < col("cum")
    val coversHi = ceil(pos) >= col("cum") - col("cnt") && ceil(pos) < col("cum")
    val lo = max(when(coversLo, col("l_quantity")))
    val hi = max(when(coversHi, col("l_quantity")))
    hist.groupBy(col("l_returnflag"))
      .agg(
        Parity.r4(lo + (hi - lo) * (min(pos) - floor(min(pos)))).as("median_qty"),
        max(when(col("rk") === 1, col("l_quantity"))).as("mode_qty"),
        max(when(col("rk") === 1, col("cnt"))).as("mode_n"))
      .orderBy(col("l_returnflag"))
  }

  /** Per-group least-squares regression (regr_slope / regr_intercept /
    * regr_r2): one pass, partial-merge-able moment aggregates — the
    * trend-line primitive at any scale. Same (y, x) argument order on
    * both engines; outputs rounded per the agg_stats argument (stable
    * merge formulas differ in ulps across engines, never in rounded
    * digits at these magnitudes). */
  private def aggRegression(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        Parity.r6(regr_slope(col("l_extendedprice"), col("l_quantity"))).as("slope"),
        Parity.r2(regr_intercept(col("l_extendedprice"), col("l_quantity"))).as("intercept"),
        Parity.r6(regr_r2(col("l_extendedprice"), col("l_quantity"))).as("r2"),
        regr_count(col("l_extendedprice"), col("l_quantity")).as("n"))
      .orderBy(col("l_returnflag"))

  /** Pivot: per-priority order value by status — column-per-status. The
    * oracle mirrors with conditional aggregation (the pivot rewrite). */
  private def aggPivot(spark: SparkSession, dir: String): DataFrame =
    orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(Parity.r2(sum(col("o_totalprice"))))
      .orderBy(col("o_orderpriority"))

  /** TPC-H Q3-style shipping priority through the SQL-text surface
    * (`spark.sql` over registered views): same Catalyst plan as the
    * DataFrame API — demonstrates the engine's SQL entry point. */
  private def sqlQ3(spark: SparkSession, dir: String): DataFrame = {
    customer(spark, dir).createOrReplaceTempView("graft_sql_customer")
    orders(spark, dir).createOrReplaceTempView("graft_sql_orders")
    lineitem(spark, dir).createOrReplaceTempView("graft_sql_lineitem")
    spark.sql(
      """SELECT l_orderkey,
        | floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 AS revenue,
        | date_format(o_orderdate, 'yyyy-MM-dd') AS orderdate
        |FROM graft_sql_customer
        | JOIN graft_sql_orders ON c_custkey = o_custkey
        | JOIN graft_sql_lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)
  }

  /** Unpivot (melt): wide measures → long (key, measure, value) rows —
    * the inverse of agg_pivot, via Spark's native unpivot operator;
    * oracle mirrors with the UNION ALL rewrite. */
  private def aggUnpivot(spark: SparkSession, dir: String): DataFrame =
    part(spark, dir)
      .select(col("p_partkey"),
        col("p_size").cast("double").as("size"),
        col("p_retailprice").as("retailprice"))
      .unpivot(Array(col("p_partkey")), Array(col("size"), col("retailprice")),
        "measure", "value")
      .orderBy(col("p_partkey"), col("measure"))

  /** TPC-H Q5-style local-supplier revenue: five-way join across the
    * full star (lineitem⋈orders⋈customer⋈supplier⋈nation⋈region) with
    * the c_nationkey = s_nationkey locality condition — the deepest
    * join tree in the suite; dims broadcast, facts sort-merge. */
  private def sqlQ5(spark: SparkSession, dir: String): DataFrame = {
    customer(spark, dir).createOrReplaceTempView("graft_sql_customer")
    orders(spark, dir).createOrReplaceTempView("graft_sql_orders")
    lineitem(spark, dir).createOrReplaceTempView("graft_sql_lineitem")
    supplier(spark, dir).createOrReplaceTempView("graft_sql_supplier")
    nation(spark, dir).createOrReplaceTempView("graft_sql_nation")
    region(spark, dir).createOrReplaceTempView("graft_sql_region")
    spark.sql(
      """SELECT n_name,
        | floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 AS revenue
        |FROM graft_sql_customer
        | JOIN graft_sql_orders ON c_custkey = o_custkey
        | JOIN graft_sql_lineitem ON l_orderkey = o_orderkey
        | JOIN graft_sql_supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        | JOIN graft_sql_nation ON s_nationkey = n_nationkey
        | JOIN graft_sql_region ON n_regionkey = r_regionkey
        |WHERE r_name IN ('ASIA', 'EUROPE')
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin)
  }

  /** TPC-H Q18-style "large volume orders": IN-subquery whose inner
    * query is itself a GROUP BY ... HAVING aggregate — Catalyst
    * decorrelates it to an aggregate + semi-join (no per-row
    * re-execution). The quantity sums are integer-valued doubles, so
    * the HAVING comparison is exact on both engines. */
  private def sqlQ18(spark: SparkSession, dir: String): DataFrame = {
    customer(spark, dir).createOrReplaceTempView("graft_sql_customer")
    orders(spark, dir).createOrReplaceTempView("graft_sql_orders")
    lineitem(spark, dir).createOrReplaceTempView("graft_sql_lineitem")
    spark.sql(
      """SELECT c_name, c_custkey, o_orderkey,
        | date_format(o_orderdate, 'yyyy-MM-dd') AS orderdate,
        | o_totalprice,
        | floor(sum(l_quantity) * 100 + 0.5) / 100 AS sum_qty
        |FROM graft_sql_customer
        | JOIN graft_sql_orders ON c_custkey = o_custkey
        | JOIN graft_sql_lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM graft_sql_lineitem
        |  GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)
  }

  /** Scalar subqueries through the SQL surface: two CORRELATED
    * aggregate scalar subqueries (decorrelated by Catalyst to outer
    * joins with the count-bug null→0 repair) plus an uncorrelated one
    * in the predicate (computed once, broadcast into the filter). All
    * counts/max are exact ⇒ hash-oracle-safe. */
  private def sqlScalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    supplier(spark, dir).createOrReplaceTempView("graft_sql_supplier")
    customer(spark, dir).createOrReplaceTempView("graft_sql_customer")
    nation(spark, dir).createOrReplaceTempView("graft_sql_nation")
    region(spark, dir).createOrReplaceTempView("graft_sql_region")
    spark.sql(
      """SELECT n_name,
        | (SELECT count(*) FROM graft_sql_supplier
        |   WHERE s_nationkey = n_nationkey) AS n_suppliers,
        | (SELECT count(*) FROM graft_sql_customer
        |   WHERE c_nationkey = n_nationkey) AS n_customers
        |FROM graft_sql_nation
        |WHERE n_regionkey <= (SELECT max(r_regionkey) FROM graft_sql_region) - 2
        |ORDER BY n_name""".stripMargin)
  }

  /** TPC-H Q2-style correlated scalar-subquery with min: suppliers whose
    * balance is the minimum within their nation. Catalyst decorrelates
    * the per-row min into one aggregate + join (no re-execution per
    * outer row) — the Q2 access pattern without Q2's partsupp table.
    * The equality compares stored doubles (no arithmetic) ⇒ exact. */
  private def sqlQ2(spark: SparkSession, dir: String): DataFrame = {
    supplier(spark, dir).createOrReplaceTempView("graft_sql_supplier")
    nation(spark, dir).createOrReplaceTempView("graft_sql_nation")
    spark.sql(
      """SELECT s1.s_name, s1.s_acctbal, n_name
        |FROM graft_sql_supplier s1 JOIN graft_sql_nation ON s1.s_nationkey = n_nationkey
        |WHERE s1.s_acctbal = (
        |  SELECT min(s2.s_acctbal) FROM graft_sql_supplier s2
        |  WHERE s2.s_nationkey = s1.s_nationkey)
        |ORDER BY n_name, s1.s_name""".stripMargin)
  }

  /** TPC-H Q7-style bilateral trade volume: lineitem⋈orders⋈customer⋈
    * supplier with TWO nation dimension joins (supplier's and
    * customer's), symmetric pair filter, yearly rollup. Both nation
    * joins broadcast; the fact-side joins shuffle on their keys. */
  private def sqlQ7(spark: SparkSession, dir: String): DataFrame = {
    customer(spark, dir).createOrReplaceTempView("graft_sql_customer")
    orders(spark, dir).createOrReplaceTempView("graft_sql_orders")
    lineitem(spark, dir).createOrReplaceTempView("graft_sql_lineitem")
    supplier(spark, dir).createOrReplaceTempView("graft_sql_supplier")
    nation(spark, dir).createOrReplaceTempView("graft_sql_nation")
    spark.sql(
      """SELECT supp_nation, cust_nation, l_year,
        | floor(sum(volume) * 100 + 0.5) / 100 AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |   CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |   l_extendedprice * (1 - l_discount) AS volume
        |  FROM graft_sql_supplier
        |   JOIN graft_sql_lineitem ON s_suppkey = l_suppkey
        |   JOIN graft_sql_orders ON o_orderkey = l_orderkey
        |   JOIN graft_sql_customer ON c_custkey = o_custkey
        |   JOIN graft_sql_nation n1 ON s_nationkey = n1.n_nationkey
        |   JOIN graft_sql_nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)
  }

  /** TPC-H Q10-style returned-item revenue: which customers returned
    * the most value. Fact-fact join + customer/nation dims, top-20 by
    * revenue (TakeOrderedAndProject — no global sort materializes). */
  private def sqlQ10(spark: SparkSession, dir: String): DataFrame = {
    customer(spark, dir).createOrReplaceTempView("graft_sql_customer")
    orders(spark, dir).createOrReplaceTempView("graft_sql_orders")
    lineitem(spark, dir).createOrReplaceTempView("graft_sql_lineitem")
    nation(spark, dir).createOrReplaceTempView("graft_sql_nation")
    spark.sql(
      """SELECT c_custkey, c_name,
        | floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 AS revenue,
        | c_acctbal, n_name
        |FROM graft_sql_customer
        | JOIN graft_sql_orders ON c_custkey = o_custkey
        | JOIN graft_sql_lineitem ON l_orderkey = o_orderkey
        | JOIN graft_sql_nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)
  }

  /** TPC-H Q14-style promotion share: conditional revenue ratio per
    * month — CASE inside sum over a fact⋈dim join, the
    * share-of-category reporting shape. Ratio of two group sums: ulp
    * jitter from cross-engine accumulation order is absorbed by r4
    * rounding (same argument as agg_stats). */
  private def sqlQ14(spark: SparkSession, dir: String): DataFrame = {
    lineitem(spark, dir).createOrReplaceTempView("graft_sql_lineitem")
    part(spark, dir).createOrReplaceTempView("graft_sql_part")
    spark.sql(
      """SELECT date_format(l_shipdate, 'yyyy-MM') AS ship_month,
        | floor(100.0 * sum(CASE WHEN p_type = 'PROMO'
        |     THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
        |   / sum(l_extendedprice * (1 - l_discount)) * 10000 + 0.5) / 10000
        |   AS promo_share
        |FROM graft_sql_lineitem JOIN graft_sql_part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY ship_month""".stripMargin)
  }

  /** TPC-H Q19-style disjunctive predicate: three OR'd brand/size/
    * quantity branches — exercises Catalyst's CNF conversion and
    * partial predicate pushdown (the common-conjunct join condition
    * reaches the scan; the disjunction filters post-join). */
  private def sqlQ19(spark: SparkSession, dir: String): DataFrame = {
    lineitem(spark, dir).createOrReplaceTempView("graft_sql_lineitem")
    part(spark, dir).createOrReplaceTempView("graft_sql_part")
    spark.sql(
      """SELECT count(*) AS n_lines,
        | floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 AS revenue
        |FROM graft_sql_lineitem JOIN graft_sql_part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |        AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#9' AND p_size BETWEEN 10 AND 30
        |        AND l_quantity BETWEEN 10 AND 35)
        |   OR (p_brand = 'Brand#13' AND p_size BETWEEN 20 AND 50
        |        AND l_quantity BETWEEN 20 AND 50)""".stripMargin)
  }

  /** Correlated LATERAL subquery with per-row ORDER BY + LIMIT: top-2
    * suppliers per nation — the SQL-surface twin of topk_per_group.
    * Catalyst plans the lateral limit as a partitioned window, not a
    * per-nation re-scan. */
  private def sqlLateralTopn(spark: SparkSession, dir: String): DataFrame = {
    supplier(spark, dir).createOrReplaceTempView("graft_sql_supplier")
    nation(spark, dir).createOrReplaceTempView("graft_sql_nation")
    spark.sql(
      """SELECT n_name, s.s_name, s.s_acctbal
        |FROM graft_sql_nation,
        | LATERAL (
        |  SELECT s_name, s_acctbal FROM graft_sql_supplier
        |  WHERE s_nationkey = n_nationkey
        |  ORDER BY s_acctbal DESC, s_name LIMIT 2) s
        |ORDER BY n_name, s_acctbal DESC, s_name""".stripMargin)
  }

  /** TPC-H Q21-style "suppliers who kept orders waiting": the classic
    * hardest decorrelation shape — a correlated EXISTS (some OTHER
    * supplier shipped on the order) AND a correlated NOT EXISTS (no
    * OTHER supplier shipped late), both with a non-equi correlation on
    * the outer's supplier key. Catalyst plans them as one left-semi and
    * one left-anti join on l_orderkey (no per-row re-execution). "Late"
    * adapts the reference predicate to this schema: shipped > 90 days
    * after the order date. Date comparisons are exact cross-engine. */
  private def sqlQ21(spark: SparkSession, dir: String): DataFrame = {
    supplier(spark, dir).createOrReplaceTempView("graft_sql_supplier")
    orders(spark, dir).createOrReplaceTempView("graft_sql_orders")
    lineitem(spark, dir).createOrReplaceTempView("graft_sql_lineitem")
    spark.sql(
      """SELECT s_name, count(*) AS numwait
        |FROM graft_sql_supplier
        | JOIN graft_sql_lineitem l1 ON s_suppkey = l1.l_suppkey
        | JOIN graft_sql_orders ON o_orderkey = l1.l_orderkey
        |WHERE o_orderstatus = 'F'
        |  AND l1.l_shipdate > date_add(o_orderdate, 90)
        |  AND EXISTS (
        |    SELECT 1 FROM graft_sql_lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM graft_sql_lineitem l3
        |     JOIN graft_sql_orders o3 ON l3.l_orderkey = o3.o_orderkey
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_shipdate > date_add(o3.o_orderdate, 90))
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin)
  }

  /** TPC-H Q22-style "idle high-balance customers": anti-join against
    * orders (here: customers who never placed a >300k order — the
    * fixtures give every customer SOME order) plus an uncorrelated
    * aggregate threshold in the predicate.
    * The reference's `acctbal > avg(acctbal)` is a float-sum boundary
    * trap (group sums differ in ulps across engines/partitionings), so
    * the threshold is restated EXACTLY in integers: cents(acctbal) ×
    * n_positive > total_positive_cents — same rows, bit-deterministic.
    * Country code adapts phone-prefix grouping to this schema
    * (nationkey mod 10). */
  private def sqlQ22(spark: SparkSession, dir: String): DataFrame = {
    customer(spark, dir).createOrReplaceTempView("graft_sql_customer")
    orders(spark, dir).createOrReplaceTempView("graft_sql_orders")
    spark.sql(
      """SELECT CAST(c_nationkey % 10 AS BIGINT) AS cntrycode,
        | count(*) AS numcust,
        | floor(sum(c_acctbal) * 100 + 0.5) / 100 AS totacctbal
        |FROM graft_sql_customer
        |WHERE CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) *
        |    (SELECT count(*) FROM graft_sql_customer WHERE c_acctbal > 0.0)
        |  > (SELECT sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
        |     FROM graft_sql_customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM graft_sql_orders
        |    WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
        |GROUP BY c_nationkey % 10
        |ORDER BY cntrycode""".stripMargin)
  }

  /** Pairwise Pearson correlation + population covariance over the
    * lineitem measure columns — the feature-correlation matrix a
    * training pipeline computes before feature selection. ONE pass:
    * all 6 pairs' moment aggregates evaluate in a single hash-agg scan
    * (partial-merge-able co-moments — the same scale shape as
    * [[aggRegression]]), then `stack` unpivots the 1-row wide result
    * into the (col_x, col_y) long form. Rounded like agg_stats: merge
    * formulas differ across engines in ulps, never in rounded digits. */
  private def aggCorrMatrix(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    val aggs = pairs.flatMap { case (x, y) =>
      Seq(Parity.r6(corr(col(x), col(y))).as(s"c_${x}_$y"),
        Parity.r2(covar_pop(col(x), col(y))).as(s"v_${x}_$y"))
    }
    val stackArgs = pairs.map { case (x, y) =>
      s"'$x', '$y', c_${x}_$y, v_${x}_$y"
    }.mkString(", ")
    lineitem(spark, dir)
      .agg(aggs.head, aggs.tail: _*)
      .select(expr(s"stack(${pairs.size}, $stackArgs) AS (col_x, col_y, corr, covar)"))
      .orderBy(col("col_x"), col("col_y"))
  }

  /** DETERMINISTIC Poisson bootstrap CI for a group mean (the
    * resampling CI a pipeline attaches to any data-quality metric).
    * Classic bootstrap resampling is RNG-bound and can't be checked
    * cross-engine; here each of B=32 replicates draws every row's
    * multiplicity from Poisson(1) via the INVERSE CDF of a uniform
    * derived from ONE md5 row hash, scrambled per replicate by an
    * odd-multiplier bijection mod 2^48 — bit-reproducible anywhere
    * md5 and 64-bit integers exist.
    * Because the weights are small ints and l_quantity is
    * integer-valued, every replicate sum is EXACT in IEEE doubles
    * (order-independent), so the replicate means — and the order
    * statistics that form the 2nd/31st-of-32 CI — hash-match DuckDB.
    *
    * Scale: the ×B explode is map-side combined straight back down to
    * (group × B) partial sums (classic multiplier bootstrap on
    * MapReduce — no data is ever copied B times across the wire);
    * the order-statistics window runs over 32 rows per group. */
  private def statsBootstrapCi(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = 32
    // P(Poisson(1) <= n) thresholds, written as full-precision decimal
    // literals: both engines parse the same string to the same double
    val cdf = Seq(0.36787944117144233, 0.7357588823428847,
      0.9196986029286058, 0.9810118431238462, 0.9963401531726563,
      0.9994058151824183)
    // one md5 per ROW (not per row×replicate — measured 16 s vs ~2 s at
    // sf0.1); each replicate's uniform comes from an odd-multiplier
    // scramble of the 48-bit row hash mod 2^48 — a bijection on
    // [0, 2^48) for every rep, so each replicate's weights are exactly
    // Poisson-marginal; all-integer (≤ 2^55 < 2^63), bit-identical on
    // any engine with 64-bit ints
    val h = ((col("h48") * (col("rep") * 2 + 1) +
      col("rep") * lit(2654435761L)) % lit(281474976710656L))
      .cast("double") / lit(281474976710656.0)
    val w = cdf.zipWithIndex.foldRight(lit(6): org.apache.spark.sql.Column) {
      case ((t, i), e) => when(col("h") < t, i).otherwise(e)
    }
    val reps = lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_quantity"),
        conv(substring(md5(concat_ws(":", col("l_orderkey"),
          col("l_linenumber"))), 1, 12), 16, 10).cast("long").as("h48"))
      .select(col("l_returnflag"), col("l_quantity"), col("h48"),
        explode(sequence(lit(0), lit(b - 1))).as("rep"))
      .withColumn("h", h).withColumn("w", w)
    val means = reps.groupBy(col("l_returnflag"), col("rep"))
      .agg((sum(col("w") * col("l_quantity")) / sum(col("w"))).as("rep_mean"))
    val rn = row_number().over(Window.partitionBy(col("l_returnflag"))
      .orderBy(col("rep_mean"), col("rep")))
    val ordered = means.withColumn("rn", rn)
    val point = lineitem(spark, dir).groupBy(col("l_returnflag"))
      .agg((sum(col("l_quantity")) / count(lit(1))).as("m"))
    point
      .join(ordered.filter(col("rn") === 2)
        .select(col("l_returnflag"), col("rep_mean").as("lo")), "l_returnflag")
      .join(ordered.filter(col("rn") === b - 1)
        .select(col("l_returnflag"), col("rep_mean").as("hi")), "l_returnflag")
      .select(col("l_returnflag"),
        Parity.r6(col("m")).as("mean_qty"),
        Parity.r6(col("lo")).as("ci_lo"),
        Parity.r6(col("hi")).as("ci_hi"))
      .orderBy(col("l_returnflag"))
  }

  /** Per-group feature scaling — z-score and min-max — the
    * normalization step every feature pipeline runs before training.
    * The group stats (3 rows) are computed in one map-side-combinable
    * hash aggregate and BROADCAST-joined back to the fact rows —
    * deliberately NOT a `Window.partitionBy(l_returnflag)`, which
    * would funnel 600 M rows into 3 partitions at scale (the
    * profile_key_skew lesson). Plan: scan → partial agg → 3-row
    * broadcast → one projection; no wide shuffle at all.
    *
    * Float parity: μ and σ are rounded (r4) BEFORE use, so both
    * engines scale with bit-identical constants and `(x−μ)/σ` is a
    * fixed sequence of exactly-rounded IEEE ops — deterministic.
    * min/max are exact (no accumulation). σ > 0 for every group at
    * every SF (prices vary within each returnflag), so the ANSI 0/0
    * guard is not needed here. */
  private def statsFeatureScale(spark: SparkSession, dir: String): DataFrame = {
    val stats = lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        Parity.r4(avg(col("l_extendedprice"))).as("mu"),
        Parity.r4(stddev_samp(col("l_extendedprice"))).as("sd"),
        min(col("l_extendedprice")).as("lo"),
        max(col("l_extendedprice")).as("hi"))
    lineitem(spark, dir)
      .join(broadcast(stats), "l_returnflag")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        Parity.r6((col("l_extendedprice") - col("mu")) / col("sd")).as("z_price"),
        Parity.r6((col("l_extendedprice") - col("lo")) / (col("hi") - col("lo")))
          .as("mm_price"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** Two-sample Kolmogorov–Smirnov test between the 'R' and 'A'
    * return-flag populations on `l_quantity` — the distribution-shift
    * check a curation pipeline runs between corpus snapshots. D is the
    * max |ECDF_r − ECDF_a| over the POOLED distinct values; the
    * decision column compares √(n_r·n_a/(n_r+n_a))·D against the
    * α=0.05 critical value 1.358.
    *
    * Scale: the fact scan collapses to a value histogram in one
    * map-side-combinable hash aggregate (l_quantity is integer-valued,
    * ≤ 50 levels at any SF); the unpartitioned cumulative window runs
    * over that metadata-sized relation only — never the fact rows.
    *
    * Float parity: ECDFs are int/int divisions of identical integer
    * counts, D a max of exact diffs, and the scale factor one sqrt of
    * an int-derived double — every op exactly-rounded IEEE on
    * bit-identical inputs, so no rounding slack is needed beyond the
    * output-format r6. */
  private def statsKsTest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cum = Window.orderBy(col("l_quantity"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy()
    val hist = lineitem(spark, dir)
      .filter(col("l_returnflag").isin("R", "A"))
      .groupBy(col("l_quantity"))
      .agg(
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("cr"),
        sum(when(col("l_returnflag") === "A", 1L).otherwise(0L)).as("ca"))
      .select(col("l_quantity"),
        sum(col("cr")).over(cum).as("cum_r"),
        sum(col("ca")).over(cum).as("cum_a"))
      .withColumn("n_r", max(col("cum_r")).over(whole))
      .withColumn("n_a", max(col("cum_a")).over(whole))
    val scaled = sqrt((col("n_r") * col("n_a")).cast("double") /
      (col("n_r") + col("n_a")).cast("double")) * col("d_stat")
    hist
      .groupBy(col("n_r"), col("n_a"))
      .agg(max(abs(col("cum_r") / col("n_r") - col("cum_a") / col("n_a")))
        .as("d_stat"))
      .select(col("n_r"), col("n_a"), Parity.r6(col("d_stat")).as("d_stat"),
        Parity.r6(scaled).as("ks_scaled"), (scaled > lit(1.358)).as("reject_05"))
  }

  /** Chi-square test of independence for event_type × weekday, plus
    * Cramér's V effect size — "is traffic mix day-of-week dependent",
    * the categorical drift check alongside [[statsKsTest]]'s
    * continuous one.
    *
    * Scale: the event scan collapses to a contingency table in one
    * map-side-combinable hash aggregate (|types| × 7 cells); the
    * row/column/grand totals are windows over that metadata-sized
    * relation, never the events.
    *
    * Float parity: every cell term (o−e)²/e is a fixed op sequence on
    * integer-derived identical bits; the cross-cell SUM is the one
    * order-sensitive float op, so it runs as a SEQUENTIAL fold over
    * the (event_type, wd)-sorted term list on both engines (Spark
    * `aggregate`, DuckDB `list_reduce` — the [[timeseriesHolt]]
    * pattern; 0.0-init vs first-element-init agree because 0.0+x is
    * exact). Weekday parity: Spark `weekday` ≡ DuckDB `isodow − 1`
    * (Monday = 0), per the events_seasonal precedent. */
  private def statsChi2(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byT = Window.partitionBy(col("event_type"))
    val byW = Window.partitionBy(col("wd"))
    val whole = Window.partitionBy()
    val cells = events(spark, dir)
      .select(col("event_type"), weekday(col("ts")).cast("long").as("wd"))
      .groupBy(col("event_type"), col("wd"))
      .agg(count(lit(1)).as("o"))
      .withColumn("rt", sum(col("o")).over(byT))
      .withColumn("ct", sum(col("o")).over(byW))
      .withColumn("n", sum(col("o")).over(whole))
    val e = (col("rt") * col("ct")) / col("n")
    val term = (col("o") - e) * (col("o") - e) / e
    // r and c via max(dense_rank) windows on the cell relation rather
    // than two countDistincts in the final aggregate: the multi-distinct
    // Expand rewrite orders its gid groups by expression id — a
    // session-counter-dependent plan shape that trips PlanDriftSpec.
    cells
      .select(col("event_type"), col("wd"), col("n"), term.as("t"))
      .withColumn("dr_t", dense_rank().over(Window.orderBy(col("event_type"))))
      .withColumn("dr_w", dense_rank().over(Window.orderBy(col("wd"))))
      .agg(
        sort_array(collect_list(struct(col("event_type"), col("wd"), col("t"))))
          .as("terms"),
        max(col("dr_t")).cast("long").as("r"),
        max(col("dr_w")).cast("long").as("c"),
        max(col("n")).as("n"))
      .select(
        aggregate(transform(col("terms"), x => x.getField("t")), lit(0.0),
          (a, v) => a + v).as("chi2"),
        ((col("r") - 1) * (col("c") - 1)).as("df"), col("n"),
        col("r"), col("c"))
      .select(Parity.r6(col("chi2")).as("chi2"), col("df"), col("n"),
        Parity.r6(sqrt(col("chi2") /
          (col("n") * least(col("r") - 1, col("c") - 1)).cast("double")))
          .as("cramers_v"))
  }

  /** Percentile winsorization: clamp `l_extendedprice` to its
    * per-group [p05, p95] — the outlier-taming companion to
    * [[statsFeatureScale]] (a z-score after THIS is what robust
    * pipelines feed the model). Bounds come from
    * [[binSelectQuantiles]]'s two-phase bin selection (bitwise ≡
    * DuckDB quantile_cont, r4-rounded before use so both engines clamp
    * against identical constants) — NOT from a cumulative window over
    * the raw (flag, price) value histogram, whose near-row cardinality
    * on a continuous measure would funnel the sort through #groups
    * reducers at scale. The 3-row bounds BROADCAST back onto the fact
    * scan — clamping is one `least(greatest(…))` projection, no
    * fact-side window. */
  private def statsWinsorize(spark: SparkSession, dir: String): DataFrame = {
    val bounds = binSelectQuantiles(spark, dir, Seq(0.05, 0.95))
      .groupBy(col("l_returnflag"))
      .agg(Parity.r4(max(when(col("p") === 0.05, col("q")))).as("lo"),
        Parity.r4(max(when(col("p") === 0.95, col("q")))).as("hi"))
    lineitem(spark, dir)
      .join(broadcast(bounds), "l_returnflag")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        least(greatest(col("l_extendedprice"), col("lo")), col("hi")).as("price_w"),
        (col("l_extendedprice") < col("lo") ||
          col("l_extendedprice") > col("hi")).as("clamped"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** Mann-Whitney U (Wilcoxon rank-sum) between the 'R' and 'A'
    * populations on l_quantity, with midrank tie handling and the
    * tie-corrected normal approximation — the rank-based companion to
    * [[statsKsTest]] (sensitive to location shift where KS is
    * sensitive to any shape difference).
    *
    * Scale: same collapse as KS — one map-side-combinable value
    * histogram (≤ 50 cells), cumulative window on the metadata
    * relation only.
    *
    * Float parity needs NO rounding slack before output: midranks are
    * exact multiples of ½ below 2⁵², so every product cr·ar and every
    * partial sum is exactly representable — the rank-sum aggregation
    * is order-INDEPENDENT (unlike a generic float sum), and the final
    * z arithmetic is a fixed op sequence on bit-identical inputs. */
  private def statsMannWhitney(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cum = Window.orderBy(col("l_quantity"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hist = lineitem(spark, dir)
      .filter(col("l_returnflag").isin("R", "A"))
      .groupBy(col("l_quantity"))
      .agg(
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("cr"),
        sum(when(col("l_returnflag") === "A", 1L).otherwise(0L)).as("ca"))
      .withColumn("c", col("cr") + col("ca"))
      .withColumn("cump", sum(col("c")).over(cum) - col("c"))
      .withColumn("ar", col("cump") + (col("c") + 1) / lit(2.0))
    val agg = hist.agg(
      sum(col("cr")).as("n_r"), sum(col("ca")).as("n_a"),
      sum(col("cr") * col("ar")).as("r1"),
      sum(col("c") * col("c") * col("c") - col("c")).as("tie"))
    val u = col("r1") - (col("n_r") * (col("n_r") + 1)) / lit(2.0)
    val mu = (col("n_r") * col("n_a")) / lit(2.0)
    val n = col("n_r") + col("n_a")
    val sig2 = (col("n_r") * col("n_a")).cast("double") / lit(12.0) *
      ((n + 1).cast("double") - col("tie").cast("double") / (n * (n - 1)).cast("double"))
    val z = (u - mu) / sqrt(sig2)
    agg.select(col("n_r"), col("n_a"), Parity.r6(u).as("u_stat"),
      Parity.r6(z).as("z"), (abs(z) > lit(1.96)).as("reject_05"))
  }

  /** Gini concentration of l_quantity per return flag (Lorenz-curve
    * inequality — "how skewed is the volume distribution", the
    * concentration profile a curation pipeline runs on source/domain
    * shares). Computed ENTIRELY from the per-group value histogram:
    * for a distinct value v with count c and preceding cumulative
    * count s, the sorted-position sum Σᵢ i·xᵢ contributes
    * v·(c·s + c(c+1)/2) — an arithmetic series, no per-row rank ever
    * materializes. G = 2·S₁/(n·T) − (n+1)/n.
    *
    * Float parity: l_quantity is integer-valued, so S₁, T and every
    * partial are exact (products < 2⁵³, halves exact) — sums are
    * order-independent, and the closing arithmetic is a fixed op
    * sequence on identical bits. */
  private def aggGini(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byFlag = Window.partitionBy(col("l_returnflag"))
    val cumW = byFlag.orderBy(col("l_quantity"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hist = lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("c"))
      .withColumn("cump", sum(col("c")).over(cumW) - col("c"))
    hist.groupBy(col("l_returnflag"))
      .agg(
        sum(col("c")).as("n"),
        sum(col("l_quantity") * col("c")).as("t"),
        sum(col("l_quantity") *
          (col("c") * col("cump") + (col("c") * (col("c") + 1)) / lit(2.0)))
          .as("s1"))
      .select(col("l_returnflag"), col("n"),
        Parity.r6(lit(2.0) * col("s1") / (col("n") * col("t")) -
          (col("n") + 1).cast("double") / col("n")).as("gini"))
      .orderBy(col("l_returnflag"))
  }

  /** Mutual information (nats) between event_type and weekday, with
    * marginal entropies and the normalized MI/√(H·H) score — the
    * information-theoretic sibling of [[statsChi2]] on the same
    * contingency cells (MI measures HOW MUCH the traffic mix depends
    * on the weekday, not just whether). Cells with o = 0 contribute
    * nothing and never appear (the cell relation comes from a groupBy
    * of observed rows). All three Σ p·ln(·) sums run as sequential
    * folds over sorted metadata lists (the [[statsChi2]] discipline);
    * `ln` itself hash-matches cross-engine at r6 throughout this repo
    * (text_tfidf precedent). */
  private def statsMutualInfo(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byT = Window.partitionBy(col("event_type"))
    val byW = Window.partitionBy(col("wd"))
    val whole = Window.partitionBy()
    val cells = events(spark, dir)
      .select(col("event_type"), weekday(col("ts")).cast("long").as("wd"))
      .groupBy(col("event_type"), col("wd"))
      .agg(count(lit(1)).as("o"))
      .withColumn("rt", sum(col("o")).over(byT))
      .withColumn("ct", sum(col("o")).over(byW))
      .withColumn("n", sum(col("o")).over(whole))
    val miTerm = (col("o") / col("n")) *
      log((col("o") * col("n")) / (col("rt") * col("ct")))
    def foldSum(c: org.apache.spark.sql.Column) =
      aggregate(c, lit(0.0), (a, v) => a + v)
    val folded = cells
      .select(col("event_type"), col("wd"), col("rt"), col("ct"), col("n"),
        miTerm.as("t"))
      .agg(
        sort_array(collect_list(struct(col("event_type"), col("wd"), col("t"))))
          .as("mts"),
        sort_array(collect_set(struct(col("event_type"),
          (col("rt") / col("n")) * log(col("rt") / col("n")))))
          .as("hxs"),
        sort_array(collect_set(struct(col("wd"),
          (col("ct") / col("n")) * log(col("ct") / col("n")))))
          .as("hys"))
      .select(
        foldSum(transform(col("mts"), x => x.getField("t"))).as("mi"),
        (-foldSum(transform(col("hxs"), x => x.getField("col2")))).as("hx"),
        (-foldSum(transform(col("hys"), x => x.getField("col2")))).as("hy"))
    folded.select(
      Parity.r6(col("mi")).as("mi"),
      Parity.r6(col("hx")).as("h_type"),
      Parity.r6(col("hy")).as("h_weekday"),
      Parity.r6(col("mi") / sqrt(col("hx") * col("hy"))).as("nmi"))
  }

  /** DETERMINISTIC two-sample permutation test for the R-vs-A mean
    * l_quantity difference — the hypothesis-testing completion of
    * [[statsBootstrapCi]]'s resampling family, using the same
    * md5-derived RNG-free randomization: replicate b reassigns each
    * row to a pseudo-group by one bit of an odd-multiplier scramble of
    * its 48-bit row hash, p = (1 + #{|d_b| ≥ |d_obs|}) / (B+1)
    * (add-one Phipson-Smyth estimator). l_quantity is integer-valued
    * ⇒ every group sum is exact, means/diffs are fixed op sequences,
    * and the ≥ comparisons are on bit-identical doubles — the whole
    * test is hash-exact cross-engine with NO rounding slack.
    *
    * Scale: the ×B explode map-side-combines straight to (b × group)
    * partial sums — the bootstrap's no-data-copy argument verbatim. */
  private def statsPermutationTest(spark: SparkSession, dir: String): DataFrame = {
    val b = 64
    val base = lineitem(spark, dir)
      .filter(col("l_returnflag").isin("R", "A"))
      .select(col("l_returnflag"), col("l_quantity"),
        conv(substring(md5(concat_ws(":", col("l_orderkey"),
          col("l_linenumber"))), 1, 12), 16, 10).cast("long").as("h48"))
    val obs = base.agg(
      (sum(when(col("l_returnflag") === "R", col("l_quantity"))) /
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)) -
        sum(when(col("l_returnflag") === "A", col("l_quantity"))) /
          sum(when(col("l_returnflag") === "A", 1L).otherwise(0L))).as("d_obs"))
    val g = ((col("h48") * (col("rep") * 2 + 1) +
      col("rep") * lit(2654435761L)) % lit(281474976710656L)) <
      lit(140737488355328L)
    val reps = base
      .select(col("l_quantity"), col("h48"),
        explode(sequence(lit(0), lit(b - 1))).as("rep"))
      .withColumn("g", g)
      .groupBy(col("rep"))
      .agg(
        (sum(when(col("g"), col("l_quantity"))) /
          sum(when(col("g"), 1L).otherwise(0L)) -
          sum(when(!col("g"), col("l_quantity"))) /
            sum(when(!col("g"), 1L).otherwise(0L))).as("d"))
    reps.crossJoin(broadcast(obs))
      .agg(
        max(col("d_obs")).as("d_obs"),
        sum(when(abs(col("d")) >= abs(col("d_obs")), 1L).otherwise(0L)).as("ge"))
      .select(
        Parity.r6(col("d_obs")).as("obs_diff"),
        Parity.r6((col("ge") + 1).cast("double") / lit(65.0)).as("p_value"),
        ((col("ge") + 1).cast("double") / lit(65.0) <=
          lit(0.05)).as("reject_05"))
  }

  /** Benford's-law first-digit audit of l_extendedprice — the classic
    * fabricated-numbers smell test a data-quality pipeline runs on any
    * money column. The first SIGNIFICANT digit is extracted via exact
    * integer math: prices are 2-decimal, so cents =
    * floor(x·100 + 0.5) is an exact BIGINT and its decimal string's
    * first char IS the first significant digit (x ≥ 1) — no log10
    * near-power-of-ten ulp hazard, no float formatting. Expected
    * Benford mass is ln(1 + 1/d)/ln(10) computed identically on both
    * engines. One map-side-combinable 9-cell hash agg. */
  private def statsBenford(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val whole = Window.partitionBy()
    lineitem(spark, dir)
      .select(substring(floor(col("l_extendedprice") * 100 + lit(0.5))
        .cast("long").cast("string"), 1, 1).cast("long").as("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("n"))
      .withColumn("tot", sum(col("n")).over(whole))
      .select(col("d"), col("n"),
        Parity.r6(col("n") / col("tot")).as("observed"),
        Parity.r6(log(lit(1.0) + lit(1.0) / col("d")) / log(lit(10.0)))
          .as("benford"),
        Parity.r6(col("n") / col("tot") -
          log(lit(1.0) + lit(1.0) / col("d")) / log(lit(10.0))).as("dev"))
      .orderBy(col("d"))
  }

  /** Welch's unequal-variance t-test on purchase value between two
    * md5-split variants — the continuous-metric companion to the
    * proportion z-test (events_abtest_ztest): the readout for a
    * revenue/latency experiment where per-variant variances cannot be
    * assumed equal. EXACT-INTEGER moment discipline: value is 2-decimal
    * by data contract, so cents = floor(v·100 + ½) makes every
    * per-variant count / sum / sum-of-squares an exact BIGINT — the
    * aggregation is order-INDEPENDENT (no float-merge divergence to
    * round away) and mean/variance/t/df are then a fixed IEEE op
    * sequence on bit-identical inputs, mirrored textually in the
    * oracle. Welch–Satterthwaite df uses explicit x·x products (pow is
    * not guaranteed correctly rounded cross-engine; ·, /, √ are).
    *
    * Scale: ONE conditional global hash-agg over the purchase slice —
    * map-side-combinable partials folding to a single 6-long row; no
    * window, no join (the abtest-ztest discipline). Every ratio is
    * guarded behind n>1 / positive-variance predicates (ANSI 0/0
    * trap), mirrored as CASE WHEN. */
  private def statsWelchTtest(spark: SparkSession, dir: String): DataFrame = {
    val p = events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(
        (conv(substring(md5(concat(lit("tt:"), col("event_id").cast("string"))),
          1, 2), 16, 10).cast("long") % 2).as("variant"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
    val g = p.agg(
      sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("variant") === 0, col("cents")).otherwise(0L)).as("s_a"),
      sum(when(col("variant") === 0, col("cents") * col("cents")).otherwise(0L))
        .as("q_a"),
      sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("variant") === 1, col("cents")).otherwise(0L)).as("s_b"),
      sum(when(col("variant") === 1, col("cents") * col("cents")).otherwise(0L))
        .as("q_b"))
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    val ma = col("s_a").cast("double") / na / lit(100.0)
    val mb = col("s_b").cast("double") / nb / lit(100.0)
    val va = (col("q_a").cast("double") / lit(10000.0) - na * ma * ma) /
      (na - lit(1.0))
    val vb = (col("q_b").cast("double") / lit(10000.0) - nb * mb * mb) /
      (nb - lit(1.0))
    val sa2 = va / na; val sb2 = vb / nb
    val se2 = sa2 + sb2
    val ok = col("n_a") > 1 && col("n_b") > 1
    val t = when(ok && se2 > 0, (ma - mb) / sqrt(se2))
    val df = when(ok && se2 > 0,
      (se2 * se2) / (sa2 * sa2 / (na - lit(1.0)) + sb2 * sb2 / (nb - lit(1.0))))
    g.select(col("n_a"), col("n_b"),
      when(col("n_a") > 0, Parity.r6(ma)).as("mean_a"),
      when(col("n_b") > 0, Parity.r6(mb)).as("mean_b"),
      when(col("n_a") > 1, Parity.r4(va)).as("var_a"),
      when(col("n_b") > 1, Parity.r4(vb)).as("var_b"),
      Parity.r6(t).as("t"), Parity.r4(df).as("df"),
      (abs(t) > lit(1.96)).as("reject_05"))
  }

  /** One-way ANOVA of event value across the five event types — "does
    * the metric differ across segments AT ALL", the k-group
    * generalization [[statsWelchTtest]]'s two-variant split can't
    * answer. Same exact-integer discipline: per-group n/Σcents/Σcents²
    * are exact BIGINTs (order-independent), the grand totals are exact
    * BIGINT sums of them, and the k per-group SSB/SSW terms — each a
    * fixed op sequence on exact inputs — reduce with a SEQUENTIAL fold
    * over the event_type-sorted ≤k-row metadata list (the statsChi2
    * discipline; list_reduce ORDER BY on the oracle side), so both
    * sums are bit-identical cross-engine before any rounding.
    *
    * Scale: one map-side-combinable hash-agg over the corpus collapses
    * everything to k metadata rows; the fold runs on that k-row list
    * only. F = (SSB/(k−1))/(SSW/(n−k)); η² = SSB/(SSB+SSW). */
  private def statsAnova(spark: SparkSession, dir: String): DataFrame = {
    val g = events(spark, dir)
      .select(col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"),
        sum(col("cents") * col("cents")).as("q"))
    val folded = g.agg(
      sum(col("n")).as("n_tot"), sum(col("s")).as("s_tot"),
      count(lit(1)).as("k"),
      sort_array(collect_list(struct(col("event_type"), col("n"), col("s"),
        col("q")))).as("gs"))
    val gm = col("s_tot").cast("double") / col("n_tot").cast("double") / lit(100.0)
    def m(x: Column): Column =
      x.getField("s").cast("double") / x.getField("n").cast("double") / lit(100.0)
    val ssb = aggregate(col("gs"), lit(0.0), (a, x) =>
      a + x.getField("n").cast("double") * ((m(x) - gm) * (m(x) - gm)))
    val ssw = aggregate(col("gs"), lit(0.0), (a, x) =>
      a + (x.getField("q").cast("double") / lit(10000.0) -
        x.getField("n").cast("double") * m(x) * m(x)))
    val fStat = when(col("k") > 1 && col("n_tot") > col("k") && ssw > 0.0,
      (ssb / (col("k") - 1).cast("double")) /
        (ssw / (col("n_tot") - col("k")).cast("double")))
    val eta2 = when(ssb + ssw > 0.0, ssb / (ssb + ssw))
    folded.select(col("k"), col("n_tot").as("n"),
      Parity.r2(ssb).as("ssb"), Parity.r2(ssw).as("ssw"),
      Parity.r6(fStat).as("f_stat"), Parity.r6(eta2).as("eta2"))
  }

  /** Two-predictor OLS (price ~ quantity + discount) per return flag,
    * solved in closed form from the normal equations via Cramer's rule
    * — the multiple-regression step up from the built-in regr_slope
    * pair (agg_regression), done without any iterative solver: ONE
    * map-side-combinable hash-agg collects the 9 cross-moments and the
    * 3×3 solve happens on that metadata row. EXACT-INTEGER moments:
    * quantity is integral, discount/price 2-decimal, so every Σ is an
    * exact BIGINT (Σy² alone needs 128 bits at fleet scale — Spark
    * sums it as Decimal(38,0), DuckDB as HUGEINT; both cast to the
    * same nearest double). The scaled double moments are then each ONE
    * division from exact integers, and determinants/coefficients/R²
    * are a fixed IEEE op sequence mirrored textually — bit-identical
    * cross-engine regardless of the cancellation in the moment
    * formulas. det≠0 and SST>0 guards mirrored as CASE WHEN. */
  private def statsOlsMulti(spark: SparkSession, dir: String): DataFrame = {
    val b = lineitem(spark, dir).select(col("l_returnflag"),
      col("l_quantity").cast("long").as("x1"),
      floor(col("l_discount") * 100 + lit(0.5)).cast("long").as("x2c"),
      floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long").as("yc"))
    val g = b.groupBy(col("l_returnflag")).agg(
      count(lit(1)).as("n"),
      sum(col("x1")).as("s1"), sum(col("x2c")).as("s2c"),
      sum(col("x1") * col("x1")).as("s11"),
      sum(col("x1") * col("x2c")).as("s12c"),
      sum(col("x2c") * col("x2c")).as("s22c"),
      sum(col("yc")).as("syc"),
      sum(col("x1") * col("yc")).as("s1yc"),
      sum(col("x2c") * col("yc")).as("s2yc"),
      sum((col("yc") * col("yc")).cast(DecimalType(38, 0))).as("syyc"))
    val nd = col("n").cast("double")
    val f1 = col("s1").cast("double")
    val f2 = col("s2c").cast("double") / lit(100.0)
    val f11 = col("s11").cast("double")
    val f12 = col("s12c").cast("double") / lit(100.0)
    val f22 = col("s22c").cast("double") / lit(10000.0)
    val fy = col("syc").cast("double") / lit(100.0)
    val f1y = col("s1yc").cast("double") / lit(100.0)
    val f2y = col("s2yc").cast("double") / lit(10000.0)
    val fyy = col("syyc").cast("double") / lit(10000.0)
    val det = nd * (f11 * f22 - f12 * f12) - f1 * (f1 * f22 - f12 * f2) +
      f2 * (f1 * f12 - f11 * f2)
    val det0 = fy * (f11 * f22 - f12 * f12) - f1 * (f1y * f22 - f12 * f2y) +
      f2 * (f1y * f12 - f11 * f2y)
    val det1 = nd * (f1y * f22 - f12 * f2y) - fy * (f1 * f22 - f12 * f2) +
      f2 * (f1 * f2y - f1y * f2)
    val det2 = nd * (f11 * f2y - f1y * f12) - f1 * (f1 * f2y - f1y * f2) +
      fy * (f1 * f12 - f11 * f2)
    val b0 = when(abs(det) > 0.0, det0 / det)
    val b1 = when(abs(det) > 0.0, det1 / det)
    val b2 = when(abs(det) > 0.0, det2 / det)
    val sst = fyy - fy * fy / nd
    val r2s = when(sst > 0.0,
      lit(1.0) - (fyy - (b0 * fy + b1 * f1y + b2 * f2y)) / sst)
    g.select(col("l_returnflag"), col("n"),
      Parity.r2(b0).as("b0"), Parity.r4(b1).as("b1"), Parity.r2(b2).as("b2"),
      Parity.r6(r2s).as("r2"))
      .orderBy(col("l_returnflag"))
  }

  /** Robust outlier detection per return flag — median/MAD location
    * and scale (immune to the very outliers they hunt, unlike
    * mean/stddev z-scores) with the Hampel robust-z cut at 3.5, plus
    * the top-3 most extreme rows per group as evidence. The curation
    * use: price/length anomaly screens on corpora where heavy tails
    * would drag a classical z-score's own baseline.
    *
    * Scale discipline (the [[binSelectQuantilesOn]] path — the
    * measure is ~97% unique, so a value-histogram cumulative window
    * would cap reducer parallelism at #groups): median and MAD are
    * both two-phase bin selections (the MAD one over the
    * broadcast-derived deviation column), the outlier count is one
    * conditional map-side-combinable agg, and the top-3 window runs
    * only over the rows of the top deviation BINS holding ≥ 3 rows
    * per group (|z| is monotone in dev, so the cut provably contains
    * the top-3) — never a per-group sort of raw rows. Ranking
    * compares unrounded z — bit-identical inputs ⇒ identical order;
    * ties break on row id. */
  private def statsMadOutliers(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // MATERIALIZATION TRIED AND MEASURED (round 12): the five phases
    // below re-consume this 4-column projection ~6 times, so the
    // obvious move is to materialize it once. Measured warm at sf0.1
    // (3 runs): plain re-scans 2.8-3.0 s; localCheckpoint
    // 3.6-4.1 s; fanout+localCheckpoint 4.3-4.9 s; Dataset .cache()
    // 3.7-4.3 s — every replay variant LOSES to re-reading the
    // vectorized, column-pruned parquet locally, because the wall time
    // here is job/collect barriers and windows, not the (sub-0.2 s)
    // scans. Keeping the declarative scans: on a cluster where the
    // projected fact slice is expensive to re-read, callers cache the
    // source relation at the session level; cold-JVM latency is the
    // bench warm-up's job (recorded as warmup_s since round 12).
    val li = lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice").as("v"))
    // med and mad are ≤#groups-row metadata: collect them (the
    // bounded-collect discipline — same as statsWinsorize's bounds)
    // and re-inject as literal relations, otherwise each downstream
    // consumer re-executes the whole two-phase bin-select subplan
    // under its join (measured 22 s vs 1 s at sf0.1)
    val med = binSelectQuantilesOn(li, "l_returnflag", "v", Seq(0.5), 1000.0)
      .select(col("l_returnflag"), col("q")).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
      .toDF("l_returnflag", "med")
    val dev = li.join(broadcast(med), Seq("l_returnflag"))
      .withColumn("dev", abs(col("v") - col("med")))
    val mad = binSelectQuantilesOn(dev, "l_returnflag", "dev", Seq(0.5), 1000.0)
      .select(col("l_returnflag"), col("q")).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
      .toDF("l_returnflag", "mad")
    val zOf = (v: Column, m: Column, s: Column) => lit(0.6745) * (v - m) / s
    // ONE (flag, dev-bin) aggregation carries bin counts AND the exact
    // per-bin outlier tally (med/mad are literals by now, so the
    // Hampel predicate folds into the same map-side combine)
    val devBins = dev.join(broadcast(mad), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"), floor(col("dev") / 1000.0).cast("long").as("bin"))
      .agg(count(lit(1)).as("c"),
        sum(when(col("mad") > 0.0 &&
          abs(zOf(col("v"), col("med"), col("mad"))) > 3.5, 1L)
          .otherwise(0L)).as("co"))
    val n = devBins.groupBy(col("l_returnflag"))
      .agg(sum(col("c")).as("n"), sum(col("co")).as("n_outliers"))
    // the smallest bin index whose top-down cumulative count reaches 3:
    // rows above it cannot fill the podium, rows at-or-above contain it
    val wTop = Window.partitionBy(col("l_returnflag")).orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cutoff = devBins.withColumn("cumtop", sum(col("c")).over(wTop))
      .filter(col("cumtop") >= 3)
      .groupBy(col("l_returnflag")).agg(max(col("bin")).as("cutbin"))
    val full = med.join(broadcast(mad), Seq("l_returnflag"))
      .join(broadcast(n), Seq("l_returnflag"))
      .join(broadcast(cutoff), Seq("l_returnflag"))
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(abs(col("z")).desc, col("l_orderkey"), col("l_linenumber"))
    li.join(broadcast(full), Seq("l_returnflag"))
      .filter(floor(abs(col("v") - col("med")) / 1000.0).cast("long") >=
        col("cutbin"))
      .withColumn("z", when(col("mad") > 0.0,
        zOf(col("v"), col("med"), col("mad"))))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("l_returnflag"), col("rnk"), col("l_orderkey"),
        col("l_linenumber"), col("v"), Parity.r6(col("z")).as("z"),
        Parity.r4(col("med")).as("med"), Parity.r4(col("mad")).as("mad"),
        col("n"), col("n_outliers"))
      .orderBy(col("l_returnflag"), col("rnk"))
  }

  /** Prospective POWER ANALYSIS for the purchase-value metric — the
    * experiment-design companion to [[statsWelchTtest]]: given the
    * corpus-estimated variance and a minimum detectable effect of 5%
    * of the mean, the required per-arm sample size for 80% and 90%
    * power at α=0.05 is n = 2(z_{α/2}+z_β)²σ²/δ² — the number a team
    * computes BEFORE launching the A/B test the t-test later reads
    * out. Same exact-integer moment discipline (cents BIGINTs, one
    * conditional global hash-agg); z-sum constants are inlined as
    * double literals and every constant is CAST AS DOUBLE before any
    * arithmetic on both engines (the decimal-fold trap), so the ceil
    * lands on bit-identical doubles. */
  private def statsPowerSampleSize(spark: SparkSession, dir: String): DataFrame = {
    val g = events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"),
        sum(col("cents") * col("cents")).as("q"))
    val nd = col("n").cast("double")
    val mean = col("s").cast("double") / nd / lit(100.0)
    val variance = (col("q").cast("double") / lit(10000.0) - nd * mean * mean) /
      (nd - lit(1.0))
    val delta = lit(0.05) * mean
    // z_{0.025} + z_{0.2} and z_{0.025} + z_{0.1}
    val z80 = lit(2.8015852)
    val z90 = lit(3.2415516)
    def nArm(z: Column) = when(col("n") > 1 && delta > 0.0,
      ceil(lit(2.0) * (z * z) * variance / (delta * delta)).cast("long"))
    g.select(col("n"),
      when(col("n") > 0, Parity.r6(mean)).as("mean"),
      when(col("n") > 1, Parity.r4(sqrt(variance))).as("sd"),
      when(col("n") > 0, Parity.r6(delta)).as("delta"),
      nArm(z80).as("n_per_arm_80"), nArm(z90).as("n_per_arm_90"))
  }

  /** Benjamini–Hochberg FDR control over a FAMILY of A/B readouts —
    * the multiple-testing step every experimentation platform runs
    * between "25 segment-level p-values" and "which segments actually
    * moved": Welch z per nation (order value between md5-split
    * customer arms), p = 2(1−Φ(|z|)) via the Abramowitz–Stegun 7.1.26
    * erf polynomial (elementary ops + one exp — mirrored TEXTUALLY in
    * the oracle, the sigmoid precedent), then the BH step-up: sort p
    * ascending, k = max{i : p(i) ≤ i·q/m} at q = 0.10, declare ranks
    * ≤ k. Naive per-test α would declare every nation at these n;
    * BH's adaptive cut is the point of the operator.
    *
    * Scale: moments are ONE conditional hash-agg collapsing orders to
    * 25 metadata rows; ranking and the step-up run on those rows. */
  private def statsBhFdr(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = orders(spark, dir)
      .join(customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(nation(spark, dir), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"),
        (conv(substring(md5(concat(lit("bh:"), col("o_custkey").cast("string"))),
          1, 2), 16, 10).cast("long") % 2).as("arm"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
    val g = base.groupBy(col("nation")).agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === 0, col("cents")).otherwise(0L)).as("s_a"),
      sum(when(col("arm") === 0, col("cents") * col("cents")).otherwise(0L)
        .cast(DecimalType(38, 0))).as("q_a"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("arm") === 1, col("cents")).otherwise(0L)).as("s_b"),
      sum(when(col("arm") === 1, col("cents") * col("cents")).otherwise(0L)
        .cast(DecimalType(38, 0))).as("q_b"))
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    val ma = col("s_a").cast("double") / na / lit(100.0)
    val mb = col("s_b").cast("double") / nb / lit(100.0)
    val va = (col("q_a").cast("double") / lit(10000.0) - na * ma * ma) /
      (na - lit(1.0))
    val vb = (col("q_b").cast("double") / lit(10000.0) - nb * mb * mb) /
      (nb - lit(1.0))
    val se2 = va / na + vb / nb
    val ok = col("n_a") > 1 && col("n_b") > 1 && se2 > 0.0
    val z = (ma - mb) / sqrt(se2)
    // p = 2(1−Φ(|z|)) = erfc(|z|/√2) ≈ poly(t)·e^{−x²}, A&S 7.1.26
    val x = abs(z) / sqrt(lit(2.0))
    val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
    val poly = (((((lit(1.061405429) * t - lit(1.453152027)) * t +
      lit(1.421413741)) * t - lit(0.284496736)) * t + lit(0.254829592)) * t)
    val scored = g.select(col("nation"), col("n_a"), col("n_b"),
      when(ok, z).as("zraw"),
      when(ok, poly * exp(-(x * x))).otherwise(lit(1.0)).as("p"))
    val all = Window.partitionBy(lit(1))
    scored
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("p"), col("nation"))).cast("long"))
      .withColumn("m", count(lit(1)).over(all))
      .withColumn("sig", col("p") <=
        col("rnk").cast("double") * lit(0.1) / col("m").cast("double"))
      .withColumn("k", max(when(col("sig"), col("rnk")).otherwise(0L)).over(all))
      .select(col("nation"), col("n_a"), col("n_b"),
        Parity.r6(col("zraw")).as("z"),
        Parity.r6(col("p")).as("p_value"), col("rnk"),
        when(col("rnk") <= col("k"), 1L).otherwise(0L).as("discovered"))
      .orderBy(col("rnk"))
  }

  /** CUPED variance reduction for the purchase-value A/B readout —
    * "use each user's PRE-experiment activity as a control variate":
    * ŷᵤ = yᵤ − θ(xᵤ − x̄) with θ = cov(x,y)/var(x) strips the
    * between-user variance the covariate explains, shrinking the
    * experiment's CI at zero bias (θ from pooled pre-period data).
    * The arm-level adjusted means need NO second pass:
    * adjᵃ = ȳᵃ − θ(x̄ᵃ − x̄). Covariance/variance differences form in
    * exact DECIMAL(38,0) (the Spearman discipline — no cancellation
    * at any n), and the reported reduction is ρ² = cov²/(vₓ·v_y),
    * the fraction of metric variance the covariate removes.
    *
    * Scale: one combinable per-user agg (the covariate and metric in
    * a single pass via conditional sums against the broadcast cutoff
    * date), then ONE global conditional agg to a single metadata row. */
  private def statsCuped(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir).select(col("user_id"), col("event_type"),
      to_date(col("ts")).as("day"), col("value"))
    val cut = ev.agg(date_add(min(col("day")), 15).as("cutoff"))
    val u = ev.crossJoin(broadcast(cut))
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("day") < col("cutoff"), 1L).otherwise(0L)).as("x"),
        sum(when(col("day") >= col("cutoff") && col("event_type") === "purchase",
          floor(col("value") * 100 + lit(0.5)).cast("long")).otherwise(0L))
          .as("y"))
      .select(col("x"), col("y"),
        (conv(substring(md5(concat(lit("cu:"), col("user_id").cast("string"))),
          1, 2), 16, 10).cast("long") % 2).as("arm"))
    val dec = DecimalType(38, 0)
    val g = u.agg(
      count(lit(1)).cast("long").as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum((col("x") * col("x")).cast(dec)).as("sxx"),
      sum((col("x") * col("y")).cast(dec)).as("sxy"),
      sum((col("y") * col("y")).cast(dec)).as("syy"),
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === 0, col("x")).otherwise(0L)).as("sx_a"),
      sum(when(col("arm") === 0, col("y")).otherwise(0L)).as("sy_a"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("arm") === 1, col("x")).otherwise(0L)).as("sx_b"),
      sum(when(col("arm") === 1, col("y")).otherwise(0L)).as("sy_b"))
    val nDec = col("n").cast(dec)
    val covN = (nDec * col("sxy") -
      col("sx").cast(dec) * col("sy").cast(dec)).cast("double")
    val vxN = (nDec * col("sxx") -
      col("sx").cast(dec) * col("sx").cast(dec)).cast("double")
    val vyN = (nDec * col("syy") -
      col("sy").cast(dec) * col("sy").cast(dec)).cast("double")
    val ok = col("n_a") > 0 && col("n_b") > 0 && vxN > 0.0 && vyN > 0.0
    val theta = covN / vxN
    val xbar = col("sx").cast("double") / col("n").cast("double")
    val xa = col("sx_a").cast("double") / col("n_a").cast("double")
    val xb = col("sx_b").cast("double") / col("n_b").cast("double")
    val yca = col("sy_a").cast("double") / col("n_a").cast("double")
    val ycb = col("sy_b").cast("double") / col("n_b").cast("double")
    val adjA = (yca - theta * (xa - xbar)) / lit(100.0)
    val adjB = (ycb - theta * (xb - xbar)) / lit(100.0)
    g.select(col("n").as("n_users"), col("n_a"), col("n_b"),
      when(ok, Parity.r6(theta)).as("theta"),
      when(col("n_a") > 0, Parity.r6(yca / lit(100.0))).as("mean_a"),
      when(col("n_b") > 0, Parity.r6(ycb / lit(100.0))).as("mean_b"),
      when(ok, Parity.r6(adjA)).as("mean_adj_a"),
      when(ok, Parity.r6(adjB)).as("mean_adj_b"),
      when(ok, Parity.r6(adjA - adjB)).as("diff_adj"),
      when(ok, Parity.r6(covN * covN / (vxN * vyN))).as("var_reduction"))
  }

  /** Distribution-free (order-statistic) confidence interval for the
    * MEDIAN quantity per return flag — the uncertainty a median
    * dashboard should ship with its point estimate, with no normality
    * assumption: the binomial argument puts ~95% coverage between the
    * order statistics at ranks (n+1)/2 ∓ z·√n/2, so the CI is two
    * rank lookups, not a resampling loop (stats_bootstrap_ci is the
    * general-functional fallback; for quantiles the closed form is
    * exact and free). The measure is discrete (~50 values), so rank
    * lookups come from the per-group VALUE HISTOGRAM — cumulative
    * window over ≤50 metadata rows, then one conditional min-agg per
    * rank. Ranks use one sqrt each (floor/ceil of identical doubles
    * cross-engine); everything else is exact integers.
    *
    * Scale: one combinable histogram agg; no per-row sort anywhere
    * (contrast aggPercentile's documented naive window twin). */
  private def statsMedianCi(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = lineitem(spark, dir)
      .groupBy(col("l_returnflag").as("flag"),
        col("l_quantity").cast("long").as("q"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val cumW = Window.partitionBy(col("flag")).orderBy(col("q"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val byF = Window.partitionBy(col("flag"))
    val c = h
      .withColumn("cum", sum(col("cnt")).over(cumW))
      .withColumn("n", sum(col("cnt")).over(byF))
    val nd = col("n").cast("double")
    val half = (nd + lit(1.0)) / lit(2.0)
    val spread = lit(1.959964) * sqrt(nd) / lit(2.0)
    val k = c
      .withColumn("lo", greatest(lit(1L), floor(half - spread).cast("long")))
      .withColumn("hi", least(col("n"), ceil(half + spread).cast("long")))
      .withColumn("m1", floor(half).cast("long"))
      .withColumn("m2", ceil(half).cast("long"))
    def valAt(r: String): Column = min(when(col("cum") >= col(r), col("q")))
    k.groupBy(col("flag"))
      .agg(min(col("n")).as("n"),
        min(col("lo")).as("lo_rank"), min(col("hi")).as("hi_rank"),
        valAt("lo").as("ci_low"),
        ((valAt("m1").cast("double") + valAt("m2").cast("double")) / lit(2.0))
          .as("median"),
        valAt("hi").as("ci_high"))
      .select(col("flag").as("l_returnflag"), col("n"), col("lo_rank"),
        col("hi_rank"), col("ci_low"), col("median"), col("ci_high"))
      .orderBy(col("l_returnflag"))
  }

  /** Mix-shift decomposition (Oaxaca–Blinder style) — the "why did the
    * average move" autopsy every metrics review needs: the change in
    * grand-mean order value between two periods splits EXACTLY into
    * Σᵢ w₂ᵢ(m₂ᵢ − m₁ᵢ)  (WITHIN: segments themselves moved, at new
    * weights) + Σᵢ (w₂ᵢ − w₁ᵢ)m₁ᵢ  (MIX: the customer base shifted
    * between segments, at old means). A flat per-segment world with a
    * changed mix moves the topline with zero within effect — the
    * decomposition names which story is true, per nation.
    *
    * Determinism: per-cell means/weights are exact-int ratios; the
    * only cross-segment sums (the two totals) run over per-nation
    * contributions QUANTIZED to 1e-8 BIGINTs (order-free exact sums),
    * while the headline Δ comes directly from exact period moments.
    * Scale: ONE conditional (nation, period) hash-agg, then windows
    * over the 25-row metadata relation. */
  private def statsMixShift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = orders(spark, dir)
      .join(customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(nation(spark, dir), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"),
        when(col("o_orderdate") < to_date(lit("1996-01-01")), 0L).otherwise(1L)
          .as("period"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
    val g = base.groupBy(col("nation")).agg(
      sum(when(col("period") === 0, 1L).otherwise(0L)).as("n1"),
      sum(when(col("period") === 0, col("cents")).otherwise(0L)).as("s1"),
      sum(when(col("period") === 1, 1L).otherwise(0L)).as("n2"),
      sum(when(col("period") === 1, col("cents")).otherwise(0L)).as("s2"))
    val all = Window.partitionBy(lit(1))
    val t = g
      .withColumn("tn1", sum(col("n1")).over(all))
      .withColumn("ts1", sum(col("s1")).over(all))
      .withColumn("tn2", sum(col("n2")).over(all))
      .withColumn("ts2", sum(col("s2")).over(all))
    val m1 = col("s1").cast("double") / col("n1").cast("double") / lit(100.0)
    val m2 = col("s2").cast("double") / col("n2").cast("double") / lit(100.0)
    val w1 = col("n1").cast("double") / col("tn1").cast("double")
    val w2 = col("n2").cast("double") / col("tn2").cast("double")
    val gm1 = col("ts1").cast("double") / col("tn1").cast("double") / lit(100.0)
    val gm2 = col("ts2").cast("double") / col("tn2").cast("double") / lit(100.0)
    val ok = col("n1") > 0 && col("n2") > 0
    val within = w2 * (m2 - m1)
    val mix = (w2 - w1) * m1
    val c = t
      .withColumn("wq",
        when(ok, floor(within * lit(1.0e8) + lit(0.5)).cast("long")).otherwise(0L))
      .withColumn("mq",
        when(ok, floor(mix * lit(1.0e8) + lit(0.5)).cast("long")).otherwise(0L))
      .withColumn("twq", sum(col("wq")).over(all))
      .withColumn("tmq", sum(col("mq")).over(all))
    c.select(col("nation"), col("n1"), col("n2"),
        when(col("n1") > 0, Parity.r6(m1)).as("mean_p1"),
        when(col("n2") > 0, Parity.r6(m2)).as("mean_p2"),
        when(col("n1") > 0, Parity.r6(w1)).as("w_p1"),
        when(col("n2") > 0, Parity.r6(w2)).as("w_p2"),
        when(ok, Parity.r6(within)).as("within_effect"),
        when(ok, Parity.r6(mix)).as("mix_effect"),
        Parity.r6(gm2 - gm1).as("delta_total"),
        Parity.r6(col("twq").cast("double") / lit(1.0e8)).as("within_total"),
        Parity.r6(col("tmq").cast("double") / lit(1.0e8)).as("mix_total"))
      .orderBy(col("nation"))
  }

  /** TOST equivalence test — the readout naive A/B testing cannot give:
    * "are the arms the SAME to within ±δ?" (a non-significant z is NOT
    * evidence of equivalence — it's just absence of evidence). Two
    * one-sided Welch tests against the margins ±δ (δ = 5% of the pooled
    * mean): z_low = (diff+δ)/se vs H₀ diff ≤ −δ, z_up = (δ−diff)/se vs
    * H₀ diff ≥ δ; p_tost = max of the two one-sided p's, equivalence
    * declared at p < 0.05. One-sided p = ½·erfc(z/√2) via the shared
    * A&S polynomial, with the z<0 branch as 1 − ½·erfc(−z/√2) —
    * mirrored textually (stats_bh_fdr precedent). ONE conditional
    * global agg; everything else is a fixed double sequence on the
    * single metadata row. */
  private def statsTostEquivalence(spark: SparkSession, dir: String): DataFrame = {
    val p = events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(
        (conv(substring(md5(concat(lit("eq:"), col("user_id").cast("string"))),
          1, 2), 16, 10).cast("long") % 2).as("variant"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
    val g = p.agg(
      sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("variant") === 0, col("cents")).otherwise(0L)).as("s_a"),
      sum(when(col("variant") === 0, col("cents") * col("cents")).otherwise(0L))
        .as("q_a"),
      sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("variant") === 1, col("cents")).otherwise(0L)).as("s_b"),
      sum(when(col("variant") === 1, col("cents") * col("cents")).otherwise(0L))
        .as("q_b"))
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    val ma = col("s_a").cast("double") / na / lit(100.0)
    val mb = col("s_b").cast("double") / nb / lit(100.0)
    val va = (col("q_a").cast("double") / lit(10000.0) - na * ma * ma) /
      (na - lit(1.0))
    val vb = (col("q_b").cast("double") / lit(10000.0) - nb * mb * mb) /
      (nb - lit(1.0))
    val se2 = va / na + vb / nb
    val pooled = (col("s_a") + col("s_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double") / lit(100.0)
    val delta = lit(0.05) * pooled
    val diff = ma - mb
    val zLow = (diff + delta) / sqrt(se2)
    val zUp = (delta - diff) / sqrt(se2)
    // one-sided p = ½ erfc(z/√2); z<0 branch via symmetry
    def halfErfc(x: Column): Column = {
      val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
      lit(0.5) * ((((((lit(1.061405429) * t - lit(1.453152027)) * t +
        lit(1.421413741)) * t - lit(0.284496736)) * t + lit(0.254829592)) * t)
        * exp(-(x * x)))
    }
    def oneSidedP(z: Column): Column =
      when(z >= 0.0, halfErfc(z / sqrt(lit(2.0))))
        .otherwise(lit(1.0) - halfErfc((-z) / sqrt(lit(2.0))))
    val ok = col("n_a") > 1 && col("n_b") > 1 && se2 > 0.0
    val pTost = greatest(oneSidedP(zLow), oneSidedP(zUp))
    g.select(col("n_a"), col("n_b"),
      when(ok, Parity.r6(diff)).as("diff"),
      Parity.r6(delta).as("delta"),
      when(ok, Parity.r6(sqrt(se2))).as("se"),
      when(ok, Parity.r6(zLow)).as("z_lower"),
      when(ok, Parity.r6(zUp)).as("z_upper"),
      when(ok, Parity.r6(pTost)).as("p_tost"),
      when(ok && pTost < 0.05, 1L).otherwise(0L).as("equivalent"))
  }

  /** Empirical-Bayes (James–Stein style) shrinkage of per-nation mean
    * order values toward the grand mean — the estimator a segment
    * dashboard should show instead of raw small-sample means: each
    * nation's mean is pulled toward the pooled mean by
    * B = (σ²ᵢ/nᵢ)/(σ²ᵢ/nᵢ + τ̂²), with τ̂² the method-of-moments
    * between-group variance (observed spread of group means minus the
    * sampling noise expected under τ = 0, floored at 0). Noisy small
    * segments shrink hard; precise large ones barely move —
    * Stein's paradox working as a feature.
    *
    * Determinism: the only cross-group sums (Στ moments over the 25
    * group means) run over 1e-6-QUANTIZED means as exact integers
    * (Σ(k·mqᵢ − Σmq)² in DECIMAL — order-free), and the same
    * quantized σ²ᵢ/nᵢ feeds both τ̂² and B, so every derived double is
    * a fixed op sequence on exact ints. Scale: one conditional
    * hash-agg to 25 metadata rows + windows on them. */
  private def statsEbShrinkage(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = DecimalType(38, 0)
    val base = orders(spark, dir)
      .join(customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(nation(spark, dir), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
    val g = base.groupBy(col("nation")).agg(
      count(lit(1)).cast("long").as("n"),
      sum(col("cents")).as("s"),
      sum((col("cents") * col("cents")).cast(dec)).as("q"))
    val nd = col("n").cast("double")
    val m = col("s").cast("double") / nd / lit(100.0)
    val v = (col("q").cast("double") / lit(10000.0) - nd * m * m) /
      (nd - lit(1.0))
    val sem2q = floor(v / nd * lit(1000000.0) + lit(0.5)).cast("long")
    val all = Window.partitionBy(lit(1))
    val c = g
      .withColumn("mq", floor(m * lit(1000000.0) + lit(0.5)).cast("long"))
      .withColumn("sem2q", sem2q)
      .withColumn("k", count(lit(1)).over(all))
      .withColumn("smq", sum(col("mq")).over(all))
      .withColumn("ssem", sum(col("sem2q")).over(all))
      .withColumn("ssq", sum(
        ((col("k") * col("mq") - col("smq")).cast(dec) *
          (col("k") * col("mq") - col("smq")).cast(dec))).over(all))
      .withColumn("sn", sum(col("n")).over(all))
      .withColumn("ss", sum(col("s")).over(all))
    val kd = col("k").cast("double")
    val varMeans = col("ssq").cast("double") /
      (kd * kd * (kd - lit(1.0)) * lit(1.0e12))
    val meanSem2 = col("ssem").cast("double") / kd / lit(1000000.0)
    val tau2 = greatest(varMeans - meanSem2, lit(0.0))
    val gm = col("ss").cast("double") / col("sn").cast("double") / lit(100.0)
    val sem2 = col("sem2q").cast("double") / lit(1000000.0)
    val b = when(sem2 + tau2 > 0.0, sem2 / (sem2 + tau2)).otherwise(lit(0.0))
    c.select(col("nation"), col("n"),
        Parity.r6(m).as("raw_mean"),
        Parity.r6(gm).as("grand_mean"),
        Parity.r6(tau2).as("tau2"),
        Parity.r6(b).as("shrink_b"),
        Parity.r6(b * gm + (lit(1.0) - b) * m).as("shrunk_mean"))
      .orderBy(col("nation"))
  }

  /** Difference-in-differences — the quasi-experimental readout for a
    * rollout WITHOUT clean randomization: compare the treated arm's
    * pre→post change against the control arm's, so any shared trend
    * (seasonality, platform drift) differences out and only the
    * treatment-correlated change remains. Cells are the 2×2
    * (arm × period) purchase-value moments from ONE conditional
    * global agg (exact cents); DiD = (ȳᴮᵖᵒˢᵗ−ȳᴮᵖʳᵉ)−(ȳᴬᵖᵒˢᵗ−ȳᴬᵖʳᵉ)
    * with the four-cell Welch SE, all a fixed double sequence on the
    * single metadata row. Period split = min day + 15 (the CUPED
    * cutoff); arms by md5 of user_id. */
  private def statsDid(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts")).as("day"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
    val cut = ev.agg(date_add(min(col("day")), 15).as("cutoff"))
    val cells = ev.crossJoin(broadcast(cut))
      .select(
        (conv(substring(md5(concat(lit("dd:"), col("user_id").cast("string"))),
          1, 2), 16, 10).cast("long") % 2).as("arm"),
        when(col("day") >= col("cutoff"), 1L).otherwise(0L).as("post"),
        col("cents"))
    def cell(a: Int, p: Int, f: Column): Column =
      sum(when(col("arm") === a && col("post") === p, f).otherwise(0L))
    val g = cells.agg(
      cell(0, 0, lit(1L)).as("n00"), cell(0, 0, col("cents")).as("s00"),
      cell(0, 0, col("cents") * col("cents")).as("q00"),
      cell(0, 1, lit(1L)).as("n01"), cell(0, 1, col("cents")).as("s01"),
      cell(0, 1, col("cents") * col("cents")).as("q01"),
      cell(1, 0, lit(1L)).as("n10"), cell(1, 0, col("cents")).as("s10"),
      cell(1, 0, col("cents") * col("cents")).as("q10"),
      cell(1, 1, lit(1L)).as("n11"), cell(1, 1, col("cents")).as("s11"),
      cell(1, 1, col("cents") * col("cents")).as("q11"))
    def m(n: String, s: String): Column =
      col(s).cast("double") / col(n).cast("double") / lit(100.0)
    def vOverN(n: String, s: String, q: String): Column = {
      val nd = col(n).cast("double")
      ((col(q).cast("double") / lit(10000.0) -
        nd * m(n, s) * m(n, s)) / (nd - lit(1.0))) / nd
    }
    val ok = col("n00") > 1 && col("n01") > 1 && col("n10") > 1 && col("n11") > 1
    val did = (m("n11", "s11") - m("n10", "s10")) -
      (m("n01", "s01") - m("n00", "s00"))
    val se2 = vOverN("n00", "s00", "q00") + vOverN("n01", "s01", "q01") +
      vOverN("n10", "s10", "q10") + vOverN("n11", "s11", "q11")
    g.select(
      col("n00"), col("n01"), col("n10"), col("n11"),
      when(col("n00") > 0, Parity.r6(m("n00", "s00"))).as("ctrl_pre"),
      when(col("n01") > 0, Parity.r6(m("n01", "s01"))).as("ctrl_post"),
      when(col("n10") > 0, Parity.r6(m("n10", "s10"))).as("treat_pre"),
      when(col("n11") > 0, Parity.r6(m("n11", "s11"))).as("treat_post"),
      when(ok, Parity.r6(did)).as("did"),
      when(ok && se2 > 0.0, Parity.r6(sqrt(se2))).as("se"),
      when(ok && se2 > 0.0, Parity.r6(did / sqrt(se2))).as("z"))
  }

  /** Group-sequential A/B monitoring — "is it safe to peek?": the
    * cumulative Welch z of the purchase-value split recomputed at
    * every day d, against an O'Brien–Fleming-shaped spending boundary
    * z·√(N/n_d) (very conservative early, →z_crit at full sample), so
    * an experimenter reading the dashboard daily keeps family-wise α
    * instead of the ~5× inflation naive daily 1.96-peeking costs.
    * Cumulative cell moments are window cumsums of exact cents over
    * the ~90-row (day × arm) metadata relation; z and the boundary
    * are fixed double sequences per row; the first-crossing day is a
    * min-over-window on the flags.
    *
    * Scale: the corpus collapses via one combinable (day, arm) agg;
    * every window is metadata-sized. */
  private def statsSequentialMonitor(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(to_date(col("ts")).as("day"),
        (conv(substring(md5(concat(lit("sq:"), col("user_id").cast("string"))),
          1, 2), 16, 10).cast("long") % 2).as("arm"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      .groupBy(col("day")).agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("dn_a"),
        sum(when(col("arm") === 0, col("cents")).otherwise(0L)).as("ds_a"),
        sum(when(col("arm") === 0, col("cents") * col("cents")).otherwise(0L))
          .as("dq_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("dn_b"),
        sum(when(col("arm") === 1, col("cents")).otherwise(0L)).as("ds_b"),
        sum(when(col("arm") === 1, col("cents") * col("cents")).otherwise(0L))
          .as("dq_b"))
    val cum = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy(lit(1))
    val c = daily
      .withColumn("n_a", sum(col("dn_a")).over(cum))
      .withColumn("s_a", sum(col("ds_a")).over(cum))
      .withColumn("q_a", sum(col("dq_a")).over(cum))
      .withColumn("n_b", sum(col("dn_b")).over(cum))
      .withColumn("s_b", sum(col("ds_b")).over(cum))
      .withColumn("q_b", sum(col("dq_b")).over(cum))
      .withColumn("nt_a", sum(col("dn_a")).over(all))
      .withColumn("nt_b", sum(col("dn_b")).over(all))
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    val ma = col("s_a").cast("double") / na / lit(100.0)
    val mb = col("s_b").cast("double") / nb / lit(100.0)
    val va = (col("q_a").cast("double") / lit(10000.0) - na * ma * ma) /
      (na - lit(1.0))
    val vb = (col("q_b").cast("double") / lit(10000.0) - nb * mb * mb) /
      (nb - lit(1.0))
    val se2 = va / na + vb / nb
    val ok = col("n_a") > 1 && col("n_b") > 1 && se2 > 0.0
    val z = (ma - mb) / sqrt(se2)
    // information fraction ≈ pooled cumulative n over final n
    val frac = (col("n_a") + col("n_b")).cast("double") /
      (col("nt_a") + col("nt_b")).cast("double")
    val bound = lit(1.96) / sqrt(frac)
    val scored = c.select(
      date_format(col("day"), "yyyy-MM-dd").as("day"),
      col("n_a"), col("n_b"),
      when(ok, Parity.r6(z)).as("z"),
      Parity.r6(bound).as("boundary"),
      when(ok && abs(z) > bound, 1L).otherwise(0L).as("crossed"))
    scored
      .withColumn("first_cross",
        min(when(col("crossed") === 1L, col("day"))).over(all))
      .orderBy(col("day"))
  }

  /** Spearman rank correlation between quantity and discount per
    * return flag — the monotone-association companion to the Pearson
    * `agg_corr_matrix` (rank-based, so outliers and nonlinearity in
    * the raw scales cannot dominate). Both measures are DISCRETE
    * (~50 quantities, 11 discount steps), so midranks come from the
    * per-group value HISTOGRAM, not a per-row sort: 2·midrank(v) =
    * 2·|{u < v}| + |{u = v}| + 1 is an exact odd integer, and the two
    * doubled-rank relations are metadata-sized (≤ #distinct rows per
    * group) and broadcast back onto the fact rows. All five moments
    * (Σrx, Σry, Σrx², Σry², Σrxry) accumulate as exact DECIMAL(38,0)
    * (doubled ranks are O(n), their products O(n²) — BIGINT overflows
    * near n≈2×10⁹), the covariance/variance differences are formed in
    * exact decimal (no float cancellation at any n), and only the
    * final ratio runs in doubles — bit-identical cross-engine.
    *
    * Scale: one hash-agg to the histogram, two broadcast joins, one
    * map-side-combinable moment agg. No per-row rank sort anywhere —
    * the usual Spearman blocker at fleet scale. */
  private def statsSpearman(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = lineitem(spark, dir).select(
      col("l_returnflag").as("flag"),
      col("l_quantity").cast("long").as("q"),
      floor(col("l_discount") * 100 + lit(0.5)).cast("long").as("dc"))
    def rank2(key: String, out: String): DataFrame = {
      val cumW = Window.partitionBy(col("flag")).orderBy(col(key))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      b.groupBy(col("flag"), col(key)).agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(cumW))
        .select(col("flag"), col(key),
          (lit(2L) * (col("cum") - col("cnt")) + col("cnt") + lit(1L))
            .cast("long").as(out))
    }
    val dec = DecimalType(38, 0)
    val g = b
      .join(broadcast(rank2("q", "r2x")), Seq("flag", "q"))
      .join(broadcast(rank2("dc", "r2y")), Seq("flag", "dc"))
      .groupBy(col("flag")).agg(
        count(lit(1)).cast("long").as("n"),
        sum(col("r2x").cast(dec)).as("sx"),
        sum(col("r2y").cast(dec)).as("sy"),
        sum((col("r2x") * col("r2x")).cast(dec)).as("sxx"),
        sum((col("r2y") * col("r2y")).cast(dec)).as("syy"),
        sum((col("r2x") * col("r2y")).cast(dec)).as("sxy"))
    val nDec = col("n").cast(dec)
    val cov = (nDec * col("sxy") - col("sx") * col("sy")).cast("double")
    val vx = (nDec * col("sxx") - col("sx") * col("sx")).cast("double")
    val vy = (nDec * col("syy") - col("sy") * col("sy")).cast("double")
    g.select(col("flag").as("l_returnflag"), col("n"),
      when(col("n") > 1 && vx > 0.0 && vy > 0.0,
        Parity.r6(cov / (sqrt(vx) * sqrt(vy)))).as("rho_qty_disc"))
      .orderBy(col("l_returnflag"))
  }

  /** Theil–Sen robust trend per event type — slope = median of all
    * pairwise day-to-day slopes of the daily-count series, intercept =
    * median residual at that slope. A single corrupted day moves the
    * OLS line (`agg_regression`) arbitrarily; the median-of-slopes
    * estimator has a 29% breakdown point, which is what a monitoring
    * trend should use when ingest gaps and backfill spikes are facts
    * of life. Every pairwise slope is ONE IEEE division of two exact
    * BIGINTs (count delta / epoch-day delta), medians select by
    * row_number position (even count → mean of the two middles), and
    * residuals are one multiply-subtract per day — a fixed op
    * sequence, bit-identical cross-engine.
    *
    * Scale: the corpus collapses to the (type, day) relation via one
    * map-side-combinable hash-agg; the O(d²) pair explosion and both
    * median windows run on that ~90-row-per-type metadata series. */
  private def statsTheilsen(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events(spark, dir)
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), to_date(lit("1970-01-01")))
          .cast("long").as("t"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val p = daily.as("a").join(daily.as("b"),
        col("a.event_type") === col("b.event_type") && col("a.t") < col("b.t"))
      .select(col("a.event_type").as("event_type"),
        ((col("b.cnt") - col("a.cnt")).cast("double") /
          (col("b.t") - col("a.t")).cast("double")).as("slope"),
        col("a.t").as("t1"), col("b.t").as("t2"))
    def median(df: DataFrame, v: String, out: String, tie: Seq[Column]): DataFrame = {
      val byT = Window.partitionBy(col("event_type"))
      val rn = row_number().over(byT.orderBy(col(v) +: tie: _*))
      df.withColumn("rn", rn.cast("long"))
        .withColumn("m", count(lit(1)).over(byT))
        .filter(col("rn") === floor((col("m") + 1) / lit(2.0)).cast("long") ||
          col("rn") === floor((col("m") + 2) / lit(2.0)).cast("long"))
        .groupBy(col("event_type"))
        .agg((sum(col(v)) / count(lit(1))).as(out), first(col("m")).as(out + "_n"))
    }
    val slopes = median(p, "slope", "slope", Seq(col("t1"), col("t2")))
    val resid = daily.join(broadcast(slopes), Seq("event_type"))
      .select(col("event_type"),
        (col("cnt").cast("double") - col("slope") * col("t").cast("double"))
          .as("r"))
    val icept = median(resid, "r", "icept", Seq(col("r")))
    daily.groupBy(col("event_type")).agg(count(lit(1)).cast("long").as("n_days"))
      .join(slopes, Seq("event_type")).join(icept, Seq("event_type"))
      .select(col("event_type"), col("n_days"),
        col("slope_n").cast("long").as("n_pairs"),
        Parity.r6(col("slope")).as("slope"),
        Parity.r4(col("icept")).as("intercept"))
      .orderBy(col("event_type"))
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("stats_median_ci", Some(
      """WITH h AS (
        |  SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS q,
        |   CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY 1, 2),
        | c AS (
        |  SELECT flag, q, cnt,
        |   CAST(sum(cnt) OVER (PARTITION BY flag ORDER BY q
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |     AS cum,
        |   CAST(sum(cnt) OVER (PARTITION BY flag) AS BIGINT) AS n
        |  FROM h),
        | k AS (
        |  SELECT *,
        |   greatest(1, CAST(floor((CAST(n AS DOUBLE) + 1.0) / 2.0
        |     - 1.959964 * sqrt(CAST(n AS DOUBLE)) / 2.0) AS BIGINT)) AS lo,
        |   least(n, CAST(ceil((CAST(n AS DOUBLE) + 1.0) / 2.0
        |     + 1.959964 * sqrt(CAST(n AS DOUBLE)) / 2.0) AS BIGINT)) AS hi,
        |   CAST(floor((CAST(n AS DOUBLE) + 1.0) / 2.0) AS BIGINT) AS m1,
        |   CAST(ceil((CAST(n AS DOUBLE) + 1.0) / 2.0) AS BIGINT) AS m2
        |  FROM c)
        |SELECT flag AS l_returnflag, CAST(min(n) AS BIGINT) AS n,
        | CAST(min(lo) AS BIGINT) AS lo_rank, CAST(min(hi) AS BIGINT) AS hi_rank,
        | CAST(min(CASE WHEN cum >= lo THEN q END) AS BIGINT) AS ci_low,
        | (CAST(min(CASE WHEN cum >= m1 THEN q END) AS DOUBLE)
        |  + CAST(min(CASE WHEN cum >= m2 THEN q END) AS DOUBLE)) / 2.0
        |  AS median,
        | CAST(min(CASE WHEN cum >= hi THEN q END) AS BIGINT) AS ci_high
        |FROM k GROUP BY flag ORDER BY 1""".stripMargin),
      statsMedianCi),

    QueryDef("stats_mix_shift", Some(
      """WITH b AS (
        |  SELECT n.n_name AS nation,
        |   CASE WHEN o.o_orderdate < DATE '1996-01-01' THEN 0 ELSE 1 END
        |     AS period,
        |   CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders o
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey),
        | g AS (
        |  SELECT nation,
        |   CAST(sum(CASE WHEN period = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |   CAST(sum(CASE WHEN period = 0 THEN cents ELSE 0 END) AS BIGINT) AS s1,
        |   CAST(sum(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |   CAST(sum(CASE WHEN period = 1 THEN cents ELSE 0 END) AS BIGINT) AS s2
        |  FROM b GROUP BY 1),
        | t AS (
        |  SELECT *,
        |   CAST(sum(n1) OVER () AS BIGINT) AS tn1,
        |   CAST(sum(s1) OVER () AS BIGINT) AS ts1,
        |   CAST(sum(n2) OVER () AS BIGINT) AS tn2,
        |   CAST(sum(s2) OVER () AS BIGINT) AS ts2
        |  FROM g),
        | d AS (
        |  SELECT *,
        |   CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 100.0 AS m1,
        |   CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) / 100.0 AS m2,
        |   CAST(n1 AS DOUBLE) / CAST(tn1 AS DOUBLE) AS w1,
        |   CAST(n2 AS DOUBLE) / CAST(tn2 AS DOUBLE) AS w2,
        |   CAST(ts1 AS DOUBLE) / CAST(tn1 AS DOUBLE) / 100.0 AS gm1,
        |   CAST(ts2 AS DOUBLE) / CAST(tn2 AS DOUBLE) / 100.0 AS gm2,
        |   n1 > 0 AND n2 > 0 AS ok
        |  FROM t),
        | e AS (
        |  SELECT *,
        |   CASE WHEN ok THEN CAST(floor((CAST(n2 AS DOUBLE)
        |     / CAST(tn2 AS DOUBLE))
        |     * ((CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) / 100.0)
        |        - (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 100.0))
        |     * 100000000.0 + 0.5) AS BIGINT) ELSE 0 END AS wq,
        |   CASE WHEN ok THEN CAST(floor(((CAST(n2 AS DOUBLE)
        |     / CAST(tn2 AS DOUBLE))
        |     - (CAST(n1 AS DOUBLE) / CAST(tn1 AS DOUBLE)))
        |     * (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 100.0)
        |     * 100000000.0 + 0.5) AS BIGINT) ELSE 0 END AS mq
        |  FROM d),
        | f AS (
        |  SELECT *,
        |   CAST(sum(wq) OVER () AS BIGINT) AS twq,
        |   CAST(sum(mq) OVER () AS BIGINT) AS tmq
        |  FROM e)
        |SELECT nation, n1, n2,
        | CASE WHEN n1 > 0 THEN floor(m1 * 1000000 + 0.5) / 1000000 END
        |   AS mean_p1,
        | CASE WHEN n2 > 0 THEN floor(m2 * 1000000 + 0.5) / 1000000 END
        |   AS mean_p2,
        | CASE WHEN n1 > 0 THEN floor(w1 * 1000000 + 0.5) / 1000000 END AS w_p1,
        | CASE WHEN n2 > 0 THEN floor(w2 * 1000000 + 0.5) / 1000000 END AS w_p2,
        | CASE WHEN ok THEN floor(w2 * (m2 - m1) * 1000000 + 0.5) / 1000000 END
        |   AS within_effect,
        | CASE WHEN ok THEN floor((w2 - w1) * m1 * 1000000 + 0.5) / 1000000 END
        |   AS mix_effect,
        | floor((gm2 - gm1) * 1000000 + 0.5) / 1000000 AS delta_total,
        | floor(CAST(twq AS DOUBLE) / 100000000.0 * 1000000 + 0.5) / 1000000
        |   AS within_total,
        | floor(CAST(tmq AS DOUBLE) / 100000000.0 * 1000000 + 0.5) / 1000000
        |   AS mix_total
        |FROM f ORDER BY nation""".stripMargin),
      statsMixShift),

    QueryDef("stats_tost_equivalence", Some(
      """WITH p AS (
        |  SELECT CAST(('0x' || substr(md5('eq:' || CAST(user_id AS VARCHAR)),
        |    1, 2)) AS BIGINT) % 2 AS variant,
        |   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        | g AS (
        |  SELECT
        |   CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |   CAST(sum(CASE WHEN variant = 0 THEN cents ELSE 0 END) AS BIGINT) AS s_a,
        |   CAST(sum(CASE WHEN variant = 0 THEN cents * cents ELSE 0 END)
        |     AS BIGINT) AS q_a,
        |   CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |   CAST(sum(CASE WHEN variant = 1 THEN cents ELSE 0 END) AS BIGINT) AS s_b,
        |   CAST(sum(CASE WHEN variant = 1 THEN cents * cents ELSE 0 END)
        |     AS BIGINT) AS q_b
        |  FROM p),
        | s AS (
        |  SELECT *,
        |   CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) / 100.0 AS ma,
        |   CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) / 100.0 AS mb,
        |   CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd,
        |   0.05 * (CAST(s_a + s_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)
        |     / 100.0) AS delta
        |  FROM g),
        | v AS (
        |  SELECT *, ma - mb AS diff,
        |   ((CAST(q_a AS DOUBLE) / 10000.0 - nad * ma * ma) / (nad - 1.0)) / nad
        |   + ((CAST(q_b AS DOUBLE) / 10000.0 - nbd * mb * mb) / (nbd - 1.0))
        |     / nbd AS se2
        |  FROM s),
        | zz AS (
        |  SELECT *, (diff + delta) / sqrt(se2) AS zl,
        |   (delta - diff) / sqrt(se2) AS zu,
        |   n_a > 1 AND n_b > 1 AND se2 > 0.0 AS ok
        |  FROM v),
        | xx AS (
        |  SELECT *, abs(zl) / sqrt(2.0) AS xl, abs(zu) / sqrt(2.0) AS xu
        |  FROM zz),
        | tt AS (
        |  SELECT *, 1.0 / (1.0 + 0.3275911 * xl) AS tl,
        |   1.0 / (1.0 + 0.3275911 * xu) AS tu
        |  FROM xx),
        | hh AS (
        |  SELECT *,
        |   0.5 * ((((((1.061405429 * tl - 1.453152027) * tl + 1.421413741) * tl
        |     - 0.284496736) * tl + 0.254829592) * tl) * exp(-(xl * xl))) AS hl,
        |   0.5 * ((((((1.061405429 * tu - 1.453152027) * tu + 1.421413741) * tu
        |     - 0.284496736) * tu + 0.254829592) * tu) * exp(-(xu * xu))) AS hu
        |  FROM tt),
        | pp AS (
        |  SELECT *,
        |   greatest(CASE WHEN zl >= 0.0 THEN hl ELSE 1.0 - hl END,
        |            CASE WHEN zu >= 0.0 THEN hu ELSE 1.0 - hu END) AS p_tost
        |  FROM hh)
        |SELECT n_a, n_b,
        | CASE WHEN ok THEN floor(diff * 1000000 + 0.5) / 1000000 END AS diff,
        | floor(delta * 1000000 + 0.5) / 1000000 AS delta,
        | CASE WHEN ok THEN floor(sqrt(se2) * 1000000 + 0.5) / 1000000 END AS se,
        | CASE WHEN ok THEN floor(zl * 1000000 + 0.5) / 1000000 END AS z_lower,
        | CASE WHEN ok THEN floor(zu * 1000000 + 0.5) / 1000000 END AS z_upper,
        | CASE WHEN ok THEN floor(p_tost * 1000000 + 0.5) / 1000000 END
        |   AS p_tost,
        | CASE WHEN ok AND p_tost < 0.05 THEN CAST(1 AS BIGINT) ELSE 0 END
        |   AS equivalent
        |FROM pp""".stripMargin),
      statsTostEquivalence),

    QueryDef("stats_eb_shrinkage", Some(
      """WITH b AS (
        |  SELECT n.n_name AS nation,
        |   CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders o
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey),
        | g AS (
        |  SELECT nation, CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(cents) AS BIGINT) AS s,
        |   sum(CAST(cents AS HUGEINT) * cents) AS q
        |  FROM b GROUP BY 1),
        | d AS (
        |  SELECT nation, n, s,
        |   CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS m,
        |   (CAST(q AS DOUBLE) / 10000.0
        |     - CAST(n AS DOUBLE)
        |       * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0)
        |       * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0))
        |     / (CAST(n AS DOUBLE) - 1.0) AS v
        |  FROM g),
        | e AS (
        |  SELECT nation, n, s, m, v,
        |   CAST(floor(m * 1000000.0 + 0.5) AS BIGINT) AS mq,
        |   CAST(floor(v / CAST(n AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
        |     AS sem2q
        |  FROM d),
        | c AS (
        |  SELECT nation, n, m, sem2q,
        |   CAST(count(*) OVER () AS BIGINT) AS k,
        |   CAST(sum(mq) OVER () AS BIGINT) AS smq,
        |   CAST(sum(sem2q) OVER () AS BIGINT) AS ssem,
        |   sum(CAST(k0.kk * mq - s0.ss AS HUGEINT)
        |     * (k0.kk * mq - s0.ss)) OVER () AS ssq,
        |   CAST(sum(n) OVER () AS BIGINT) AS sn,
        |   CAST(sum(s) OVER () AS BIGINT) AS ssum
        |  FROM e,
        |   (SELECT CAST(count(*) AS BIGINT) AS kk FROM e) k0,
        |   (SELECT CAST(sum(mq) AS BIGINT) AS ss FROM e) s0),
        | f AS (
        |  SELECT nation, n, m,
        |   CAST(ssq AS DOUBLE)
        |     / (CAST(k AS DOUBLE) * CAST(k AS DOUBLE)
        |        * (CAST(k AS DOUBLE) - 1.0) * 1000000000000.0) AS var_means,
        |   CAST(ssem AS DOUBLE) / CAST(k AS DOUBLE) / 1000000.0 AS mean_sem2,
        |   CAST(ssum AS DOUBLE) / CAST(sn AS DOUBLE) / 100.0 AS gm,
        |   CAST(sem2q AS DOUBLE) / 1000000.0 AS sem2
        |  FROM c),
        | h AS (
        |  SELECT nation, n, m, gm,
        |   greatest(var_means - mean_sem2, 0.0) AS tau2, sem2
        |  FROM f),
        | i AS (
        |  SELECT nation, n, m, gm, tau2,
        |   CASE WHEN sem2 + tau2 > 0.0 THEN sem2 / (sem2 + tau2)
        |        ELSE 0.0 END AS bb
        |  FROM h)
        |SELECT nation, n,
        | floor(m * 1000000 + 0.5) / 1000000 AS raw_mean,
        | floor(gm * 1000000 + 0.5) / 1000000 AS grand_mean,
        | floor(tau2 * 1000000 + 0.5) / 1000000 AS tau2,
        | floor(bb * 1000000 + 0.5) / 1000000 AS shrink_b,
        | floor((bb * gm + (1.0 - bb) * m) * 1000000 + 0.5) / 1000000
        |   AS shrunk_mean
        |FROM i ORDER BY nation""".stripMargin),
      statsEbShrinkage),

    QueryDef("stats_did", Some(
      """WITH ev AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        | cut AS (SELECT min(day) + 15 AS cutoff FROM ev),
        | cells AS (
        |  SELECT
        |   CAST(('0x' || substr(md5('dd:' || CAST(user_id AS VARCHAR)), 1, 2))
        |     AS BIGINT) % 2 AS arm,
        |   CASE WHEN day >= cutoff THEN 1 ELSE 0 END AS post, cents
        |  FROM ev, cut),
        | g AS (
        |  SELECT
        |   CAST(sum(CASE WHEN arm = 0 AND post = 0 THEN 1 ELSE 0 END)
        |     AS BIGINT) AS n00,
        |   CAST(sum(CASE WHEN arm = 0 AND post = 0 THEN cents ELSE 0 END)
        |     AS BIGINT) AS s00,
        |   CAST(sum(CASE WHEN arm = 0 AND post = 0 THEN cents * cents
        |     ELSE 0 END) AS BIGINT) AS q00,
        |   CAST(sum(CASE WHEN arm = 0 AND post = 1 THEN 1 ELSE 0 END)
        |     AS BIGINT) AS n01,
        |   CAST(sum(CASE WHEN arm = 0 AND post = 1 THEN cents ELSE 0 END)
        |     AS BIGINT) AS s01,
        |   CAST(sum(CASE WHEN arm = 0 AND post = 1 THEN cents * cents
        |     ELSE 0 END) AS BIGINT) AS q01,
        |   CAST(sum(CASE WHEN arm = 1 AND post = 0 THEN 1 ELSE 0 END)
        |     AS BIGINT) AS n10,
        |   CAST(sum(CASE WHEN arm = 1 AND post = 0 THEN cents ELSE 0 END)
        |     AS BIGINT) AS s10,
        |   CAST(sum(CASE WHEN arm = 1 AND post = 0 THEN cents * cents
        |     ELSE 0 END) AS BIGINT) AS q10,
        |   CAST(sum(CASE WHEN arm = 1 AND post = 1 THEN 1 ELSE 0 END)
        |     AS BIGINT) AS n11,
        |   CAST(sum(CASE WHEN arm = 1 AND post = 1 THEN cents ELSE 0 END)
        |     AS BIGINT) AS s11,
        |   CAST(sum(CASE WHEN arm = 1 AND post = 1 THEN cents * cents
        |     ELSE 0 END) AS BIGINT) AS q11
        |  FROM cells),
        | d AS (
        |  SELECT *,
        |   CAST(s00 AS DOUBLE) / CAST(n00 AS DOUBLE) / 100.0 AS m00,
        |   CAST(s01 AS DOUBLE) / CAST(n01 AS DOUBLE) / 100.0 AS m01,
        |   CAST(s10 AS DOUBLE) / CAST(n10 AS DOUBLE) / 100.0 AS m10,
        |   CAST(s11 AS DOUBLE) / CAST(n11 AS DOUBLE) / 100.0 AS m11
        |  FROM g),
        | v AS (
        |  SELECT *,
        |   ((CAST(q00 AS DOUBLE) / 10000.0 - CAST(n00 AS DOUBLE) * m00 * m00)
        |     / (CAST(n00 AS DOUBLE) - 1.0)) / CAST(n00 AS DOUBLE)
        |   + ((CAST(q01 AS DOUBLE) / 10000.0 - CAST(n01 AS DOUBLE) * m01 * m01)
        |     / (CAST(n01 AS DOUBLE) - 1.0)) / CAST(n01 AS DOUBLE)
        |   + ((CAST(q10 AS DOUBLE) / 10000.0 - CAST(n10 AS DOUBLE) * m10 * m10)
        |     / (CAST(n10 AS DOUBLE) - 1.0)) / CAST(n10 AS DOUBLE)
        |   + ((CAST(q11 AS DOUBLE) / 10000.0 - CAST(n11 AS DOUBLE) * m11 * m11)
        |     / (CAST(n11 AS DOUBLE) - 1.0)) / CAST(n11 AS DOUBLE) AS se2,
        |   (m11 - m10) - (m01 - m00) AS did,
        |   n00 > 1 AND n01 > 1 AND n10 > 1 AND n11 > 1 AS ok
        |  FROM d)
        |SELECT n00, n01, n10, n11,
        | CASE WHEN n00 > 0 THEN floor(m00 * 1000000 + 0.5) / 1000000 END
        |   AS ctrl_pre,
        | CASE WHEN n01 > 0 THEN floor(m01 * 1000000 + 0.5) / 1000000 END
        |   AS ctrl_post,
        | CASE WHEN n10 > 0 THEN floor(m10 * 1000000 + 0.5) / 1000000 END
        |   AS treat_pre,
        | CASE WHEN n11 > 0 THEN floor(m11 * 1000000 + 0.5) / 1000000 END
        |   AS treat_post,
        | CASE WHEN ok THEN floor(did * 1000000 + 0.5) / 1000000 END AS did,
        | CASE WHEN ok AND se2 > 0.0 THEN
        |  floor(sqrt(se2) * 1000000 + 0.5) / 1000000 END AS se,
        | CASE WHEN ok AND se2 > 0.0 THEN
        |  floor(did / sqrt(se2) * 1000000 + 0.5) / 1000000 END AS z
        |FROM v""".stripMargin),
      statsDid),

    QueryDef("stats_sequential_monitor", Some(
      """WITH b AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |   CAST(('0x' || substr(md5('sq:' || CAST(user_id AS VARCHAR)), 1, 2))
        |     AS BIGINT) % 2 AS arm,
        |   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        | daily AS (
        |  SELECT day,
        |   CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS dn_a,
        |   CAST(sum(CASE WHEN arm = 0 THEN cents ELSE 0 END) AS BIGINT) AS ds_a,
        |   CAST(sum(CASE WHEN arm = 0 THEN cents * cents ELSE 0 END)
        |     AS BIGINT) AS dq_a,
        |   CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS dn_b,
        |   CAST(sum(CASE WHEN arm = 1 THEN cents ELSE 0 END) AS BIGINT) AS ds_b,
        |   CAST(sum(CASE WHEN arm = 1 THEN cents * cents ELSE 0 END)
        |     AS BIGINT) AS dq_b
        |  FROM b GROUP BY 1),
        | c AS (
        |  SELECT day,
        |   CAST(sum(dn_a) OVER cum AS BIGINT) AS n_a,
        |   CAST(sum(ds_a) OVER cum AS BIGINT) AS s_a,
        |   CAST(sum(dq_a) OVER cum AS BIGINT) AS q_a,
        |   CAST(sum(dn_b) OVER cum AS BIGINT) AS n_b,
        |   CAST(sum(ds_b) OVER cum AS BIGINT) AS s_b,
        |   CAST(sum(dq_b) OVER cum AS BIGINT) AS q_b,
        |   CAST(sum(dn_a) OVER () AS BIGINT) AS nt_a,
        |   CAST(sum(dn_b) OVER () AS BIGINT) AS nt_b
        |  FROM daily
        |  WINDOW cum AS (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        | s AS (
        |  SELECT day, n_a, n_b,
        |   CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) / 100.0 AS ma,
        |   CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) / 100.0 AS mb,
        |   CAST(q_a AS DOUBLE) AS qa, CAST(q_b AS DOUBLE) AS qb,
        |   CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd,
        |   CAST(n_a + n_b AS DOUBLE) / CAST(nt_a + nt_b AS DOUBLE) AS frac
        |  FROM c),
        | t AS (
        |  SELECT day, n_a, n_b, ma, mb, frac,
        |   ((qa / 10000.0 - nad * ma * ma) / (nad - 1.0)) / nad
        |   + ((qb / 10000.0 - nbd * mb * mb) / (nbd - 1.0)) / nbd AS se2
        |  FROM s),
        | f AS (
        |  SELECT strftime(day, '%Y-%m-%d') AS day, n_a, n_b,
        |   CASE WHEN n_a > 1 AND n_b > 1 AND se2 > 0.0 THEN
        |    floor((ma - mb) / sqrt(se2) * 1000000 + 0.5) / 1000000 END AS z,
        |   floor(1.96 / sqrt(frac) * 1000000 + 0.5) / 1000000 AS boundary,
        |   CASE WHEN n_a > 1 AND n_b > 1 AND se2 > 0.0
        |         AND abs((ma - mb) / sqrt(se2)) > 1.96 / sqrt(frac)
        |        THEN CAST(1 AS BIGINT) ELSE 0 END AS crossed
        |  FROM t)
        |SELECT day, n_a, n_b, z, boundary, crossed,
        | min(CASE WHEN crossed = 1 THEN day END) OVER () AS first_cross
        |FROM f ORDER BY day""".stripMargin),
      statsSequentialMonitor),

    QueryDef("stats_bh_fdr", Some(
      """WITH b AS (
        |  SELECT n.n_name AS nation,
        |   CAST(('0x' || substr(md5('bh:' || CAST(o.o_custkey AS VARCHAR)),
        |     1, 2)) AS BIGINT) % 2 AS arm,
        |   CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders o
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey),
        | g AS (
        |  SELECT nation,
        |   CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |   CAST(sum(CASE WHEN arm = 0 THEN cents ELSE 0 END) AS BIGINT) AS s_a,
        |   CAST(sum(CASE WHEN arm = 0 THEN cents * cents ELSE 0 END)
        |     AS BIGINT) AS q_a,
        |   CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |   CAST(sum(CASE WHEN arm = 1 THEN cents ELSE 0 END) AS BIGINT) AS s_b,
        |   CAST(sum(CASE WHEN arm = 1 THEN cents * cents ELSE 0 END)
        |     AS BIGINT) AS q_b
        |  FROM b GROUP BY 1),
        | s AS (
        |  SELECT nation, n_a, n_b,
        |   CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) / 100.0 AS ma,
        |   CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) / 100.0 AS mb,
        |   CAST(q_a AS DOUBLE) AS qa, CAST(q_b AS DOUBLE) AS qb,
        |   CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd
        |  FROM g),
        | v AS (
        |  SELECT nation, n_a, n_b, ma, mb,
        |   ((qa / 10000.0 - nad * ma * ma) / (nad - 1.0)) / nad
        |     + ((qb / 10000.0 - nbd * mb * mb) / (nbd - 1.0)) / nbd AS se2
        |  FROM s),
        | zx AS (
        |  SELECT nation, n_a, n_b,
        |   n_a > 1 AND n_b > 1 AND se2 > 0.0 AS ok,
        |   CASE WHEN n_a > 1 AND n_b > 1 AND se2 > 0.0
        |        THEN (ma - mb) / sqrt(se2) END AS zraw,
        |   CASE WHEN n_a > 1 AND n_b > 1 AND se2 > 0.0
        |        THEN abs((ma - mb) / sqrt(se2)) / sqrt(2.0) END AS x
        |  FROM v),
        | zt AS (
        |  SELECT nation, n_a, n_b, ok, zraw, x,
        |   1.0 / (1.0 + 0.3275911 * x) AS t
        |  FROM zx),
        | zp AS (
        |  SELECT nation, n_a, n_b, zraw,
        |   CASE WHEN ok THEN
        |    ((((((1.061405429 * t - 1.453152027) * t
        |      + 1.421413741) * t - 0.284496736) * t + 0.254829592) * t)
        |      * exp(-(x * x)))
        |   ELSE 1.0 END AS p
        |  FROM zt),
        | r AS (
        |  SELECT nation, n_a, n_b, zraw, p,
        |   CAST(row_number() OVER (ORDER BY p, nation) AS BIGINT) AS rnk,
        |   CAST(count(*) OVER () AS BIGINT) AS m
        |  FROM zp),
        | kk AS (
        |  SELECT nation, n_a, n_b, zraw, p, rnk,
        |   max(CASE WHEN p <= CAST(rnk AS DOUBLE) * 0.1 / CAST(m AS DOUBLE)
        |            THEN rnk ELSE 0 END) OVER () AS k
        |  FROM r)
        |SELECT nation, n_a, n_b,
        | floor(zraw * 1000000 + 0.5) / 1000000 AS z,
        | floor(p * 1000000 + 0.5) / 1000000 AS p_value, rnk,
        | CASE WHEN rnk <= k THEN CAST(1 AS BIGINT) ELSE 0 END AS discovered
        |FROM kk ORDER BY rnk""".stripMargin),
      statsBhFdr),

    QueryDef("stats_cuped", Some(
      """WITH ev AS (
        |  SELECT user_id, event_type, CAST(ts AS DATE) AS day, value
        |  FROM events),
        | cut AS (SELECT min(day) + 15 AS cutoff FROM ev),
        | u AS (
        |  SELECT user_id,
        |   CAST(sum(CASE WHEN day < cutoff THEN 1 ELSE 0 END) AS BIGINT) AS x,
        |   CAST(sum(CASE WHEN day >= cutoff AND event_type = 'purchase'
        |     THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END)
        |     AS BIGINT) AS y
        |  FROM ev, cut GROUP BY user_id),
        | a AS (
        |  SELECT x, y,
        |   CAST(('0x' || substr(md5('cu:' || CAST(user_id AS VARCHAR)),
        |     1, 2)) AS BIGINT) % 2 AS arm
        |  FROM u),
        | g AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |   sum(CAST(x AS HUGEINT) * x) AS sxx,
        |   sum(CAST(x AS HUGEINT) * y) AS sxy,
        |   sum(CAST(y AS HUGEINT) * y) AS syy,
        |   CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |   CAST(sum(CASE WHEN arm = 0 THEN x ELSE 0 END) AS BIGINT) AS sx_a,
        |   CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT) AS sy_a,
        |   CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |   CAST(sum(CASE WHEN arm = 1 THEN x ELSE 0 END) AS BIGINT) AS sx_b,
        |   CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT) AS sy_b
        |  FROM a),
        | d AS (
        |  SELECT n, n_a, n_b,
        |   CAST(CAST(n AS HUGEINT) * sxy
        |     - CAST(sx AS HUGEINT) * sy AS DOUBLE) AS covn,
        |   CAST(CAST(n AS HUGEINT) * sxx
        |     - CAST(sx AS HUGEINT) * sx AS DOUBLE) AS vxn,
        |   CAST(CAST(n AS HUGEINT) * syy
        |     - CAST(sy AS HUGEINT) * sy AS DOUBLE) AS vyn,
        |   CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar,
        |   CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS xa,
        |   CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS xb,
        |   CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS yca,
        |   CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS ycb
        |  FROM g),
        | f AS (
        |  SELECT n, n_a, n_b, xbar, xa, xb, yca, ycb, covn, vxn, vyn,
        |   n_a > 0 AND n_b > 0 AND vxn > 0.0 AND vyn > 0.0 AS ok,
        |   covn / vxn AS theta
        |  FROM d)
        |SELECT n AS n_users, n_a, n_b,
        | CASE WHEN ok THEN floor(theta * 1000000 + 0.5) / 1000000 END AS theta,
        | CASE WHEN n_a > 0 THEN
        |  floor(yca / 100.0 * 1000000 + 0.5) / 1000000 END AS mean_a,
        | CASE WHEN n_b > 0 THEN
        |  floor(ycb / 100.0 * 1000000 + 0.5) / 1000000 END AS mean_b,
        | CASE WHEN ok THEN
        |  floor((yca - theta * (xa - xbar)) / 100.0 * 1000000 + 0.5)
        |    / 1000000 END AS mean_adj_a,
        | CASE WHEN ok THEN
        |  floor((ycb - theta * (xb - xbar)) / 100.0 * 1000000 + 0.5)
        |    / 1000000 END AS mean_adj_b,
        | CASE WHEN ok THEN
        |  floor(((yca - theta * (xa - xbar)) / 100.0
        |    - (ycb - theta * (xb - xbar)) / 100.0) * 1000000 + 0.5)
        |    / 1000000 END AS diff_adj,
        | CASE WHEN ok THEN
        |  floor(covn * covn / (vxn * vyn) * 1000000 + 0.5) / 1000000 END
        |  AS var_reduction
        |FROM f""".stripMargin),
      statsCuped),

    QueryDef("stats_spearman", Some(
      """WITH b AS (
        |  SELECT l_returnflag AS flag,
        |   CAST(l_quantity AS BIGINT) AS q,
        |   CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS dc
        |  FROM lineitem),
        | hx AS (
        |  SELECT flag, q, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1, 2),
        | rx AS (
        |  SELECT flag, q,
        |   2 * (CAST(sum(cnt) OVER (PARTITION BY flag ORDER BY q
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - cnt)
        |     + cnt + 1 AS r2x
        |  FROM hx),
        | hy AS (
        |  SELECT flag, dc, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1, 2),
        | ry AS (
        |  SELECT flag, dc,
        |   2 * (CAST(sum(cnt) OVER (PARTITION BY flag ORDER BY dc
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - cnt)
        |     + cnt + 1 AS r2y
        |  FROM hy),
        | j AS (
        |  SELECT b.flag, rx.r2x, ry.r2y
        |  FROM b
        |  JOIN rx ON b.flag = rx.flag AND b.q = rx.q
        |  JOIN ry ON b.flag = ry.flag AND b.dc = ry.dc),
        | g AS (
        |  SELECT flag, CAST(count(*) AS BIGINT) AS n,
        |   sum(CAST(r2x AS HUGEINT)) AS sx, sum(CAST(r2y AS HUGEINT)) AS sy,
        |   sum(CAST(r2x AS HUGEINT) * r2x) AS sxx,
        |   sum(CAST(r2y AS HUGEINT) * r2y) AS syy,
        |   sum(CAST(r2x AS HUGEINT) * r2y) AS sxy
        |  FROM j GROUP BY 1),
        | f AS (
        |  SELECT flag, n,
        |   CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE) AS cov,
        |   CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE) AS vx,
        |   CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE) AS vy
        |  FROM g)
        |SELECT flag AS l_returnflag, n,
        | CASE WHEN n > 1 AND vx > 0.0 AND vy > 0.0 THEN
        |  floor(cov / (sqrt(vx) * sqrt(vy)) * 1000000 + 0.5) / 1000000 END
        |  AS rho_qty_disc
        |FROM f ORDER BY 1""".stripMargin),
      statsSpearman),

    QueryDef("stats_theilsen", Some(
      """WITH daily AS (
        |  SELECT event_type,
        |   CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |     AS BIGINT) AS t,
        |   CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        | p AS (
        |  SELECT a.event_type,
        |   CAST(b.cnt - a.cnt AS DOUBLE) / CAST(b.t - a.t AS DOUBLE) AS slope,
        |   a.t AS t1, b.t AS t2
        |  FROM daily a JOIN daily b
        |   ON a.event_type = b.event_type AND a.t < b.t),
        | pr AS (
        |  SELECT event_type, slope,
        |   CAST(row_number() OVER (PARTITION BY event_type
        |     ORDER BY slope, t1, t2) AS BIGINT) AS rn,
        |   CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS m
        |  FROM p),
        | sl AS (
        |  SELECT event_type, sum(slope) / count(*) AS slope,
        |   CAST(min(m) AS BIGINT) AS n_pairs
        |  FROM pr
        |  WHERE rn = CAST(floor((m + 1) / 2.0) AS BIGINT)
        |     OR rn = CAST(floor((m + 2) / 2.0) AS BIGINT)
        |  GROUP BY 1),
        | res AS (
        |  SELECT d.event_type,
        |   CAST(d.cnt AS DOUBLE) - s.slope * CAST(d.t AS DOUBLE) AS r
        |  FROM daily d JOIN sl s ON d.event_type = s.event_type),
        | rr AS (
        |  SELECT event_type, r,
        |   CAST(row_number() OVER (PARTITION BY event_type ORDER BY r)
        |     AS BIGINT) AS rn,
        |   CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS m
        |  FROM res),
        | ic AS (
        |  SELECT event_type, sum(r) / count(*) AS icept
        |  FROM rr
        |  WHERE rn = CAST(floor((m + 1) / 2.0) AS BIGINT)
        |     OR rn = CAST(floor((m + 2) / 2.0) AS BIGINT)
        |  GROUP BY 1),
        | nd AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
        |  FROM daily GROUP BY 1)
        |SELECT nd.event_type, nd.n_days, sl.n_pairs,
        | floor(sl.slope * 1000000 + 0.5) / 1000000 AS slope,
        | floor(ic.icept * 10000 + 0.5) / 10000 AS intercept
        |FROM nd
        |JOIN sl ON nd.event_type = sl.event_type
        |JOIN ic ON nd.event_type = ic.event_type
        |ORDER BY 1""".stripMargin),
      statsTheilsen),

    QueryDef("stats_power_sample_size", Some(
      """WITH g AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS s,
        |   CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)
        |     * CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS q
        |  FROM events WHERE event_type = 'purchase'),
        | m AS (
        |  SELECT n, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS mean
        |  FROM g),
        | v AS (
        |  SELECT g.n, m.mean,
        |   (CAST(g.q AS DOUBLE) / 10000.0
        |     - CAST(g.n AS DOUBLE) * m.mean * m.mean)
        |     / (CAST(g.n AS DOUBLE) - 1.0) AS variance,
        |   CAST(0.05 AS DOUBLE) * m.mean AS delta
        |  FROM g, m)
        |SELECT n,
        | CASE WHEN n > 0 THEN floor(mean * 1000000 + 0.5) / 1000000 END AS mean,
        | CASE WHEN n > 1 THEN floor(sqrt(variance) * 10000 + 0.5) / 10000 END AS sd,
        | CASE WHEN n > 0 THEN floor(delta * 1000000 + 0.5) / 1000000 END AS delta,
        | CASE WHEN n > 1 AND delta > 0.0 THEN
        |  CAST(ceil(CAST(2.0 AS DOUBLE)
        |    * (CAST(2.8015852 AS DOUBLE) * CAST(2.8015852 AS DOUBLE))
        |    * variance / (delta * delta)) AS BIGINT) END AS n_per_arm_80,
        | CASE WHEN n > 1 AND delta > 0.0 THEN
        |  CAST(ceil(CAST(2.0 AS DOUBLE)
        |    * (CAST(3.2415516 AS DOUBLE) * CAST(3.2415516 AS DOUBLE))
        |    * variance / (delta * delta)) AS BIGINT) END AS n_per_arm_90
        |FROM v""".stripMargin),
      statsPowerSampleSize),

    QueryDef("stats_ols_multi", Some(
      """WITH b AS (
        |  SELECT l_returnflag,
        |   CAST(l_quantity AS BIGINT) AS x1,
        |   CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS x2c,
        |   CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS yc
        |  FROM lineitem),
        | g AS (
        |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2c) AS BIGINT) AS s2c,
        |   CAST(sum(x1 * x1) AS BIGINT) AS s11,
        |   CAST(sum(x1 * x2c) AS BIGINT) AS s12c,
        |   CAST(sum(x2c * x2c) AS BIGINT) AS s22c,
        |   CAST(sum(yc) AS BIGINT) AS syc,
        |   CAST(sum(x1 * yc) AS BIGINT) AS s1yc,
        |   CAST(sum(x2c * yc) AS BIGINT) AS s2yc,
        |   sum(yc * yc) AS syyc
        |  FROM b GROUP BY 1),
        | d AS (
        |  SELECT l_returnflag, n,
        |   CAST(n AS DOUBLE) AS nd, CAST(s1 AS DOUBLE) AS f1,
        |   CAST(s2c AS DOUBLE) / 100.0 AS f2, CAST(s11 AS DOUBLE) AS f11,
        |   CAST(s12c AS DOUBLE) / 100.0 AS f12,
        |   CAST(s22c AS DOUBLE) / 10000.0 AS f22,
        |   CAST(syc AS DOUBLE) / 100.0 AS fy,
        |   CAST(s1yc AS DOUBLE) / 100.0 AS f1y,
        |   CAST(s2yc AS DOUBLE) / 10000.0 AS f2y,
        |   CAST(syyc AS DOUBLE) / 10000.0 AS fyy
        |  FROM g),
        | m AS (
        |  SELECT l_returnflag, n, nd, fy, f1y, f2y, fyy,
        |   nd * (f11 * f22 - f12 * f12) - f1 * (f1 * f22 - f12 * f2)
        |     + f2 * (f1 * f12 - f11 * f2) AS det,
        |   fy * (f11 * f22 - f12 * f12) - f1 * (f1y * f22 - f12 * f2y)
        |     + f2 * (f1y * f12 - f11 * f2y) AS det0,
        |   nd * (f1y * f22 - f12 * f2y) - fy * (f1 * f22 - f12 * f2)
        |     + f2 * (f1 * f2y - f1y * f2) AS det1,
        |   nd * (f11 * f2y - f1y * f12) - f1 * (f1 * f2y - f1y * f2)
        |     + fy * (f1 * f12 - f11 * f2) AS det2
        |  FROM d),
        | c AS (
        |  SELECT l_returnflag, n, nd, fy, f1y, f2y, fyy,
        |   CASE WHEN abs(det) > 0.0 THEN det0 / det END AS b0,
        |   CASE WHEN abs(det) > 0.0 THEN det1 / det END AS b1,
        |   CASE WHEN abs(det) > 0.0 THEN det2 / det END AS b2
        |  FROM m)
        |SELECT l_returnflag, n,
        | floor(b0 * 100 + 0.5) / 100 AS b0,
        | floor(b1 * 10000 + 0.5) / 10000 AS b1,
        | floor(b2 * 100 + 0.5) / 100 AS b2,
        | CASE WHEN fyy - fy * fy / nd > 0.0 THEN
        |  floor((1.0 - (fyy - (b0 * fy + b1 * f1y + b2 * f2y))
        |      / (fyy - fy * fy / nd)) * 1000000 + 0.5) / 1000000 END AS r2
        |FROM c ORDER BY l_returnflag""".stripMargin),
      statsOlsMulti),

    QueryDef("stats_mad_outliers", Some(
      """WITH med AS (
        |  SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med,
        |   CAST(count(*) AS BIGINT) AS n
        |  FROM lineitem GROUP BY 1),
        | mad AS (
        |  SELECT l.l_returnflag,
        |   quantile_cont(abs(l.l_extendedprice - m.med), 0.5) AS mad
        |  FROM lineitem l JOIN med m ON l.l_returnflag = m.l_returnflag
        |  GROUP BY 1),
        | stats AS (
        |  SELECT med.l_returnflag, med.med, med.n, mad.mad
        |  FROM med JOIN mad ON med.l_returnflag = mad.l_returnflag),
        | cnt AS (
        |  SELECT l.l_returnflag,
        |   CAST(sum(CASE WHEN s.mad > 0.0
        |     AND abs(CAST(0.6745 AS DOUBLE) * (l.l_extendedprice - s.med) / s.mad)
        |       > CAST(3.5 AS DOUBLE) THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |  FROM lineitem l JOIN stats s ON l.l_returnflag = s.l_returnflag
        |  GROUP BY 1),
        | z AS (
        |  SELECT l.l_returnflag, l.l_orderkey, l.l_linenumber,
        |   l.l_extendedprice AS v,
        |   CASE WHEN s.mad > 0.0 THEN
        |    CAST(0.6745 AS DOUBLE) * (l.l_extendedprice - s.med) / s.mad END AS z,
        |   s.med, s.mad, s.n, c.n_outliers
        |  FROM lineitem l
        |   JOIN stats s ON l.l_returnflag = s.l_returnflag
        |   JOIN cnt c ON l.l_returnflag = c.l_returnflag),
        | r AS (
        |  SELECT l_returnflag, l_orderkey, l_linenumber, v, z, med, mad, n,
        |   n_outliers,
        |   CAST(row_number() OVER (PARTITION BY l_returnflag
        |     ORDER BY abs(z) DESC, l_orderkey, l_linenumber) AS BIGINT) AS rnk
        |  FROM z)
        |SELECT l_returnflag, rnk, l_orderkey, l_linenumber, v,
        | floor(z * 1000000 + 0.5) / 1000000 AS z,
        | floor(med * 10000 + 0.5) / 10000 AS med,
        | floor(mad * 10000 + 0.5) / 10000 AS mad,
        | n, n_outliers
        |FROM r WHERE rnk <= 3
        |ORDER BY l_returnflag, rnk""".stripMargin),
      statsMadOutliers),

    QueryDef("stats_welch_ttest", Some(
      """WITH p AS (
        |  SELECT CAST(('0x' || substr(md5('tt:' || CAST(event_id AS VARCHAR)), 1, 2))
        |     AS BIGINT) % 2 AS variant,
        |   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        | g AS (
        |  SELECT
        |   CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |   CAST(sum(CASE WHEN variant = 0 THEN cents ELSE 0 END) AS BIGINT) AS s_a,
        |   CAST(sum(CASE WHEN variant = 0 THEN cents * cents ELSE 0 END) AS BIGINT) AS q_a,
        |   CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |   CAST(sum(CASE WHEN variant = 1 THEN cents ELSE 0 END) AS BIGINT) AS s_b,
        |   CAST(sum(CASE WHEN variant = 1 THEN cents * cents ELSE 0 END) AS BIGINT) AS q_b
        |  FROM p),
        | m AS (
        |  SELECT n_a, n_b, q_a, q_b,
        |   CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) / 100.0 AS ma,
        |   CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) / 100.0 AS mb
        |  FROM g),
        | v AS (
        |  SELECT n_a, n_b, ma, mb,
        |   (CAST(q_a AS DOUBLE) / 10000.0 - CAST(n_a AS DOUBLE) * ma * ma)
        |     / (CAST(n_a AS DOUBLE) - 1.0) AS va,
        |   (CAST(q_b AS DOUBLE) / 10000.0 - CAST(n_b AS DOUBLE) * mb * mb)
        |     / (CAST(n_b AS DOUBLE) - 1.0) AS vb
        |  FROM m),
        | s AS (
        |  SELECT n_a, n_b, ma, mb, va, vb,
        |   va / CAST(n_a AS DOUBLE) AS sa2, vb / CAST(n_b AS DOUBLE) AS sb2
        |  FROM v),
        | t AS (
        |  SELECT n_a, n_b, ma, mb, va, vb,
        |   CASE WHEN n_a > 1 AND n_b > 1 AND sa2 + sb2 > 0
        |    THEN (ma - mb) / sqrt(sa2 + sb2) END AS t,
        |   CASE WHEN n_a > 1 AND n_b > 1 AND sa2 + sb2 > 0
        |    THEN ((sa2 + sb2) * (sa2 + sb2))
        |      / (sa2 * sa2 / (CAST(n_a AS DOUBLE) - 1.0)
        |        + sb2 * sb2 / (CAST(n_b AS DOUBLE) - 1.0)) END AS df
        |  FROM s)
        |SELECT n_a, n_b,
        | CASE WHEN n_a > 0 THEN floor(ma * 1000000 + 0.5) / 1000000 END AS mean_a,
        | CASE WHEN n_b > 0 THEN floor(mb * 1000000 + 0.5) / 1000000 END AS mean_b,
        | CASE WHEN n_a > 1 THEN floor(va * 10000 + 0.5) / 10000 END AS var_a,
        | CASE WHEN n_b > 1 THEN floor(vb * 10000 + 0.5) / 10000 END AS var_b,
        | floor(t * 1000000 + 0.5) / 1000000 AS t,
        | floor(df * 10000 + 0.5) / 10000 AS df,
        | abs(t) > CAST(1.96 AS DOUBLE) AS reject_05
        |FROM t""".stripMargin),
      statsWelchTtest),

    QueryDef("stats_anova", Some(
      """WITH c AS (
        |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        | g AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(cents) AS BIGINT) AS s,
        |   CAST(sum(cents * cents) AS BIGINT) AS q
        |  FROM c GROUP BY 1),
        | t AS (
        |  SELECT event_type, n, s, q,
        |   CAST(sum(n) OVER () AS BIGINT) AS n_tot,
        |   CAST(sum(s) OVER () AS BIGINT) AS s_tot
        |  FROM g),
        | u AS (
        |  SELECT event_type, n, q, n_tot,
        |   CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS m,
        |   CAST(s_tot AS DOUBLE) / CAST(n_tot AS DOUBLE) / 100.0 AS gm
        |  FROM t),
        | terms AS (
        |  SELECT event_type, n_tot,
        |   CAST(n AS DOUBLE) * ((m - gm) * (m - gm)) AS tb,
        |   CAST(q AS DOUBLE) / 10000.0 - CAST(n AS DOUBLE) * m * m AS tw
        |  FROM u),
        | f AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k, max(n_tot) AS n_tot,
        |   list_reduce(list(tb ORDER BY event_type), (a, v) -> a + v) AS ssb,
        |   list_reduce(list(tw ORDER BY event_type), (a, v) -> a + v) AS ssw
        |  FROM terms)
        |SELECT k, n_tot AS n,
        | floor(ssb * 100 + 0.5) / 100 AS ssb,
        | floor(ssw * 100 + 0.5) / 100 AS ssw,
        | CASE WHEN k > 1 AND n_tot > k AND ssw > 0.0 THEN
        |  floor((ssb / CAST(k - 1 AS DOUBLE)) / (ssw / CAST(n_tot - k AS DOUBLE))
        |    * 1000000 + 0.5) / 1000000 END AS f_stat,
        | CASE WHEN ssb + ssw > 0.0 THEN
        |  floor(ssb / (ssb + ssw) * 1000000 + 0.5) / 1000000 END AS eta2
        |FROM f""".stripMargin),
      statsAnova),

    QueryDef("stats_benford", Some(
      """WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(floor(l_extendedprice * 100 + 0.5)
        |    AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS d
        |  FROM lineitem),
        | h AS (SELECT d, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
        | t AS (SELECT d, n, CAST(sum(n) OVER () AS BIGINT) AS tot FROM h)
        |SELECT d, n,
        | floor((n / tot) * 1000000 + 0.5) / 1000000 AS observed,
        | floor((ln(CAST(1 AS DOUBLE) + CAST(1 AS DOUBLE) / d) / ln(CAST(10 AS DOUBLE)))
        |   * 1000000 + 0.5) / 1000000 AS benford,
        | floor((n / tot - ln(CAST(1 AS DOUBLE) + CAST(1 AS DOUBLE) / d)
        |   / ln(CAST(10 AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS dev
        |FROM t ORDER BY d""".stripMargin),
      statsBenford),
    QueryDef("agg_gini", Some(
      """WITH h AS (
        |  SELECT l_returnflag, l_quantity, CAST(count(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1, 2),
        | r AS (
        |  SELECT l_returnflag, l_quantity, c,
        |   CAST(sum(c) OVER (PARTITION BY l_returnflag ORDER BY l_quantity
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - c
        |     AS cump
        |  FROM h),
        | a AS (
        |  SELECT l_returnflag, CAST(sum(c) AS BIGINT) AS n,
        |   CAST(sum(l_quantity * c) AS DOUBLE) AS t,
        |   CAST(sum(l_quantity * (c * cump + (c * (c + 1)) / 2.0)) AS DOUBLE)
        |     AS s1
        |  FROM r GROUP BY 1)
        |SELECT l_returnflag, n,
        | floor((2.0 * s1 / (n * t) - CAST(n + 1 AS DOUBLE) / n)
        |   * 1000000 + 0.5) / 1000000 AS gini
        |FROM a ORDER BY l_returnflag""".stripMargin),
      aggGini),
    QueryDef("stats_mutual_information", Some(
      """WITH cells AS (
        |  SELECT event_type, CAST(isodow(CAST(ts AS DATE)) - 1 AS BIGINT) AS wd,
        |   CAST(count(*) AS BIGINT) AS o
        |  FROM events GROUP BY 1, 2),
        | tot AS (
        |  SELECT event_type, wd, o,
        |   CAST(sum(o) OVER (PARTITION BY event_type) AS BIGINT) AS rt,
        |   CAST(sum(o) OVER (PARTITION BY wd) AS BIGINT) AS ct,
        |   CAST(sum(o) OVER () AS BIGINT) AS n
        |  FROM cells),
        | mi AS (
        |  SELECT list_reduce(
        |    list((o / n) * ln((o * n) / (rt * ct)) ORDER BY event_type, wd),
        |    (a, v) -> a + v) AS mi
        |  FROM tot),
        | mx AS (SELECT event_type, max(rt) AS rt, max(n) AS n FROM tot GROUP BY 1),
        | my AS (SELECT wd, max(ct) AS ct, max(n) AS n FROM tot GROUP BY 1),
        | hx AS (
        |  SELECT -list_reduce(list((rt / n) * ln(rt / n) ORDER BY event_type),
        |    (a, v) -> a + v) AS hx
        |  FROM mx),
        | hy AS (
        |  SELECT -list_reduce(list((ct / n) * ln(ct / n) ORDER BY wd),
        |    (a, v) -> a + v) AS hy
        |  FROM my)
        |SELECT floor(mi * 1000000 + 0.5) / 1000000 AS mi,
        | floor(hx * 1000000 + 0.5) / 1000000 AS h_type,
        | floor(hy * 1000000 + 0.5) / 1000000 AS h_weekday,
        | floor(mi / sqrt(hx * hy) * 1000000 + 0.5) / 1000000 AS nmi
        |FROM mi CROSS JOIN hx CROSS JOIN hy""".stripMargin),
      statsMutualInfo),
    QueryDef("stats_permutation_test", Some(
      """WITH base AS (
        |  SELECT l_returnflag, l_quantity,
        |   CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || ':' ||
        |     CAST(l_linenumber AS VARCHAR)), 1, 12)) AS BIGINT) AS h48
        |  FROM lineitem WHERE l_returnflag IN ('R', 'A')),
        | obs AS (
        |  SELECT sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END)
        |     / CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
        |   - sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END)
        |     / CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT)
        |     AS d_obs
        |  FROM base),
        | reps AS (
        |  SELECT u.rep AS rep,
        |   sum(CASE WHEN ((h48 * (2 * u.rep + 1) + u.rep * 2654435761)
        |        % 281474976710656) < 140737488355328 THEN l_quantity END)
        |    / CAST(sum(CASE WHEN ((h48 * (2 * u.rep + 1) + u.rep * 2654435761)
        |        % 281474976710656) < 140737488355328 THEN 1 ELSE 0 END) AS BIGINT)
        |   - sum(CASE WHEN NOT (((h48 * (2 * u.rep + 1) + u.rep * 2654435761)
        |        % 281474976710656) < 140737488355328) THEN l_quantity END)
        |    / CAST(sum(CASE WHEN NOT (((h48 * (2 * u.rep + 1) + u.rep * 2654435761)
        |        % 281474976710656) < 140737488355328) THEN 1 ELSE 0 END) AS BIGINT)
        |     AS d
        |  FROM base, unnest(range(0, 64)) AS u(rep)
        |  GROUP BY 1),
        | a AS (
        |  SELECT max(obs.d_obs) AS d_obs,
        |   CAST(sum(CASE WHEN abs(reps.d) >= abs(obs.d_obs) THEN 1 ELSE 0 END)
        |     AS BIGINT) AS ge
        |  FROM reps CROSS JOIN obs)
        |SELECT floor(d_obs * 1000000 + 0.5) / 1000000 AS obs_diff,
        | floor(CAST(ge + 1 AS DOUBLE) / 65.0 * 1000000 + 0.5) / 1000000
        |   AS p_value,
        | CAST(ge + 1 AS DOUBLE) / 65.0 <= CAST(0.05 AS DOUBLE) AS reject_05
        |FROM a""".stripMargin),
      statsPermutationTest),
    QueryDef("stats_mannwhitney", Some(
      """WITH h AS (
        |  SELECT l_quantity,
        |   CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS cr,
        |   CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS ca
        |  FROM lineitem WHERE l_returnflag IN ('R', 'A') GROUP BY 1),
        | r AS (
        |  SELECT cr, ca, cr + ca AS c,
        |   CAST(sum(cr + ca) OVER (ORDER BY l_quantity
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |     - (cr + ca) AS cump
        |  FROM h),
        | a AS (
        |  SELECT CAST(sum(cr) AS BIGINT) AS n_r, CAST(sum(ca) AS BIGINT) AS n_a,
        |   CAST(sum(cr * (cump + (c + 1) / 2.0)) AS DOUBLE) AS r1,
        |   CAST(sum(c * c * c - c) AS BIGINT) AS tie
        |  FROM r)
        |SELECT n_r, n_a,
        | floor((r1 - (n_r * (n_r + 1)) / 2.0) * 1000000 + 0.5) / 1000000 AS u_stat,
        | floor(((r1 - (n_r * (n_r + 1)) / 2.0) - (n_r * n_a) / 2.0)
        |   / sqrt(CAST(n_r * n_a AS DOUBLE) / 12.0
        |      * (CAST(n_r + n_a + 1 AS DOUBLE)
        |         - CAST(tie AS DOUBLE)
        |           / CAST((n_r + n_a) * (n_r + n_a - 1) AS DOUBLE)))
        |   * 1000000 + 0.5) / 1000000 AS z,
        | abs(((r1 - (n_r * (n_r + 1)) / 2.0) - (n_r * n_a) / 2.0)
        |   / sqrt(CAST(n_r * n_a AS DOUBLE) / 12.0
        |      * (CAST(n_r + n_a + 1 AS DOUBLE)
        |         - CAST(tie AS DOUBLE)
        |           / CAST((n_r + n_a) * (n_r + n_a - 1) AS DOUBLE))))
        |   > CAST(1.96 AS DOUBLE) AS reject_05
        |FROM a""".stripMargin),
      statsMannWhitney),
    QueryDef("stats_winsorize", Some(
      """WITH b AS (
        |  SELECT l_returnflag,
        |   floor(quantile_cont(l_extendedprice, 0.05) * 10000 + 0.5) / 10000 AS lo,
        |   floor(quantile_cont(l_extendedprice, 0.95) * 10000 + 0.5) / 10000 AS hi
        |  FROM lineitem GROUP BY 1)
        |SELECT l_orderkey, l_linenumber, l.l_returnflag,
        | least(greatest(l_extendedprice, lo), hi) AS price_w,
        | (l_extendedprice < lo OR l_extendedprice > hi) AS clamped
        |FROM lineitem l JOIN b ON l.l_returnflag = b.l_returnflag
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
      statsWinsorize),
    QueryDef("stats_feature_scale", Some(
      """WITH s AS (
        |  SELECT l_returnflag,
        |   floor(avg(l_extendedprice) * 10000 + 0.5) / 10000 AS mu,
        |   floor(stddev_samp(l_extendedprice) * 10000 + 0.5) / 10000 AS sd,
        |   min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
        |  FROM lineitem GROUP BY 1)
        |SELECT l_orderkey, l_linenumber, l.l_returnflag,
        | floor((l_extendedprice - mu) / sd * 1000000 + 0.5) / 1000000 AS z_price,
        | floor((l_extendedprice - lo) / (hi - lo) * 1000000 + 0.5) / 1000000
        |   AS mm_price
        |FROM lineitem l JOIN s ON l.l_returnflag = s.l_returnflag
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
      statsFeatureScale),
    QueryDef("stats_ks_test", Some(
      """WITH h AS (
        |  SELECT l_quantity,
        |   CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS cr,
        |   CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS ca
        |  FROM lineitem WHERE l_returnflag IN ('R', 'A') GROUP BY 1),
        | c AS (
        |  SELECT
        |   CAST(sum(cr) OVER (ORDER BY l_quantity
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_r,
        |   CAST(sum(ca) OVER (ORDER BY l_quantity
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_a
        |  FROM h),
        | t AS (SELECT cum_r, cum_a, max(cum_r) OVER () AS n_r,
        |        max(cum_a) OVER () AS n_a FROM c),
        | d AS (SELECT n_r, n_a,
        |        max(abs(cum_r / n_r - cum_a / n_a)) AS d_stat
        |       FROM t GROUP BY 1, 2)
        |SELECT n_r, n_a,
        | floor(d_stat * 1000000 + 0.5) / 1000000 AS d_stat,
        | floor(sqrt(CAST(n_r * n_a AS DOUBLE) / CAST(n_r + n_a AS DOUBLE))
        |   * d_stat * 1000000 + 0.5) / 1000000 AS ks_scaled,
        | sqrt(CAST(n_r * n_a AS DOUBLE) / CAST(n_r + n_a AS DOUBLE)) * d_stat
        |   > CAST(1.358 AS DOUBLE) AS reject_05
        |FROM d""".stripMargin),
      statsKsTest),
    QueryDef("stats_chi2", Some(
      """WITH cells AS (
        |  SELECT event_type, CAST(isodow(CAST(ts AS DATE)) - 1 AS BIGINT) AS wd,
        |   CAST(count(*) AS BIGINT) AS o
        |  FROM events GROUP BY 1, 2),
        | tot AS (
        |  SELECT event_type, wd, o,
        |   CAST(sum(o) OVER (PARTITION BY event_type) AS BIGINT) AS rt,
        |   CAST(sum(o) OVER (PARTITION BY wd) AS BIGINT) AS ct,
        |   CAST(sum(o) OVER () AS BIGINT) AS n
        |  FROM cells),
        | terms AS (
        |  SELECT event_type, wd, n,
        |   (o - (rt * ct) / n) * (o - (rt * ct) / n) / ((rt * ct) / n) AS t
        |  FROM tot),
        | folded AS (
        |  SELECT list_reduce(list(t ORDER BY event_type, wd), (a, v) -> a + v)
        |    AS chi2,
        |   CAST((count(DISTINCT event_type) - 1) * (count(DISTINCT wd) - 1)
        |     AS BIGINT) AS df,
        |   max(n) AS n, count(DISTINCT event_type) AS r,
        |   count(DISTINCT wd) AS c
        |  FROM terms)
        |SELECT floor(chi2 * 1000000 + 0.5) / 1000000 AS chi2, df, n,
        | floor(sqrt(chi2 / CAST(n * least(r - 1, c - 1) AS DOUBLE))
        |   * 1000000 + 0.5) / 1000000 AS cramers_v
        |FROM folded""".stripMargin),
      statsChi2),
    QueryDef("stats_bootstrap_ci", Some(
      """WITH r AS (
        |  SELECT l_returnflag, l_quantity, u.rep AS rep,
        |   ((CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || ':' ||
        |       CAST(l_linenumber AS VARCHAR)), 1, 12)) AS BIGINT)
        |     * (2 * u.rep + 1) + u.rep * 2654435761) % 281474976710656)
        |     / 281474976710656.0 AS h
        |  FROM lineitem, unnest(range(0, 32)) AS u(rep)),
        | w AS (
        |  SELECT l_returnflag, rep, l_quantity,
        |   CASE WHEN h < CAST(0.36787944117144233 AS DOUBLE) THEN 0
        |        WHEN h < CAST(0.7357588823428847 AS DOUBLE) THEN 1
        |        WHEN h < CAST(0.9196986029286058 AS DOUBLE) THEN 2
        |        WHEN h < CAST(0.9810118431238462 AS DOUBLE) THEN 3
        |        WHEN h < CAST(0.9963401531726563 AS DOUBLE) THEN 4
        |        WHEN h < CAST(0.9994058151824183 AS DOUBLE) THEN 5
        |        ELSE 6 END AS w
        |  FROM r),
        | m AS (
        |  SELECT l_returnflag, rep,
        |   sum(w * l_quantity) / sum(w) AS rep_mean
        |  FROM w GROUP BY 1, 2),
        | o AS (
        |  SELECT l_returnflag, rep_mean,
        |   row_number() OVER (PARTITION BY l_returnflag
        |     ORDER BY rep_mean, rep) AS rn
        |  FROM m),
        | p AS (SELECT l_returnflag, sum(l_quantity) / count(*) AS m
        |       FROM lineitem GROUP BY 1)
        |SELECT p.l_returnflag,
        | floor(p.m * 1000000 + 0.5) / 1000000 AS mean_qty,
        | floor(lo.rep_mean * 1000000 + 0.5) / 1000000 AS ci_lo,
        | floor(hi.rep_mean * 1000000 + 0.5) / 1000000 AS ci_hi
        |FROM p
        | JOIN o lo ON lo.l_returnflag = p.l_returnflag AND lo.rn = 2
        | JOIN o hi ON hi.l_returnflag = p.l_returnflag AND hi.rn = 31
        |ORDER BY p.l_returnflag""".stripMargin), statsBootstrapCi),
    QueryDef("agg_corr_matrix", Some {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val pairs = for {
        i <- cols.indices; j <- cols.indices if i < j
      } yield (cols(i), cols(j))
      val arms = pairs.map { case (x, y) =>
        s"""SELECT '$x' AS col_x, '$y' AS col_y,
           | floor(corr($x, $y) * 1000000 + 0.5) / 1000000 AS corr,
           | floor(covar_pop($x, $y) * 100 + 0.5) / 100 AS covar
           |FROM lineitem""".stripMargin
      }
      arms.mkString("", "\nUNION ALL\n", "\nORDER BY col_x, col_y")
    }, aggCorrMatrix),

    QueryDef("sql_q21_waiting_suppliers", Some(
      """SELECT s_name, count(*) AS numwait
        |FROM supplier
        | JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        | JOIN orders ON o_orderkey = l1.l_orderkey
        |WHERE o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM lineitem l3
        |     JOIN orders o3 ON l3.l_orderkey = o3.o_orderkey
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_shipdate > o3.o_orderdate + INTERVAL 90 DAY)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin), sqlQ21),

    QueryDef("sql_q22_idle_customers", Some(
      """SELECT CAST(c_nationkey % 10 AS BIGINT) AS cntrycode,
        | count(*) AS numcust,
        | floor(sum(c_acctbal) * 100 + 0.5) / 100 AS totacctbal
        |FROM customer
        |WHERE CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) *
        |    (SELECT count(*) FROM customer WHERE c_acctbal > 0.0)
        |  > (SELECT CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |     FROM customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
        |GROUP BY c_nationkey % 10
        |ORDER BY cntrycode""".stripMargin), sqlQ22),

    QueryDef("agg_regression", Some(
      """SELECT l_returnflag,
        | floor(regr_slope(l_extendedprice, l_quantity) * 1000000 + 0.5) / 1000000 AS slope,
        | floor(regr_intercept(l_extendedprice, l_quantity) * 100 + 0.5) / 100 AS intercept,
        | floor(regr_r2(l_extendedprice, l_quantity) * 1000000 + 0.5) / 1000000 AS r2,
        | CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      aggRegression),

    QueryDef("agg_histogram", Some(
      """SELECT CAST(floor(l_extendedprice / 5000) * 5000 AS BIGINT) AS bin_lo,
        | count(*) AS n,
        | floor(min(l_extendedprice) * 100 + 0.5) / 100 AS bin_min,
        | floor(max(l_extendedprice) * 100 + 0.5) / 100 AS bin_max
        |FROM lineitem GROUP BY 1 ORDER BY bin_lo""".stripMargin), aggHistogram),

    QueryDef("agg_median_mode", Some(
      """WITH med AS (
        |  SELECT l_returnflag,
        |   floor(quantile_cont(l_quantity, 0.5) * 10000 + 0.5) / 10000 AS median_qty
        |  FROM lineitem GROUP BY l_returnflag),
        | cnts AS (
        |  SELECT l_returnflag, l_quantity, count(*) AS cnt
        |  FROM lineitem GROUP BY 1, 2),
        | md AS (
        |  SELECT l_returnflag, l_quantity AS mode_qty, cnt AS mode_n,
        |   row_number() OVER (PARTITION BY l_returnflag
        |     ORDER BY cnt DESC, l_quantity) AS rk
        |  FROM cnts)
        |SELECT l_returnflag, median_qty, mode_qty, mode_n
        |FROM med JOIN md USING (l_returnflag)
        |WHERE rk = 1 ORDER BY l_returnflag""".stripMargin), aggMedianMode),

    QueryDef("sql_q2_min_balance", Some(
      """SELECT s1.s_name, s1.s_acctbal, n_name
        |FROM supplier s1 JOIN nation ON s1.s_nationkey = n_nationkey
        |WHERE s1.s_acctbal = (
        |  SELECT min(s2.s_acctbal) FROM supplier s2
        |  WHERE s2.s_nationkey = s1.s_nationkey)
        |ORDER BY n_name, s1.s_name""".stripMargin), sqlQ2),

    QueryDef("sql_q7_nation_volume", Some(
      """SELECT supp_nation, cust_nation, l_year,
        | floor(sum(volume) * 100 + 0.5) / 100 AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |   CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |   l_extendedprice * (1 - l_discount) AS volume
        |  FROM supplier
        |   JOIN lineitem ON s_suppkey = l_suppkey
        |   JOIN orders ON o_orderkey = l_orderkey
        |   JOIN customer ON c_custkey = o_custkey
        |   JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |   JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin), sqlQ7),

    QueryDef("sql_q10_returned", Some(
      """SELECT c_custkey, c_name,
        | floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 AS revenue,
        | c_acctbal, n_name
        |FROM customer
        | JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON l_orderkey = o_orderkey
        | JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin), sqlQ10),

    QueryDef("sql_q14_promo_share", Some(
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        | floor(100.0 * sum(CASE WHEN p_type = 'PROMO'
        |     THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
        |   / sum(l_extendedprice * (1 - l_discount)) * 10000 + 0.5) / 10000
        |   AS promo_share
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY ship_month""".stripMargin), sqlQ14),

    QueryDef("sql_q19_disjunctive", Some(
      """SELECT count(*) AS n_lines,
        | floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |        AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#9' AND p_size BETWEEN 10 AND 30
        |        AND l_quantity BETWEEN 10 AND 35)
        |   OR (p_brand = 'Brand#13' AND p_size BETWEEN 20 AND 50
        |        AND l_quantity BETWEEN 20 AND 50)""".stripMargin), sqlQ19),

    QueryDef("sql_lateral_topn", Some(
      """SELECT n_name, s.s_name, s.s_acctbal
        |FROM nation,
        | LATERAL (
        |  SELECT s_name, s_acctbal FROM supplier
        |  WHERE s_nationkey = n_nationkey
        |  ORDER BY s_acctbal DESC, s_name LIMIT 2) s
        |ORDER BY n_name, s_acctbal DESC, s_name""".stripMargin), sqlLateralTopn),

    QueryDef("sql_q18_large_orders", Some(
      """SELECT c_name, c_custkey, o_orderkey,
        | strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
        | o_totalprice,
        | floor(sum(l_quantity) * 100 + 0.5) / 100 AS sum_qty
        |FROM customer
        | JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin), sqlQ18),

    QueryDef("sql_scalar_subquery", Some(
      """SELECT n_name,
        | (SELECT count(*) FROM supplier WHERE s_nationkey = n_nationkey) AS n_suppliers,
        | (SELECT count(*) FROM customer WHERE c_nationkey = n_nationkey) AS n_customers
        |FROM nation
        |WHERE n_regionkey <= (SELECT max(r_regionkey) FROM region) - 2
        |ORDER BY n_name""".stripMargin), sqlScalarSubquery),

    QueryDef("sql_q5_local_supplier", Some(
      """SELECT n_name,
        | floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 AS revenue
        |FROM customer
        | JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON l_orderkey = o_orderkey
        | JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name IN ('ASIA', 'EUROPE')
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin), sqlQ5),

    QueryDef("agg_stats", Some(
      """SELECT l_returnflag,
        | floor(stddev_samp(l_extendedprice) * 100 + 0.5) / 100 AS sd_price,
        | floor(corr(l_quantity, l_extendedprice) * 1000000 + 0.5) / 1000000 AS corr_qty_price,
        | floor(covar_samp(l_quantity, l_extendedprice) * 100 + 0.5) / 100 AS covar_qty_price,
        | floor(skewness(l_discount) * 10000 + 0.5) / 10000 AS skew_disc
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin), aggStats),

    QueryDef("agg_percentile", Some(
      """SELECT l_returnflag,
        | floor(quantile_cont(l_extendedprice, 0.5) * 10000 + 0.5) / 10000 AS p50,
        | floor(quantile_cont(l_extendedprice, 0.9) * 10000 + 0.5) / 10000 AS p90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin), aggPercentile),

    QueryDef("agg_approx_percentile", None, aggApproxPercentile),

    QueryDef("agg_tdigest_percentile", None, aggTdigestPercentile),

    QueryDef("agg_weighted_percentile", Some(
      """WITH c AS (
        |  SELECT l_returnflag, l_extendedprice AS v,
        |   sum(l_quantity) OVER (PARTITION BY l_returnflag
        |     ORDER BY l_extendedprice, l_orderkey, l_linenumber
        |     ROWS UNBOUNDED PRECEDING) AS cw,
        |   sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tw
        |  FROM lineitem)
        |SELECT l_returnflag,
        | min(CASE WHEN cw >= 0.5 * tw THEN v END) AS wp50,
        | min(CASE WHEN cw >= 0.9 * tw THEN v END) AS wp90
        |FROM c GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      aggWeightedPercentile),

    // identical oracle as agg_percentile by design: two-phase bin
    // selection must reproduce the flat sort's answer exactly
    QueryDef("agg_percentile_select", Some(
      """SELECT l_returnflag,
        | floor(quantile_cont(l_extendedprice, 0.5) * 10000 + 0.5) / 10000 AS p50,
        | floor(quantile_cont(l_extendedprice, 0.9) * 10000 + 0.5) / 10000 AS p90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      aggPercentileSelect),

    QueryDef("agg_unpivot", Some(
      """SELECT p_partkey, measure, value FROM (
        |  SELECT p_partkey, 'size' AS measure, CAST(p_size AS DOUBLE) AS value FROM part
        |  UNION ALL
        |  SELECT p_partkey, 'retailprice' AS measure, p_retailprice AS value FROM part)
        |ORDER BY p_partkey, measure""".stripMargin), aggUnpivot),

    QueryDef("agg_pivot", Some(
      """SELECT o_orderpriority,
        | floor(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END) * 100 + 0.5) / 100 AS F,
        | floor(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END) * 100 + 0.5) / 100 AS O,
        | floor(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END) * 100 + 0.5) / 100 AS P
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin), aggPivot),

    QueryDef("sql_q3_shipping", Some(
      """SELECT l_orderkey,
        | floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 AS revenue,
        | strftime(o_orderdate, '%Y-%m-%d') AS orderdate
        |FROM customer
        | JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin), sqlQ3)
  )
}
