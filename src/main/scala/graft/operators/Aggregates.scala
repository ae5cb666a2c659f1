package graft.operators

import graft.{Parity, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Aggregation family (SURVEY.md §2.5): hash agg, distinct, approx
  * distinct (HLL), rollup/cube/grouping-sets, ordered collect, exact
  * dedup.
  *
  * Lineage: the reference's `KeyMap` maintains a distinct value set
  * (`/root/reference/src/keymap.rs:37-44`) and its bulk-COPY path
  * requires dedup *before* load (`/root/reference/src/load/pg.rs:19-20`)
  * — `dedup_exact` is that precondition as an operator.
  *
  * Scale: all of these are single-shuffle hash aggregations with
  * map-side partial aggregation; grouping keys are low-cardinality so
  * the shuffle payload is tiny regardless of input size. `agg_collect`
  * groups by a bounded key (custkey) — per-group state is bounded.
  */
object Aggregates {
  import Tables._

  private def aggHash(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        Parity.r2(sum(col("value"))).as("sum_value"),
        Parity.r2(avg(col("value"))).as("avg_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .orderBy(col("event_type"))

  private def aggDistinct(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("distinct_parts"),
        countDistinct(col("l_suppkey")).as("distinct_supps"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  /** HLL++ sketch — constant memory per group at any scale (the exact
    * countDistinct above needs a per-group hash set; this doesn't).
    * Approximate ⇒ no DuckDB oracle (different sketch impls). */
  private def aggApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"))
      .orderBy(col("l_returnflag"))

  /** HLL sketch RE-aggregation — the pattern that makes distinct counts
    * pre-aggregable at scale: exact distincts don't add across
    * partitions of a cube, but their sketches UNION losslessly. Daily
    * per-type user sketches (the stored rollup) merge into per-type
    * totals without revisiting raw events — at 100 TB the nightly job
    * stores k-byte sketches, and any ad-hoc slice unions them in
    * milliseconds. Datasketches HLL via Spark built-ins
    * (hll_sketch_agg / hll_union_agg / hll_sketch_estimate); sketch ⇒
    * no oracle, accuracy invariant-tested against exact counts. */
  private def aggHllReaggregate(spark: SparkSession, dir: String): DataFrame = {
    import graft.Tables.events
    val daily = events(spark, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    daily.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_days"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_users"))
      .orderBy(col("event_type"))
  }

  /** KMV SET ALGEBRA (Beyer et al., SIGMOD'07 "On synopses for
    * distinct-value estimation under multiset operations"): bottom-k
    * sketches support union/intersection/Jaccard WITHOUT revisiting
    * the data — merge two sketches by taking the bottom-k of their
    * union, estimate |A∪B| = (k−1)/h_k of the merged sketch, Jaccard
    * ρ = |{x ∈ K_A∪B : x ∈ K_A ∧ x ∈ K_B}| / k, and |A∩B| = ρ·|A∪B|.
    * The sets here are customers with completed ('F') vs open ('O')
    * orders. Deterministic md5 hashing makes the merged sketch — and
    * every estimate — bit-reproducible cross-engine, so all three
    * estimators are oracle-checked (exact counts sit alongside).
    *
    * Scale: one map-side-combinable groupBy builds the membership
    * flags; each sketch is a distributed TakeOrdered (k rows of
    * driver state); the merge touches 2k rows. The exact counters
    * are the same single pass. At 100 TB the sketches would be
    * PERSISTED per partition/day and only the 2k-row merge re-run. */
  private def aggKmvSetops(spark: SparkSession, dir: String): DataFrame = {
    val k = 64
    val h = conv(substring(md5(concat(lit("kmv:"), col("o_custkey").cast("string"))), 1, 12),
      16, 10).cast(LongType).cast("double") / lit(281474976710656.0)
    val flags = Tables.orders(spark, dir)
      .filter(col("o_orderstatus").isin("F", "O"))
      .groupBy(col("o_custkey"))
      .agg(max(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("in_a"),
        max(when(col("o_orderstatus") === "O", 1).otherwise(0)).as("in_b"))
      .withColumn("h", h)
    val cols = Seq("o_custkey", "h", "in_a", "in_b").map(col)
    val ka = flags.filter(col("in_a") === 1)
      .orderBy(col("h"), col("o_custkey")).limit(k).select(cols: _*)
    val kb = flags.filter(col("in_b") === 1)
      .orderBy(col("h"), col("o_custkey")).limit(k).select(cols: _*)
    // sketch merge: bottom-k of K_A ∪ K_B ≡ bottom-k of A ∪ B (any of
    // the union's k smallest is in K_A or K_B by h ≤ h_k(A∪B) ≤ h_k(A))
    val merged = ka.unionByName(kb)
      .groupBy(col("o_custkey"), col("h"))
      .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
      .orderBy(col("h"), col("o_custkey")).limit(k)
    val m = merged.agg(max(col("h")).as("hk"),
      sum(col("in_a") * col("in_b")).as("cnt_both"))
    val s = flags.agg(
      sum(col("in_a")).as("n_a"), sum(col("in_b")).as("n_b"),
      sum(col("in_a") * col("in_b")).as("n_intersect_exact"),
      count(lit(1)).as("n_union_exact"))
    s.crossJoin(m).select(
      col("n_a"), col("n_b"), col("n_intersect_exact"), col("n_union_exact"),
      Parity.r2(lit((k - 1).toDouble) / col("hk")).as("est_union"),
      Parity.r6(col("cnt_both").cast("double") / lit(k.toDouble)).as("est_jaccard"),
      Parity.r2(col("cnt_both").cast("double") / lit(k.toDouble)
        * (lit((k - 1).toDouble) / col("hk"))).as("est_intersect"))
  }

  /** KMV (k-minimum-values / bottom-k) distinct-count sketch — the
    * DETERMINISTIC member of the sketch family: hash every key with
    * md5 to a uniform [0,1) value, keep the k smallest per group, and
    * estimate distinct = (k−1)/h_k. Because the hash is md5 (not an
    * engine-native seed-dependent function), the sketch content — and
    * therefore the ESTIMATE ITSELF — is bit-reproducible on any
    * engine, so unlike HLL this sketch is oracle-checkable: DuckDB
    * recomputes the identical bottom-k and the identical estimate.
    * That determinism is what makes KMV summaries safe to persist and
    * diff across engine migrations (the HLL family can't be byte-
    * compared across implementations). k=8 fits the smallest fixture
    * (15 distinct users/type at sf0.001) — the mechanism, not the
    * accuracy, is the contract; exact count sits beside the estimate.
    *
    * Scale: one distinct-pairs shuffle, then a per-group bottom-k
    * window (state k rows per group); the estimate never moves rows. */
  private def aggKmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    val k = 8
    import graft.Tables.events
    val h = conv(substring(md5(concat(lit("kmv:"), col("user_id").cast("string"))), 1, 12),
      16, 10).cast(LongType).cast("double") / lit(281474976710656.0)
    val ev = events(spark, dir).select(col("event_type"), col("user_id")).distinct()
      .withColumn("h", h)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("h"), col("user_id"))
    val stats = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n_exact"))
    ev.withColumn("rn", row_number().over(w))
      .filter(col("rn") === k)
      .select(col("event_type"), col("h").as("hk"))
      .join(stats, "event_type")
      .select(col("event_type"), col("n_exact"),
        Parity.r2(lit(k - 1).cast("double") / col("hk")).as("est_distinct"))
      .orderBy(col("event_type"))
  }

  /** Two-phase t-digest re-aggregation — the QUANTILE member of the
    * pre-aggregable-summary family (HLL = distinct, CMS = frequency,
    * MG = top-k, t-digest = quantiles): daily per-type digests of the
    * event value (the binaries a metrics store would persist) are
    * re-merged per type and answer p50/p95 over the whole range
    * without revisiting rows. Both phases are mergeable custom
    * aggregates ([[graft.functions.TDigestSketchAgg]] /
    * [[graft.functions.TDigestMergeAgg]]) — at 100 TB the daily
    * digests are ~2δ centroids each, so the re-merge is metadata-
    * sized. Sketch ⇒ no oracle; accuracy invariant-tested against the
    * exact per-type distribution. */
  private def aggTdigestReaggregate(spark: SparkSession, dir: String): DataFrame = {
    import graft.Tables.events
    val daily = events(spark, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(expr("tdigest_sketch(value, 200)").as("sk"))
    daily.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_days"),
        expr("tdigest_merge_quantile(sk, 200, 0.5)").as("p50_merged"),
        expr("tdigest_merge_quantile(sk, 200, 0.95)").as("p95_merged"))
      .orderBy(col("event_type"))
  }

  /** Count-min sketch frequency estimation — the FREQUENCY member of
    * the sketch family (HLL = distinct, MG = top-k, CMS = point
    * frequency): a fixed d×w counter grid whose partials merge by
    * addition, so one pass + one tiny shuffle summarizes per-value
    * counts at any scale; the stored sketch then answers "how often
    * does X occur" without revisiting rows. Build is Spark's
    * `count_min_sketch` (mergeable agg, fixed seed ⇒ deterministic);
    * the ONE ~d×w-int sketch row to the driver is bounded metadata
    * (the cross-job handoff, like the bloom sketch above), probed for
    * the bounded event-type domain. Output pairs estimate with exact
    * count; CMS guarantees est ≥ exact and est ≤ exact + ε·N w.p. 1−δ
    * (invariant-tested). Approximate ⇒ no oracle. */
  private def aggCountminFreq(spark: SparkSession, dir: String): DataFrame = {
    import graft.Tables.events
    val skBytes = events(spark, dir)
      .agg(expr("count_min_sketch(event_type, 0.001d, 0.99d, 42)").as("sk"))
      .head().getAs[Array[Byte]]("sk")
    val sk = org.apache.spark.util.sketch.CountMinSketch
      .readFrom(new java.io.ByteArrayInputStream(skBytes))
    val exact = events(spark, dir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("exact_count"))
    val types = exact.select("event_type").collect().map(_.getString(0)) // ≤10 values
    val est = types.toSeq.map(t => (t, sk.estimateCount(t)))
    exact.join(
        exact.sparkSession.createDataFrame(est).toDF("event_type", "est_count"),
        Seq("event_type"))
      .select(col("event_type"), col("est_count"), col("exact_count"))
      .orderBy(col("event_type"))
  }

  /** EXACT distinct counting via bitmap partials — the precise
    * counterpart of agg_hll_reaggregate. Monthly (l_returnflag, month,
    * bucket) partials store a ≤4 KB bitmap each (bit = one key in a
    * 32768-wide bucket); re-aggregation ORs bitmaps per bucket, then
    * sums per-bucket popcounts. Unlike count(DISTINCT) this
    * pre-aggregates: the 100 TB nightly job persists the monthly
    * bitmaps and any slice re-unions them without touching raw rows —
    * and unlike HLL the answer is exact, so the oracle is a plain
    * count(DISTINCT). Memory is bounded by key-space/8 bits per group,
    * the right trade for dense surrogate-key domains.
    *
    * Round 18: the bitmap aggregation runs through the
    * hash-aggregable twins ([[graft.functions.BitmapConstructObjAgg]]
    * — byte-identical layout, pinned by an exact-equality
    * InvariantSpec test): Spark's built-ins carry BinaryType BUFFER
    * attributes, which are not UnsafeRow-mutable, so they planned
    * SortAggregate — a per-split sort of lineitem by (flag, mon, bkt)
    * before the partial and a sort of the partials after the exchange
    * (PlanAudit catch). ObjectHashAggregate removes both sorts; the
    * 4 KB partials over the wire are unchanged. */
  private def aggBitmapDistinct(spark: SparkSession, dir: String): DataFrame = {
    val monthly = lineitem(spark, dir)
      .groupBy(col("l_returnflag"), date_trunc("month", col("l_shipdate")).as("mon"),
        bitmap_bucket_number(col("l_partkey")).as("bkt"))
      .agg(expr("bitmap_construct_obj_agg(bitmap_bit_position(l_partkey))").as("bm"))
    monthly
      .groupBy(col("l_returnflag"), col("bkt"))
      .agg(expr("bitmap_or_obj_agg(bm)").as("bm")) // re-aggregation: OR the stored partials
      .groupBy(col("l_returnflag"))
      .agg(sum(bitmap_count(col("bm"))).as("distinct_parts"))
      .orderBy(col("l_returnflag"))
  }

  /** Weighted aggregates: quantity-weighted mean price and weighted
    * discount per flag — the unit-economics shape (`sum(w·x)/sum(w)`)
    * that a plain avg() silently gets wrong. Single extra multiply in
    * the partial aggregate; ulp jitter from cross-engine sum order is
    * absorbed by r4 (agg_stats argument). */
  private def aggWeighted(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        graft.Parity.r4(sum(col("l_extendedprice") * col("l_quantity")) / sum(col("l_quantity")))
          .as("wavg_price"),
        graft.Parity.r6(sum(col("l_discount") * col("l_quantity")) / sum(col("l_quantity")))
          .as("wavg_discount"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  private def aggRollup(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), Parity.r2(sum(col("l_quantity"))).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n"), col("sum_qty"))
      .orderBy(col("returnflag"), col("linestatus"))

  private def aggCube(spark: SparkSession, dir: String): DataFrame =
    orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), Parity.r2(sum(col("o_totalprice"))).as("total"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("total"))
      .orderBy(col("status"), col("priority"))

  private def aggGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    orders(spark, dir).createOrReplaceTempView("graft_orders_gs")
    spark.sql(
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        | coalesce(o_orderpriority, 'ALL') AS priority,
        | count(*) AS n
        |FROM graft_orders_gs
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY status, priority""".stripMargin)
  }

  /** Ordered group→array, rendered as a CSV string so the oracle compare
    * is canonical (array ordering pinned by array_sort, numeric). */
  private def aggCollect(spark: SparkSession, dir: String): DataFrame =
    orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(
        concat_ws(",",
          transform(array_sort(collect_list(col("o_orderkey"))),
            x => x.cast(StringType))).as("order_keys"),
        count(lit(1)).as("n"))
      .orderBy(col("o_custkey"))

  /** Boolean / conditional aggregates. */
  private def aggBool(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("bool_and(l_quantity > 0)").as("all_positive_qty"),
        expr("bool_or(l_discount > 0.09)").as("any_big_discount"),
        expr("count_if(l_tax = 0)").as("n_taxfree"))
      .orderBy(col("l_returnflag"))

  /** The reference's dedup-before-COPY precondition
    * (`/root/reference/src/load/pg.rs:19-20`) as an operator: projection
    * distinct. One shuffle on all output columns. */
  private def dedupExact(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_linestatus"), col("l_quantity"))
      .dropDuplicates()
      .orderBy(col("l_returnflag"), col("l_linestatus"), col("l_quantity"))

  val defs: Seq[QueryDef] = Seq(
    QueryDef("agg_hash", Some(
      """SELECT event_type, count(*) AS n,
        | floor(sum(value) * 100 + 0.5) / 100 AS sum_value,
        | floor(avg(value) * 100 + 0.5) / 100 AS avg_value,
        | min(value) AS min_value, max(value) AS max_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin), aggHash),

    QueryDef("agg_distinct", Some(
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS distinct_parts,
        | count(DISTINCT l_suppkey) AS distinct_supps, count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin), aggDistinct),

    QueryDef("agg_approx_distinct", None, aggApproxDistinct),
    QueryDef("agg_hll_reaggregate", None, aggHllReaggregate),
    QueryDef("agg_tdigest_reaggregate", None, aggTdigestReaggregate),

    QueryDef("agg_kmv_distinct", Some(
      """WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
        | h AS (
        |  SELECT event_type, user_id,
        |   CAST(('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 12)) AS BIGINT)
        |     / 281474976710656.0 AS h
        |  FROM u),
        | r AS (
        |  SELECT event_type, h,
        |   row_number() OVER (PARTITION BY event_type ORDER BY h, user_id) AS rn
        |  FROM h),
        | s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact
        |       FROM u GROUP BY 1)
        |SELECT s.event_type, s.n_exact,
        | floor(CAST(7 AS DOUBLE) / r.h * 100 + 0.5) / 100 AS est_distinct
        |FROM s JOIN r ON r.event_type = s.event_type AND r.rn = 8
        |ORDER BY s.event_type""".stripMargin), aggKmvDistinct),

    QueryDef("agg_kmv_setops", Some(
      """WITH u AS (
        |  SELECT o_custkey,
        |   max(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS in_a,
        |   max(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS in_b
        |  FROM orders WHERE o_orderstatus IN ('F', 'O') GROUP BY o_custkey),
        | h AS (
        |  SELECT o_custkey, in_a, in_b,
        |   CAST(('0x' || substr(md5('kmv:' || CAST(o_custkey AS VARCHAR)), 1, 12)) AS BIGINT)
        |     / 281474976710656.0 AS h
        |  FROM u),
        | sk AS (SELECT * FROM h ORDER BY h, o_custkey LIMIT 64),
        | s AS (SELECT CAST(sum(in_a) AS BIGINT) AS n_a,
        |   CAST(sum(in_b) AS BIGINT) AS n_b,
        |   CAST(sum(in_a * in_b) AS BIGINT) AS n_intersect_exact,
        |   CAST(count(*) AS BIGINT) AS n_union_exact FROM h),
        | m AS (SELECT max(h) AS hk,
        |   CAST(sum(in_a * in_b) AS BIGINT) AS cnt_both FROM sk)
        |SELECT s.n_a, s.n_b, s.n_intersect_exact, s.n_union_exact,
        | floor(CAST(63 AS DOUBLE) / m.hk * 100 + 0.5) / 100 AS est_union,
        | floor(CAST(m.cnt_both AS DOUBLE) / CAST(64 AS DOUBLE) * 1000000 + 0.5)
        |   / 1000000 AS est_jaccard,
        | floor(CAST(m.cnt_both AS DOUBLE) / CAST(64 AS DOUBLE)
        |   * (CAST(63 AS DOUBLE) / m.hk) * 100 + 0.5) / 100 AS est_intersect
        |FROM s, m""".stripMargin), aggKmvSetops),
    QueryDef("agg_countmin_freq", None, aggCountminFreq),

    QueryDef("agg_bitmap_distinct", Some(
      """SELECT l_returnflag, CAST(count(DISTINCT l_partkey) AS BIGINT) AS distinct_parts
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      aggBitmapDistinct),

    QueryDef("agg_weighted", Some(
      """SELECT l_returnflag,
        | floor(sum(l_extendedprice * l_quantity) / sum(l_quantity) * 10000 + 0.5) / 10000
        |   AS wavg_price,
        | floor(sum(l_discount * l_quantity) / sum(l_quantity) * 1000000 + 0.5) / 1000000
        |   AS wavg_discount,
        | count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      aggWeighted),

    QueryDef("agg_rollup", Some(
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        | coalesce(l_linestatus, 'ALL') AS linestatus,
        | count(*) AS n, floor(sum(l_quantity) * 100 + 0.5) / 100 AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin), aggRollup),

    QueryDef("agg_cube", Some(
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        | coalesce(o_orderpriority, 'ALL') AS priority,
        | count(*) AS n, floor(sum(o_totalprice) * 100 + 0.5) / 100 AS total
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin), aggCube),

    QueryDef("agg_grouping_sets", Some(
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        | coalesce(o_orderpriority, 'ALL') AS priority,
        | count(*) AS n
        |FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY status, priority""".stripMargin), aggGroupingSets),

    QueryDef("agg_collect", Some(
      """SELECT o_custkey,
        | string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS order_keys,
        | count(*) AS n
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin), aggCollect),

    QueryDef("agg_bool", Some(
      """SELECT l_returnflag,
        | bool_and(l_quantity > 0) AS all_positive_qty,
        | bool_or(l_discount > 0.09) AS any_big_discount,
        | CAST(count_if(l_tax = 0) AS BIGINT) AS n_taxfree
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin), aggBool),

    QueryDef("dedup_exact", Some(
      """SELECT DISTINCT l_returnflag, l_linestatus, l_quantity
        |FROM lineitem
        |ORDER BY l_returnflag, l_linestatus, l_quantity""".stripMargin), dedupExact),

    QueryDef("agg_bitmap_intersect", Some(
      """SELECT CAST(count(*) AS BIGINT) AS n_both FROM (
        |  SELECT user_id FROM events
        |  WHERE event_type IN ('purchase', 'error')
        |  GROUP BY user_id HAVING count(DISTINCT event_type) = 2)""".stripMargin),
      aggBitmapIntersect),

    QueryDef("agg_decimal_sum", Some(
      """SELECT l_returnflag,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_price_cents,
        | CAST(sum(CAST(l_discount AS DECIMAL(18,4))) * 10000 AS BIGINT) AS total_disc_x10k
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      aggDecimalSum)
  )

  /** Exact distinct-INTERSECTION from bitmap partials — the AND half
    * of the pre-aggregable-distinct story (agg_bitmap_distinct is the
    * OR half): per-(event_type, bucket) bitmaps are built once (the
    * same partials a metrics store would persist), then "users who did
    * BOTH" is a bucket equi-join + the codegen'd
    * [[graft.functions.BitmapAnd]] + bitmap_count — no re-scan of raw
    * rows, no count-distinct shuffle of user ids. Spark ships
    * bitmap_or_agg but no AND; the custom expression fills the gap. */
  private def aggBitmapIntersect(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def bm(t: String) = ev.filter(col("event_type") === t)
      .select(bitmap_bucket_number(col("user_id")).as("bkt"),
        bitmap_bit_position(col("user_id")).as("pos"))
      .groupBy(col("bkt"))
      .agg(expr("bitmap_construct_obj_agg(pos)").as("bm"))
    bm("purchase").join(bm("error").withColumnRenamed("bm", "bm2"), "bkt")
      .select(expr("bitmap_count(bitmap_and(bm, bm2))").as("c"))
      .agg(sum(col("c")).as("n_both"))
  }

  /** Exact decimal aggregation — the order-independent alternative to
    * double sums: casting to DECIMAL before summing makes the total
    * bit-identical regardless of partitioning or merge order (integer
    * arithmetic underneath), so NO Parity rounding formula is needed —
    * the oracle matches to the last digit. This is the pattern for
    * money columns at 100 TB, where a double sum's ulp drift is both
    * nondeterministic across runs and audit-hostile. The EXACT decimal
    * aggregation stays internal; the emitted columns are scaled BIGINT
    * (cents / discount×10⁴) per the "BIGINT-cast derived ints" parity
    * rule ([[graft.Parity]]) — DECIMAL output canonicalizes differently
    * across engines (trailing-zero / width rendering) even when every
    * value is equal, so fixed-point integers are the only hash-stable
    * wire format for money. */
  private def aggDecimalSum(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        (sum(col("l_extendedprice").cast(DecimalType(18, 2))) * lit(100))
          .cast("long").as("total_price_cents"),
        (sum(col("l_discount").cast(DecimalType(18, 4))) * lit(10000))
          .cast("long").as("total_disc_x10k"))
      .orderBy(col("l_returnflag"))
}
