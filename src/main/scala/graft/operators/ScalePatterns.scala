package graft.operators

import graft.{Parity, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale patterns made explicit as operators: skew-salted joins and
  * bucketed co-located joins. On a 1000-executor cluster these are the
  * difference between a straggler-bound shuffle and an even one — the
  * queries here keep them oracle-checkable by being semantics-preserving
  * rewrites of a plain join (the oracle runs the *unsalted* SQL).
  */
object ScalePatterns {
  import Tables._

  private val NumSalts = 8

  /** Skew-salted aggregation join: the fact side derives a
    * deterministic salt, the dim side is exploded ×NumSalts, and the
    * join key becomes (key, salt) — a skewed hot key now spreads over
    * NumSalts reducers. Deterministic salt (not rand()) keeps the
    * operator replayable and oracle-checkable; result is provably
    * identical to the unsalted join, which is what the oracle runs.
    *
    * (AQE's skewedJoin handles sort-merge skew automatically at
    * runtime; explicit salting remains the portable fallback and works
    * for hash aggregation too.) */
  private def joinSkewSalted(spark: SparkSession, dir: String): DataFrame = {
    val fact = lineitem(spark, dir)
      .withColumn("salt", pmod(col("l_linenumber").cast("int"), lit(NumSalts)))
    val dim = orders(spark, dir)
      .withColumn("salt", explode(array((0 until NumSalts).map(lit): _*)))
    fact.join(dim,
        fact("l_orderkey") === dim("o_orderkey") && fact("salt") === dim("salt"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), Parity.r2(sum(col("l_extendedprice"))).as("revenue"))
      .orderBy(col("o_orderstatus"))
  }

  /** Bucketed co-located join: both fact tables are written bucketed by
    * the join key; the join then requires NO exchange on either side —
    * the shuffle happened once at write time and is amortized over
    * every subsequent join (the standard layout for a 100 TB fact
    * store). The test suite asserts the exchange-free plan. */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val key = graft.Caches.tableSuffix(spark, "bucketed", dir, Seq("lineitem", "orders"))
    val wh = graft.Caches.dir(spark, "bucketed", dir, Seq("lineitem", "orders"))
    val li = s"graft_li_bucketed_$key"
    val od = s"graft_od_bucketed_$key"
    if (!spark.catalog.tableExists(li)) {
      lineitem(spark, dir).write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$wh/$li").mode("overwrite").saveAsTable(li)
      orders(spark, dir).write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$wh/$od").mode("overwrite").saveAsTable(od)
    }
    spark.table(li).join(spark.table(od), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), Parity.r2(sum(col("l_quantity"))).as("qty"))
      .orderBy(col("o_orderpriority"))
  }

  /** orders hive-partitioned by `o_year`, the write-once layout shared
    * by [[partitionPrunedScan]] and [[joinDpp]]. */
  private def yearLayout(spark: SparkSession, dir: String): String =
    graft.Caches.once(spark, "partyear_v1", dir, Seq("orders"))(
      orders(spark, dir).withColumn("o_year", year(col("o_orderdate")))
        .write.partitionBy("o_year").parquet(_))

  /** Partition-pruned scan: the fact table is laid out
    * hive-partitioned by year (the standard 100 TB lake layout); a
    * filter on the partition column then prunes directories at PLANNING
    * time — the scan never opens a non-matching file, so query cost
    * follows the selected partitions, not the table. Written once and
    * reused (amortized layout cost, like the bucketed tables) through
    * the write-once publish, so a half-written layout is never read.
    * The test suite asserts PartitionFilters in the plan. */
  def partitionPrunedScan(spark: SparkSession, dir: String): DataFrame =
    read(spark, yearLayout(spark, dir))
      .filter(col("o_year") === 1995)
      .groupBy(month(col("o_orderdate")).cast("bigint").as("month"))
      .agg(count(lit(1)).as("n"), Parity.r2(sum(col("o_totalprice"))).as("revenue"))
      .orderBy(col("month"))

  /** DYNAMIC partition pruning (the TPC-DS date-dim pattern): the fact
    * table is hive-partitioned by year; the year filter lives on a
    * small DIMENSION (complete years only), so static pruning can't
    * see it — Spark runs the broadcast dim first and injects its keys
    * into the fact scan's PartitionFilters at RUNTIME
    * (`dynamicpruningexpression`, plan-asserted). At 100 TB this is
    * the difference between scanning 6/7 of the lake and scanning the
    * whole of it whenever the cut lives in a dimension. The date dim
    * is built once beside the layout: per-year order counts plus a
    * `d_complete` flag from the all-integer rule 5·n·n_years > 4·total
    * (exact arithmetic — no float threshold to drift cross-engine or
    * cross-SF; drops the trailing partial year at every SF). */
  def joinDpp(spark: SparkSession, dir: String): DataFrame = {
    val dimBase = graft.Caches.once(spark, "datedim_v1", dir, Seq("orders")) { out =>
      val yc = orders(spark, dir)
        .groupBy(year(col("o_orderdate")).as("d_year"))
        .agg(count(lit(1)).as("d_n_orders"))
      val tot = yc.agg(sum(col("d_n_orders")).as("t"), count(lit(1)).as("ny"))
      yc.crossJoin(broadcast(tot))
        // int flag + literal equality below: a bare boolean predicate
        // gets simplified to a lone attribute, which Spark's DPP
        // "likely selective" test rejects — EqualTo(attr, lit) passes
        .withColumn("d_complete",
          (col("d_n_orders") * 5 * col("ny") > col("t") * 4).cast("int"))
        .select(col("d_year"), col("d_n_orders"), col("d_complete"))
        .write.parquet(out)
    }
    val fact = read(spark, yearLayout(spark, dir))
    val dim = read(spark, dimBase).filter(col("d_complete") === 1)
    fact.join(broadcast(dim), col("o_year") === col("d_year"))
      .groupBy(col("o_year").cast("bigint").as("yr"))
      .agg(count(lit(1)).as("n"),
        Parity.r2(sum(col("o_totalprice"))).as("revenue"))
      .orderBy(col("yr"))
  }

  /** Incremental aggregation (lambda-architecture primitive): a
    * materialized partial aggregate over the closed history merges with
    * a freshly-computed delta — the nightly-batch + today's-increment
    * pattern that avoids rescanning 100 TB of history per refresh.
    * Count/sum partials merge exactly (counts are ints; l_quantity sums
    * are integer-valued doubles, so merge order can't move an ulp); the
    * oracle recomputes the full aggregate from scratch and must match
    * bit-for-bit. */
  def incrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = "1997-01-01"
    val base = graft.Caches.once(spark, "incragg_v1", dir, Seq("lineitem"))(
      lineitem(spark, dir)
        .filter(col("l_shipdate") < lit(cutoff))
        .groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("qty"))
        .write.parquet(_))
    val delta = lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(cutoff))
      .groupBy(col("l_linestatus"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("qty"))
    read(spark, base).unionByName(delta)
      .groupBy(col("l_linestatus"))
      .agg(sum(col("n")).as("n"), sum(col("qty")).as("qty"))
      .orderBy(col("l_linestatus"))
  }

  /** CDC apply / MERGE INTO compaction: a change stream (here: events
    * re-read as keyed upserts/deletes — 'error' = delete, else upsert
    * of `value`) collapses to latest-change-per-key, then applies to
    * the snapshot in ONE full outer join: update where both sides
    * match, insert where only the stream side exists, delete drops the
    * row, untouched snapshot rows pass through. This is the nightly
    * compaction shape for mutable 100 TB tables without a transactional
    * format — latest-wins via row_number over (ts, id) is deterministic
    * and mirrored textually in the oracle. */
  def cdcApply(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val latest = events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id").as("key"),
        when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
        col("value").as("new_val"))
    val snapshot = customer(spark, dir)
      .select(col("c_custkey").as("key"), col("c_acctbal"))
    snapshot.join(latest, Seq("key"), "full_outer")
      .filter(coalesce(col("op"), lit("")) =!= "D") // deletes drop out
      .select(col("key"),
        Parity.r2(when(col("op") === "U", col("new_val")).otherwise(col("c_acctbal")))
          .as("balance"),
        when(col("c_acctbal").isNull, "inserted")
          .when(col("op") === "U", "updated")
          .otherwise("kept").as("change_status"))
  }

  /** Z-order (Morton) clustering key: interleave the bits of two filter
    * dimensions so ONE range-clustered layout serves range predicates on
    * EITHER dimension. At 100 TB this is the data-layout lever:
    * `repartitionByRange(z)` + `sortWithinPartitions(z)` at write time
    * gives every file a tight min/max envelope on BOTH l_partkey and
    * l_suppkey, so parquet row-group stats prune files for either
    * predicate — one layout, two clustered dims (vs. a plain sort, which
    * clusters only its leading column).
    *
    * The query proves the locality property the pruning relies on: rows
    * are bucketed by the top 4 bits of a 16-bit Morton code (8 bits per
    * dim) and each bucket reports its bounding rectangle — z-contiguous
    * ⇒ each side spans at most 2^6 = 64 values (asserted in
    * InvariantSpec). Production would rank-normalize each dim to the
    * full code width; here the low 8 bits of dense surrogate keys are
    * already uniform, and masking keeps the arithmetic exactly
    * reproducible in the oracle. Pure codegen'd bit ops, one hash-agg. */
  private def morton8(x: org.apache.spark.sql.Column,
      y: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until 8).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  private def scaleZorder(spark: SparkSession, dir: String): DataFrame = {
    val x = col("l_partkey").bitwiseAND(lit(255L))
    val y = col("l_suppkey").bitwiseAND(lit(255L))
    lineitem(spark, dir)
      .select(x.as("x"), y.as("y"), morton8(x, y).as("z"))
      .groupBy(shiftright(col("z"), 12).as("z_bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"))
      .orderBy(col("z_bucket"))
  }

  /** DuckDB recomputes the identical Morton code term-by-term. */
  private val mortonSql: String = (0 until 8).map { i =>
    s"((((l_partkey & 255) >> $i) & 1) << ${2 * i}) | " +
      s"((((l_suppkey & 255) >> $i) & 1) << ${2 * i + 1})"
  }.mkString(" | ")

  /** Runtime bloom-filter join pruning (Spark's runtime row-level
    * filtering, SPARK-32268): when a selective dimension filter feeds a
    * SHUFFLE join, the optimizer builds a bloom filter over the
    * creation side's join keys at runtime and injects
    * `might_contain(...)` into the fact scan — rows that can't join are
    * dropped BEFORE the shuffle, the 100 TB analogue of partition
    * pruning for non-partition keys. Local-mode demo knobs, isolated in
    * a child session so nothing leaks to other queries: the
    * application-side scan threshold drops to 0 (the fixture files are
    * KBs; a real fact table passes the 10 GB default on its own) and
    * broadcast is disabled (a broadcast join already prunes at the hash
    * table — the runtime filter is the SHUFFLE-join lever). The plan
    * suite asserts `might_contain` reaches the lineitem scan. */
  def runtimeFilterJoin(spark: SparkSession, dir: String): DataFrame = {
    val s = spark.newSession()
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val od = orders(s, dir).filter(col("o_totalprice") > 400000)
    lineitem(s, dir)
      .join(od.hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), Parity.r2(sum(col("l_extendedprice"))).as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  /** Dynamic partition overwrite — the in-place restatement pattern
    * for partitioned lake tables: late-arriving corrections replace
    * ONLY the partitions they touch (here: 1997 orders restated at a
    * 10% discount), untouched partitions keep their original files.
    * `partitionOverwriteMode=dynamic` is set on a child session so the
    * static-mode default (which would truncate the whole table) never
    * leaks to other queries. The base layout AND its restatement are
    * built together into one write-once store (graft.Caches.once), so
    * no reader ever sees the layout unrestated.
    * The oracle recomputes the post-restatement state from the raw
    * table — so the check proves the selective overwrite left every
    * other partition intact. */
  def partitionOverwrite(spark: SparkSession, dir: String): DataFrame = {
    val s = spark.newSession()
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val base = graft.Caches.once(s, "partoverwrite_v1", dir, Seq("orders")) { out =>
      val withYr = orders(s, dir)
        .withColumn("yr", year(col("o_orderdate")).cast("long"))
      withYr.write.partitionBy("yr").parquet(out)
      // restatement: only the yr=1997 directory is replaced — dynamic
      // mode scopes the overwrite to partitions present in the write
      withYr.filter(col("yr") === 1997)
        .withColumn("o_totalprice", col("o_totalprice") * 0.9)
        .write.partitionBy("yr").mode("overwrite").parquet(out)
    }
    read(s, base)
      .groupBy(col("yr"))
      .agg(count(lit(1)).as("n"), Parity.r2(sum(col("o_totalprice"))).as("total"))
      .orderBy(col("yr"))
  }

  /** Explicit bloom pre-filter join — the hand-placed twin of
    * `scale_runtime_filter`: the optimizer's runtime filter only fires
    * inside one query's plan, but an ETL pipeline often builds the
    * selective side in ONE job and scans the 100 TB fact in ANOTHER.
    * Spark's own bloom pair (`bloom_agg`, `bloom_might_contain`) lets the
    * pipeline build the sketch explicitly (mergeable agg, one tiny
    * binary row), broadcast it, and gate fact rows BEFORE the join
    * shuffle. No false negatives + the exact join downstream ⇒ the
    * result is provably identical to the plain join the oracle runs;
    * false positives only cost shuffle bytes. */
  def bloomPrefilterJoin(spark: SparkSession, dir: String): DataFrame = {
    val dim = part(spark, dir).filter(col("p_size") === 1)
      .select(col("p_partkey"), col("p_brand"))
    // Build job: mergeable agg → ONE ~100 KB sketch row to the driver
    // (bounded metadata, the cross-job handoff — a real pipeline writes
    // these bytes next to the dim and later jobs load them). Probe
    // requires a CONSTANT sketch, which the literal also satisfies.
    val sketch = dim
      .agg(expr("bloom_agg(xxhash64(p_partkey), 100000L, 800000L)").as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val gated = lineitem(spark, dir)
      .select(col("l_partkey"), col("l_extendedprice"))
      .filter(call_function("bloom_might_contain",
        lit(sketch), xxhash64(col("l_partkey"))))
    gated.join(dim.hint("merge"), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"), Parity.r2(sum(col("l_extendedprice"))).as("revenue"))
      .orderBy(col("p_brand"))
  }

  /** SCD Type-2 dimension maintenance — the warehouse pattern CDC-apply
    * (above) deliberately discards: instead of overwriting, every change
    * CLOSES the current row (valid_to = change time) and INSERTS a new
    * version, so the dimension keeps queryable history ("balance as of
    * any date"). Change feed = latest event per key (same latest-wins
    * rule as `scale_cdc_apply`); 'error' events close without a
    * successor (logical delete), unknown keys insert at version 1.
    *
    * Scale shape: ONE full-outer shuffle join (dim ⋈ latest-change) and
    * ONE projection — each joined row emits its ≤2 output versions via
    * `array_compact` + `explode`, so history expansion never re-joins or
    * re-scans (the naive UNION-of-selects form would plan the join once
    * per branch). At 100 TB the dim join key is the natural bucketing
    * column. */
  def scd2Apply(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val latest = events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id").as("key"),
        when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
        col("value").as("new_val"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("change_ts"),
        lit(true).as("in_chg"))
    val dim = customer(spark, dir)
      .select(col("c_custkey").as("key"), col("c_acctbal"), lit(true).as("in_dim"))
    val opened = lit("1990-01-01 00:00:00")
    val changed = coalesce(col("in_chg"), lit(false)) &&
      (col("op") === "D" || !col("new_val").eqNullSafe(col("c_acctbal")))
    val existing = when(col("in_dim").isNotNull, struct(
      Parity.r2(col("c_acctbal")).as("balance"),
      opened.as("valid_from"),
      when(changed, col("change_ts")).as("valid_to"),
      lit(1L).as("version"),
      (!changed).as("is_current")))
    val successor = when(col("op") === "U" && (col("in_dim").isNull || changed), struct(
      Parity.r2(col("new_val")).as("balance"),
      col("change_ts").as("valid_from"),
      lit(null).cast("string").as("valid_to"),
      when(col("in_dim").isNotNull, lit(2L)).otherwise(lit(1L)).as("version"),
      lit(true).as("is_current")))
    dim.join(latest, Seq("key"), "full_outer")
      .select(col("key"), explode(array_compact(array(existing, successor))).as("r"))
      .select(col("key"), col("r.balance"), col("r.valid_from"),
        col("r.valid_to"), col("r.version"), col("r.is_current"))
  }

  /** Small-file compaction — the lake-maintenance pattern that keeps a
    * 100 TB table scannable: streaming/CDC writers leave thousands of
    * KB-sized files whose per-file open/footer cost dominates scans, so
    * a periodic job rewrites each fragmented directory into
    * target-sized files. The fragmented layout (64 shards) is
    * materialized write-once; compaction sizes its output from the
    * observed bytes (ceil(total/target), file METADATA only — no data
    * to the driver) and rewrites in one pass. The returned aggregate is
    * computed from the COMPACTED files and must equal the oracle's scan
    * of the raw table — proving the rewrite lost nothing — while the
    * test suite asserts the file count actually collapsed. */
  def compaction(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.Caches.once(spark, "compact_v1", dir, Seq("orders")) { out =>
      val frag = s"$out/fragmented"
      orders(spark, dir).repartition(64).write.parquet(frag)
      val fragPath = new org.apache.hadoop.fs.Path(frag)
      val bytes = fragPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(fragPath).filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
      val target = 32L * 1024 * 1024 // local-mode stand-in for the 128 MB lake default
      val nOut = math.max(1L, (bytes + target - 1) / target).toInt
      read(spark, frag).repartition(nOut).write.parquet(s"$out/compacted")
    }
    read(spark, s"$base/compacted")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), Parity.r2(sum(col("o_totalprice"))).as("total"))
      .orderBy(col("o_orderstatus"))
  }

  /** ANALYZE-style column-statistics manifest for the optimizer: per
    * column — exact NDV, min/max (as canonical strings), null count,
    * row count. These are the stats a cost-based planner feeds on
    * (join reordering, broadcast decisions, skew detection); at scale
    * the exact count_distinct swaps for the HLL sketch
    * (agg_approx_distinct) per partition and this same manifest shape
    * re-aggregates incrementally. ONE scan: all per-column aggregates
    * evaluate in a single agg (partial-merge-able), then `stack`
    * unpivots to the long (column, …) catalog form. */
  private def scaleStatsCollect(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
      "o_orderpriority")
    val o = orders(spark, dir)
    // five count_distincts in ONE agg would plan an Expand that
    // replicates every row 5× through a single shuffle (measured 3.0 s);
    // instead the non-distinct moments (min/max/nulls/count — all
    // partial-merge-able, no expand) run in one scan, and each NDV runs
    // as its own two-phase distinct agg over a single pruned column.
    // The five 1-row NDV results union and broadcast-join the stacked
    // manifest — metadata-sized movement only.
    val stackArgs = cols.map(c => s"'$c', min_$c, max_$c, nulls_$c").mkString(", ")
    val moments = o
      .agg(count(lit(1)).as("n_rows"),
        cols.flatMap { c =>
          Seq(min(col(c)).cast("string").as(s"min_$c"),
            max(col(c)).cast("string").as(s"max_$c"),
            sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c"))
        }: _*)
      .select(expr(s"stack(${cols.size}, $stackArgs)" +
        " AS (column_name, min_value, max_value, null_count)"), col("n_rows"))
    val ndvs = cols.map { c =>
      o.select(col(c)).agg(count_distinct(col(c)).as("ndv"))
        .select(lit(c).as("column_name"), col("ndv"))
    }.reduce(_ unionByName _)
    moments.join(broadcast(ndvs), "column_name")
      .select(col("column_name"), col("ndv"), col("min_value"),
        col("max_value"), col("null_count"), col("n_rows"))
      .orderBy(col("column_name"))
  }

  /** Shared DuckDB statement for the SCD2 history build — consumed
    * verbatim by `scale_scd2_apply` and, wrapped as a CTE, by the PIT
    * lookup `join_scd2_pit`. */
  private val scd2Sql: String =
    """WITH latest AS (
      |  SELECT user_id AS key,
      |   CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
      |   value AS new_val,
      |   strftime(ts, '%Y-%m-%d %H:%M:%S') AS change_ts,
      |   row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events),
      | c AS (SELECT key, op, new_val, change_ts FROM latest WHERE rn = 1),
      | d AS (SELECT c_custkey AS key, c_acctbal FROM customer),
      | j AS (SELECT coalesce(d.key, c.key) AS key,
      |        d.key IS NOT NULL AS in_dim, c.key IS NOT NULL AS in_chg,
      |        c_acctbal, op, new_val, change_ts
      |       FROM d FULL OUTER JOIN c ON d.key = c.key),
      | f AS (SELECT *, in_chg AND (op = 'D' OR new_val IS DISTINCT FROM c_acctbal)
      |         AS changed FROM j)
      |SELECT key, floor(c_acctbal * 100 + 0.5) / 100 AS balance,
      | '1990-01-01 00:00:00' AS valid_from,
      | CASE WHEN changed THEN change_ts END AS valid_to,
      | CAST(1 AS BIGINT) AS version, NOT changed AS is_current
      |FROM f WHERE in_dim
      |UNION ALL
      |SELECT key, floor(new_val * 100 + 0.5) / 100,
      | change_ts, NULL, CASE WHEN in_dim THEN 2 ELSE 1 END, true
      |FROM f WHERE op = 'U' AND (NOT in_dim OR changed)""".stripMargin

  /** Point-in-time (AS OF) lookup against the SCD2 history — the
    * feature-store correctness pattern: each order reads the dimension
    * VERSION that was valid at its own date, never the current one
    * (no feature leakage from the future). The join keys on the
    * dimension key with a residual validity-range predicate — an
    * equi-join shuffle, never a range-join blowup, because versions
    * per key are bounded (≤2 here, small everywhere). Validity bounds
    * are canonical timestamp STRINGS, which compare lexicographically
    * identically on both engines. The balance total sums exact CENTS
    * (bigint) and divides once — no float-accumulation drift. */
  private def joinScd2Pit(spark: SparkSession, dir: String): DataFrame = {
    val hist = scd2Apply(spark, dir)
    val o = orders(spark, dir).select(col("o_custkey").as("key"),
      date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("o_ts"))
    o.join(hist, Seq("key"))
      .filter(col("valid_from") <= col("o_ts") &&
        (col("valid_to").isNull || col("o_ts") < col("valid_to")))
      .groupBy(col("version"), col("is_current"))
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("key")).as("n_keys"),
        (sum(floor(col("balance") * 100 + 0.5).cast("long")).cast("double") / 100)
          .as("total_balance"))
      .orderBy(col("version"), col("is_current"))
  }

  /** SALTED EXACT DISTINCT — the two-phase rewrite that saves a
    * count(DISTINCT) whose group key is low-cardinality but whose
    * groups are huge (3 returnflag groups × 200 M distinct parts each
    * would funnel every distinct value of a group through ONE reducer
    * in the naive plan). Phase 1 dedups (group, salt, value) where
    * salt = hash(value) mod 16 — each value lands in exactly one salt,
    * so the per-(group, salt) counts PARTITION the distinct set and
    * their sum is the exact answer; reducer parallelism becomes
    * groups × 16. Semantics-preserving ⇒ the oracle runs the plain
    * count(DISTINCT). */
  private def aggDistinctSalted(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .select(col("l_returnflag"),
        pmod(xxhash64(col("l_partkey")), lit(16)).as("salt"), col("l_partkey"))
      .distinct()
      .groupBy(col("l_returnflag"), col("salt"))
      .agg(count(lit(1)).as("pc"))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("pc")).as("n_parts"))
      .orderBy(col("l_returnflag"))

  val defs: Seq[QueryDef] = Seq(
    QueryDef("agg_distinct_salted", Some(
      """SELECT l_returnflag,
        | CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin),
      aggDistinctSalted),
    QueryDef("scale_stats_collect", Some(
      """WITH s AS (
        |  SELECT count(*) AS n_rows,
        |   count(DISTINCT o_custkey) AS ndv1,
        |     CAST(min(o_custkey) AS VARCHAR) AS mn1,
        |     CAST(max(o_custkey) AS VARCHAR) AS mx1,
        |     sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS nu1,
        |   count(DISTINCT o_orderstatus) AS ndv2,
        |     CAST(min(o_orderstatus) AS VARCHAR) AS mn2,
        |     CAST(max(o_orderstatus) AS VARCHAR) AS mx2,
        |     sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS nu2,
        |   count(DISTINCT o_totalprice) AS ndv3,
        |     CAST(min(o_totalprice) AS VARCHAR) AS mn3,
        |     CAST(max(o_totalprice) AS VARCHAR) AS mx3,
        |     sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS nu3,
        |   count(DISTINCT o_orderdate) AS ndv4,
        |     CAST(min(o_orderdate) AS VARCHAR) AS mn4,
        |     CAST(max(o_orderdate) AS VARCHAR) AS mx4,
        |     sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS nu4,
        |   count(DISTINCT o_orderpriority) AS ndv5,
        |     CAST(min(o_orderpriority) AS VARCHAR) AS mn5,
        |     CAST(max(o_orderpriority) AS VARCHAR) AS mx5,
        |     sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS nu5
        |  FROM orders)
        |SELECT column_name, ndv, min_value, max_value, null_count, n_rows FROM (
        |  SELECT 'o_custkey' AS column_name, ndv1 AS ndv, mn1 AS min_value,
        |    mx1 AS max_value, CAST(nu1 AS BIGINT) AS null_count, n_rows FROM s
        |  UNION ALL SELECT 'o_orderstatus', ndv2, mn2, mx2, CAST(nu2 AS BIGINT),
        |    n_rows FROM s
        |  UNION ALL SELECT 'o_totalprice', ndv3, mn3, mx3, CAST(nu3 AS BIGINT),
        |    n_rows FROM s
        |  UNION ALL SELECT 'o_orderdate', ndv4, mn4, mx4, CAST(nu4 AS BIGINT),
        |    n_rows FROM s
        |  UNION ALL SELECT 'o_orderpriority', ndv5, mn5, mx5, CAST(nu5 AS BIGINT),
        |    n_rows FROM s)
        |ORDER BY column_name""".stripMargin),
      scaleStatsCollect),

    QueryDef("join_bloom_prefilter", Some(
      """SELECT p_brand, count(*) AS n,
        | floor(sum(l_extendedprice) * 100 + 0.5) / 100 AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size = 1
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin),
      bloomPrefilterJoin),

    QueryDef("scale_scd2_apply", Some(scd2Sql), scd2Apply),

    // PIT lookup over the same history the apply op builds: nested
    // WITH keeps the two statements textually identical up to the
    // consumer query
    QueryDef("join_scd2_pit", Some(
      s"""WITH hist AS ($scd2Sql),
         | o AS (
         |  SELECT o_custkey AS key,
         |   strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_ts
         |  FROM orders)
         |SELECT version, is_current, count(*) AS n_orders,
         | count(DISTINCT o.key) AS n_keys,
         | CAST(sum(CAST(floor(balance * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100
         |   AS total_balance
         |FROM o JOIN hist ON hist.key = o.key
         |WHERE valid_from <= o_ts AND (valid_to IS NULL OR o_ts < valid_to)
         |GROUP BY version, is_current
         |ORDER BY version, is_current""".stripMargin),
      joinScd2Pit),

    QueryDef("scale_compaction", Some(
      """SELECT o_orderstatus, count(*) AS n,
        | floor(sum(o_totalprice) * 100 + 0.5) / 100 AS total
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
      compaction),

    QueryDef("scale_partition_overwrite", Some(
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        | CAST(count(*) AS BIGINT) AS n,
        | floor(sum(CASE WHEN year(o_orderdate) = 1997
        |   THEN o_totalprice * 0.9 ELSE o_totalprice END) * 100 + 0.5) / 100 AS total
        |FROM orders GROUP BY 1 ORDER BY yr""".stripMargin),
      partitionOverwrite),

    QueryDef("scale_runtime_filter", Some(
      """SELECT o_orderpriority, count(*) AS n,
        | floor(sum(l_extendedprice) * 100 + 0.5) / 100 AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 400000
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      runtimeFilterJoin),

    QueryDef("scale_zorder", Some(
      s"""WITH z AS (
         |  SELECT l_partkey & 255 AS x, l_suppkey & 255 AS y,
         |   ($mortonSql) AS z
         |  FROM lineitem)
         |SELECT z >> 12 AS z_bucket, count(*) AS n,
         | min(x) AS min_x, max(x) AS max_x,
         | min(y) AS min_y, max(y) AS max_y
         |FROM z GROUP BY 1 ORDER BY z_bucket""".stripMargin), scaleZorder),

    QueryDef("scale_cdc_apply", Some(
      """WITH latest AS (
        |  SELECT user_id AS key,
        |   CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |   value AS new_val,
        |   row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events),
        | l AS (SELECT key, op, new_val FROM latest WHERE rn = 1),
        | s AS (SELECT c_custkey AS key, c_acctbal FROM customer)
        |SELECT key,
        | floor((CASE WHEN op = 'U' THEN new_val ELSE c_acctbal END) * 100 + 0.5) / 100
        |   AS balance,
        | CASE WHEN c_acctbal IS NULL THEN 'inserted'
        |      WHEN op = 'U' THEN 'updated'
        |      ELSE 'kept' END AS change_status
        |FROM s FULL OUTER JOIN l USING (key)
        |WHERE coalesce(op, '') <> 'D'""".stripMargin), cdcApply),

    QueryDef("scale_incremental_agg", Some(
      """SELECT l_linestatus, count(*) AS n, sum(l_quantity) AS qty
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin),
      incrementalAgg),

    QueryDef("scan_partition_pruned", Some(
      """SELECT CAST(month(o_orderdate) AS BIGINT) AS month, count(*) AS n,
        | floor(sum(o_totalprice) * 100 + 0.5) / 100 AS revenue
        |FROM orders WHERE year(o_orderdate) = 1995
        |GROUP BY 1 ORDER BY month""".stripMargin), partitionPrunedScan),

    QueryDef("join_dpp", Some(
      """WITH yc AS (
        |  SELECT year(o_orderdate) AS y, count(*) AS c FROM orders GROUP BY 1),
        | t AS (SELECT sum(c) AS tot, count(*) AS ny FROM yc),
        | keep AS (SELECT y FROM yc, t WHERE c * 5 * ny > tot * 4)
        |SELECT CAST(o.yy AS BIGINT) AS yr, count(*) AS n,
        | floor(sum(o_totalprice) * 100 + 0.5) / 100 AS revenue
        |FROM (SELECT year(o_orderdate) AS yy, o_totalprice FROM orders) o
        | JOIN keep ON o.yy = keep.y
        |GROUP BY 1 ORDER BY yr""".stripMargin), joinDpp),

    QueryDef("join_skew_salted", Some(
      """SELECT o_orderstatus, count(*) AS n,
        | floor(sum(l_extendedprice) * 100 + 0.5) / 100 AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin), joinSkewSalted),

    QueryDef("join_bucketed", Some(
      """SELECT o_orderpriority, count(*) AS n,
        | floor(sum(l_quantity) * 100 + 0.5) / 100 AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin), bucketedJoin)
  )
}
