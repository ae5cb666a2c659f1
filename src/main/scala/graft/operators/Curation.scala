package graft.operators

import graft.{Parity, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Training-corpus assembly operators — the steps between a curated
  * document set and tensors: sequence packing, context-window chunking,
  * reproducible per-group sampling, and the two profiling queries a
  * pipeline runs before committing a 100 TB read.
  *
  * Everything is deterministic (md5-keyed ordering/sharding, integer
  * arithmetic) so each query carries an exact DuckDB oracle.
  */
object Curation {
  import Tables._

  private def toks: Column = filter(split(col("text"), " "), t => t =!= "")

  /** Deterministic NEGATIVE SAMPLING — the contrastive-training data
    * step (for each entity, k items it did NOT interact with): per
    * customer, 8 hash-probe candidates `md5(cust:slot) mod |parts|`
    * are anti-joined against that customer's purchased parts and the
    * first 3 survivors (by slot) become the negatives. The probe set
    * is BOUNDED (8 rows per customer, never the |customers|×|parts|
    * cross space a naive sampler materializes), the anti-join is a
    * keyed equi-join, and md5 probing makes the sample reproducible
    * across engines/runs/partitionings — so unlike RNG negative
    * samplers this one is oracle-checked. Collision dedup keeps the
    * smallest slot per candidate, so ranks are stable. */
  private def sampleNegatives(spark: SparkSession, dir: String): DataFrame = {
    val np = part(spark, dir).agg(count(lit(1)).as("np"))
    val purchased = lineitem(spark, dir)
      .join(orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_partkey")).distinct()
    val custs = purchased.select(col("o_custkey")).distinct()
    val probes = custs.crossJoin(broadcast(np))
      .select(col("o_custkey"), col("np"),
        explode(sequence(lit(0), lit(7))).as("slot"))
      .withColumn("cand",
        conv(substring(md5(concat(lit("neg:"), col("o_custkey").cast("string"),
          lit(":"), col("slot").cast("string"))), 1, 12), 16, 10)
          .cast(LongType) % col("np"))
    val firstSlot = probes.groupBy(col("o_custkey"), col("cand"))
      .agg(min(col("slot")).as("slot"))
    val purch2 = purchased
      .select(col("o_custkey").as("pc_cust"), col("l_partkey").as("pc_part"))
    val negs = firstSlot.join(purch2,
      col("o_custkey") === col("pc_cust") && col("cand") === col("pc_part"),
      "left_anti")
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("slot"), col("cand"))
    negs.withColumn("neg_rank", row_number().over(w).cast(LongType))
      .filter(col("neg_rank") <= 3)
      .select(col("o_custkey"), col("neg_rank"), col("cand").as("p_partkey"))
      .orderBy(col("o_custkey"), col("neg_rank"))
  }

  /** Fixed-budget sequence packing (contiguous fill): documents are
    * hash-sharded, ordered deterministically within their shard, and a
    * running token total assigns each doc to training sequence
    * ceil(cum/B) — docs stay whole, a sequence closes when the budget
    * is crossed. Output is per-sequence stats (the pack manifest).
    *
    * Scale: the only corpus-sized movement is ONE shuffle on shard_id;
    * the running sum is a per-shard window (shards are the parallelism
    * unit — 64 here, thousands at scale), then a (shard, seq) hash-agg
    * with map-side combine. No global ordering anywhere. */
  private def packSequences(spark: SparkSession, dir: String): DataFrame = {
    val budget = 256L
    val nShards = 64
    val w = Window.partitionBy(col("shard_id")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fanout(documents(spark, dir))
      .select(col("doc_id"), TextOps.subwordCount(toks).as("n_tokens"),
        // first 8 md5 hex digits → int: cross-engine-stable shard id
        (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast(LongType) % nShards).as("shard_id"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("seq_id", ceil(col("cum").cast("double") / budget).cast(LongType))
      .groupBy(col("shard_id"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("seq_tokens"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("shard_id"), col("seq_id"))
  }

  /** Shard-level pack manifest — the artifact a dataloader actually
    * consumes: one row per shard with its sequence count, doc count,
    * token total, and fill ratio against the packed capacity
    * (budget × n_seqs). Same chain as [[packSequences]] rolled up one
    * level; fill_ratio is exact-int ÷ exact-int (one exactly-rounded
    * double op, no rounding needed cross-engine).
    *
    * Scale: identical movement to pack_sequences — one shuffle on
    * shard_id, per-shard window, then a 64-row (shard count) final
    * aggregate. The manifest is metadata-sized by construction. */
  private def shardManifest(spark: SparkSession, dir: String): DataFrame = {
    val budget = 256L
    val nShards = 64
    val w = Window.partitionBy(col("shard_id")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fanout(documents(spark, dir))
      .select(col("doc_id"), TextOps.subwordCount(toks).as("n_tokens"),
        (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast(LongType) % nShards).as("shard_id"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("seq_id", ceil(col("cum").cast("double") / budget).cast(LongType))
      .groupBy(col("shard_id"))
      .agg(max(col("seq_id")).as("n_seqs"),
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("shard_tokens"))
      .select(col("shard_id"), col("n_seqs"), col("n_docs"), col("shard_tokens"),
        (col("shard_tokens").cast("double") /
          (col("n_seqs") * budget).cast("double")).as("fill_ratio"))
      .orderBy(col("shard_id"))
  }

  /** Context-window chunking with overlap: each document's token array
    * is cut into windows of 64 tokens at stride 48 (16-token overlap) —
    * the long-document → training-example explosion. Work is linear in
    * corpus tokens; the explode happens after a fan-out repartition so
    * per-row CPU spreads across the cluster. Chunks are identified by
    * md5 of their joined text (compact, cross-engine identical). */
  private def chunkOverlap(spark: SparkSession, dir: String): DataFrame = {
    val win = 64
    val stride = 48
    fanout(documents(spark, dir))
      .select(col("doc_id"), toks.as("tk"))
      .select(col("doc_id"), size(col("tk")).as("n"),
        posexplode(transform(
          sequence(lit(1), greatest(lit(1), ceil((size(col("tk")) - win)
            .cast("double") / stride).cast("int") + 1)),
          i => slice(col("tk"), lit(1) + (i - 1) * stride, lit(win))))
          .as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), (col("chunk_idx") + 1).cast(LongType).as("chunk_idx"),
        size(col("chunk")).cast(LongType).as("chunk_len"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** Reproducible k-per-group sampling, two-phase: stage 1 keeps each
    * PARTITION's k smallest md5 ranks per group (a superset of the
    * global answer, pruned with parallelism = partitions × groups, no
    * skew from group count); stage 2 ranks the ≤ k·P survivors per
    * group. The partition-local pruning is semantically transparent —
    * the k globally-smallest hashes per group survive any partitioning
    * — so the result is partitioning-independent and oracle-exact. */
  private def samplePerGroup(spark: SparkSession, dir: String): DataFrame = {
    val k = 5
    val h = md5(concat(lit("g42:"), col("event_id").cast("string")))
    val local = Window.partitionBy(col("pid"), col("event_type")).orderBy(col("h"))
    val global = Window.partitionBy(col("event_type")).orderBy(col("h"))
    events(spark, dir)
      .select(col("event_id"), col("event_type"), h.as("h"),
        spark_partition_id().as("pid"))
      .withColumn("lrn", row_number().over(local))
      .filter(col("lrn") <= k)
      .withColumn("rn", row_number().over(global).cast(LongType))
      .filter(col("rn") <= k)
      .select(col("event_type"), col("rn"), col("event_id"))
      .orderBy(col("event_type"), col("rn"))
  }

  /** Key-skew profile — the pre-flight check before keying a 100 TB
    * shuffle: per-key histogram (map-side combined), then one tiny
    * aggregate of its shape: row/key counts, the heaviest key, and the
    * share the top 10 keys hold. A high top-share says "salt this key"
    * before the job, not after it straggles.
    *
    * Scale: the top-10 cut is `orderBy().limit(10)` — a distributed
    * TakeOrderedAndProject (each partition offers its local top 10,
    * driver merges 10·P rows) — NOT a global `row_number()` window,
    * which would rank every key of the histogram through a single
    * partition: a straggler at 10⁸⁺ keys, in the very tool meant to
    * detect stragglers. The two one-row aggregates (global totals,
    * top-10 sum) meet in a broadcast cross join. */
  private def profileKeySkew(spark: SparkSession, dir: String): DataFrame = {
    val hist = lineitem(spark, dir)
      .groupBy(col("l_suppkey")).agg(count(lit(1)).as("cnt"))
    val totals = hist.agg(
      sum(col("cnt")).as("n_rows"),
      count(lit(1)).as("n_keys"),
      max(col("cnt")).as("max_key_rows"))
    val top10 = hist.orderBy(col("cnt").desc, col("l_suppkey")).limit(10)
      .agg(sum(col("cnt")).as("top10_rows"))
    totals.crossJoin(broadcast(top10))
      .select(col("n_rows"), col("n_keys"), col("max_key_rows"),
        Parity.r6(col("top10_rows") / col("n_rows")).as("top10_share"))
  }

  /** Deterministic EPOCH SHUFFLE + worker sharding — the "globally
    * shuffle the corpus, split it across N dataloader workers" step
    * every distributed training run needs, without RNG state: the
    * permutation key is md5("epoch1:" ‖ doc_id), so epoch 2 is a new
    * prefix (full reshuffle, zero coordination) and any worker can
    * recompute its own shard independently. Shard = key mod 8; order
    * within a shard = rank of the key — reproducible on any engine,
    * so the whole assignment is oracle-checked.
    *
    * Scale: ONE hash shuffle on shard, then shard-local sort — there
    * is no global sort anywhere (a global shuffle via ORDER BY
    * rand() would single-chain the corpus). At lake scale the same
    * plan materializes as repartition(shard) +
    * sortWithinPartitions(key) file writes; the explicit rank column
    * here exists so the contract is checkable. */
  private def pipelineShuffleShard(spark: SparkSession, dir: String): DataFrame = {
    val workers = 8L
    val h = conv(substring(md5(concat(lit("epoch1:"),
      col("doc_id").cast("string"))), 1, 12), 16, 10).cast(LongType)
    val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    Tables.documents(spark, dir).select(col("doc_id")).withColumn("h", h)
      .withColumn("shard", pmod(col("h"), lit(workers)))
      .withColumn("pos", row_number().over(w).cast(LongType))
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos"))
  }

  /** Distribution-drift tripwire (Population Stability Index): compare
    * the document-length distribution of the REFERENCE slice
    * (source = src0 — the prior crawl snapshot stand-in) against the
    * rest of the corpus over fixed 100-char bins, PSI term per bin
    * (p−q)·ln(p/q). The canonical "did this month's crawl shift under
    * me" check a curation pipeline runs before retraining; PSI > 0.25
    * is the conventional retrain-review threshold. Laplace-smoothed
    * counts ((n+1)/(tot+B)) keep every log finite, the bin list is a
    * FIXED sequence (absent bins still emit their smoothed term), and
    * all inputs to the one float expression are exact integer-derived
    * doubles — so the term is oracle-checked despite the ln.
    *
    * Scale: one map-side-combinable 6-bin aggregate + a 1-row totals
    * broadcast; the PSI itself is a projection over 6 rows. */
  private def profileDistributionDrift(spark: SparkSession, dir: String): DataFrame = {
    val nBins = 6
    val d = Tables.documents(spark, dir).select(
      least(floor(col("n_chars") / 100), lit(5)).cast(LongType).as("bin"),
      when(col("source") === "src0", 1).otherwise(0).as("is_ref"))
    val counts = d.groupBy(col("bin")).agg(
      sum(col("is_ref")).as("ref_n"), sum(lit(1) - col("is_ref")).as("cur_n"))
    val tot = d.agg(sum(col("is_ref")).as("ref_tot"),
      sum(lit(1) - col("is_ref")).as("cur_tot"))
    val p = (col("ref_n") + 1).cast("double") /
      (col("ref_tot") + nBins).cast("double")
    val q = (col("cur_n") + 1).cast("double") /
      (col("cur_tot") + nBins).cast("double")
    spark.range(0, nBins).select(col("id").as("bin"))
      .join(counts, Seq("bin"), "left")
      .na.fill(0L, Seq("ref_n", "cur_n"))
      .crossJoin(broadcast(tot))
      .select(col("bin"), col("ref_n"), col("cur_n"),
        Parity.r6((p - q) * log(p / q)).as("psi_term"))
      .orderBy(col("bin"))
  }

  /** Column-quality profile: null and distinct counts for every audited
    * column in ONE pass over the table (a single aggregate row,
    * unpivoted to long form) — the schema-drift tripwire that runs
    * before a training read trusts 100 TB of upstream output. */
  private def profileNulls(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
    val aggs = cols.flatMap { c =>
      Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
        count_distinct(col(c)).as(s"${c}__distinct"))
    }
    val one = orders(spark, dir).agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map { c =>
      struct(lit(c).as("column_name"), col(s"${c}__nulls").as("n_nulls"),
        col(s"${c}__distinct").as("n_distinct"))
    }
    one.select(explode(array(stacked: _*)).as("s"))
      .select(col("s.column_name"), col("s.n_nulls"), col("s.n_distinct"))
      .orderBy(col("column_name"))
  }

  /** Deterministic train/val/test split: each doc lands in a split by
    * its md5 fraction (0.90 / 0.05 / 0.05) — reproducible, partition-
    * independent, and stable under corpus growth (a doc never changes
    * split when new docs arrive; a rate-based sampler can't promise
    * that). Output is the split manifest: per (split, lang) doc and
    * token counts. Pure scan-level routing — zero extra shuffles beyond
    * the final tiny aggregate. */
  private def sampleTrainSplit(spark: SparkSession, dir: String): DataFrame = {
    val h = md5(concat(lit("split42:"), col("doc_id").cast("string")))
    val split = when(h < "e6666666666666666666666666666666", "train") // 0.90
      .when(h < "f3333333333333333333333333333333", "val")           // 0.05
      .otherwise("test")                                             // 0.05
    fanout(documents(spark, dir))
      .select(split.as("split"), col("lang"), size(toks).cast(LongType).as("n_tokens"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .orderBy(col("split"), col("lang"))
  }

  /** Corpus-mixture plan: given target sampling weights per source and
    * a global token budget, compute each source's keep rate
    * min(1, budget·w / tokens) and expected contribution — the
    * manifest a mixture-weighted training run is launched from. One
    * aggregate over the corpus + a 1-row budget broadcast; arithmetic
    * is rounded (r6) so the plan is cross-engine exact. */
  private def pipelineMixturePlan(spark: SparkSession, dir: String): DataFrame = {
    val budgetShare = 0.5 // train on half the corpus tokens
    val weight = when(col("source") === "src0", 0.4)
      .when(col("source") === "src1", 0.3)
      .when(col("source") === "src2", 0.2)
      .otherwise(0.1)
    val perSource = fanout(documents(spark, dir))
      .select(col("source"), TextOps.subwordCount(toks).as("n_tokens"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("src_tokens"))
    val total = perSource.agg(sum(col("src_tokens")).as("total_tokens"))
    perSource.crossJoin(broadcast(total))
      .withColumn("target_tokens",
        floor(col("total_tokens") * budgetShare * weight).cast(LongType))
      .select(col("source"), col("n_docs"), col("src_tokens"),
        col("target_tokens"),
        Parity.r6(least(lit(1.0),
          col("target_tokens") / col("src_tokens"))).as("keep_rate"),
        least(col("target_tokens"), col("src_tokens")).as("expected_tokens"))
      .orderBy(col("source"))
  }

  /** Pre-flight join-cardinality estimate — the planner's row-count
    * arithmetic made explicit, run BEFORE paying for a 100 TB join:
    * per-key histograms of both sides (map-side-combined hash aggs)
    * full-outer-joined on the key, then Σ lc·rc = the EXACT inner-join
    * output cardinality, max lc·rc = the skew hotspot a salting
    * decision keys off, and key containment = the referential health
    * signal. Cost is two scans + one histogram-sized shuffle — never
    * the fact⋈fact join itself. */
  private def profileJoinCardinality(spark: SparkSession, dir: String): DataFrame = {
    def est(left: DataFrame, lk: String, right: DataFrame, rk: String,
        label: String): DataFrame = {
      val la = left.groupBy(col(lk).as("k")).agg(count(lit(1)).as("lc"))
      val ra = right.groupBy(col(rk).as("k")).agg(count(lit(1)).as("rc"))
      la.join(ra, Seq("k"), "full_outer").agg(
        count(when(col("lc").isNotNull && col("rc").isNotNull, 1)).as("matching_keys"),
        coalesce(sum(col("lc") * col("rc")), lit(0L)).as("est_output_rows"),
        coalesce(max(col("lc") * col("rc")), lit(0L)).as("max_key_output"),
        Parity.r6(count(when(col("lc").isNotNull && col("rc").isNotNull, 1))
          / count(when(col("lc").isNotNull, 1))).as("left_containment"))
        .select(lit(label).as("join_key"), col("matching_keys"),
          col("est_output_rows"), col("max_key_output"), col("left_containment"))
    }
    est(lineitem(spark, dir), "l_orderkey", orders(spark, dir), "o_orderkey",
        "lineitem-orders")
      .unionByName(est(lineitem(spark, dir), "l_partkey", part(spark, dir),
        "p_partkey", "lineitem-part"))
      .orderBy(col("join_key"))
  }

  /** Data-contract expectation suite — the assert-before-train gate:
    * six rules (not-null, uniqueness, numeric range, value domain,
    * referential containment, date window) evaluated in ONE pass over
    * orders (the referential rule rides a key-preserving left join to
    * the customer dim), emitted long-form as (rule, violations, total,
    * pass). A 100 TB read that skips this gate trains on whatever the
    * upstream writer left behind. */
  private def profileExpectations(spark: SparkSession, dir: String): DataFrame = {
    val dim = customer(spark, dir).select(col("c_custkey"))
    val joined = orders(spark, dir)
      .join(dim, col("o_custkey") === col("c_custkey"), "left")
    val one = joined.agg(
      count(lit(1)).as("total"),
      sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("v_notnull"),
      (count(lit(1)) - count_distinct(col("o_orderkey"))).as("v_unique"),
      sum(when(col("o_totalprice") <= 0 || col("o_totalprice") > 1000000, 1L)
        .otherwise(0L)).as("v_range"),
      sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L))
        .as("v_domain"),
      sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("v_ref"),
      sum(when(col("o_orderdate") < lit("1992-01-01").cast("date") ||
        col("o_orderdate") > lit("1998-12-31").cast("date"), 1L).otherwise(0L))
        .as("v_dates"))
    val rules = Seq(
      "orderkey_not_null" -> "v_notnull", "orderkey_unique" -> "v_unique",
      "totalprice_in_range" -> "v_range", "orderstatus_in_domain" -> "v_domain",
      "custkey_in_customer" -> "v_ref", "orderdate_in_window" -> "v_dates")
    val stacked = rules.map { case (name, c) =>
      struct(lit(name).as("rule"), col(c).as("violations"), col("total"),
        (col(c) === 0L).as("pass"))
    }
    one.select(explode(array(stacked: _*)).as("s"))
      .select(col("s.rule"), col("s.violations"), col("s.total"), col("s.pass"))
      .orderBy(col("rule"))
  }

  /** Weighted sample without replacement via PRIORITY SAMPLING
    * (Duffield–Lund–Thorup): each document draws a deterministic
    * uniform u from md5, gets priority q = u / w (weight = token
    * count), and the k smallest priorities win — inclusion probability
    * ∝ weight, the classic size-biased pick for "sample the corpus but
    * prefer substantial documents".
    *
    * Cross-engine exactness with NO rounding: u is a 48-bit md5 prefix
    * (exactly representable in a double), u/2^48 divides by a power of
    * two (exponent shift — exact), and q = u_frac / w is ONE IEEE
    * division, correctly rounded identically on every engine. Compare
    * with A-ES (u^(1/w) keys), which needs transcendental pow — the
    * priority form is the arithmetic-exact member of that family.
    *
    * Scale: one scan → TakeOrderedAndProject(k) — per-partition top-k
    * then a k-row gather; no shuffle of the corpus. The rank window
    * runs AFTER the limit, over exactly k rows. */
  private def sampleWeighted(spark: SparkSession, dir: String): DataFrame = {
    val k = 100
    val w = Window.orderBy(col("q"), col("doc_id"))
    fanout(documents(spark, dir))
      .select(col("doc_id"), size(toks).cast(LongType).as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("q",
        (conv(substring(md5(concat(lit("w42:"), col("doc_id").cast("string"))), 1, 12),
          16, 10).cast(LongType).cast("double") / lit(281474976710656.0))
          / col("n_tokens").cast("double"))
      .orderBy(col("q"), col("doc_id")).limit(k)
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .select(col("rnk"), col("doc_id"), col("n_tokens"), col("q"))
  }

  /** The hashed n-gram feature stream behind [[corpusDsirSelect]] —
    * one (doc_id, lang, bucket) row per unigram/bigram occurrence. */
  private def dsirFeats(spark: SparkSession, dir: String): DataFrame = {
    val b = 512
    fanout(documents(spark, dir))
      .select(col("doc_id"), col("lang"), toks.as("t"))
      .select(col("doc_id"), col("lang"),
        explode(concat(col("t"),
          when(size(col("t")) >= 2,
            transform(sequence(lit(1), size(col("t")) - 1),
              i => concat_ws(" ", element_at(col("t"), i),
                element_at(col("t"), i + 1))))
            .otherwise(array().cast("array<string>")))).as("f"))
      .select(col("doc_id"), col("lang"),
        (conv(substring(md5(col("f")), 1, 8), 16, 10).cast(LongType) % b).as("b"))
  }

  /** The TRAINED per-bucket importance relation (b, lam_q) — the DSIR
    * "model" the batch selector joins and the streaming ingest twin
    * ([[graft.streaming.StreamingOps.dsirScoreIngest]]) inlines as a
    * ≤512-entry literal map. lam_q is the 1e-9-quantized smoothed
    * frequency difference (see [[corpusDsirSelect]]'s log-free
    * exactness note). */
  private[graft] def dsirLambda(spark: SparkSession, dir: String): DataFrame = {
    val b = 512
    val counts = dsirFeats(spark, dir).groupBy(col("b")).agg(
      count(lit(1)).as("n_r"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_t"))
    val tot = counts.agg(sum(col("n_r")).as("d_r"), sum(col("n_t")).as("d_t"))
    def q9(n: Column, d: Column): Column =
      floor(n.cast("double") / d.cast("double") * lit(1000000000.0) + lit(0.5))
        .cast(LongType)
    counts.crossJoin(broadcast(tot))
      .select(col("b"),
        (q9(col("n_t") + 1L, col("d_t") + b) -
          q9(col("n_r") + 1L, col("d_r") + b)).as("lam_q"))
  }

  /** The full per-doc score relation (pre-limit) — the batch truth the
    * streaming ingest twin's parity test compares against. */
  private[graft] def dsirFeatsScored(spark: SparkSession, dir: String): DataFrame =
    dsirFeats(spark, dir).join(broadcast(dsirLambda(spark, dir)), "b")
      // lang is functionally dependent on doc_id (a document
      // attribute carried through the feature explode), so it rides
      // as a GROUPING KEY: string keys hash-aggregate fine — it is
      // string AGGREGATION BUFFERS that are not UnsafeRow-mutable.
      // The former max(lang) carry planned SortAggregate and
      // externally sorted the full per-feature stream by doc_id (the
      // r13 min-over-STRING trap; round-18 PlanAudit catch). Same
      // rows, same values — the key never splits a group.
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_feats"), sum(col("lam_q")).as("score_q"))
      .select(col("doc_id"), col("lang"), col("n_feats"),
        (col("score_q").cast("double") / lit(1000000000.0)).as("score"))

  /** DSIR-shaped data selection (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every raw
    * document by how target-like its HASHED N-GRAM profile is, then
    * keep the top slice — the published recipe for choosing
    * pretraining data that matches a target distribution without
    * training a model. Features are word unigrams + bigrams hashed
    * into B = 512 buckets (the md5 idiom — reproducible across
    * engines/runs); the target distribution is the `lang = 'en'`
    * slice standing in for a curated target corpus.
    *
    * EXACTNESS over log-linearity: literal DSIR weights are
    * Σ n_b·(ln p_t[b] − ln p_r[b]); `ln` is the one primitive with no
    * cross-engine bit guarantee (JVM Math.log intrinsics may differ
    * from libm by an ulp, enough to flip a quantization floor). This
    * variant scores with Laplace-smoothed RELATIVE-FREQUENCY
    * differences instead: per bucket
    * λ_q = q9((n_t+1)/(D_t+B)) − q9((n_r+1)/(D_r+B)) (one exact double
    * division each, quantized to 1e-9 BIGINTs), and a document scores
    * Σ n_b·λ_q — an exact integer sum, so the whole ranking is
    * bit-deterministic and fully oracle-checked. Same monotone
    * "up-weight buckets the target over-uses" structure; documented
    * as the log-free variant.
    *
    * Scale: features collapse to a 512-row bucket relation (map-side
    * combinable counts); λ broadcasts; the per-doc score is one
    * grouped exact-int sum — no shuffle beyond the feature hash-agg,
    * no model, no driver state beyond the 512-row λ. */
  private def corpusDsirSelect(spark: SparkSession, dir: String): DataFrame =
    dsirFeatsScored(spark, dir)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(50)

  /** Temperature-scaled source mixture (the multilingual-sampling
    * recipe from XLM-R and friends): up-weight small sources by
    * sampling ∝ p_s^α instead of p_s. α = 0.5 deliberately — the one
    * temperature whose power is `sqrt`, the libm primitive with
    * proven cross-engine bit parity (ln/pow have none, the
    * corpus_dsir_select rule). Per-source √n is quantized to 1e-9
    * BIGINTs before the normalizer sum (20 doubles would otherwise
    * sum in partition order), so weights are exact ratios and the
    * per-million allocation is bit-deterministic — fully
    * oracle-checked. Scale: a |sources|-row metadata relation from
    * one combinable count. */
  private def corpusTemperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val counts = documents(spark, dir)
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .select(col("source"), col("n_docs"),
        floor(sqrt(col("n_docs").cast("double")) * lit(1000000000.0) + lit(0.5))
          .cast(LongType).as("s_q"))
    val z = counts.agg(sum(col("s_q")).as("z"))
    counts.crossJoin(broadcast(z))
      .select(col("source"), col("n_docs"),
        (col("s_q").cast("double") / col("z").cast("double")).as("weight"),
        floor(col("s_q").cast("double") / col("z").cast("double")
          * lit(1000000.0)).cast(LongType).as("docs_per_million"))
      .orderBy(col("source"))
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("corpus_temperature_mix", Some(
      """WITH c AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |   CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1000000000.0 + 0.5)
        |     AS BIGINT) AS s_q
        |  FROM documents GROUP BY 1),
        | z AS (SELECT CAST(sum(s_q) AS BIGINT) AS z FROM c)
        |SELECT source, n_docs,
        | CAST(s_q AS DOUBLE) / CAST(z AS DOUBLE) AS weight,
        | CAST(floor(CAST(s_q AS DOUBLE) / CAST(z AS DOUBLE) * 1000000.0)
        |   AS BIGINT) AS docs_per_million
        |FROM c, z ORDER BY source""".stripMargin), corpusTemperatureMix),

    QueryDef("corpus_dsir_select", Some(
      """WITH d AS (
        |  SELECT doc_id, lang,
        |   list_filter(string_split(text, ' '), t -> t <> '') AS t
        |  FROM documents),
        | f AS (
        |  SELECT doc_id, lang,
        |   unnest(t || list_transform(range(1, len(t)),
        |     i -> t[i] || ' ' || t[i + 1])) AS f
        |  FROM d),
        | fb AS (
        |  SELECT doc_id, lang,
        |   CAST(('0x' || substr(md5(f), 1, 8)) AS BIGINT) % 512 AS b
        |  FROM f),
        | c AS (
        |  SELECT b, CAST(count(*) AS BIGINT) AS n_r,
        |   CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_t
        |  FROM fb GROUP BY 1),
        | tot AS (
        |  SELECT CAST(sum(n_r) AS BIGINT) AS d_r,
        |   CAST(sum(n_t) AS BIGINT) AS d_t FROM c),
        | lam AS (
        |  SELECT b,
        |   CAST(floor(CAST(n_t + 1 AS DOUBLE) / CAST(d_t + 512 AS DOUBLE)
        |     * 1000000000.0 + 0.5) AS BIGINT)
        |   - CAST(floor(CAST(n_r + 1 AS DOUBLE) / CAST(d_r + 512 AS DOUBLE)
        |     * 1000000000.0 + 0.5) AS BIGINT) AS lam_q
        |  FROM c, tot),
        | s AS (
        |  SELECT doc_id, max(lang) AS lang,
        |   CAST(count(*) AS BIGINT) AS n_feats,
        |   CAST(sum(lam_q) AS BIGINT) AS score_q
        |  FROM fb JOIN lam USING (b) GROUP BY 1)
        |SELECT doc_id, lang, n_feats,
        | CAST(score_q AS DOUBLE) / 1000000000.0 AS score
        |FROM s ORDER BY score DESC, doc_id LIMIT 50""".stripMargin),
      corpusDsirSelect),

    QueryDef("sample_negatives", Some(
      """WITH np AS (SELECT count(*) AS p FROM part),
        | purchased AS (
        |  SELECT DISTINCT o_custkey, l_partkey
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        | custs AS (SELECT DISTINCT o_custkey FROM purchased),
        | probes AS (
        |  SELECT o_custkey, i AS slot,
        |   CAST(('0x' || substr(md5('neg:' || CAST(o_custkey AS VARCHAR)
        |     || ':' || CAST(i AS VARCHAR)), 1, 12)) AS BIGINT) % p AS cand
        |  FROM custs CROSS JOIN np, unnest(range(0, 8)) AS u(i)),
        | dedup AS (
        |  SELECT o_custkey, cand, min(slot) AS slot FROM probes GROUP BY 1, 2),
        | negs AS (
        |  SELECT d.o_custkey, d.cand, d.slot FROM dedup d
        |  WHERE NOT EXISTS (SELECT 1 FROM purchased pu
        |    WHERE pu.o_custkey = d.o_custkey AND pu.l_partkey = d.cand)),
        | r AS (
        |  SELECT o_custkey, cand,
        |   CAST(row_number() OVER (PARTITION BY o_custkey
        |     ORDER BY slot, cand) AS BIGINT) AS neg_rank
        |  FROM negs)
        |SELECT o_custkey, neg_rank, cand AS p_partkey FROM r WHERE neg_rank <= 3
        |ORDER BY o_custkey, neg_rank""".stripMargin), sampleNegatives),
    QueryDef("sample_weighted", Some(
      """WITH t AS (
        |  SELECT doc_id,
        |   CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)
        |     AS n_tokens
        |  FROM documents),
        | p AS (
        |  SELECT doc_id, n_tokens,
        |   (CAST(('0x' || substr(md5('w42:' || CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
        |      / 281474976710656.0) / CAST(n_tokens AS DOUBLE) AS q
        |  FROM t WHERE n_tokens > 0),
        | r AS (
        |  SELECT doc_id, n_tokens, q FROM p ORDER BY q, doc_id LIMIT 100)
        |SELECT CAST(row_number() OVER (ORDER BY q, doc_id) AS BIGINT) AS rnk,
        | doc_id, n_tokens, q
        |FROM r ORDER BY rnk""".stripMargin),
      sampleWeighted),

    QueryDef("profile_join_cardinality", Some(
      """WITH la1 AS (SELECT l_orderkey AS k, count(*) AS lc FROM lineitem GROUP BY 1),
        | ra1 AS (SELECT o_orderkey AS k, count(*) AS rc FROM orders GROUP BY 1),
        | j1 AS (SELECT lc, rc FROM la1 FULL OUTER JOIN ra1 USING (k)),
        | la2 AS (SELECT l_partkey AS k, count(*) AS lc FROM lineitem GROUP BY 1),
        | ra2 AS (SELECT p_partkey AS k, count(*) AS rc FROM part GROUP BY 1),
        | j2 AS (SELECT lc, rc FROM la2 FULL OUTER JOIN ra2 USING (k))
        |SELECT * FROM (
        | SELECT 'lineitem-orders' AS join_key,
        |  count(CASE WHEN lc IS NOT NULL AND rc IS NOT NULL THEN 1 END) AS matching_keys,
        |  CAST(coalesce(sum(lc * rc), 0) AS BIGINT) AS est_output_rows,
        |  CAST(coalesce(max(lc * rc), 0) AS BIGINT) AS max_key_output,
        |  floor(count(CASE WHEN lc IS NOT NULL AND rc IS NOT NULL THEN 1 END) * 1.0
        |    / count(CASE WHEN lc IS NOT NULL THEN 1 END) * 1000000 + 0.5) / 1000000
        |    AS left_containment
        | FROM j1
        | UNION ALL
        | SELECT 'lineitem-part',
        |  count(CASE WHEN lc IS NOT NULL AND rc IS NOT NULL THEN 1 END),
        |  CAST(coalesce(sum(lc * rc), 0) AS BIGINT),
        |  CAST(coalesce(max(lc * rc), 0) AS BIGINT),
        |  floor(count(CASE WHEN lc IS NOT NULL AND rc IS NOT NULL THEN 1 END) * 1.0
        |    / count(CASE WHEN lc IS NOT NULL THEN 1 END) * 1000000 + 0.5) / 1000000
        | FROM j2)
        |ORDER BY join_key""".stripMargin),
      profileJoinCardinality),

    QueryDef("profile_expectations", Some(
      """WITH j AS (
        |  SELECT o.*, c.c_custkey AS ref_key
        |  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey),
        | a AS (
        |  SELECT count(*) AS total,
        |   sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS v_notnull,
        |   count(*) - count(DISTINCT o_orderkey) AS v_unique,
        |   sum(CASE WHEN o_totalprice <= 0 OR o_totalprice > 1000000
        |     THEN 1 ELSE 0 END) AS v_range,
        |   sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
        |     THEN 1 ELSE 0 END) AS v_domain,
        |   sum(CASE WHEN ref_key IS NULL THEN 1 ELSE 0 END) AS v_ref,
        |   sum(CASE WHEN o_orderdate < DATE '1992-01-01'
        |     OR o_orderdate > DATE '1998-12-31' THEN 1 ELSE 0 END) AS v_dates
        |  FROM j)
        |SELECT rule, CAST(violations AS BIGINT) AS violations,
        | CAST(total AS BIGINT) AS total, violations = 0 AS pass
        |FROM (
        | SELECT 'orderkey_not_null' AS rule, v_notnull AS violations, total FROM a
        | UNION ALL SELECT 'orderkey_unique', v_unique, total FROM a
        | UNION ALL SELECT 'totalprice_in_range', v_range, total FROM a
        | UNION ALL SELECT 'orderstatus_in_domain', v_domain, total FROM a
        | UNION ALL SELECT 'custkey_in_customer', v_ref, total FROM a
        | UNION ALL SELECT 'orderdate_in_window', v_dates, total FROM a)
        |ORDER BY rule""".stripMargin),
      profileExpectations),

    QueryDef("sample_train_split", Some(
      """WITH d AS (
        |  SELECT CASE
        |    WHEN md5('split42:' || CAST(doc_id AS VARCHAR))
        |      < 'e6666666666666666666666666666666' THEN 'train'
        |    WHEN md5('split42:' || CAST(doc_id AS VARCHAR))
        |      < 'f3333333333333333333333333333333' THEN 'val'
        |    ELSE 'test' END AS split,
        |   lang,
        |   CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT split, lang, count(*) AS n_docs,
        | CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        |FROM d GROUP BY 1, 2 ORDER BY split, lang""".stripMargin),
      sampleTrainSplit),

    QueryDef("pipeline_mixture_plan", Some(
      s"""${TextOps.bpeSegSql},
        | g AS (SELECT e.doc_id, CAST(sum(wt.ntok) AS BIGINT) AS n_tokens
        |  FROM e JOIN wt ON e.wd = wt.wd GROUP BY e.doc_id),
        | dt AS (SELECT d.doc_id, d.source, coalesce(g.n_tokens, 0) AS n_tokens
        |  FROM d LEFT JOIN g ON d.doc_id = g.doc_id),
        | s AS (
        |  SELECT source, count(*) AS n_docs,
        |   CAST(sum(n_tokens) AS BIGINT) AS src_tokens
        |  FROM dt GROUP BY source),
        | t AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS total_tokens FROM s),
        | w AS (
        |  SELECT source, n_docs, src_tokens, total_tokens,
        |   CAST(floor(total_tokens * 0.5 * CASE source
        |     WHEN 'src0' THEN 0.4 WHEN 'src1' THEN 0.3
        |     WHEN 'src2' THEN 0.2 ELSE 0.1 END) AS BIGINT) AS target_tokens
        |  FROM s CROSS JOIN t)
        |SELECT source, n_docs, src_tokens, target_tokens,
        | floor(least(1.0, target_tokens * 1.0 / src_tokens) * 1000000 + 0.5)
        |   / 1000000 AS keep_rate,
        | least(target_tokens, src_tokens) AS expected_tokens
        |FROM w ORDER BY source""".stripMargin),
      pipelineMixturePlan),

    QueryDef("pipeline_shard_manifest", Some(
      s"""${TextOps.bpeSegSql},
        | g AS (SELECT e.doc_id, CAST(sum(wt.ntok) AS BIGINT) AS n_tokens
        |  FROM e JOIN wt ON e.wd = wt.wd GROUP BY e.doc_id),
        | t AS (
        |  SELECT d.doc_id, coalesce(g.n_tokens, 0) AS n_tokens,
        |   CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 64 AS shard_id
        |  FROM d LEFT JOIN g ON d.doc_id = g.doc_id),
        | c AS (
        |  SELECT shard_id, doc_id, n_tokens,
        |   sum(n_tokens) OVER (PARTITION BY shard_id ORDER BY doc_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t),
        | s AS (
        |  SELECT shard_id, CAST(max(ceil(cum / 256.0)) AS BIGINT) AS n_seqs,
        |   count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS shard_tokens
        |  FROM c GROUP BY shard_id)
        |SELECT shard_id, n_seqs, n_docs, shard_tokens,
        | CAST(shard_tokens AS DOUBLE) / CAST(n_seqs * 256 AS DOUBLE) AS fill_ratio
        |FROM s ORDER BY shard_id""".stripMargin),
      shardManifest),

    QueryDef("pipeline_pack_sequences", Some(
      s"""${TextOps.bpeSegSql},
        | g AS (SELECT e.doc_id, CAST(sum(wt.ntok) AS BIGINT) AS n_tokens
        |  FROM e JOIN wt ON e.wd = wt.wd GROUP BY e.doc_id),
        | t AS (
        |  SELECT d.doc_id, coalesce(g.n_tokens, 0) AS n_tokens,
        |   CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 64 AS shard_id
        |  FROM d LEFT JOIN g ON d.doc_id = g.doc_id),
        | c AS (
        |  SELECT shard_id, doc_id, n_tokens,
        |   sum(n_tokens) OVER (PARTITION BY shard_id ORDER BY doc_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT shard_id, CAST(ceil(cum / 256.0) AS BIGINT) AS seq_id,
        | count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
        | min(doc_id) AS first_doc
        |FROM c GROUP BY 1, 2 ORDER BY shard_id, seq_id""".stripMargin),
      packSequences),

    QueryDef("text_chunk_overlap", Some(
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |  FROM documents),
        | c AS (
        |  SELECT doc_id,
        |   unnest(generate_series(1,
        |     greatest(1, CAST(ceil((len(tk) - 64) / 48.0) AS INT) + 1))) AS chunk_idx,
        |   tk
        |  FROM t)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        | CAST(len(tk[1 + (chunk_idx-1)*48 : (chunk_idx-1)*48 + 64]) AS BIGINT) AS chunk_len,
        | md5(array_to_string(tk[1 + (chunk_idx-1)*48 : (chunk_idx-1)*48 + 64], ' ')) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin),
      chunkOverlap),

    QueryDef("sample_per_group", Some(
      """WITH h AS (
        |  SELECT event_type, event_id,
        |   md5('g42:' || CAST(event_id AS VARCHAR)) AS h
        |  FROM events),
        | r AS (
        |  SELECT event_type, event_id,
        |   CAST(row_number() OVER (PARTITION BY event_type ORDER BY h) AS BIGINT) AS rn
        |  FROM h)
        |SELECT event_type, rn, event_id FROM r WHERE rn <= 5
        |ORDER BY event_type, rn""".stripMargin),
      samplePerGroup),

    QueryDef("profile_key_skew", Some(
      """WITH hist AS (
        |  SELECT l_suppkey, count(*) AS cnt FROM lineitem GROUP BY 1),
        | rk AS (
        |  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, l_suppkey) AS rk
        |  FROM hist)
        |SELECT CAST(sum(cnt) AS BIGINT) AS n_rows, count(*) AS n_keys,
        | max(cnt) AS max_key_rows,
        | floor(sum(CASE WHEN rk <= 10 THEN cnt ELSE 0 END) * 1.0 / sum(cnt)
        |   * 1000000 + 0.5) / 1000000 AS top10_share
        |FROM rk""".stripMargin),
      profileKeySkew),

    QueryDef("pipeline_shuffle_shard", Some(
      """WITH h AS (
        |  SELECT doc_id,
        |   CAST(('0x' || substr(md5('epoch1:' || CAST(doc_id AS VARCHAR)), 1, 12))
        |     AS BIGINT) AS h
        |  FROM documents)
        |SELECT doc_id, h % 8 AS shard,
        | CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS BIGINT)
        |   AS pos
        |FROM h ORDER BY shard, pos""".stripMargin), pipelineShuffleShard),

    QueryDef("profile_distribution_drift", Some(
      """WITH d AS (
        |  SELECT least(CAST(floor(n_chars / 100) AS BIGINT), 5) AS bin,
        |   CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS is_ref
        |  FROM documents),
        | c AS (SELECT bin, CAST(sum(is_ref) AS BIGINT) AS ref_n,
        |   CAST(sum(1 - is_ref) AS BIGINT) AS cur_n FROM d GROUP BY bin),
        | t AS (SELECT CAST(sum(is_ref) AS BIGINT) AS ref_tot,
        |   CAST(sum(1 - is_ref) AS BIGINT) AS cur_tot FROM d),
        | b AS (SELECT CAST(u.b AS BIGINT) AS bin FROM unnest(range(0, 6)) AS u(b)),
        | j AS (SELECT b.bin, coalesce(c.ref_n, 0) AS ref_n,
        |   coalesce(c.cur_n, 0) AS cur_n FROM b LEFT JOIN c ON b.bin = c.bin),
        | e AS (SELECT bin, ref_n, cur_n,
        |   CAST(ref_n + 1 AS DOUBLE) / CAST(ref_tot + 6 AS DOUBLE) AS p,
        |   CAST(cur_n + 1 AS DOUBLE) / CAST(cur_tot + 6 AS DOUBLE) AS q
        |  FROM j, t)
        |SELECT bin, ref_n, cur_n,
        | floor((p - q) * ln(p / q) * 1000000 + 0.5) / 1000000 AS psi_term
        |FROM e ORDER BY bin""".stripMargin), profileDistributionDrift),

    QueryDef("profile_nulls", Some(
      """WITH a AS (
        |  SELECT
        |   sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS ck_n,
        |   count(DISTINCT o_custkey) AS ck_d,
        |   sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS os_n,
        |   count(DISTINCT o_orderstatus) AS os_d,
        |   sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS tp_n,
        |   count(DISTINCT o_totalprice) AS tp_d,
        |   sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS op_n,
        |   count(DISTINCT o_orderpriority) AS op_d
        |  FROM orders)
        |SELECT 'o_custkey' AS column_name, CAST(ck_n AS BIGINT) AS n_nulls,
        |  CAST(ck_d AS BIGINT) AS n_distinct FROM a
        |UNION ALL SELECT 'o_orderstatus', CAST(os_n AS BIGINT),
        |  CAST(os_d AS BIGINT) FROM a
        |UNION ALL SELECT 'o_totalprice', CAST(tp_n AS BIGINT),
        |  CAST(tp_d AS BIGINT) FROM a
        |UNION ALL SELECT 'o_orderpriority', CAST(op_n AS BIGINT),
        |  CAST(op_d AS BIGINT) FROM a
        |ORDER BY column_name""".stripMargin),
      profileNulls),

    QueryDef("corpus_budget_select", Some(
      s"""${TextOps.bpeSegSql},
        | g AS (SELECT e.doc_id, CAST(sum(wt.ntok) AS BIGINT) AS n_tokens
        |  FROM e JOIN wt ON e.wd = wt.wd GROUP BY e.doc_id),
        | scored AS (
        |  SELECT d.doc_id, coalesce(g.n_tokens, 0) AS tokens,
        |    CAST(least(9, d.n_chars // 200) AS BIGINT) AS bin,
        |    CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 2))::INT AS BIGINT) AS bucket,
        |    md5(CAST(d.doc_id AS VARCHAR)) AS md5key
        |  FROM d LEFT JOIN g ON d.doc_id = g.doc_id),
        |cum AS (SELECT *, sum(tokens) OVER (
        |   ORDER BY bin DESC, bucket, md5key, doc_id
        |   ROWS UNBOUNDED PRECEDING) AS cumtok FROM scored)
        |SELECT doc_id, tokens, bin FROM cum WHERE cumtok <= 10000
        |ORDER BY doc_id""".stripMargin),
      corpusBudgetSelect)
  )

  /** Selection under a token budget: keep the best documents (highest
    * quality bin first, then a deterministic md5 shuffle within the
    * bin) until the cumulative token count hits the budget — the
    * "fill the training run" step after mixture planning.
    *
    * The oracle states the semantics as ONE global running sum over
    * the canonical order (bin DESC, bucket, md5key, doc_id); executing
    * that literally is a single-partition window — a 100 TB straggler.
    * Instead: (1) aggregate per-(bin, md5-bucket) token totals — at
    * most bins×256 rows of metadata — and prefix-sum THOSE on one
    * tiny partition; (2) groups that fit entirely take all their
    * documents via a broadcast semi-join; (3) the single group
    * straddling the budget resolves exactly with an in-group cumsum
    * window partitioned by (bin, bucket) — bounded by one bucket's
    * rows (corpus/2560; recurse on a longer hash prefix if a bucket
    * still overflows an executor). Produces the byte-identical set to
    * the oracle's flat window at any partitioning. */
  private def corpusBudgetSelect(spark: SparkSession, dir: String): DataFrame = {
    val budget = 10000L
    val docs = documents(spark, dir).select(
      col("doc_id"),
      TextOps.subwordCount(toks).as("tokens"),
      least(lit(9L), floor(col("n_chars") / 200)).cast(LongType).as("bin"),
      conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
        .cast(LongType).as("bucket"),
      md5(col("doc_id").cast("string")).as("md5key"))
    val groupTotals = docs.groupBy(col("bin"), col("bucket"))
      .agg(sum(col("tokens")).as("gtok"))
    // ≤ bins×256 metadata rows: the one place a single-partition
    // window is correct by construction
    val wOrd = Window.orderBy(col("bin").desc, col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefix = groupTotals.withColumn("cum_before",
      coalesce(sum(col("gtok")).over(wOrd), lit(0L)))
    val full = prefix.filter(col("cum_before") + col("gtok") <= budget)
      .select(col("bin"), col("bucket"))
    val boundary = prefix
      .filter(col("cum_before") <= budget && col("cum_before") + col("gtok") > budget)
      .select(col("bin"), col("bucket"), (lit(budget) - col("cum_before")).as("remaining"))
    val fullDocs = docs.join(broadcast(full), Seq("bin", "bucket"), "left_semi")
    val wIn = Window.partitionBy(col("bin"), col("bucket"))
      .orderBy(col("md5key"), col("doc_id"))
    val boundaryDocs = docs.join(broadcast(boundary), Seq("bin", "bucket"))
      .withColumn("cum_in", sum(col("tokens")).over(wIn))
      .filter(col("cum_in") <= col("remaining"))
      .select(docs.columns.map(col).toIndexedSeq: _*)
    fullDocs.unionByName(boundaryDocs)
      .select(col("doc_id"), col("tokens"), col("bin"))
      .orderBy(col("doc_id"))
  }
}
