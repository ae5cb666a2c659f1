package graft.operators

import graft.{Parity, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over the embedding column (SURVEY.md §2.10):
  * brute-force cosine top-k (the correctness baseline), kNN majority
  * label, and an LSH-bucketed ANN variant (the scale path).
  *
  * Dot products use `aggregate(zip_with(a,b,_*_), 0.0, _+_)` over
  * double-cast arrays — a sequential left-to-right sum, bitwise
  * identical to DuckDB's list_inner_product, so exact float parity
  * holds for the oracle. Cosines are additionally tie-broken by id and
  * rounded (Parity.r6) before ranking so rank order can never diverge
  * on a final-ulp difference.
  *
  * Scale: brute-force is |Q|×|C| with the query side broadcast — right
  * for reranking/small Q. For full-corpus ANN, simAnnLsh buckets by
  * random-hyperplane signs so the join is bucket-local (the IVF/LSH
  * pattern); recall is traded via the number of planes.
  */
object Similarity {
  import Tables._

  /** The composable dot form — since round 10 the optimizer rule
    * [[graft.plans.RewriteDotProduct]] rewrites every occurrence into
    * the codegen'd `dot_product`, so this IS the codegen path wherever
    * the rule is installed (all mains, tests, GraftExtensions
    * sessions); kept declarative at call sites as the rule's fixture
    * and for sessions without the extension.
    * Shared with Dedup.dedupEmbeddingLsh. */
  private[graft] def dotLambda(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  private def normed(spark: SparkSession, dir: String): DataFrame = {
    fanout(embeddings(spark, dir))
      .select(col("vec_id"), col("label"),
        col("embedding").cast(ArrayType(DoubleType)).as("e"))
      .withColumn("nrm", sqrt(expr("dot_product(e, e)")))
  }

  private def topkPairs(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val v = normed(spark, dir)
    val q = v.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qnrm"))
    val c = v.select(col("vec_id").as("cid"), col("label"), col("e").as("ce"),
      col("nrm").as("cnrm"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cs").desc, col("cid"))
    c.join(broadcast(q), col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"), col("label"),
        Parity.r6(expr("dot_product(qe, ce)") / (col("qnrm") * col("cnrm"))).as("cs"))
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= k)
  }

  private def simCosineTopk(spark: SparkSession, dir: String): DataFrame =
    topkPairs(spark, dir, 5)
      .select(col("qid"), col("rnk"), col("cid"), col("cs"))
      .orderBy(col("qid"), col("rnk"))

  /** Majority label among the 5 nearest neighbors per query vector. */
  private def simKnnLabel(spark: SparkSession, dir: String): DataFrame = {
    val votes = topkPairs(spark, dir, 5)
      .groupBy(col("qid"), col("label")).agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("qid")).orderBy(col("votes").desc, col("label"))
    votes.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("qid"), col("label").as("pred_label"), col("votes"))
      .orderBy(col("qid"))
  }

  /** Deterministic ±1 hyperplanes from a fixed LCG seed (no RNG at
    * runtime — resumable and cross-run stable; also lets the DuckDB
    * oracle embed the identical planes as literals). */
  private[operators] def planes(nPlanes: Int, dim: Int): Seq[Seq[Double]] = {
    var state = 0x5DEECE66DL
    def next(): Double = {
      state = state * 6364136223846793005L + 1442695040888963407L
      if ((state >>> 32 & 1L) == 1L) 1.0 else -1.0
    }
    Seq.fill(nPlanes)(Seq.fill(dim)(next()))
  }

  /** The multi-probe candidate relation, exact-scored: (qid, cid, cs)
    * for every candidate met in any of the 13 probed buckets. Pair-
    * unique by construction (each candidate lives in exactly one
    * bucket; probe buckets are distinct). Shared by the production
    * top-3 ([[simAnnMultiprobe]]) and the config eval harness
    * ([[simAnnEval]]). */
  private def multiprobeScored(spark: SparkSession, dir: String): DataFrame = {
    val ps = planes(12, 64)
    val bucket = ps.zipWithIndex.map { case (p, i) =>
      val planeLit = array(p.map(lit): _*)
      when(dotLambda(col("e"), planeLit) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    val v = normed(spark, dir).withColumn("bucket", bucket)
    val q = v.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qnrm"),
        col("bucket").as("qbucket"))
    val probeCols = (0 to 12).map { i =>
      if (i == 0) col("qbucket")
      else col("qbucket").bitwiseXOR(lit(1L << (i - 1)))
    }
    val probes = q.select(col("qid"), col("qe"), col("qnrm"),
      explode(array(probeCols: _*)).as("pbucket"))
    val c = v.select(col("vec_id").as("cid"), col("e").as("ce"),
      col("nrm").as("cnrm"), col("bucket"))
    c.join(broadcast(probes), col("bucket") === col("pbucket") && col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"),
        Parity.r6(expr("dot_product(qe, ce)") / (col("qnrm") * col("cnrm"))).as("cs"))
  }

  /** Multi-probe LSH + exact rerank — the production recall lever:
    * each query probes its own 12-bit hyperplane bucket AND all 12
    * Hamming-distance-1 neighbors (13 probes), candidates from any
    * probe get EXACT cosine scores, global top-3 per query. Widens
    * recall over single-bucket LSH (a near-neighbor differing on one
    * hyperplane side is no longer lost) at 13× the bucket fan-out —
    * still bucket-local equi-joins, never all-pairs. The probe list
    * lives on the bounded query side (|Q|×13 rows, broadcast); each
    * candidate has exactly one bucket, so probe buckets being distinct
    * means no (qid, cid) pair can duplicate. */
  private def simAnnMultiprobe(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("cs").desc, col("cid"))
    multiprobeScored(spark, dir)
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= 3)
      .select(col("qid"), col("rnk"), col("cid"), col("cs"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** EVAL HARNESS for the ANN config (the sim-family mirror of
    * dedup_minhash_eval): the confusion matrix of the multi-probe LSH
    * retrieval against exact brute-force top-3 ground truth, folded
    * relationally — the measurement a pipeline runs before trusting an
    * ANN index config on a new corpus. Two stages are scored:
    * shortlist recall (did the probed buckets even CONTAIN the true
    * neighbors — the banding-level diagnostic; cand_tp / n_truth) and
    * end-to-end top-3 precision/recall/F1 after exact rerank. Both
    * sides are deterministic (literal hyperplanes, r6-rounded cosines),
    * so the whole matrix is oracle-checked, not just invariant-bounded
    * (and since round 11 the IVF/IVF-PQ variants are too — the
    * quantized Lloyd made their centroids SQL-re-derivable; their
    * recall contracts additionally stay in InvariantSpec).
    *
    * Scale: the predicted side is the production probe join; the truth
    * side's |Q|×|C| brute force is the EVAL harness, run on a bounded
    * query sample exactly as here (|Q|=10). Counts fold with one
    * left + one full-outer join — no driver-side set math. */
  private def simAnnEval(spark: SparkSession, dir: String): DataFrame = {
    val scored = multiprobeScored(spark, dir)
    val w = Window.partitionBy(col("qid")).orderBy(col("cs").desc, col("cid"))
    val cand = scored.select(col("qid"), col("cid"), lit(1L).as("c"))
    val pred = scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3).select(col("qid"), col("cid"), lit(1L).as("p"))
    val truth = topkPairs(spark, dir, 3)
      .select(col("qid"), col("cid"), lit(1L).as("t"))
    val u = cand.join(pred, Seq("qid", "cid"), "left")
      .join(truth, Seq("qid", "cid"), "full_outer")
      .na.fill(0L, Seq("c", "p", "t"))
    val prec = col("tp") / col("n_pred")
    val rec = col("tp") / col("n_truth")
    u.agg(
      sum(col("c")).as("n_cand"), sum(col("p")).as("n_pred"),
      sum(col("t")).as("n_truth"),
      sum(col("c") * col("t")).as("cand_tp"),
      sum(col("p") * col("t")).as("tp"))
      .select(col("n_cand"), col("n_pred"), col("n_truth"), col("cand_tp"),
        col("tp"),
        when(col("n_truth") > 0,
          Parity.r6(col("cand_tp") / col("n_truth"))).as("cand_recall"),
        when(col("n_pred") > 0, Parity.r6(prec)).as("prec"),
        when(col("n_truth") > 0, Parity.r6(rec)).as("rec"),
        when(col("tp") > 0,
          Parity.r6(lit(2) * prec * rec / (prec + rec))).as("f1"))
  }

  /** ANN via random-hyperplane LSH: 12-bit sign signature → bucket;
    * candidates meet queries only within their bucket (join on bucket
    * id — no all-pairs). Approximate ⇒ no oracle. */
  private def simAnnLsh(spark: SparkSession, dir: String): DataFrame = {
    val ps = planes(12, 64)
    val bucket = ps.zipWithIndex.map { case (p, i) =>
      val planeLit = array(p.map(lit): _*)
      when(dotLambda(col("e"), planeLit) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    val v = normed(spark, dir).withColumn("bucket", bucket)
    val q = v.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qnrm"),
        col("bucket").as("qbucket"))
    val c = v.select(col("vec_id").as("cid"), col("e").as("ce"), col("nrm").as("cnrm"),
      col("bucket"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cs").desc, col("cid"))
    c.join(broadcast(q), col("bucket") === col("qbucket") && col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"),
        Parity.r6(expr("dot_product(qe, ce)") / (col("qnrm") * col("cnrm"))).as("cs"))
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= 3)
      .select(col("qid"), col("rnk"), col("cid"), col("cs"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** Lloyd centroids: rows (key, cid, c). `key` is the group a keyed
    * assignment looks a centroid up by (the super-cell `sid`, the PQ
    * subspace `sub`); it is 0 and ignored when assignment is unkeyed. */
  private[graft] type Cents = Seq[(Long, Long, Seq[Double])]

  private[graft] def unkeyed(cents: Seq[(Long, Seq[Double])]): Cents =
    cents.map { case (cid, c) => (0L, cid, c) }

  /** THE QUANTIZED-LLOYD CORE — the one nearest-centroid argmin
    * ([[nearest]]), the one centroid update ([[update]]) and the one
    * round loop ([[train]]) behind every k-means in the engine: the
    * IVF coarse and PQ / IVF-PQ codebook stores ([[trainCentroids]]),
    * cluster_kmeans and the flat SemDeDup cells ([[kmeansModelSeq]]),
    * both levels of the hierarchical cells ([[coarseModelSeq]]),
    * sim_pq_train (keyed by subspace), the IVF/PQ encoders, and the
    * three streaming ingest twins.
    *
    * Results are bit-identical to the DuckDB oracles'
    * `list_inner_product` Lloyd CTEs, and to themselves across
    * partitionings, under three conditions:
    *  - distance is ‖x‖² − 2⟨x,c⟩ + ‖c‖² evaluated in that order,
    *    every dot a left-to-right fold from 0.0 (DotProduct, which
    *    `dotLambda` is rewritten to). ‖c‖² is folded on the driver as
    *    `foldLeft(0.0)(acc + x*x)`, which IS DotProduct's loop, so the
    *    literal equals a run-time `dot_product(c, c)` bit for bit;
    *  - the argmin is ascending struct order on (dist, cid): ties go to
    *    the lowest cid, the oracles' `ORDER BY dist, cid`;
    *  - each coordinate is one exact division Σq / (n·10⁶) over BIGINT
    *    sums of values quantized to 10⁻⁶, so no float sum depends on
    *    partition order.
    *
    * Assignment is a map-side `array_min(transform(<literal>))`
    * projection: no join, no window, no exchange, and no SortAggregate
    * (an explode + min(struct) argmin plans one — struct buffers are
    * not hash-aggregable). A transform lambda re-evaluates its body per
    * candidate, so `x` must be a column (never an inline slice), and
    * ‖x‖² is bound as the variable of a one-element transform around
    * the argmin: a staged ‖x‖² column referenced once is inlined INTO
    * the lambda by CollapseProject, running the self-dot k× per row
    * (the first literal-argmin cut measured sim_pq_encode 1.8× slower
    * at sf1 from an inline slice + self-dot).
    * A training round is scan → argmin → combinable (key, cid, dim)
    * agg → one ≤k-row collect; the per-round collect replaced a slower
    * lazy DAG (crossJoin + per-vector window per round) in round 18. */
  private def nearest(x: Column, cents: Cents,
      key: Option[Column] = None): Column = {
    def cands(cs: Cents): Column = array(cs.sortBy(_._2).map { case (_, cid, c) =>
      struct(lit(cid).as("cid"), array(c.map(lit): _*).as("c"),
        lit(c.foldLeft(0.0)((acc, v) => acc + v * v)).as("cc"))
    }: _*)
    // keyed: one literal map key → candidates; a key without
    // centroids yields a null argmin
    val lits = key.fold(cands(cents)) { k =>
      element_at(map(cents.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
        case (g, cs) => Seq(lit(g), cands(cs)) }: _*), k)
    }
    element_at(transform(array(dotLambda(x, x)), xx =>
      array_min(transform(lits, c => struct(
        (xx - lit(2.0) * dotLambda(x, c.getField("c")) + c.getField("cc")).as("dist"),
        c.getField("cid").as("cid"), c.getField("cc").as("cc"))))), 1)
  }

  /** `v` (array column `e`, plus the key column when keyed) with its
    * nearest centroid's cid, dist and cc. The argmin sits in its own
    * projection, so CollapseProject evaluates it once per row. */
  private[graft] def assign(v: DataFrame, cents: Cents,
      key: Option[String] = None): DataFrame =
    v.withColumn("m", nearest(col("e"), cents, key.map(col)))
      .select(v.columns.map(col) ++
        Seq(col("m.cid").as("cid"), col("m.dist").as("dist"), col("m.cc").as("cc")): _*)

  /** One centroid update over an assignment: quantized BIGINT sums
    * grouped by (key, cid, dim). A cell that lost every point is
    * absent from the result. */
  private def update(assigned: DataFrame, key: Option[String]): DataFrame = {
    val k = key.map(col).toSeq
    assigned
      .select(k ++ Seq(col("cid"), posexplode(transform(col("e"),
        x => floor(x * lit(1000000.0) + lit(0.5)).cast("long"))).as(Seq("i", "xq"))): _*)
      .groupBy(k ++ Seq(col("cid"), col("i")): _*)
      .agg(sum(col("xq")).as("sq"), count(lit(1)).as("cnt"))
      .withColumn("ci", col("sq").cast("double") /
        (col("cnt") * lit(1000000L)).cast("double"))
      .groupBy(k :+ col("cid"): _*)
      .agg(transform(sort_array(collect_list(struct(col("i"), col("ci")))),
        s => s.getField("ci")).as("c"))
      .select(key.fold(lit(0L))(col).as("key"), col("cid"), col("c"))
  }

  /** `rounds` Lloyd rounds from `init` over `v`, each collected. */
  private def train(v: DataFrame, key: Option[String], init: Cents,
      rounds: Int): Cents =
    (1 to rounds).foldLeft(init) { (cents, _) =>
      update(assign(v, cents, key), key).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toIndexedSeq))
        .sortBy(t => (t._1, t._2)).toIndexedSeq
    }

  /** The k lowest-vec_id vectors as unkeyed centroids 0..k−1 — the
    * oracles' `ORDER BY vec_id LIMIT k` init. */
  private def lowestIds(v: DataFrame, k: Int): Cents =
    v.orderBy(col("vec_id")).limit(k).select(col("e")).collect().toIndexedSeq
      .zipWithIndex.map { case (r, i) => (0L, i.toLong, r.getSeq[Double](0).toIndexedSeq) }

  /** The IVF coarse / PQ codebook trainer — since round 11 the
    * quantized, oracle-expressible Lloyd, so every downstream consumer
    * (`sim_ann_ivf`, `sim_pq_encode`, `sim_ann_ivfpq`) carries a real
    * DuckDB oracle ([[lloydSql]]). It trains on an md5 hash-split
    * sample (`md5('cs:'||vec_id)` — never xxhash64, which the oracle
    * cannot recompute), so training cost is decoupled from corpus size;
    * init is the k sample vectors with the lowest (md5(vec_id),
    * vec_id), corpus-order-free and cross-run stable. */
  private[operators] def trainCentroids(
      v: DataFrame, k: Int, iters: Int): Seq[(Long, Seq[Double])] = {
    val sample = v
      .filter(conv(substring(md5(concat(lit("cs:"),
        col("vec_id").cast(StringType))), 1, 8), 16, 10).cast("long") % 4 === 0)
      .select(col("vec_id"), col("e"))
      .localCheckpoint() // iterated over — don't rescan parquet per round
    val init: Cents =
      sample.withColumn("h", md5(col("vec_id").cast(StringType)))
        .orderBy(col("h"), col("vec_id")).limit(k)
        .collect().toIndexedSeq.zipWithIndex
        .map { case (r, i) =>
          (0L, i.toLong, r.getAs[scala.collection.Seq[Double]]("e").toIndexedSeq) }
    (1 to iters).foldLeft(init) { (cents, _) =>
      val means = train(sample, None, cents, 1).map(c => c._2 -> c).toMap
      // a centroid that lost every point keeps its previous position
      // (mirrored in the oracles as COALESCE over a LEFT JOIN)
      cents.map(old => means.getOrElse(old._2, old))
    }.map(c => (c._2, c._3))
  }

  /** Train-once centroid store: the coarse centroids are a LAYOUT
    * artifact, not per-query state — at scale they are trained once per
    * corpus and reused by every probe (exactly like the bucketed
    * tables' write-once shuffle). Persisted per corpus CONTENT (Caches
    * digest) as k rows of Double.toString values — a lossless
    * round-trip, so a reloaded centroid is bit-identical to a fresh
    * one. Published through [[graft.Caches.once]], so a reader sees
    * the complete store or none. */
  private[operators] def trainedCentroids(
      v: DataFrame, dir: String, k: Int, iters: Int,
      kind: String = "ivfcent", tag: String = ""): Seq[(Long, Seq[Double])] = {
    val spark = v.sparkSession
    // _v6 = the round-11 quantized-Lloyd algorithm version: a stale
    // float-mean cache from an earlier build must never satisfy the
    // quantized oracle, so the algorithm revision is part of the key
    val base = graft.Caches.once(spark, s"${kind}_k${k}_i${iters}${tag}_v6", dir,
        Seq("embeddings")) { out =>
      graft.Caches.writeLines(spark, s"$out/centroids.csv", trainCentroids(v, k, iters)
        .map { case (id, ce) => (id.toString +: ce.map(_.toString)).mkString(",") })
    }
    graft.Caches.readLines(spark, s"$base/centroids.csv").map { line =>
      val parts = line.split(',')
      (parts.head.toLong, parts.tail.map(java.lang.Double.parseDouble).toSeq)
    }
  }

  /** IVF-style ANN: k-means-trained coarse centroids partition the
    * corpus into cells (assignment = nearest centroid via the codegen
    * dot product); queries probe only their own cell, so the search
    * join is cell-local — no all-pairs. Assignment is the Lloyd
    * core's literal map-side argmin ([[assign]]).
    * Centroids come from the train-once store above — query cost is
    * assignment + probe, never training. Since round 11 the quantized
    * Lloyd makes the whole path DuckDB-re-derivable ⇒ full oracle
    * (training, routing, probe, ranking hash-checked); the recall
    * contract vs exact top-k additionally lives in InvariantSpec. */
  private def simAnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val v = normed(spark, dir)
    val coarse = trainedCentroids(v, dir, k = 10, iters = 2)
    val withCell = assign(v, unkeyed(coarse))
      .select(col("vec_id"), col("e"), col("nrm"), col("cid").as("cell"))
    val q = withCell.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qnrm"),
        col("cell").as("qcell"))
    val c = withCell.select(col("vec_id").as("cid"), col("e").as("ce"),
      col("nrm").as("cnrm"), col("cell"))
    val wTop = Window.partitionBy(col("qid")).orderBy(col("cs").desc, col("cid"))
    c.join(broadcast(q), col("cell") === col("qcell") && col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"),
        Parity.r6(expr("dot_product(qe, ce)") / (col("qnrm") * col("cnrm"))).as("cs"))
      .withColumn("rnk", row_number().over(wTop).cast(LongType))
      .filter(col("rnk") <= 3)
      .select(col("qid"), col("rnk"), col("cid"), col("cs"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** Product quantization — the memory side of the ANN toolbox (IVF
    * shrinks the SEARCH, PQ shrinks the VECTORS): the 64-dim embedding
    * splits into 4 × 16-dim subvectors, each encoded as its nearest
    * code in a per-subspace 16-entry codebook → 4 bytes per vector
    * (128× under float32), the layout that lets a billion-vector index
    * sit in executor memory for asymmetric-distance search. Codebooks
    * are Lloyd-trained per subspace on the same deterministic hash
    * sample as IVF and persisted write-once (training is a LAYOUT cost,
    * not a query cost). Encoding is one pass: a literal map-side
    * argmin per subspace ([[nearest]], round 18 — the winning
    * struct carries its distortion so no second lookup), four winners
    * already in wide form — no explode, no aggregate, no exchange.
    * Output: the code manifest + reconstruction MSE (exact:
    * per-subspace distortions quantize to 1e-6 BIGINTs before the
    * cross-row sum). Since round 11 the quantized Lloyd codebooks are
    * DuckDB-re-derivable ⇒ full oracle; the compression contract
    * (codes in range, PQ beats the one-centroid baseline) lives in
    * InvariantSpec. */
  private def simPqEncode(spark: SparkSession, dir: String): DataFrame = {
    val m = 4        // subspaces
    val subDim = 16  // dims per subspace (4 × 16 = 64)
    val k = 16       // codes per subspace → 4 bits each
    val v = normed(spark, dir)
    val books: Seq[(Int, Seq[(Long, Seq[Double])])] = (0 until m).map { j =>
      val sub = v.select(col("vec_id"), slice(col("e"), j * subDim + 1, subDim).as("e"))
      j -> trainedCentroids(sub, dir, k, iters = 2, kind = "pqcode", tag = s"_m$j")
    }
    // per-subspace literal argmin (round 18, [[nearest]]): the four
    // winners land as COLUMNS of one narrow projection — no 64-way
    // explode, no Sort/SortAggregate/Exchange, and the wide-form pivot
    // agg disappears because the codes are already wide. withColumn
    // staging keeps each slice and each twice-referenced argmin in its
    // own projection (the [[assign]] CollapseProject note + the
    // [[nearest]] hoisting contract).
    val staged = (0 until m).foldLeft(v.select(col("vec_id"), col("e"))) {
      case (df, j) =>
        df.withColumn(s"se$j", slice(col("e"), j * subDim + 1, subDim))
    }
    val wide = books.foldLeft(staged) {
      case (df, (j, cs)) =>
        df.withColumn(s"b$j", nearest(col(s"se$j"), unkeyed(cs)))
    }
    wide.select(col("vec_id"),
      col("b0.cid").cast(LongType).as("code0"),
      col("b1.cid").cast(LongType).as("code1"),
      col("b2.cid").cast(LongType).as("code2"),
      col("b3.cid").cast(LongType).as("code3"),
      // per-subspace distortions are quantized BEFORE summing exactly
      // as the old cross-row agg did (4 exact BIGINT adds — order-free,
      // identical value); the exact-int sum then divides out in the
      // same double-op sequence
      ((floor(col("b0.dist") * lit(1000000.0) + lit(0.5)).cast("long") +
        floor(col("b1.dist") * lit(1000000.0) + lit(0.5)).cast("long") +
        floor(col("b2.dist") * lit(1000000.0) + lit(0.5)).cast("long") +
        floor(col("b3.dist") * lit(1000000.0) + lit(0.5)).cast("long"))
        .cast("double") / lit(1000000.0) / lit(64.0)).as("recon_mse"))
      .orderBy(col("vec_id"))
  }

  /** Shared IVF-PQ quantizer stack — coarse assignment, residual
    * codebooks, PQ code relation — factored (round 17) so the
    * nprobe>1 probe variant shares the exact trained quantizers with
    * the classic single-cell path. Returns (withCell, centLits,
    * centMap, cands, codes). */
  private def ivfPqParts(spark: SparkSession, dir: String)
      : (DataFrame, Seq[Column], Column, Seq[Column], DataFrame) = {
    val subDim = 16 // 4 × 16 = 64 dims
    val v = normed(spark, dir)
    val coarse = trainedCentroids(v, dir, k = 10, iters = 2)
    val centLits = coarse.map { case (id, ce) =>
      struct(lit(id).as("cent_id"), array(ce.map(lit): _*).as("ce")) }
    val centMap = map(coarse.flatMap { case (id, ce) =>
      Seq(lit(id), array(ce.map(lit): _*)) }: _*)
    // coarse routing via the literal map-side argmin ([[assign]]) —
    // an explode + min(struct)/first(array) argmin plans a
    // Sort+SortAggregate pair around a vec_id exchange, per reference
    // to this subtree (the eval rows re-execute it several times)
    val withCell = assign(v, unkeyed(coarse))
      .select(col("vec_id"), col("e"), col("nrm"), col("cid").as("cell"))
      .withColumn("resid", zip_with(col("e"), element_at(centMap, col("cell")),
        (x, y) => x - y))
    val books = (0 until 4).map { j =>
      val sub = withCell.select(col("vec_id"),
        slice(col("resid"), j * subDim + 1, subDim).as("e"))
      j -> trainedCentroids(sub, dir, k = 16, iters = 2,
        kind = "ivfpqcode", tag = s"_m$j")
    }
    val cands = books.flatMap { case (j, cs) =>
      cs.map { case (id, ce) =>
        struct(lit(j).as("sub"), lit(id).as("code"), array(ce.map(lit): _*).as("ce")) }
    }
    // encode: nearest residual codeword per (vector, subspace) — the
    // same literal argmin as PQ encoding ([[nearest]], round 18; no
    // 64-way explode, no Sort/SortAggregate/Exchange). Slices stage as
    // columns (the nearest hoisting contract);
    // the ADC join needs the long (cid, cell, cnrm, sub, code) form,
    // so the four per-subspace winners explode as a 4-element array.
    val staged = (0 until 4).foldLeft(
      withCell.select(col("vec_id").as("cid"), col("cell"),
        col("nrm").as("cnrm"), col("resid"))) {
      case (df, j) =>
        df.withColumn(s"se$j", slice(col("resid"), j * subDim + 1, subDim))
    }
    val codeCols = books.map { case (j, cs) =>
      struct(lit(j).as("sub"),
        nearest(col(s"se$j"), unkeyed(cs)).getField("cid").as("code"))
    }
    val codes = staged
      .select(col("cid"), col("cell"), col("cnrm"),
        explode(array(codeCols: _*)).as("sc"))
      .select(col("cid"), col("cell"), col("cnrm"),
        col("sc.sub").as("sub"), col("sc.code").as("code"))
    (withCell, centLits, centMap, cands, codes)
  }

  /** ADC shortlist, classic single-cell probe (qcell only). */
  private def ivfPqShortlist(spark: SparkSession, dir: String): DataFrame = {
    val subDim = 16
    val (withCell, _, centMap, cands, codes) = ivfPqParts(spark, dir)
    // per-query ADC lookup table: |Q| × 4 × 16 partial dots + the
    // cell-centroid term — bounded, broadcast
    val lut = withCell.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qnrm"),
        col("cell").as("qcell"))
      .withColumn("qcent", element_at(centMap, col("qcell")))
      .withColumn("cterm", expr("dot_product(qe, qcent)"))
      .select(col("qid"), col("qe"), col("qnrm"), col("qcell"), col("cterm"),
        explode(array(cands: _*)).as("c"))
      .select(col("qid"), col("qnrm"), col("qcell"), col("cterm"),
        col("c.sub").as("psub"), col("c.code").as("pcode"),
        expr(s"dot_product(slice(qe, c.sub * $subDim + 1, $subDim), c.ce)")
          .as("partial"))
    val adc = codes.join(broadcast(lut),
        col("cell") === col("qcell") && col("sub") === col("psub") &&
          col("code") === col("pcode") && col("cid") =!= col("qid"))
      .groupBy(col("qid"), col("cid"))
      // the 4 per-subspace partial dots quantize before summing (the
      // recon_mse rule: a float sum over rows is partition-order-
      // dependent); cterm adds in one deterministic double op
      .agg((first(col("cterm")) +
          sum(floor(col("partial") * lit(1000000.0) + lit(0.5)).cast("long"))
            .cast("double") / lit(1000000.0)).as("adot"),
        first(col("cnrm")).as("cnrm2"), first(col("qnrm")).as("qnrm2"))
      .withColumn("ascore", col("adot") / (col("qnrm2") * col("cnrm2")))
    val wA = Window.partitionBy(col("qid")).orderBy(col("ascore").desc, col("cid"))
    adc.withColumn("arnk", row_number().over(wA))
      .filter(col("arnk") <= 20).select(col("qid"), col("cid"))
  }

  /** Exact-rerank top 3 over an ADC shortlist: only |Q| × 20 shortlist
    * rows touch float vectors. */
  private def ivfPqRanked(spark: SparkSession, dir: String,
      shortlist: DataFrame): DataFrame = {
    val v = normed(spark, dir)
    val cside = v.select(col("vec_id").as("cid"), col("e").as("ce"),
      col("nrm").as("cnrm"))
    val qside = v.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qnrm"))
    val wTop = Window.partitionBy(col("qid")).orderBy(col("cs").desc, col("cid"))
    shortlist.join(cside, "cid").join(broadcast(qside), "qid")
      .select(col("qid"), col("cid"),
        Parity.r6(expr("dot_product(qe, ce)") / (col("qnrm") * col("cnrm"))).as("cs"))
      .withColumn("rnk", row_number().over(wTop).cast(LongType))
      .filter(col("rnk") <= 3)
      .select(col("qid"), col("rnk"), col("cid"), col("cs"))
  }

  /** IVF-PQ with asymmetric-distance (ADC) search — the composition
    * that makes billion-vector ANN fit a cluster: the coarse quantizer
    * (SAME train-once store as [[simAnnIvf]]) routes each vector to a
    * cell, the cell RESIDUAL v − c is product-quantized to 4 codes
    * (per-subspace codebooks on residuals — tighter than raw-vector PQ
    * because residual energy ≪ vector energy), and a query scores
    * candidates WITHOUT touching float vectors: dot(q,v) ≈ dot(q,c) +
    * Σⱼ dot(qⱼ, codewordⱼ[codeⱼ]) — the per-query lookup table (ADC)
    * of |Q|·m·k partial dots, broadcast. The top-10 ADC shortlist per
    * query is then reranked EXACTLY against the float vectors (only
    * |Q|·10 rows move), standard Jégou et al. IVFADC.
    *
    * Scale: candidates meet queries only inside their cell (keyed
    * equi-join on cell + code keys); the scored relation is codes, not
    * vectors — 4 small ints per candidate instead of 64 floats, the
    * 128× bandwidth cut that is the point of PQ. Both quantizers come
    * from write-once stores: query cost is encode + probe, never
    * training. Since round 11 both quantizers train with the quantized
    * Lloyd, so coarse routing, residual codebooks, ADC scoring (with
    * 1e-6-quantized partial sums) and the exact rerank are ALL
    * re-derived by the DuckDB oracle bit-for-bit; the recall contract
    * vs the exact top-k additionally lives in InvariantSpec. */
  private def simAnnIvfPq(spark: SparkSession, dir: String): DataFrame =
    ivfPqRanked(spark, dir, ivfPqShortlist(spark, dir))
      .orderBy(col("qid"), col("rnk"))

  /** EVAL HARNESS for the IVF-PQ path (round 17, r16 VERDICT task 7) —
    * the [[simAnnEval]] confusion matrix applied to the quantized
    * retrieval stack: cand = the ADC top-20 shortlist (did the coarse
    * cells + codebook approximation even CONTAIN the true neighbors),
    * pred = the exact-reranked top 3, truth = brute-force top 3.
    * Unlike the LSH eval's planted-contract-only recall, EVERY number
    * here is oracle-checked end-to-end: the round-11 quantized Lloyd
    * trainers made coarse centroids and codebooks SQL-re-derivable, so
    * DuckDB recomputes the identical shortlist. Same scale posture as
    * simAnnEval: the brute-force truth side is the eval harness on a
    * bounded |Q|=10 sample, never a production path. */
  private def simAnnIvfPqEval(spark: SparkSession, dir: String): DataFrame =
    ivfPqEvalOn(spark, dir, ivfPqShortlist(spark, dir))

  /** The confusion fold shared by both IVF-PQ eval rows: cand = the
    * given ADC shortlist, pred = its exact-reranked top 3, truth =
    * brute-force top 3 — the [[simAnnEval]] relational fold. */
  private def ivfPqEvalOn(spark: SparkSession, dir: String,
      slIn: DataFrame): DataFrame = {
    // Materialize the ADC shortlist ONCE (round 19, VERDICT task 6 —
    // the matGraphRel discipline, guide §2.4): the eval fold references
    // it twice (cand + the rerank's input), and Spark has no DAG-level
    // CSE, so the whole gated IVF-PQ chain (train → assign → LUT → ADC
    // → top-20) executed twice per eval run. The shortlist is |Q|×20
    // rows — bounded eval metadata — so the checkpoint barrier costs
    // nothing against a full re-run of the chain.
    val sl = slIn.localCheckpoint()
    val cand = sl.select(col("qid"), col("cid"), lit(1L).as("c"))
    val pred = ivfPqRanked(spark, dir, sl)
      .select(col("qid"), col("cid"), lit(1L).as("p"))
    val truth = topkPairs(spark, dir, 3)
      .select(col("qid"), col("cid"), lit(1L).as("t"))
    val u = cand.join(pred, Seq("qid", "cid"), "left")
      .join(truth, Seq("qid", "cid"), "full_outer")
      .na.fill(0L, Seq("c", "p", "t"))
    val prec = col("tp") / col("n_pred")
    val rec = col("tp") / col("n_truth")
    u.agg(
      sum(col("c")).as("n_cand"), sum(col("p")).as("n_pred"),
      sum(col("t")).as("n_truth"),
      sum(col("c") * col("t")).as("cand_tp"),
      sum(col("p") * col("t")).as("tp"))
      .select(col("n_cand"), col("n_pred"), col("n_truth"), col("cand_tp"),
        col("tp"),
        when(col("n_truth") > 0,
          Parity.r6(col("cand_tp") / col("n_truth"))).as("cand_recall"),
        when(col("n_pred") > 0, Parity.r6(prec)).as("prec"),
        when(col("n_truth") > 0, Parity.r6(rec)).as("rec"),
        when(col("tp") > 0,
          Parity.r6(lit(2) * prec * rec / (prec + rec))).as("f1"))
  }

  /** ADC shortlist with MULTI-CELL probing (round 17): the production
    * IVF knob the eval row exposed — at nprobe=1 on this synthesis the
    * shortlist recall is 0.20 (uniform-random embeddings spread true
    * neighbors across coarse cells, so a single-cell probe is bounded
    * by the cell-assignment hit rate). Each query ranks ALL coarse
    * centroids by exact L2 (k×|Q| literal comparisons — free) and
    * probes its `nprobe` nearest cells: the LUT grows to
    * |Q|·nprobe·m·k partial dots (still broadcast-bounded), the ADC
    * join condition is unchanged (a candidate joins through the ONE
    * probed cell it lives in), and everything stays SQL-re-derivable
    * — the same row_number cell ranking in DuckDB. */
  private def ivfPqShortlistNprobe(spark: SparkSession, dir: String,
      nprobe: Int): DataFrame = {
    val subDim = 16
    val (withCell, centLits, _, cands, codes) = ivfPqParts(spark, dir)
    val wP = Window.partitionBy(col("qid")).orderBy(col("dist2"), col("pcell"))
    val probes = withCell.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qnrm"),
        explode(array(centLits: _*)).as("c"))
      .select(col("qid"), col("qe"), col("qnrm"),
        col("c.cent_id").as("pcell"),
        (expr("dot_product(qe, qe)") - lit(2.0) * expr("dot_product(qe, c.ce)")
          + expr("dot_product(c.ce, c.ce)")).as("dist2"),
        expr("dot_product(qe, c.ce)").as("cterm"))
      .withColumn("prn", row_number().over(wP))
      .filter(col("prn") <= nprobe)
    val lut = probes
      .select(col("qid"), col("qnrm"), col("pcell"), col("cterm"), col("qe"),
        explode(array(cands: _*)).as("c"))
      .select(col("qid"), col("qnrm"), col("pcell"), col("cterm"),
        col("c.sub").as("psub"), col("c.code").as("pcode"),
        expr(s"dot_product(slice(qe, c.sub * $subDim + 1, $subDim), c.ce)")
          .as("partial"))
    val adc = codes.join(broadcast(lut),
        col("cell") === col("pcell") && col("sub") === col("psub") &&
          col("code") === col("pcode") && col("cid") =!= col("qid"))
      .groupBy(col("qid"), col("cid"))
      .agg((first(col("cterm")) +
          sum(floor(col("partial") * lit(1000000.0) + lit(0.5)).cast("long"))
            .cast("double") / lit(1000000.0)).as("adot"),
        first(col("cnrm")).as("cnrm2"), first(col("qnrm")).as("qnrm2"))
      .withColumn("ascore", col("adot") / (col("qnrm2") * col("cnrm2")))
    val wA = Window.partitionBy(col("qid")).orderBy(col("ascore").desc, col("cid"))
    adc.withColumn("arnk", row_number().over(wA))
      .filter(col("arnk") <= 20).select(col("qid"), col("cid"))
  }

  private def simAnnIvfPqNprobe(spark: SparkSession, dir: String): DataFrame =
    ivfPqRanked(spark, dir, ivfPqShortlistNprobe(spark, dir, 3))
      .orderBy(col("qid"), col("rnk"))

  private def simAnnIvfPqNprobeEval(spark: SparkSession, dir: String): DataFrame =
    ivfPqEvalOn(spark, dir, ivfPqShortlistNprobe(spark, dir, 3))

  /** Vector scalar family over the embedding column: L2 norm,
    * normalization, element-wise ops — per-element IEEE arithmetic plus
    * a sequential-sum norm, all bitwise cross-engine ⇒ oracle-checked.
    */
  private def fnVector(spark: SparkSession, dir: String): DataFrame = {
    fanout(embeddings(spark, dir))
      .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("e"))
      .select(
        col("vec_id"),
        sqrt(expr("dot_product(e, e)")).as("l2norm"),
        (element_at(col("e"), 1) / sqrt(expr("dot_product(e, e)"))).as("unit_first"),
        element_at(col("e"), 64).as("last_dim"),
        aggregate(transform(col("e"), x => abs(x)), lit(0.0), (a, x) => a + x).as("l1norm"),
        size(filter(col("e"), x => x > 0)).cast(LongType).as("n_positive"))
      .orderBy(col("vec_id"))
  }

  /** Johnson–Lindenstrauss sign random projection 64 → 16: the
    * dimensionality-reduction step in front of clustering / coarse ANN
    * when the full embedding is too wide to shuffle. Each output
    * coordinate is a ±1-signed sum over the input dims scaled by
    * 1/√k — with k = 16 the scale is an EXACT power of two (÷4), so
    * the only inexactness is the sequential dot-product fold, which is
    * bitwise cross-engine (same guarantee sim_cosine_topk relies on;
    * r6-rounded anyway). Signs come from the deterministic [[planes]]
    * generator and are inlined as literals into both engines.
    *
    * Scale: a narrow per-row projection — the 16-row sign matrix
    * broadcasts, output is 16 doubles/row regardless of corpus size;
    * no shuffle at all beyond the output sort. Norm preservation
    * (E‖Pv‖² = ‖v‖²) is contract-tested in InvariantSpec. */
  private def simRpProject(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ps = planes(16, 64).zipWithIndex.map { case (p, j) => (j.toLong, p) }
    val pdf = ps.toDF("j", "s")
    fanout(embeddings(spark, dir))
      .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("e"))
      .crossJoin(broadcast(pdf))
      .select(col("vec_id"), col("j"),
        Parity.r6(dotLambda(col("e"), col("s")) / 4).as("val"))
      .orderBy(col("vec_id"), col("j"))
  }

  /** Late-interaction (ColBERT-style MaxSim) reranking — the
    * multi-vector retrieval pattern: each 64-dim embedding is treated
    * as 4 independent 16-dim token slots, and
    * score(q, c) = Σ_{query slot i} max_{cand slot j} cos(qᵢ, cⱼ) — a
    * finer-grained match than single-vector cosine (a candidate
    * matching each query slot with a DIFFERENT slot of its own
    * outranks one matching all slots moderately; the single pooled
    * vector cannot tell them apart).
    *
    * The production shape: slots explode ONCE to 4×|C| narrow rows
    * (slot id + 16-dim slice + slice norm), the bounded query side
    * (|Q|×4 rows) broadcasts, and the 4×4 slot products per (q, c)
    * pair reduce with ONE (qid, cid, qslot) max-agg + ONE (qid, cid)
    * sum-agg — both map-side-combinable hash aggs; the only window is
    * the final per-query top-3. At fleet scale the candidate side
    * would first be cut by an ANN shortlist (simAnnMultiprobe) and
    * MaxSim reranks the shortlist — the shape here IS that rerank.
    *
    * Float parity: slice dots are sequential folds (bitwise equal to
    * list_inner_product); slot maxima are r6-rounded (max is
    * order-independent), and the 4-term sum of r6 multiples re-snaps
    * deterministically under the final r6 — the float-sum error
    * (≈4 ulp of 4.0) is 9 orders below the 5e-7 rounding slack. */
  private def simMaxsimRerank(spark: SparkSession, dir: String): DataFrame = {
    val v = fanout(embeddings(spark, dir))
      .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("e"))
    val slotCols = (0 until 4).map(i => struct(lit(i.toLong).as("slot"),
      slice(col("e"), i * 16 + 1, 16).as("sub")))
    val slots = v
      .select(col("vec_id"), explode(array(slotCols: _*)).as("sl"))
      .select(col("vec_id"), col("sl.slot").as("slot"), col("sl.sub").as("sub"))
      .withColumn("nrm", sqrt(expr("dot_product(sub, sub)")))
    val q = slots.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("slot").as("qslot"),
        col("sub").as("qsub"), col("nrm").as("qnrm"))
    val c = slots.select(col("vec_id").as("cid"), col("sub").as("csub"),
      col("nrm").as("cnrm"))
    val best = c.join(broadcast(q), col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"), col("qslot"),
        Parity.r6(expr("dot_product(qsub, csub)") / (col("qnrm") * col("cnrm")))
          .as("cs"))
      .groupBy(col("qid"), col("cid"), col("qslot"))
      .agg(max(col("cs")).as("mx"))
    val w = Window.partitionBy(col("qid")).orderBy(col("maxsim").desc, col("cid"))
    best.groupBy(col("qid"), col("cid"))
      .agg(Parity.r6(sum(col("mx"))).as("maxsim"))
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= 3)
      .select(col("qid"), col("rnk"), col("cid"), col("maxsim"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** MMR (Maximal Marginal Relevance) diversified top-3 — the
    * redundancy-aware selection a curation pipeline runs where plain
    * top-k returns three near-copies of the same document: greedily
    * pick argmax of λ·rel(q,c) − (1−λ)·max_{s∈selected} cos(c,s),
    * λ = 0.7, over an 8-candidate relevance shortlist per query. The
    * greedy recursion is unrolled to its three steps as joins over
    * METADATA-scale relations (shortlist ≤ |Q|×8 rows, pairwise cos
    * ≤ |Q|×8×7): each step is a broadcast equi-join + one window
    * argmax, never an iterative driver loop. At fleet scale the
    * shortlist comes from the ANN path (simAnnMultiprobe) exactly as
    * the MaxSim rerank does; the brute-force shortlist here is the
    * bounded-|Q| eval shape.
    *
    * Float parity: rel and pairwise cos are r6-rounded (sequential-dot
    * discipline); each step's score is the same fixed op sequence on
    * those rounded values in both engines, so the per-step argmax
    * (tie-broken by cid) is bit-deterministic; scores re-round r6 on
    * output. */
  private def simMmrDiversify(spark: SparkSession, dir: String): DataFrame = {
    val lam = lit(0.7); val oneMinusLam = lit(0.3)
    val v = normed(spark, dir)
    val q = v.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qnrm"))
    val c = v.select(col("vec_id").as("cid"), col("e").as("ce"),
      col("nrm").as("cnrm"))
    val wRel = Window.partitionBy(col("qid")).orderBy(col("rel").desc, col("cid"))
    // The |Q|×8 shortlist is referenced FIVE times below (both pairwise
    // legs, s1, and the stage-2/3 rescoring joins); Spark has no
    // DAG-level CSE, so the lazy form re-ran the corpus-wide scored
    // scan + top-8 window per reference — 62 Exchanges in the before
    // plan. Bounded eval metadata ⇒ materialize once (round 19, the
    // ivfPqEvalOn/matGraphRel discipline, guide §2.4).
    val short = c.join(broadcast(q), col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"), col("ce"), col("cnrm"),
        Parity.r6(expr("dot_product(qe, ce)") / (col("qnrm") * col("cnrm")))
          .as("rel"))
      .withColumn("rnk", row_number().over(wRel))
      .filter(col("rnk") <= 8)
      .localCheckpoint()
    val a = short.select(col("qid").as("pqid"), col("cid").as("acid"),
      col("ce").as("ae"), col("cnrm").as("anrm"))
    val b = short.select(col("qid").as("bqid"), col("cid").as("bcid"),
      col("ce").as("be"), col("cnrm").as("bnrm"))
    val pc = a.join(b, col("pqid") === col("bqid") && col("acid") =!= col("bcid"))
      .select(col("pqid"), col("acid"), col("bcid"),
        Parity.r6(expr("dot_product(ae, be)") / (col("anrm") * col("bnrm")))
          .as("cs"))
    val s1 = short.filter(col("rnk") === 1)
      .select(col("qid"), col("cid").as("s1cid"), col("rel").as("s1rel"))
    val wScore = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("cid"))
    val st2 = short.join(broadcast(s1), Seq("qid"))
      .filter(col("cid") =!= col("s1cid"))
      .join(pc, col("qid") === col("pqid") && col("cid") === col("acid") &&
        col("s1cid") === col("bcid"))
      .withColumn("score", lam * col("rel") - oneMinusLam * col("cs"))
      .withColumn("rn", row_number().over(wScore))
    val s2 = st2.filter(col("rn") === 1)
      .select(col("qid"), col("cid").as("s2cid"), col("rel").as("s2rel"),
        col("score").as("s2score"))
    val pc2 = pc.select(col("pqid").as("p2qid"), col("acid").as("a2cid"),
      col("bcid").as("b2cid"), col("cs").as("cs2"))
    val st3 = short.join(broadcast(s1), Seq("qid"))
      .join(broadcast(s2.select(col("qid"), col("s2cid"))), Seq("qid"))
      .filter(col("cid") =!= col("s1cid") && col("cid") =!= col("s2cid"))
      .join(pc, col("qid") === col("pqid") && col("cid") === col("acid") &&
        col("s1cid") === col("bcid"))
      .join(pc2, col("qid") === col("p2qid") && col("cid") === col("a2cid") &&
        col("s2cid") === col("b2cid"))
      .withColumn("score",
        lam * col("rel") - oneMinusLam * greatest(col("cs"), col("cs2")))
      .withColumn("rn", row_number().over(wScore))
    val s3 = st3.filter(col("rn") === 1)
      .select(col("qid"), col("cid").as("s3cid"), col("rel").as("s3rel"),
        col("score").as("s3score"))
    val r1 = s1.select(col("qid"), lit(1L).as("rnk"), col("s1cid").as("cid"),
      col("s1rel").as("rel"), Parity.r6(lam * col("s1rel")).as("score"))
    val r2 = s2.select(col("qid"), lit(2L).as("rnk"), col("s2cid").as("cid"),
      col("s2rel").as("rel"), Parity.r6(col("s2score")).as("score"))
    val r3 = s3.select(col("qid"), lit(3L).as("rnk"), col("s3cid").as("cid"),
      col("s3rel").as("rel"), Parity.r6(col("s3score")).as("score"))
    r1.unionByName(r2).unionByName(r3).orderBy(col("qid"), col("rnk"))
  }

  /** Write-once LEXICAL INDEX for the BM25 rerank leg (round 16,
    * r15 VERDICT task 5): tf / doc-length / document-frequency / corpus
    * scalars are corpus state, not per-query state — at fleet scale the
    * lexical index is trained once per corpus snapshot and served to
    * every rerank, exactly like [[trainedCentroids]] and the bucketed
    * tables' write-once shuffle. Persisted per corpus CONTENT
    * ([[graft.Caches]] digest) as four parquet relations; longs
    * round-trip exactly, so a reloaded index is bit-identical to a
    * fresh derivation and every consuming oracle is unchanged. The
    * four relations are published together through
    * [[graft.Caches.once]], so a reader sees the whole index or none.
    * Build cost is the text_tfidf cost class (one token-explode pass
    * per relation), paid once per corpus, off the query path. */
  private[operators] def lexicalIndex(
      spark: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val path = graft.Caches.once(spark, "lexidx_v1", dir, Seq("documents")) { out =>
      val docs = fanout(documents(spark, dir))
      val tok = docs.select(col("doc_id"),
        explode(filter(split(col("text"), " "), t => t =!= "")).as("term"))
      val tf = tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val dlen = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      tf.write.parquet(s"$out/tf")
      // df and the scalar stats derive from the just-written relations —
      // read them back rather than re-scanning the corpus twice more
      read(spark, s"$out/tf").groupBy(col("term"))
        .agg(count(lit(1)).as("df")).write.parquet(s"$out/df")
      dlen.write.parquet(s"$out/dlen")
      read(spark, s"$out/dlen")
        .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"),
          max(col("doc_id")).as("max_id"))
        .write.parquet(s"$out/stats")
    }
    (read(spark, s"$path/tf"), read(spark, s"$path/dlen"),
      read(spark, s"$path/df"), read(spark, s"$path/stats"))
  }

  /** Cross-encoder-style SCORE-FUSION reranker apply (round 15,
    * VERDICT task 8) — the sibling of [[simMaxsimRerank]] on the other
    * axis: instead of a finer similarity, fuse HETEROGENEOUS signals —
    * the ANN similarity, a lexical BM25 score (k1=1.2, b=0.75,
    * corpus-trained df/avgdl), and a freshness prior — through a small
    * learned per-language weight table into one ranking, emitting the
    * PER-FEATURE CONTRIBUTIONS next to the fused score (the
    * explainability contract a production reranker ships with).
    *
    * The production shape end-to-end: (1) the ANN leg supplies an
    * 8-candidate shortlist per bounded query (broadcast query side,
    * same as the MaxSim/MMR reranks — at fleet scale this is the
    * simAnnMultiprobe output); (2) the lexical leg TRAINS on the
    * corpus (one token-explode pass for tf/df/doc-length — the
    * text_tfidf cost class, map-side-combinable) but EVALUATES only on
    * shortlist pairs: query terms join candidate term-frequencies on
    * (cid, term), so the BM25 work is |shortlist|×|q-terms|-bounded,
    * never corpus×corpus; (3) the weight table is |langs| rows —
    * broadcast — and the fused score is one projection. BM25 is
    * squashed to bm/(1+bm) ∈ [0,1) so the three features share scale.
    * The "learned" weights here are a deterministic md5 fixture per
    * language (the classifier tier's teacher-fixture discipline):
    * what's under test is the fusion plan, not a training loop.
    *
    * Float parity: ann/contribution terms are r6-quantized, so every
    * downstream sum is a sum of 1e-6 multiples (re-snaps exactly under
    * the final r6); ln(idf) follows the text_tfidf precedent; all
    * fractional constants are CAST AS DOUBLE in the oracle (DuckDB
    * DECIMAL-literal trap); ties break on cid.
    *
    * This is the core for an arbitrary bounded query side, shared by
    * the registered `sim_rerank_fuse` (qid < 10) and the
    * [[graft.streaming.StreamingOps.rerankFuseIngest]] twin (qids
    * arrive in micro-batches). `q` must carry (qid, qe, qnrm) and be
    * small enough to broadcast — the rerank contract (a shortlist
    * rerank's query side is bounded by construction). */
  private[graft] def rerankFuseFor(spark: SparkSession, dir: String,
      q: DataFrame): DataFrame = {
    val v = normed(spark, dir)
    val wS = Window.partitionBy(col("qid")).orderBy(col("ann").desc, col("cid"))
    val short = v.select(col("vec_id").as("cid"), col("e").as("ce"),
        col("nrm").as("cnrm"))
      .join(broadcast(q), col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"),
        Parity.r6(expr("dot_product(qe, ce)") / (col("qnrm") * col("cnrm")))
          .as("ann"))
      .withColumn("srn", row_number().over(wS))
      .filter(col("srn") <= 8)
      .select(col("qid"), col("cid"), col("ann"))
    val docs = fanout(documents(spark, dir))
    // the EVAL-ONLY path: tf/dl/df/stats come from the persisted
    // write-once index — the corpus-wide training pass is off the
    // query path (it runs at most once per corpus content)
    val (tf, dlen, dfreq, stats) = lexicalIndex(spark, dir)
    val idf = log(lit(1.0) +
      (col("n_docs").cast(DoubleType) - col("df") + lit(0.5)) /
        (col("df") + lit(0.5)))
    val tnorm = col("tf").cast(DoubleType) * lit(2.2) /
      (col("tf").cast(DoubleType) + lit(1.2) *
        (lit(0.25) + lit(0.75) *
          (col("dl").cast(DoubleType) * col("n_docs").cast(DoubleType) /
            col("sum_dl").cast(DoubleType))))
    val bm25 = short.select(col("qid"), col("cid"))
      .join(tf.select(col("doc_id").as("qid"), col("term")), "qid")
      .join(tf.select(col("doc_id").as("cid"), col("term"), col("tf")),
        Seq("cid", "term"))
      .join(dfreq, "term")
      .join(dlen.select(col("doc_id").as("cid"), col("dl")), "cid")
      .crossJoin(broadcast(stats.select(col("n_docs"), col("sum_dl"))))
      .select(col("qid"), col("cid"), Parity.r6(idf * tnorm).as("w"))
      .groupBy(col("qid"), col("cid"))
      .agg(Parity.r6(sum(col("w"))).as("bm"))
    def mdw(salt: String, base: Double): Column =
      lit(base) + (conv(substring(md5(concat(col("lang"), lit(salt))), 1, 12),
        16, 10).cast(LongType) % 100).cast(DoubleType) / lit(1000.0)
    val wtab = docs.select(col("lang")).distinct()
      .withColumn("w_ann", mdw(":a", 0.5))
      .withColumn("w_lex", mdw(":l", 0.3))
      .withColumn("w_fresh", mdw(":f", 0.1))
    val bmC = coalesce(col("bm"), lit(0.0))
    val wR = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("cid"))
    short
      .join(bm25, Seq("qid", "cid"), "left")
      .join(docs.select(col("doc_id").as("cid"), col("lang")), "cid")
      .join(broadcast(wtab), "lang")
      .crossJoin(broadcast(stats.select(col("max_id"))))
      .withColumn("lex", Parity.r6(bmC / (lit(1.0) + bmC)))
      .withColumn("fresh",
        Parity.r6(col("cid").cast(DoubleType) / col("max_id").cast(DoubleType)))
      .withColumn("c_ann", Parity.r6(col("w_ann") * col("ann")))
      .withColumn("c_lex", Parity.r6(col("w_lex") * col("lex")))
      .withColumn("c_fresh", Parity.r6(col("w_fresh") * col("fresh")))
      .withColumn("score", Parity.r6(col("c_ann") + col("c_lex") + col("c_fresh")))
      .withColumn("rnk", row_number().over(wR).cast(LongType))
      .filter(col("rnk") <= 3)
      .select(col("qid"), col("rnk"), col("cid"), col("ann"), col("lex"),
        col("fresh"), col("c_ann"), col("c_lex"), col("c_fresh"), col("score"))
      .orderBy(col("qid"), col("rnk"))
  }

  private def simRerankFuse(spark: SparkSession, dir: String): DataFrame = {
    val v = normed(spark, dir)
    rerankFuseFor(spark, dir, v.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qnrm")))
  }

  /** Query side resolved from a relation of qids — the streaming twin's
    * entry: arriving query ids look up their embeddings in the corpus
    * and rerank against the persisted lexical index. */
  private[graft] def rerankFuseForIds(spark: SparkSession, dir: String,
      ids: DataFrame): DataFrame = {
    val v = normed(spark, dir)
    rerankFuseFor(spark, dir,
      v.join(ids.select(col("qid")), col("vec_id") === col("qid"))
        .select(col("qid"), col("e").as("qe"), col("nrm").as("qnrm")))
  }

  private val topkCte =
    """WITH v AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      | n AS (SELECT vec_id, label, e, sqrt(list_inner_product(e, e)) AS nrm FROM v),
      | p AS (
      |  SELECT q.vec_id AS qid, c.vec_id AS cid, c.label,
      |   floor(list_inner_product(q.e, c.e) / (q.nrm * c.nrm) * 1000000 + 0.5) / 1000000 AS cs
      |  FROM n q JOIN n c ON c.vec_id <> q.vec_id
      |  WHERE q.vec_id < 10),
      | r AS (
      |  SELECT qid, cid, label, cs,
      |   CAST(row_number() OVER (PARTITION BY qid ORDER BY cs DESC, cid) AS BIGINT) AS rnk
      |  FROM p)
      |""".stripMargin

  /** The corpus's embedding relation, double-cast, as k-means sees it. */
  private def kmeansVecs(spark: SparkSession, dir: String): DataFrame =
    fanout(embeddings(spark, dir))
      .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("e"))

  /** The flat k-means model (cid, c), cid ascending: two Lloyd rounds
    * from the k lowest vec_ids — the model cluster_kmeans and the flat
    * SemDeDup rows route with and the streaming assign-on-ingest twins
    * score against (StreamingOps.kmeansAssign / semanticDedupIngest;
    * parity-tested in StreamBatchParitySpec). A cell that loses every
    * point drops out, as in the cluster_kmeans oracle (no COALESCE), so
    * the model can hold fewer than k rows. `k` is the cell count
    * (round 12: lifted out of the hardcoded 4 so [[dedupSemanticAt]]
    * can follow the SemDeDup k-grows-with-corpus rule). */
  private[graft] def kmeansModelSeq(spark: SparkSession, dir: String,
      k: Int = 4): Seq[(Long, Seq[Double])] = {
    val v = kmeansVecs(spark, dir)
    train(v, None, lowestIds(v, k), 2).map(c => (c._2, c._3))
  }

  /** The final (third) assignment relation (vec_id, e, cid, dist, cc)
    * — batch truth for the streaming twin's parity check. */
  private[graft] def kmeansFinalAssign(spark: SparkSession, dir: String,
      k: Int = 4): DataFrame =
    assign(kmeansVecs(spark, dir), unkeyed(kmeansModelSeq(spark, dir, k)))

  /** Product-quantizer codebook TRAINING with a real oracle: each of
    * the 4×16-dim subspaces gets the same quantized two-round Lloyd as
    * [[clusterKmeans]] (4 lowest vec_ids as seeds), so DuckDB re-derives
    * the identical four codebooks and their training diagnostics
    * (cluster sizes, per-subspace inertia, centroid norms) bit-for-bit.
    * The per-subspace inertia column IS the quantization-error budget a
    * PQ deployment monitors.
    *
    * ONE Lloyd keyed by subspace `sub`, not four per-subspace pipelines
    * (round 18): the unrolled 4× shape carried ~150 whole-stage-codegen
    * units — past Spark's 100-entry codegen class cache — so every run
    * recompiled ~4 s of Janino even warm. Keyed, the 4n 16-dim rows run
    * one argmin projection that looks up their subspace's codebook. */
  private def simPqTrain(spark: SparkSession, dir: String): DataFrame = {
    val v0 = kmeansVecs(spark, dir)
    val vs = v0.select(col("vec_id"), explode(array((0 until 4).map(j =>
        struct(lit(j.toLong).as("sub"),
          slice(col("e"), j * 16 + 1, 16).as("e"))): _*)).as("s"))
      .select(col("vec_id"), col("s.sub").as("sub"), col("s.e").as("e"))
    // every vector contributes every subspace, so each subspace's
    // seeds are the slices of the 4 lowest vec_ids
    val init = for ((_, cid, e) <- lowestIds(v0, 4); j <- 0 until 4)
      yield (j.toLong, cid, e.slice(j * 16, j * 16 + 16))
    val cents = train(vs, Some("sub"), init, 2)
    assign(vs, cents, Some("sub"))
      .groupBy(col("sub"), col("cid")).agg(
        count(lit(1)).cast("long").as("n"),
        sum(floor(col("dist") * lit(1000000.0) + lit(0.5)).cast("long"))
          .as("iq"),
        max(col("cc")).as("cc"))
      .select(col("sub"), col("cid"), col("n"),
        (col("iq").cast("double") / lit(1000000.0)).as("inertia"),
        Parity.r6(sqrt(col("cc"))).as("cnorm"))
      .orderBy(col("sub"), col("cid"))
  }

  /** SemDeDup-style SEMANTIC dedup (Abbas et al. 2023): cluster the
    * embedding corpus with the quantized Lloyd ([[kmeansFinalAssign]]
    * — the oracle-checked k-means), then within each cluster drop any
    * item whose cosine to a LOWER-ID cluster-mate reaches τ = 0.375
    * (keep-the-first rule — deterministic, no greedy iteration). The
    * published recipe exactly: clustering bounds the quadratic — pairs
    * form ONLY inside a cell (keyed equi-join on the cluster id, never
    * corpus×corpus), so cost is Σ|cell|², controlled by k. Output per
    * vector: its cell, the max cosine to any lower-id cluster-mate
    * (r6-rounded; NULL when none) and the keep verdict.
    *
    * Fully oracle-checked — every stage (Lloyd rounds, cell routing,
    * in-cell cosines, keep rule) re-derives in DuckDB bit-for-bit;
    * τ = 0.375 is an exact binary fraction (the decimal-literal trap)
    * chosen from the measured in-cluster cosine tail (~60 qualifying
    * pairs at sf0.01, so the verdict column genuinely varies).
    *
    * Scale: at 100 TB, k grows with the corpus (SemDeDup used 50k
    * cells for LAION) keeping cells bounded; the pair join stays
    * cell-local and the keep rule is one grouped max + one left join.
    * Since round 12 that rule is CODE, not prose: [[semanticK]] derives
    * k from the corpus size, [[dedupSemanticAuto]] applies it, and
    * InvariantSpec pins the Σ|cell|² ≤ c·N²/k quadratic-work contract
    * at k=64 on the sf0.1 fixture; the two registered oracle rows
    * (k=4 and k=16) prove the whole pipeline hash-exact at two cell
    * counts. */
  private[graft] def dedupSemanticAt(spark: SparkSession, dir: String,
      k: Int, tau: Double = 0.375): DataFrame = {
    val a = kmeansFinalAssign(spark, dir, k)
      .select(col("vec_id"), col("e"), col("cid"),
        sqrt(dotLambda(col("e"), col("e"))).as("nrm"))
    val l = a.select(col("cid"), col("vec_id").as("aid"), col("e").as("ae"),
      col("nrm").as("anrm"))
    val r = a.select(col("cid"), col("vec_id").as("bid"), col("e").as("be"),
      col("nrm").as("bnrm"))
    val pairs = l.join(r, "cid").filter(col("aid") < col("bid"))
      .select(col("bid"),
        Parity.r6(dotLambda(col("ae"), col("be")) / (col("anrm") * col("bnrm")))
          .as("cs"))
    val nn = pairs.groupBy(col("bid")).agg(max(col("cs")).as("nn_sim"))
    a.select(col("vec_id"), col("cid").cast(LongType).as("cell"))
      .join(nn, col("vec_id") === col("bid"), "left")
      .select(col("vec_id"), col("cell"), col("nn_sim"),
        (col("nn_sim").isNull || col("nn_sim") < tau).as("keep"))
      .orderBy(col("vec_id"))
  }

  private def dedupSemantic(spark: SparkSession, dir: String): DataFrame =
    dedupSemanticAt(spark, dir, 4)

  /** The SemDeDup cell-count rule as a function of corpus size: enough
    * cells that the MEAN cell holds ~`targetCell` vectors, floored at
    * 4 (the fixture scale) — k = max(4, ⌈n / targetCell⌉). SemDeDup
    * itself ran 50k cells over ~400M LAION embeddings (~8k per cell),
    * which is the default target here. Under balanced cells the pair
    * join costs Σ|cell|² ≈ n·targetCell — LINEAR in the corpus for a
    * fixed target, which is the whole point of the rule: a pinned k
    * would degrade toward n²/k as the corpus grows. */
  private[graft] def semanticK(n: Long, targetCell: Long = 8192L): Int =
    math.min(math.max((n + targetCell - 1) / targetCell, 4L), 1L << 20).toInt

  /** [[dedupSemanticAt]] with k derived from the corpus via
    * [[semanticK]] — one count() of the embedding relation (metadata
    * from the parquet footers), then the cell-bounded pipeline. */
  private[graft] def dedupSemanticAuto(spark: SparkSession, dir: String,
      targetCell: Long = 8192L): DataFrame =
    dedupSemanticAt(spark, dir,
      semanticK(embeddings(spark, dir).count(), targetCell))

  /** The trained two-level model behind [[dedupSemanticCoarseAt]]:
    * (m, super centroids (cid, c), the super-routed corpus
    * vp (vec_id, e, sid), member centroids (sid, cid, c)); the
    * streaming ingest twin routes with the two centroid layers. */
  private[graft] def coarseModelSeq(spark: SparkSession, dir: String, k: Int)
      : (Int, Seq[(Long, Seq[Double])], DataFrame, Cents) = {
    val g = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
    val m = (k + g - 1) / g
    val v = kmeansVecs(spark, dir)
    // level 1: g supers over the corpus (the clusterKmeans chain)
    val supers = train(v, None, lowestIds(v, g), 2)
    val vp = assign(v, supers).select(col("vec_id"), col("e"), col("cid").as("sid"))
      .localCheckpoint() // corpus partition, reused by every level-2 pass
    // level 2: m members per super-cell, trained within the cell only
    // (keyed by sid). Seeds = the cell's m lowest vec_ids.
    val seeds: Cents = vp
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("sid")).orderBy(col("vec_id"))))
      .filter(col("rn") <= m)
      .select(col("sid"), (col("rn") - 1).cast("long"), col("e")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toIndexedSeq))
      .toIndexedSeq
    (m, supers.map(c => (c._2, c._3)), vp, train(vp, Some("sid"), seeds, 2))
  }

  /** [[dedupSemanticAt]] with HIERARCHICAL two-level k-means — the
    * coded form of the scale note SCALING.md's round-13 section makes
    * in prose: the SemDeDup k-∝-corpus rule keeps PAIR work linear but
    * leaves exact flat Lloyd at ~3 corpus passes of n·k·d each
    * (2 training assigns + the final routing) = n²·d/targetCell, the
    * k-means-at-scale term (α 1.16 measured at sf1→sf10 for the exact
    * auto row; a first cut that only re-routed the FINAL assign
    * measured 57 → 47 s at sf10 — the training assigns dominate, so
    * the hierarchy must cover training too). Standard hierarchical
    * k-means: train g = ⌈√k⌉ super-centroids over the corpus
    * (n·g·d per round), partition the corpus into super-cells, then
    * train m = ⌈k/g⌉ member centroids WITHIN each super-cell (each
    * vector only ever sees its own cell's m candidates — n·m·d per
    * round). Every pass is n·O(√k)·d, training included; with
    * k ∝ n/c this is n^1.5·d/√c vs the flat n²·d/c, and the ladder
    * extends (L levels → n·k^(1/L)·L·d; a tree → n·log k).
    *
    * The CLUSTERING differs from the flat rows by design (its cells
    * are the hierarchy's cells) — which is why this is a SEPARATE
    * registered op rather than a silent re-plan: pair/keep semantics
    * are unchanged, cell membership is the hierarchy's. It is still
    * fully DETERMINISTIC (quantized sums, sequential-fold dots,
    * lowest-id tie-breaks, per-cell seeds = the cell's m lowest
    * vec_ids), so it carries its own complete DuckDB oracle — both
    * Lloyd layers and the per-cell training re-derive bit-for-bit.
    * Output cell id = sid·m + cid (dense, deterministic). */
  private[graft] def dedupSemanticCoarseAt(spark: SparkSession, dir: String,
      k: Int, tau: Double = 0.375): DataFrame = {
    val (m, _, vp, mCents) = coarseModelSeq(spark, dir, k)
    val routed = assign(vp, mCents, Some("sid"))
      .select(col("vec_id"), col("e"),
        (col("sid") * m + col("cid")).as("cid"))
    // pair + keep tail identical to [[dedupSemanticAt]]
    val a = routed.select(col("vec_id"), col("e"), col("cid"),
      sqrt(dotLambda(col("e"), col("e"))).as("nrm"))
    val l = a.select(col("cid"), col("vec_id").as("aid"), col("e").as("ae"),
      col("nrm").as("anrm"))
    val r = a.select(col("cid"), col("vec_id").as("bid"), col("e").as("be"),
      col("nrm").as("bnrm"))
    val pairs = l.join(r, "cid").filter(col("aid") < col("bid"))
      .select(col("bid"),
        Parity.r6(dotLambda(col("ae"), col("be")) / (col("anrm") * col("bnrm")))
          .as("cs"))
    val nn = pairs.groupBy(col("bid")).agg(max(col("cs")).as("nn_sim"))
    a.select(col("vec_id"), col("cid").cast(LongType).as("cell"))
      .join(nn, col("vec_id") === col("bid"), "left")
      .select(col("vec_id"), col("cell"), col("nn_sim"),
        (col("nn_sim").isNull || col("nn_sim") < tau).as("keep"))
      .orderBy(col("vec_id"))
  }

  /** [[dedupSemanticCoarseAt]] with k from [[semanticK]] (and g = ⌈√k⌉
    * inside) — the fully scale-ruled hierarchical path. */
  private[graft] def dedupSemanticCoarseAuto(spark: SparkSession,
      dir: String, targetCell: Long = 8192L): DataFrame =
    dedupSemanticCoarseAt(spark, dir,
      semanticK(embeddings(spark, dir).count(), targetCell))

  /** Lloyd's k-means (k=4, two rounds) over the embedding corpus with
    * a real DuckDB oracle: per cluster of the [[kmeansModelSeq]]
    * model's final assignment, its size, inertia, mean distance and
    * centroid norm. Inertia re-quantizes per-row distances to 10⁻⁶
    * BIGINTs before summing, so the objective is an exact integer in
    * both engines. */
  private def clusterKmeans(spark: SparkSession, dir: String): DataFrame = {
    val a3 = kmeansFinalAssign(spark, dir)
    a3.groupBy(col("cid")).agg(
        count(lit(1)).cast("long").as("n"),
        sum(floor(col("dist") * lit(1000000.0) + lit(0.5)).cast("long")).as("iq"),
        max(col("cc")).as("cc"))
      .select(col("cid").as("cluster_id"), col("n"),
        (col("iq").cast("double") / lit(1000000.0)).as("inertia"),
        (col("iq").cast("double") /
          (col("n") * lit(1000000L)).cast("double")).as("mean_dist"),
        Parity.r6(sqrt(col("cc"))).as("cnorm"))
      .orderBy(col("cluster_id"))
  }

  /** DuckDB CTE chain re-deriving [[trainCentroids]] for a source CTE
    * `src` (columns vec_id, e of dim `dim`): the md5 `cs:` hash
    * sample, (md5, vec_id)-ordered init of k centroids, `iters`
    * quantized-Lloyd rounds, and the keep-on-empty COALESCE each
    * round. The final centroid CTE is `${p}c$iters` (cid, c). Shared
    * by the sim_ann_ivf / sim_pq_encode / sim_ann_ivfpq oracles —
    * round 11's replacement for their `no_oracle by design` rows. */
  private def lloydSql(p: String, src: String, dim: Int, k: Int,
      iters: Int = 2): String = {
    def assign(out: String, from: String, cents: String) =
      s""" $out AS (
         |  SELECT vec_id, e, cid FROM (
         |   SELECT vec_id, e, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |   FROM (
         |    SELECT s.vec_id, s.e, c.cid,
         |     list_inner_product(s.e, s.e) - 2.0 * list_inner_product(s.e, c.c)
         |       + list_inner_product(c.c, c.c) AS dist
         |    FROM $from s, $cents c)) WHERE rn = 1)""".stripMargin
    def update(r: Int) =
      s""" ${p}u$r AS (
         |  SELECT cid, t.i AS i,
         |   sum(CAST(floor(e[t.i] * 1000000 + 0.5) AS BIGINT)) AS sq,
         |   CAST(count(*) AS BIGINT) AS cnt
         |  FROM ${p}a$r, generate_series(1, $dim) AS t(i) GROUP BY 1, 2),
         | ${p}m$r AS (
         |  SELECT cid, list(CAST(sq AS DOUBLE) / CAST(cnt * 1000000 AS DOUBLE)
         |    ORDER BY i) AS c
         |  FROM ${p}u$r GROUP BY 1),
         | ${p}c$r AS (
         |  SELECT prev.cid, COALESCE(m.c, prev.c) AS c
         |  FROM ${p}c${r - 1} prev LEFT JOIN ${p}m$r m ON prev.cid = m.cid)""".stripMargin
    val head =
      s""" ${p}samp AS (
         |  SELECT vec_id, e FROM $src
         |  WHERE CAST(('0x' || substr(md5('cs:' || CAST(vec_id AS VARCHAR)), 1, 8))
         |    AS BIGINT) % 4 = 0),
         | ${p}c0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
         |    vec_id) - 1 AS INTEGER) AS cid, e AS c
         |  FROM (SELECT vec_id, e FROM ${p}samp
         |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $k))""".stripMargin
    head + ",\n" + (1 to iters).map(r =>
      assign(s"${p}a$r", s"${p}samp", s"${p}c${r - 1}") + ",\n" + update(r))
      .mkString(",\n")
  }

  /** Full-corpus nearest-centroid assignment CTE (vec_id, e, nrm,
    * cell) against a trained centroid CTE — the IVF routing step, the
    * same argmin the training rounds use. */
  private def assignAllSql(out: String, from: String, cents: String): String =
    s""" $out AS (
       |  SELECT vec_id, e, nrm, cid AS cell FROM (
       |   SELECT vec_id, e, nrm, cid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |   FROM (
       |    SELECT s.vec_id, s.e, s.nrm, c.cid,
       |     list_inner_product(s.e, s.e) - 2.0 * list_inner_product(s.e, c.c)
       |       + list_inner_product(c.c, c.c) AS dist
       |    FROM $from s, $cents c)) WHERE rn = 1)""".stripMargin

  /** The oracle-side Lloyd round shared by cluster_kmeans, sim_pq_train
    * and the semantic rows: [[lloydAssignCte]] is the per-vector
    * (dist, cid) argmin over the centroid CTE `cents` (`keepCc` also
    * carries ‖c‖² for the final diagnostics), [[lloydUpdateCte]] the
    * quantized BIGINT update over `dim` coordinates — a cell that lost
    * every point drops out, as in [[update]]. */
  private def lloydAssignCte(src: String, cents: String, out: String,
      keepCc: Boolean) = {
    val ccCol = if (keepCc) ", cc" else ""
    s""" $out AS (
       |  SELECT vec_id, e, cid, dist$ccCol FROM (
       |   SELECT vec_id, e, cid, dist$ccCol,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |   FROM (
       |    SELECT $src.vec_id, $src.e, c.cid,
       |     list_inner_product($src.e, $src.e)
       |       - 2.0 * list_inner_product($src.e, c.c)
       |       + list_inner_product(c.c, c.c) AS dist,
       |     list_inner_product(c.c, c.c) AS cc
       |    FROM $src, $cents c)) WHERE rn = 1)""".stripMargin
  }
  private def lloydUpdateCte(src: String, sums: String, cents: String, dim: Int) =
    s""" $sums AS (
       |  SELECT cid, t.i AS i,
       |   sum(CAST(floor(e[t.i] * 1000000 + 0.5) AS BIGINT)) AS sq,
       |   CAST(count(*) AS BIGINT) AS cnt
       |  FROM $src, generate_series(1, $dim) AS t(i)
       |  GROUP BY 1, 2),
       | $cents AS (
       |  SELECT cid,
       |   list(CAST(sq AS DOUBLE) / CAST(cnt * 1000000 AS DOUBLE)
       |     ORDER BY i) AS c
       |  FROM $sums GROUP BY 1)""".stripMargin

  /** The sim_ann_ivfpq oracle's WITH chain through CTE `r` (coarse
    * Lloyd -> cells -> residuals -> 4 residual codebooks -> codes/LUT
    * -> ADC `sl` shortlist -> exact rerank `rr` -> ranked `r`), shared
    * VERBATIM by the query and its round-17 eval twin so both score
    * the identical SQL re-derivation. */
  private def ivfpqOracleChain: String = {
      def rbook(j: Int): String = {
        val a = j * 16 + 1; val b = j * 16 + 16
        s""" rv$j AS (SELECT vec_id, resid[$a:$b] AS e FROM rs),
           |${lloydSql(s"rb$j", s"rv$j", 16, 16)},
           | enc$j AS (
           |  SELECT vec_id, cell, nrm, $j AS sub, code FROM (
           |   SELECT vec_id, cell, nrm, cid AS code,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
           |   FROM (
           |    SELECT s.vec_id, s.cell, s.nrm, c.cid,
           |     list_inner_product(s.e, s.e) - 2.0 * list_inner_product(s.e, c.c)
           |       + list_inner_product(c.c, c.c) AS dist2
           |    FROM (SELECT vec_id, cell, nrm, resid[$a:$b] AS e FROM rs) s,
           |     rb${j}c2 c)) WHERE rn = 1),
           | lut$j AS (
           |  SELECT q.qid, q.qnrm, q.qcell, q.cterm, $j AS sub, bk.cid AS code,
           |   list_inner_product(q.qe[$a:$b], bk.c) AS partial
           |  FROM q, rb${j}c2 bk)""".stripMargin
      }
      s"""WITH v AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         | n AS (SELECT vec_id, e, sqrt(list_inner_product(e, e)) AS nrm FROM v),
         |${lloydSql("cv", "v", 64, 10)},
         |${assignAllSql("cells", "n", "cvc2")},
         | rs AS (
         |  SELECT s.vec_id, s.e, s.nrm, s.cell,
         |   list_transform(range(1, 65), i -> s.e[i] - c.c[i]) AS resid
         |  FROM cells s JOIN cvc2 c ON s.cell = c.cid),
         | q AS (
         |  SELECT s.vec_id AS qid, s.e AS qe, s.nrm AS qnrm, s.cell AS qcell,
         |   list_inner_product(s.e, c.c) AS cterm
         |  FROM cells s JOIN cvc2 c ON s.cell = c.cid WHERE s.vec_id < 10),
         |${(0 until 4).map(rbook).mkString(",\n")},
         | codes AS (SELECT * FROM enc0 UNION ALL SELECT * FROM enc1
         |           UNION ALL SELECT * FROM enc2 UNION ALL SELECT * FROM enc3),
         | lut AS (SELECT * FROM lut0 UNION ALL SELECT * FROM lut1
         |         UNION ALL SELECT * FROM lut2 UNION ALL SELECT * FROM lut3),
         | adc AS (
         |  SELECT l.qid, c.vec_id AS cid,
         |   l.cterm + CAST(sum(CAST(floor(l.partial * 1000000 + 0.5) AS BIGINT))
         |     AS DOUBLE) / 1000000.0 AS adot,
         |   c.nrm AS cnrm2, l.qnrm AS qnrm2
         |  FROM codes c JOIN lut l ON c.cell = l.qcell AND c.sub = l.sub
         |    AND c.code = l.code AND c.vec_id <> l.qid
         |  GROUP BY l.qid, c.vec_id, l.cterm, c.nrm, l.qnrm),
         | sl AS (
         |  SELECT qid, cid FROM (
         |   SELECT qid, cid,
         |    row_number() OVER (PARTITION BY qid ORDER BY
         |      adot / (qnrm2 * cnrm2) DESC, cid) AS arnk
         |   FROM adc) WHERE arnk <= 20),
         | rr AS (
         |  SELECT s.qid, s.cid,
         |   floor(list_inner_product(qn.e, cn.e) / (qn.nrm * cn.nrm) * 1000000
         |     + 0.5) / 1000000 AS cs
         |  FROM sl s JOIN n cn ON cn.vec_id = s.cid
         |   JOIN n qn ON qn.vec_id = s.qid),
         | r AS (
         |  SELECT qid, cid, cs,
         |   CAST(row_number() OVER (PARTITION BY qid ORDER BY cs DESC, cid)
         |     AS BIGINT) AS rnk
         |  FROM rr)""".stripMargin
  }

  /** The nprobe>1 oracle chain: [[ivfpqOracleChain]] with ONLY the
    * per-query probe CTE `q` swapped — each query ranks all coarse
    * cells by exact L2 (row_number, id tie-break) and keeps the p
    * nearest, everything downstream (LUT, ADC join, shortlist,
    * rerank) textually unchanged. Built by surgical replacement so
    * the shared text can never drift from the gated original; the
    * assert fires if the q CTE is ever reworded there. */
  private def ivfpqOracleChainNprobe(p: Int): String = {
    val classicQ =
      """ q AS (
        |  SELECT s.vec_id AS qid, s.e AS qe, s.nrm AS qnrm, s.cell AS qcell,
        |   list_inner_product(s.e, c.c) AS cterm
        |  FROM cells s JOIN cvc2 c ON s.cell = c.cid WHERE s.vec_id < 10),""".stripMargin
    val probedQ =
      s""" q AS (
         |  SELECT qid, qe, qnrm, qcell, cterm FROM (
         |   SELECT s.vec_id AS qid, s.e AS qe, s.nrm AS qnrm, c.cid AS qcell,
         |    list_inner_product(s.e, c.c) AS cterm,
         |    row_number() OVER (PARTITION BY s.vec_id ORDER BY
         |      list_inner_product(s.e, s.e) - 2.0 * list_inner_product(s.e, c.c)
         |        + list_inner_product(c.c, c.c), c.cid) AS prn
         |   FROM cells s, cvc2 c WHERE s.vec_id < 10)
         |  WHERE prn <= $p),""".stripMargin
    val out = ivfpqOracleChain.replace(classicQ, probedQ)
    require(out != ivfpqOracleChain, "ivfpq q CTE not found for nprobe swap")
    out
  }

  /** The eval confusion-matrix SQL tail shared by both IVF-PQ eval
    * rows (cand = `sl`, pred = `r`, truth = brute force, the
    * sim_ann_eval fold); appended to either oracle chain. */
  private def ivfpqEvalSqlTail: String = "," +
        s"""
           | cand AS (SELECT qid, cid, 1 AS c FROM sl),
           | pred AS (SELECT qid, cid, 1 AS p FROM r WHERE rnk <= 3),
           | truthp AS (
           |  SELECT q.vec_id AS qid, c.vec_id AS cid,
           |   floor(list_inner_product(q.e, c.e) / (q.nrm * c.nrm) * 1000000 + 0.5)
           |     / 1000000 AS cs
           |  FROM n q JOIN n c ON c.vec_id <> q.vec_id WHERE q.vec_id < 10),
           | truth AS (
           |  SELECT qid, cid, 1 AS t FROM (
           |   SELECT qid, cid,
           |    row_number() OVER (PARTITION BY qid ORDER BY cs DESC, cid) AS rnk
           |   FROM truthp) WHERE rnk <= 3),
           | uni AS (
           |  SELECT coalesce(cp.c, 0) AS c, coalesce(cp.p, 0) AS p,
           |   coalesce(t.t, 0) AS t
           |  FROM (SELECT cand.qid, cand.cid, cand.c, pred.p
           |        FROM cand LEFT JOIN pred
           |        ON cand.qid = pred.qid AND cand.cid = pred.cid) cp
           |  FULL OUTER JOIN truth t ON cp.qid = t.qid AND cp.cid = t.cid),
           | s AS (
           |  SELECT CAST(sum(c) AS BIGINT) AS n_cand,
           |   CAST(sum(p) AS BIGINT) AS n_pred,
           |   CAST(sum(t) AS BIGINT) AS n_truth,
           |   CAST(sum(c * t) AS BIGINT) AS cand_tp,
           |   CAST(sum(p * t) AS BIGINT) AS tp
           |  FROM uni)
           |SELECT n_cand, n_pred, n_truth, cand_tp, tp,
           | CASE WHEN n_truth > 0 THEN
           |  floor(CAST(cand_tp AS DOUBLE) / n_truth * 1000000 + 0.5) / 1000000
           | END AS cand_recall,
           | CASE WHEN n_pred > 0 THEN
           |  floor(CAST(tp AS DOUBLE) / n_pred * 1000000 + 0.5) / 1000000
           | END AS prec,
           | CASE WHEN n_truth > 0 THEN
           |  floor(CAST(tp AS DOUBLE) / n_truth * 1000000 + 0.5) / 1000000
           | END AS rec,
           | CASE WHEN tp > 0 THEN
           |  floor(2 * (CAST(tp AS DOUBLE) / n_pred) * (CAST(tp AS DOUBLE) / n_truth)
           |   / ((CAST(tp AS DOUBLE) / n_pred) + (CAST(tp AS DOUBLE) / n_truth))
           |   * 1000000 + 0.5) / 1000000
           | END AS f1
           |FROM s""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("sim_maxsim_rerank", Some(
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        | s AS (
        |  SELECT vec_id, u.slot AS slot,
        |   e[u.slot * 16 + 1 : u.slot * 16 + 16] AS sub
        |  FROM v, unnest(range(0, 4)) AS u(slot)),
        | n AS (
        |  SELECT vec_id, slot, sub, sqrt(list_inner_product(sub, sub)) AS nrm
        |  FROM s),
        | p AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS cid, q.slot AS qslot,
        |   floor(list_inner_product(q.sub, c.sub) / (q.nrm * c.nrm)
        |     * 1000000 + 0.5) / 1000000 AS cs
        |  FROM n q JOIN n c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10),
        | b AS (SELECT qid, cid, qslot, max(cs) AS mx FROM p GROUP BY 1, 2, 3),
        | sc AS (
        |  SELECT qid, cid, floor(sum(mx) * 1000000 + 0.5) / 1000000 AS maxsim
        |  FROM b GROUP BY 1, 2),
        | r AS (
        |  SELECT qid, cid, maxsim,
        |   CAST(row_number() OVER (PARTITION BY qid ORDER BY maxsim DESC, cid)
        |     AS BIGINT) AS rnk
        |  FROM sc)
        |SELECT qid, rnk, cid, maxsim FROM r WHERE rnk <= 3
        |ORDER BY qid, rnk""".stripMargin), simMaxsimRerank),

    QueryDef("sim_mmr_diversify", Some(
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        | n AS (SELECT vec_id, e, sqrt(list_inner_product(e, e)) AS nrm FROM v),
        | sc AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS cid, c.e AS ce, c.nrm AS cnrm,
        |   floor(list_inner_product(q.e, c.e) / (q.nrm * c.nrm)
        |     * 1000000 + 0.5) / 1000000 AS rel
        |  FROM n q JOIN n c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10),
        | ranked AS (
        |  SELECT qid, cid, ce, cnrm, rel,
        |   row_number() OVER (PARTITION BY qid ORDER BY rel DESC, cid) AS rnk
        |  FROM sc),
        | short AS (SELECT * FROM ranked WHERE rnk <= 8),
        | pc AS (
        |  SELECT a.qid AS pqid, a.cid AS acid, b.cid AS bcid,
        |   floor(list_inner_product(a.ce, b.ce) / (a.cnrm * b.cnrm)
        |     * 1000000 + 0.5) / 1000000 AS cs
        |  FROM short a JOIN short b ON a.qid = b.qid AND a.cid <> b.cid),
        | s1 AS (SELECT qid, cid AS s1cid, rel AS s1rel FROM short WHERE rnk = 1),
        | st2 AS (
        |  SELECT s.qid, s.cid, s.rel,
        |   CAST(0.7 AS DOUBLE) * s.rel - CAST(0.3 AS DOUBLE) * p.cs AS score,
        |   row_number() OVER (PARTITION BY s.qid ORDER BY
        |     CAST(0.7 AS DOUBLE) * s.rel - CAST(0.3 AS DOUBLE) * p.cs DESC,
        |     s.cid) AS rn
        |  FROM short s
        |   JOIN s1 ON s.qid = s1.qid AND s.cid <> s1.s1cid
        |   JOIN pc p ON p.pqid = s.qid AND p.acid = s.cid AND p.bcid = s1.s1cid),
        | s2 AS (SELECT qid, cid AS s2cid, rel AS s2rel, score AS s2score
        |        FROM st2 WHERE rn = 1),
        | st3 AS (
        |  SELECT s.qid, s.cid, s.rel,
        |   CAST(0.7 AS DOUBLE) * s.rel
        |     - CAST(0.3 AS DOUBLE) * greatest(p1.cs, p2.cs) AS score,
        |   row_number() OVER (PARTITION BY s.qid ORDER BY
        |     CAST(0.7 AS DOUBLE) * s.rel
        |       - CAST(0.3 AS DOUBLE) * greatest(p1.cs, p2.cs) DESC, s.cid) AS rn
        |  FROM short s
        |   JOIN s1 ON s.qid = s1.qid
        |   JOIN s2 ON s.qid = s2.qid
        |   JOIN pc p1 ON p1.pqid = s.qid AND p1.acid = s.cid
        |     AND p1.bcid = s1.s1cid
        |   JOIN pc p2 ON p2.pqid = s.qid AND p2.acid = s.cid
        |     AND p2.bcid = s2.s2cid
        |  WHERE s.cid <> s1.s1cid AND s.cid <> s2.s2cid),
        | s3 AS (SELECT qid, cid AS s3cid, rel AS s3rel, score AS s3score
        |        FROM st3 WHERE rn = 1)
        |SELECT qid, rnk, cid, rel,
        | floor(score * 1000000 + 0.5) / 1000000 AS score
        |FROM (
        | SELECT qid, CAST(1 AS BIGINT) AS rnk, s1cid AS cid, s1rel AS rel,
        |  CAST(0.7 AS DOUBLE) * s1rel AS score FROM s1
        | UNION ALL
        | SELECT qid, CAST(2 AS BIGINT), s2cid, s2rel, s2score FROM s2
        | UNION ALL
        | SELECT qid, CAST(3 AS BIGINT), s3cid, s3rel, s3score FROM s3)
        |ORDER BY qid, rnk""".stripMargin), simMmrDiversify),

    QueryDef("sim_rerank_fuse", Some(
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        | n AS (SELECT vec_id, e, sqrt(list_inner_product(e, e)) AS nrm FROM v),
        | sc AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS cid,
        |   floor(list_inner_product(q.e, c.e) / (q.nrm * c.nrm)
        |     * 1000000 + 0.5) / 1000000 AS ann
        |  FROM n q JOIN n c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10),
        | short AS (
        |  SELECT qid, cid, ann FROM (
        |   SELECT qid, cid, ann,
        |    row_number() OVER (PARTITION BY qid ORDER BY ann DESC, cid) AS srn
        |   FROM sc) WHERE srn <= 8),
        | tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
        |    t -> t <> '')) AS term
        |  FROM documents),
        | tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        | dlen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
        | dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        | stats AS (
        |  SELECT count(*) AS n_docs, sum(dl) AS sum_dl, max(doc_id) AS max_id
        |  FROM dlen),
        | contrib AS (
        |  SELECT s.qid, s.cid,
        |   floor(ln(CAST(1.0 AS DOUBLE)
        |       + (CAST(n_docs AS DOUBLE) - df + CAST(0.5 AS DOUBLE))
        |         / (df + CAST(0.5 AS DOUBLE)))
        |     * (CAST(ct.tf AS DOUBLE) * CAST(2.2 AS DOUBLE)
        |        / (CAST(ct.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
        |           * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE)
        |              * (CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE)
        |                 / CAST(sum_dl AS DOUBLE)))))
        |     * 1000000 + 0.5) / 1000000 AS w
        |  FROM short s
        |   JOIN tf qt ON qt.doc_id = s.qid
        |   JOIN tf ct ON ct.doc_id = s.cid AND ct.term = qt.term
        |   JOIN dfreq f ON f.term = qt.term
        |   JOIN dlen d ON d.doc_id = s.cid
        |   CROSS JOIN stats),
        | bm25 AS (
        |  SELECT qid, cid, floor(sum(w) * 1000000 + 0.5) / 1000000 AS bm
        |  FROM contrib GROUP BY 1, 2),
        | wt AS (
        |  SELECT DISTINCT lang,
        |   CAST(0.5 AS DOUBLE) + CAST(CAST(('0x' || substr(md5(lang || ':a'),
        |     1, 12)) AS BIGINT) % 100 AS DOUBLE) / CAST(1000.0 AS DOUBLE) AS w_ann,
        |   CAST(0.3 AS DOUBLE) + CAST(CAST(('0x' || substr(md5(lang || ':l'),
        |     1, 12)) AS BIGINT) % 100 AS DOUBLE) / CAST(1000.0 AS DOUBLE) AS w_lex,
        |   CAST(0.1 AS DOUBLE) + CAST(CAST(('0x' || substr(md5(lang || ':f'),
        |     1, 12)) AS BIGINT) % 100 AS DOUBLE) / CAST(1000.0 AS DOUBLE) AS w_fresh
        |  FROM documents),
        | fused AS (
        |  SELECT s.qid, s.cid, s.ann,
        |   floor(COALESCE(bm, CAST(0 AS DOUBLE))
        |     / (CAST(1.0 AS DOUBLE) + COALESCE(bm, CAST(0 AS DOUBLE)))
        |     * 1000000 + 0.5) / 1000000 AS lex,
        |   floor(CAST(s.cid AS DOUBLE) / CAST(max_id AS DOUBLE)
        |     * 1000000 + 0.5) / 1000000 AS fresh,
        |   w_ann, w_lex, w_fresh
        |  FROM short s
        |   LEFT JOIN bm25 b ON b.qid = s.qid AND b.cid = s.cid
        |   JOIN documents doc ON doc.doc_id = s.cid
        |   JOIN wt ON wt.lang = doc.lang
        |   CROSS JOIN stats),
        | scored AS (
        |  SELECT qid, cid, ann, lex, fresh,
        |   floor(w_ann * ann * 1000000 + 0.5) / 1000000 AS c_ann,
        |   floor(w_lex * lex * 1000000 + 0.5) / 1000000 AS c_lex,
        |   floor(w_fresh * fresh * 1000000 + 0.5) / 1000000 AS c_fresh
        |  FROM fused),
        | ranked AS (
        |  SELECT qid, cid, ann, lex, fresh, c_ann, c_lex, c_fresh,
        |   floor((c_ann + c_lex + c_fresh) * 1000000 + 0.5) / 1000000 AS score
        |  FROM scored)
        |SELECT qid, rnk, cid, ann, lex, fresh, c_ann, c_lex, c_fresh, score
        |FROM (
        | SELECT qid, cid, ann, lex, fresh, c_ann, c_lex, c_fresh, score,
        |  CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid)
        |    AS BIGINT) AS rnk
        | FROM ranked)
        |WHERE rnk <= 3
        |ORDER BY qid, rnk""".stripMargin), simRerankFuse),

    QueryDef("sim_cosine_topk", Some(topkCte +
      """SELECT qid, rnk, cid, cs FROM r WHERE rnk <= 5
        |ORDER BY qid, rnk""".stripMargin), simCosineTopk),

    QueryDef("sim_knn_label", Some(topkCte +
      """, votes AS (
        |  SELECT qid, label, count(*) AS votes FROM r WHERE rnk <= 5
        |  GROUP BY qid, label),
        | best AS (
        |  SELECT qid, label, votes,
        |   row_number() OVER (PARTITION BY qid ORDER BY votes DESC, label) AS rn
        |  FROM votes)
        |SELECT qid, label AS pred_label, votes FROM best WHERE rn = 1
        |ORDER BY qid""".stripMargin), simKnnLabel),

    // deterministic planes ⇒ the oracle rebuilds the IDENTICAL 12-bit
    // buckets from inlined literals and reranks with the same rounded
    // cosine — the recall approximation is shared, so results match
    // exactly (same hardening dedup_embedding_lsh already has)
    QueryDef("sim_ann_lsh", Some {
      val bucketSql = planes(12, 64).zipWithIndex.map { case (p, i) =>
        s"CASE WHEN list_inner_product(e, [${p.mkString(", ")}]) > 0 THEN ${1L << i} ELSE 0 END"
      }.mkString("(", " + ", ")")
      s"""WITH v AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         | n AS (
         |  SELECT vec_id, e, sqrt(list_inner_product(e, e)) AS nrm,
         |   $bucketSql AS bucket
         |  FROM v),
         | scored AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cid,
         |   floor(list_inner_product(q.e, c.e) / (q.nrm * c.nrm) * 1000000 + 0.5)
         |     / 1000000 AS cs
         |  FROM n q JOIN n c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
         |  WHERE q.vec_id < 10),
         | ranked AS (
         |  SELECT qid, cid, cs,
         |   row_number() OVER (PARTITION BY qid ORDER BY cs DESC, cid) AS rnk
         |  FROM scored)
         |SELECT qid, CAST(rnk AS BIGINT) AS rnk, cid, cs
         |FROM ranked WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin
    }, simAnnLsh),
    // round 11: the production ANN tier trains with the quantized
    // Lloyd (trainCentroids), so IVF routing, PQ codebooks and the
    // whole ADC search are re-derivable in DuckDB — real oracles
    // replace the former no_oracle-by-design rows.
    QueryDef("sim_ann_ivf", Some {
      s"""WITH v AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         | n AS (SELECT vec_id, e, sqrt(list_inner_product(e, e)) AS nrm FROM v),
         |${lloydSql("cv", "v", 64, 10)},
         |${assignAllSql("cells", "n", "cvc2")},
         | q AS (SELECT vec_id AS qid, e AS qe, nrm AS qnrm, cell AS qcell
         |       FROM cells WHERE vec_id < 10),
         | p AS (
         |  SELECT q.qid, c.vec_id AS cid,
         |   floor(list_inner_product(q.qe, c.e) / (q.qnrm * c.nrm) * 1000000
         |     + 0.5) / 1000000 AS cs
         |  FROM cells c JOIN q ON c.cell = q.qcell AND c.vec_id <> q.qid),
         | r AS (
         |  SELECT qid, cid, cs,
         |   CAST(row_number() OVER (PARTITION BY qid ORDER BY cs DESC, cid)
         |     AS BIGINT) AS rnk
         |  FROM p)
         |SELECT qid, rnk, cid, cs FROM r WHERE rnk <= 3
         |ORDER BY qid, rnk""".stripMargin
    }, simAnnIvf),

    QueryDef("sim_ann_ivfpq",
      Some(ivfpqOracleChain +
        "\nSELECT qid, rnk, cid, cs FROM r WHERE rnk <= 3" +
        "\nORDER BY qid, rnk"), simAnnIvfPq),

    // the eval twin re-derives the IDENTICAL retrieval chain (cand =
    // ADC top-20 `sl`, pred = reranked top-3 `r`) and scores it
    // against brute-force truth with the sim_ann_eval confusion fold
    QueryDef("sim_ann_ivfpq_eval",
      Some(ivfpqOracleChain + ivfpqEvalSqlTail), simAnnIvfPqEval),

    // the nprobe=3 production knob the eval row motivated: same
    // quantizer stack, each query probes its 3 nearest coarse cells
    QueryDef("sim_ann_ivfpq_nprobe",
      Some(ivfpqOracleChainNprobe(3) +
        "\nSELECT qid, rnk, cid, cs FROM r WHERE rnk <= 3" +
        "\nORDER BY qid, rnk"), simAnnIvfPqNprobe),

    QueryDef("sim_ann_ivfpq_nprobe_eval",
      Some(ivfpqOracleChainNprobe(3) + ivfpqEvalSqlTail),
      simAnnIvfPqNprobeEval),


    QueryDef("sim_pq_encode", Some {
      def sub(j: Int): String = {
        val a = j * 16 + 1; val b = j * 16 + 16
        s""" sv$j AS (SELECT vec_id, e[$a:$b] AS e FROM v),
           |${lloydSql(s"b$j", s"sv$j", 16, 16)},
           | enc$j AS (
           |  SELECT vec_id, $j AS sub, code, dist2 FROM (
           |   SELECT vec_id, cid AS code, dist2,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
           |   FROM (
           |    SELECT s.vec_id, c.cid,
           |     list_inner_product(s.e, s.e) - 2.0 * list_inner_product(s.e, c.c)
           |       + list_inner_product(c.c, c.c) AS dist2
           |    FROM sv$j s, b${j}c2 c)) WHERE rn = 1)""".stripMargin
      }
      s"""WITH v AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |${(0 until 4).map(sub).mkString(",\n")},
         | u AS (SELECT * FROM enc0 UNION ALL SELECT * FROM enc1
         |       UNION ALL SELECT * FROM enc2 UNION ALL SELECT * FROM enc3)
         |SELECT vec_id,
         | CAST(max(CASE WHEN sub = 0 THEN code END) AS BIGINT) AS code0,
         | CAST(max(CASE WHEN sub = 1 THEN code END) AS BIGINT) AS code1,
         | CAST(max(CASE WHEN sub = 2 THEN code END) AS BIGINT) AS code2,
         | CAST(max(CASE WHEN sub = 3 THEN code END) AS BIGINT) AS code3,
         | CAST(sum(CAST(floor(dist2 * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
         |   / 1000000.0 / 64.0 AS recon_mse
         |FROM u GROUP BY vec_id ORDER BY vec_id""".stripMargin
    }, simPqEncode),

    QueryDef("sim_ann_multiprobe", Some {
      val bucketSql = planes(12, 64).zipWithIndex.map { case (p, i) =>
        s"CASE WHEN list_inner_product(e, [${p.mkString(", ")}]) > 0 THEN ${1L << i} ELSE 0 END"
      }.mkString("(", " + ", ")")
      s"""WITH v AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         | n AS (
         |  SELECT vec_id, e, sqrt(list_inner_product(e, e)) AS nrm,
         |   $bucketSql AS bucket
         |  FROM v),
         | probes AS (
         |  SELECT vec_id AS qid, e AS qe, nrm AS qnrm,
         |   CASE WHEN i = 0 THEN bucket
         |        ELSE xor(bucket, (1::BIGINT << (i - 1))) END AS pbucket
         |  FROM n, unnest(range(0, 13)) AS u(i) WHERE vec_id < 10),
         | scored AS (
         |  SELECT p.qid, c.vec_id AS cid,
         |   floor(list_inner_product(p.qe, c.e) / (p.qnrm * c.nrm) * 1000000 + 0.5)
         |     / 1000000 AS cs
         |  FROM probes p JOIN n c ON c.bucket = p.pbucket AND c.vec_id <> p.qid),
         | ranked AS (
         |  SELECT qid, cid, cs,
         |   row_number() OVER (PARTITION BY qid ORDER BY cs DESC, cid) AS rnk
         |  FROM scored)
         |SELECT qid, CAST(rnk AS BIGINT) AS rnk, cid, cs
         |FROM ranked WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin
    }, simAnnMultiprobe),

    // both sides deterministic (literal planes, r6 cosines), so the
    // full confusion matrix is oracle-checked: the predicted side is
    // sim_ann_multiprobe's scored relation, the truth side is the
    // same brute-force top-k sim_cosine_topk mirrors (k=3 here).
    QueryDef("sim_ann_eval", Some {
      val bucketSql = planes(12, 64).zipWithIndex.map { case (p, i) =>
        s"CASE WHEN list_inner_product(e, [${p.mkString(", ")}]) > 0 THEN ${1L << i} ELSE 0 END"
      }.mkString("(", " + ", ")")
      s"""WITH v AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         | n AS (
         |  SELECT vec_id, e, sqrt(list_inner_product(e, e)) AS nrm,
         |   $bucketSql AS bucket
         |  FROM v),
         | probes AS (
         |  SELECT vec_id AS qid, e AS qe, nrm AS qnrm,
         |   CASE WHEN i = 0 THEN bucket
         |        ELSE xor(bucket, (1::BIGINT << (i - 1))) END AS pbucket
         |  FROM n, unnest(range(0, 13)) AS g(i) WHERE vec_id < 10),
         | scored AS (
         |  SELECT p.qid, c.vec_id AS cid,
         |   floor(list_inner_product(p.qe, c.e) / (p.qnrm * c.nrm) * 1000000 + 0.5)
         |     / 1000000 AS cs
         |  FROM probes p JOIN n c ON c.bucket = p.pbucket AND c.vec_id <> p.qid),
         | cand AS (SELECT qid, cid, 1 AS c FROM scored),
         | pred AS (
         |  SELECT qid, cid, 1 AS p FROM (
         |   SELECT qid, cid,
         |    row_number() OVER (PARTITION BY qid ORDER BY cs DESC, cid) AS rnk
         |   FROM scored) WHERE rnk <= 3),
         | truthp AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cid,
         |   floor(list_inner_product(q.e, c.e) / (q.nrm * c.nrm) * 1000000 + 0.5)
         |     / 1000000 AS cs
         |  FROM n q JOIN n c ON c.vec_id <> q.vec_id WHERE q.vec_id < 10),
         | truth AS (
         |  SELECT qid, cid, 1 AS t FROM (
         |   SELECT qid, cid,
         |    row_number() OVER (PARTITION BY qid ORDER BY cs DESC, cid) AS rnk
         |   FROM truthp) WHERE rnk <= 3),
         | uni AS (
         |  SELECT coalesce(cp.c, 0) AS c, coalesce(cp.p, 0) AS p,
         |   coalesce(t.t, 0) AS t
         |  FROM (SELECT cand.qid, cand.cid, cand.c, pred.p
         |        FROM cand LEFT JOIN pred
         |        ON cand.qid = pred.qid AND cand.cid = pred.cid) cp
         |  FULL OUTER JOIN truth t ON cp.qid = t.qid AND cp.cid = t.cid),
         | s AS (
         |  SELECT CAST(sum(c) AS BIGINT) AS n_cand,
         |   CAST(sum(p) AS BIGINT) AS n_pred,
         |   CAST(sum(t) AS BIGINT) AS n_truth,
         |   CAST(sum(c * t) AS BIGINT) AS cand_tp,
         |   CAST(sum(p * t) AS BIGINT) AS tp
         |  FROM uni)
         |SELECT n_cand, n_pred, n_truth, cand_tp, tp,
         | CASE WHEN n_truth > 0 THEN
         |  floor(CAST(cand_tp AS DOUBLE) / n_truth * 1000000 + 0.5) / 1000000
         | END AS cand_recall,
         | CASE WHEN n_pred > 0 THEN
         |  floor(CAST(tp AS DOUBLE) / n_pred * 1000000 + 0.5) / 1000000
         | END AS prec,
         | CASE WHEN n_truth > 0 THEN
         |  floor(CAST(tp AS DOUBLE) / n_truth * 1000000 + 0.5) / 1000000
         | END AS rec,
         | CASE WHEN tp > 0 THEN
         |  floor(2 * (CAST(tp AS DOUBLE) / n_pred) * (CAST(tp AS DOUBLE) / n_truth)
         |   / ((CAST(tp AS DOUBLE) / n_pred) + (CAST(tp AS DOUBLE) / n_truth))
         |   * 1000000 + 0.5) / 1000000
         | END AS f1
         |FROM s""".stripMargin
    }, simAnnEval),

    QueryDef("sim_rp_project", Some {
      val rows = planes(16, 64).zipWithIndex.map { case (p, j) =>
        s"(CAST($j AS BIGINT), [${p.mkString(", ")}])"
      }.mkString(",\n    ")
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         | p AS (SELECT * FROM (VALUES
         |    $rows) AS t(j, s))
         |SELECT vec_id, j,
         | floor(list_inner_product(e, s) / 4 * 1000000 + 0.5) / 1000000 AS val
         |FROM v CROSS JOIN p ORDER BY vec_id, j""".stripMargin
    }, simRpProject),

    QueryDef("fn_vector", Some(
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
        |SELECT vec_id,
        | sqrt(list_inner_product(e, e)) AS l2norm,
        | e[1] / sqrt(list_inner_product(e, e)) AS unit_first,
        | e[64] AS last_dim,
        | list_sum(list_transform(e, x -> abs(x))) AS l1norm,
        | CAST(len(list_filter(e, x -> x > 0)) AS BIGINT) AS n_positive
        |FROM v ORDER BY vec_id""".stripMargin), fnVector),

    // PQ codebook training, oracle-checked: the same quantized-Lloyd
    // determinism as cluster_kmeans, replicated per 16-dim subspace
    QueryDef("sim_pq_train", Some {
      def subBlock(j: Int): String = {
        val p = s"s$j"
        s""" v$p AS (
           |  SELECT vec_id, e[${j * 16 + 1}:${j * 16 + 16}] AS e FROM v),
           | c0$p AS (
           |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
           |    AS cid, e AS c
           |  FROM (SELECT vec_id, e FROM v$p ORDER BY vec_id LIMIT 4)),
           |${lloydAssignCte(s"v$p", s"c0$p", s"a1$p", keepCc = false)},
           |${lloydUpdateCte(s"a1$p", s"u1$p", s"c1$p", 16)},
           |${lloydAssignCte(s"v$p", s"c1$p", s"a2$p", keepCc = false)},
           |${lloydUpdateCte(s"a2$p", s"u2$p", s"c2$p", 16)},
           |${lloydAssignCte(s"v$p", s"c2$p", s"a3$p", keepCc = true)},
           | g$p AS (
           |  SELECT CAST($j AS BIGINT) AS sub, cid,
           |   CAST(count(*) AS BIGINT) AS n,
           |   sum(CAST(floor(dist * 1000000 + 0.5) AS BIGINT)) AS iq,
           |   max(cc) AS cc
           |  FROM a3$p GROUP BY 2)""".stripMargin
      }
      s"""WITH v AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |${(0 until 4).map(subBlock).mkString(",\n")}
         |SELECT sub, cid, n,
         | CAST(iq AS DOUBLE) / 1000000.0 AS inertia,
         | floor(sqrt(cc) * 1000000 + 0.5) / 1000000 AS cnorm
         |FROM (SELECT * FROM gs0 UNION ALL SELECT * FROM gs1
         |      UNION ALL SELECT * FROM gs2 UNION ALL SELECT * FROM gs3)
         |ORDER BY sub, cid""".stripMargin
    }, simPqTrain),

    // iterative ML with a REAL oracle: quantized-BIGINT centroid sums
    // and the proven sequential-fold dot make every Lloyd round
    // bit-deterministic, so DuckDB re-derives the identical clustering
    QueryDef("cluster_kmeans", Some {
      s"""WITH v AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         | c0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
         |   e AS c
         |  FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 4)),
         |${lloydAssignCte("v", "c0", "a1", keepCc = false)},
         |${lloydUpdateCte("a1", "u1", "c1", 64)},
         |${lloydAssignCte("v", "c1", "a2", keepCc = false)},
         |${lloydUpdateCte("a2", "u2", "c2", 64)},
         |${lloydAssignCte("v", "c2", "a3", keepCc = true)},
         | g AS (
         |  SELECT cid, CAST(count(*) AS BIGINT) AS n,
         |   sum(CAST(floor(dist * 1000000 + 0.5) AS BIGINT)) AS iq,
         |   max(cc) AS cc
         |  FROM a3 GROUP BY 1)
         |SELECT cid AS cluster_id, n,
         | CAST(iq AS DOUBLE) / 1000000.0 AS inertia,
         | CAST(iq AS DOUBLE) / CAST(n * 1000000 AS DOUBLE) AS mean_dist,
         | floor(sqrt(cc) * 1000000 + 0.5) / 1000000 AS cnorm
         |FROM g ORDER BY 1""".stripMargin
    }, clusterKmeans),

    // SemDeDup, fully oracle-checked: the cluster_kmeans Lloyd chain
    // routes every vector to its cell; in-cell cosines + the
    // keep-the-first rule re-derive in SQL (round 11). Registered at
    // TWO cell counts (round 12): k=4 (the original fixture) and k=16
    // (the scale-parameterized path — more cells, smaller cells, the
    // direction semanticK pushes as the corpus grows).
    QueryDef("dedup_semantic", Some(semanticOracleSql(4)), dedupSemantic),
    QueryDef("dedup_semantic_k16", Some(semanticOracleSql(16)),
      (s, d) => dedupSemanticAt(s, d, 16)),

    // The SCALE-RULED path end-to-end (round 13, VERDICT task 3): k is
    // DERIVED from the corpus (semanticK = max(4, ⌈n/targetCell⌉)) on
    // BOTH sides — the oracle recomputes the same rule from count(*),
    // so one static SQL is hash-exact at every SF even though the
    // derived k differs (targetCell=256: k=4 at sf0.01's 500 vectors,
    // k=8 at sf0.1's 2,000 — the default 8192 target would floor to
    // k=4 at both test SFs and never exercise the rule).
    QueryDef("dedup_semantic_auto", Some(semanticOracleSqlAutoK(256)),
      (s, d) => dedupSemanticAuto(s, d, 256L)),

    // Hierarchical (two-level) routing — the coded mitigation for the
    // exact-routing n·k·d term the round-13 decade-2 rehearsal
    // measured (α 1.16 on the exact auto row): route vector→super→
    // member centroid at n·O(√k)·d. Approximate routing ⇒ its OWN
    // oracle rows (cell membership can differ from the exact rows at
    // boundaries), both fully DuckDB-re-derived including the
    // super-layer Lloyd. Pinned k=16 (g=4) twins dedup_semantic_k16
    // for side-by-side comparison; the auto row derives k AND g in
    // SQL so one static oracle exercises the whole scale rule.
    QueryDef("dedup_semantic_coarse", Some(semanticCoarseOracleSql(16)),
      (s, d) => dedupSemanticCoarseAt(s, d, 16)),
    QueryDef("dedup_semantic_coarse_auto",
      Some(semanticCoarseOracleSqlAutoK(256)),
      (s, d) => dedupSemanticCoarseAuto(s, d, 256L))
  )

  /** DuckDB re-derivation of [[dedupSemanticAt]] at cell count `k`:
    * the cluster_kmeans Lloyd chain (k lowest-vec_id init, two
    * quantized update rounds), cell routing, in-cell cosines, and the
    * keep-the-first rule. */
  private def semanticOracleSql(k: Int): String =
    semanticOracleCore(
      s"""c0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
         |   e AS c
         |  FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT $k))""".stripMargin)

  /** [[semanticOracleSql]] with k DERIVED in SQL by the same rule as
    * [[semanticK]] — min(2²⁰, max(4, ⌈n/targetCell⌉)) via integer
    * floor-division over count(*), INCLUDING the 2²⁰ upper clamp
    * (unreachable below ~2.7e8 vectors at the default target, but the
    * oracle must mirror the impl exactly, not approximately) — so the
    * one static oracle matches
    * [[dedupSemanticAuto]] at any scale factor (the derived k differs
    * per SF; the rule, not a pinned k, is what the row proves). */
  private def semanticOracleSqlAutoK(targetCell: Long): String =
    semanticOracleCore(
      s"""kk AS (
         |  SELECT LEAST(GREATEST((count(*) + ${targetCell - 1}) // $targetCell,
         |                  4), 1048576) AS k FROM v),
         | c0 AS (
         |  SELECT CAST(rn - 1 AS BIGINT) AS cid, e AS c
         |  FROM (SELECT vec_id, e,
         |         row_number() OVER (ORDER BY vec_id) AS rn FROM v), kk
         |  WHERE rn <= kk.k)""".stripMargin)

  /** The semantic rows' assignment CTE — [[lloydAssignCte]] without
    * the ‖c‖² and dist outputs; shared VERBATIM by the flat and
    * hierarchical semantic oracles (round 13). */
  private def semanticAssignCte(src: String, cents: String, out: String) =
    s""" $out AS (
       |  SELECT vec_id, e, cid FROM (
       |   SELECT vec_id, e, cid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |   FROM (
       |    SELECT $src.vec_id, $src.e, c.cid,
       |     list_inner_product($src.e, $src.e)
       |       - 2.0 * list_inner_product($src.e, c.c)
       |       + list_inner_product(c.c, c.c) AS dist
       |    FROM $src, $cents c)) WHERE rn = 1)""".stripMargin
  /** The in-cell pair + keep-the-first tail over an assignment
    * relation `src(vec_id, e, cid)`. */
  private def semanticTailSql(src: String) =
    s""" n AS (
       |  SELECT vec_id, e, cid, sqrt(list_inner_product(e, e)) AS nrm FROM $src),
       | p AS (
       |  SELECT b.vec_id AS bid,
       |   floor(list_inner_product(a.e, b.e) / (a.nrm * b.nrm) * 1000000
       |     + 0.5) / 1000000 AS cs
       |  FROM n a JOIN n b ON a.cid = b.cid AND a.vec_id < b.vec_id),
       | nn AS (SELECT bid, max(cs) AS nn_sim FROM p GROUP BY 1)
       |SELECT n.vec_id, CAST(n.cid AS BIGINT) AS cell, nn.nn_sim,
       | (nn.nn_sim IS NULL OR nn.nn_sim < 0.375) AS keep
       |FROM n LEFT JOIN nn ON n.vec_id = nn.bid
       |ORDER BY n.vec_id""".stripMargin

  private def semanticOracleCore(seedCte: String): String =
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       | $seedCte,
       |${semanticAssignCte("v", "c0", "a1")},
       |${lloydUpdateCte("a1", "u1", "c1", 64)},
       |${semanticAssignCte("v", "c1", "a2")},
       |${lloydUpdateCte("a2", "u2", "c2", 64)},
       |${semanticAssignCte("v", "c2", "a3")},
       |${semanticTailSql("a3")}""".stripMargin

  /** Per-super-cell Lloyd CTE generators for the hierarchical oracle:
    * like [[semanticAssignCte]]/[[lloydUpdateCte]] but every
    * centroid carries its super id, assignment joins on `sid` (each
    * vector only meets its own cell's candidates) and updates group by
    * (sid, cid). */
  private def hierAssignCte(cents: String, out: String) =
    s""" $out AS (
       |  SELECT vec_id, e, sid, cid FROM (
       |   SELECT vec_id, e, sid, cid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |   FROM (
       |    SELECT s.vec_id, s.e, s.sid, c.cid,
       |     list_inner_product(s.e, s.e)
       |       - 2.0 * list_inner_product(s.e, c.c)
       |       + list_inner_product(c.c, c.c) AS dist
       |    FROM vp s JOIN $cents c ON s.sid = c.sid)) WHERE rn = 1)""".stripMargin
  private def hierUpdateCte(src: String, sums: String, cents: String) =
    s""" $sums AS (
       |  SELECT sid, cid, t.i AS i,
       |   sum(CAST(floor(e[t.i] * 1000000 + 0.5) AS BIGINT)) AS sq,
       |   CAST(count(*) AS BIGINT) AS cnt
       |  FROM $src, generate_series(1, 64) AS t(i)
       |  GROUP BY 1, 2, 3),
       | $cents AS (
       |  SELECT sid, cid,
       |   list(CAST(sq AS DOUBLE) / CAST(cnt * 1000000 AS DOUBLE)
       |     ORDER BY i) AS c
       |  FROM $sums GROUP BY 1, 2)""".stripMargin

  /** DuckDB re-derivation of [[dedupSemanticCoarseAt]]: the g-super
    * Lloyd chain over the corpus, the corpus partition `vp`, then the
    * per-super-cell member Lloyd (seeds = each cell's m lowest
    * vec_ids), final cell id sid·m + cid, and the unchanged pair/keep
    * tail. `preCtes`/`superSeedCte`/`memberSeedCte`/`routedCte`
    * differ between the pinned-k and SQL-derived-k variants. */
  private def semanticCoarseOracleCore(preCtes: String, superSeedCte: String,
      memberSeedCte: String, routedCte: String): String =
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |$preCtes $superSeedCte,
       |${semanticAssignCte("v", "s0", "sa1")},
       |${lloydUpdateCte("sa1", "su1", "s1", 64)},
       |${semanticAssignCte("v", "s1", "sa2")},
       |${lloydUpdateCte("sa2", "su2", "s2", 64)},
       |${semanticAssignCte("v", "s2", "pa3")},
       | vp AS (SELECT vec_id, e, cid AS sid FROM pa3),
       | $memberSeedCte,
       |${hierAssignCte("h0", "ha1")},
       |${hierUpdateCte("ha1", "hu1", "h1")},
       |${hierAssignCte("h1", "ha2")},
       |${hierUpdateCte("ha2", "hu2", "h2")},
       |${hierAssignCte("h2", "ha3")},
       | $routedCte,
       |${semanticTailSql("routed")}""".stripMargin

  private def semanticCoarseOracleSql(k: Int): String = {
    val g = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
    val m = (k + g - 1) / g
    semanticCoarseOracleCore(
      "",
      s"""s0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
         |   e AS c
         |  FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT $g))""".stripMargin,
      s"""h0 AS (
         |  SELECT sid, CAST(rn - 1 AS BIGINT) AS cid, e AS c
         |  FROM (SELECT sid, e,
         |         row_number() OVER (PARTITION BY sid ORDER BY vec_id) AS rn
         |        FROM vp)
         |  WHERE rn <= $m)""".stripMargin,
      s"routed AS (SELECT vec_id, e, sid * $m + cid AS cid FROM ha3)")
  }

  /** Hierarchical oracle with k, g, AND m derived in SQL — k by the
    * [[semanticK]] rule over count(*), g = max(2, ⌈√k⌉),
    * m = (k + g − 1) // g — matching [[dedupSemanticCoarseAuto]] at
    * every SF. */
  private def semanticCoarseOracleSqlAutoK(targetCell: Long): String =
    semanticCoarseOracleCore(
      s""" kk AS (
         |  SELECT LEAST(GREATEST((count(*) + ${targetCell - 1}) // $targetCell,
         |                  4), 1048576) AS k FROM v),
         | gg AS (
         |  SELECT GREATEST(CAST(ceil(sqrt(CAST(k AS DOUBLE))) AS BIGINT),
         |                  2) AS g FROM kk),
         | mm AS (SELECT (kk.k + gg.g - 1) // gg.g AS m FROM kk, gg),
         |""".stripMargin,
      s"""s0 AS (
         |  SELECT CAST(rn - 1 AS BIGINT) AS cid, e AS c
         |  FROM (SELECT vec_id, e,
         |         row_number() OVER (ORDER BY vec_id) AS rn FROM v), gg
         |  WHERE rn <= gg.g)""".stripMargin,
      s"""h0 AS (
         |  SELECT sid, CAST(rn - 1 AS BIGINT) AS cid, e AS c
         |  FROM (SELECT sid, e,
         |         row_number() OVER (PARTITION BY sid ORDER BY vec_id) AS rn
         |        FROM vp), mm
         |  WHERE rn <= mm.m)""".stripMargin,
      s"routed AS (SELECT vec_id, e, sid * mm.m + cid AS cid FROM ha3, mm)")
}
