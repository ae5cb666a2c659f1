package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}

import scala.collection.mutable

/** Structured Streaming variants of the event-time operators
  * (SURVEY.md §2.9 stretch): the same declarative expressions as
  * graft.operators.EventTime, applied to a streaming DataFrame —
  * watermarks bound state, late data beyond the watermark is dropped.
  *
  * These take the streaming DataFrame as input (from `readStream` or a
  * test MemoryStream) and return the transformed streaming frame; the
  * caller picks the sink/outputMode. State stores are per-key and
  * watermark-expired — bounded memory at any scale.
  */
object StreamingOps {

  /** Epoch-history discovery for the ingest-index sinks, resolved
    * through the Hadoop FileSystem API so the index may live on ANY
    * filesystem the sink family accepts (local, HDFS, S3A, …). A
    * driver-local `java.io.File` listing would silently resolve to
    * empty on a remote path — every vector would then be kept against
    * prior epochs, a silent correctness degradation rather than an
    * error. Includes only epochs STRICTLY EARLIER than the current one
    * (round-18, ADVICE): a restarted stream reprocessing epoch N while
    * epoch N+1's index already exists must not probe FUTURE signatures
    * — epoch N's output would then depend on data that had not arrived
    * when N first ran, breaking replay determinism and the
    * "emitted exactly when its later-arriving member lands" contract.
    * Non-numeric epoch= dirs (foreign files) are ignored rather than
    * probed. */
  private[graft] def historyEpochs(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, epochId: Long): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(indexDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toIndexedSeq
      .filter { st =>
        st.isDirectory && st.getPath.getName.startsWith("epoch=") &&
          scala.util.Try(st.getPath.getName.stripPrefix("epoch=").toLong)
            .toOption.exists(_ < epochId)
      }
      .map(_.getPath.toString)
  }

  /** Tumbling 1 h counts per event type with a watermark: late events
    * older than the watermark are dropped, completed windows are
    * emitted (append mode) once the watermark passes window end. */
  def tumblingCounts(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Session windows (30 min gap) per user under a watermark —
    * `session_window` merges events into variable-length sessions;
    * state for a session is dropped once the watermark passes its end. */
  def sessionized(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("session_start"), col("user_id"),
        col("n"), col("sum_value"))

  final case class SessEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class SessState(startMs: Long, lastMs: Long, n: Long, sum: Double)
  final case class SessOut(user_id: Long, session_start: java.sql.Timestamp,
      n: Long, sum_value: Double)

  /** Custom stateful sessionization via `flatMapGroupsWithState` with
    * event-time timeouts — the arbitrary-state API for semantics
    * `session_window` can't express (e.g. emitting closed sessions with
    * custom payloads). Per-user state is one open session (constant
    * size); the event-time timeout fires when the watermark passes
    * last-event + gap, emitting and clearing the session — so state is
    * bounded and late events beyond the watermark are dropped upstream.
    */
  def statefulSessionize(events: DataFrame, gapMinutes: Long = 30,
      watermark: String = "10 minutes"): Dataset[SessOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60000L

    def close(uid: Long, s: SessState): SessOut =
      SessOut(uid, new java.sql.Timestamp(s.startMs), s.n, s.sum)

    def fn(uid: Long, rows: Iterator[SessEvent],
        state: GroupState[SessState]): Iterator[SessOut] = {
      if (state.hasTimedOut) {
        val out = close(uid, state.get)
        state.remove()
        Iterator(out)
      } else {
        val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.value))
        var open = state.getOption
        val closed = Seq.newBuilder[SessOut]
        sorted.foreach { e =>
          val t = e.ts.getTime
          open match {
            case Some(s) if t - s.lastMs <= gapMs =>
              open = Some(SessState(s.startMs, t, s.n + 1, s.sum + e.value))
            case Some(s) =>
              closed += close(uid, s)
              open = Some(SessState(t, t, 1, e.value))
            case None =>
              open = Some(SessState(t, t, 1, e.value))
          }
        }
        open.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(s.lastMs + gapMs)
        }
        closed.result().iterator
      }
    }

    events.selectExpr("user_id", "ts", "value")
      .withWatermark("ts", watermark)
      .as[SessEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Stream-static join: enrich a stream with a bounded dimension (the
    * streaming form of the KeyMap lookup) — the static side is
    * broadcast per micro-batch; no stream-side state. */
  def enrichWithDim(stream: DataFrame, dim: DataFrame, streamKey: String,
      dimKey: String): DataFrame =
    stream.join(broadcast(dim), stream(streamKey) === dim(dimKey), "left")

  /** Streaming exact dedup within the watermark horizon — the streaming
    * form of the reference's dedup-before-load precondition
    * (`/root/reference/src/load/pg.rs:19-20`): duplicate event_ids
    * arriving within the watermark are dropped; state is purged as the
    * watermark advances (bounded, unlike naive dropDuplicates). */
  def dedupWithinWatermark(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join: purchases joined to the same user's
    * touches (clicks/views) within the trailing `windowMinutes` — the
    * streaming twin of events_attribution. Both sides are watermarked
    * and the join condition bounds touch_ts to
    * [purchase_ts − window, purchase_ts], so each side's state store
    * retains only the interval + watermark horizon — bounded state, the
    * canonical stream-stream join recipe. Inner join: Spark can prove
    * state expiry on both sides. */
  def joinPurchasesToTouches(purchases: DataFrame, touches: DataFrame,
      windowMinutes: Int = 30, watermark: String = "10 minutes"): DataFrame = {
    val p = purchases.withWatermark("ts", watermark)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"), col("value"))
    val c = touches.withWatermark("ts", watermark)
      .select(col("user_id").as("t_user"), col("ts").as("touch_ts"),
        col("event_type").as("touch_type"), col("event_id").as("touch_id"))
    p.join(c,
      col("user_id") === col("t_user") &&
        col("touch_ts") <= col("purchase_ts") &&
        col("touch_ts") >= col("purchase_ts") - expr(s"interval $windowMinutes minutes"))
      .drop("t_user")
  }

  /** Sliding-window distinct users — the streaming twin of the batch
    * `window_sliding_distinct` QueryDef, built on Spark 4's CHAINED
    * stateful aggregations: stage 1 reduces the stream to one state
    * row per (4 h/1 h window, user) — the same users×hours ≪ events
    * pre-reduction the batch plan does — and stage 2 re-aggregates the
    * stage-1 APPENDED results (emitted as their windows close) into
    * per-window distinct counts. Both stages' state is watermark-
    * bounded; a naive streaming countDistinct would be rejected by the
    * planner outright, which is exactly why the batch op was written
    * in this dedup-then-count form to begin with. */
  def slidingDistinctUsers(events: DataFrame,
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "4 hours", "1 hour").as("w"), col("user_id"))
      .agg(count(lit(1)).as("hits"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n_users"))
      .select(col("w.start").as("window_start"), col("n_users"))

  /** Running Misra-Gries heavy hitters per event_type — BOUNDED-STATE
    * streaming top users where exact per-user counts would grow with
    * |users| (the state-size failure mode of naive streaming top-k at
    * 100 TB). State per key is the k-counter MG sketch (same update
    * semantics as the batch `mg_topk` expression, MisraGries.scala:68:
    * increment if present, insert while < k counters, else
    * decrement-all and drop zeros — every item with true frequency
    * > n/(k+1) is guaranteed a counter). Rows are folded in
    * (ts, event_id) order within each micro-batch so a given feed
    * schedule is deterministic; per-key per-batch buffering is bounded
    * by the micro-batch. Emits the (approximate) top-counter list
    * after each batch. */
  def runningHeavyHitters(events: DataFrame, k: Int = 8): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("event_type"), col("user_id").cast("string").as("item"),
        col("ts"), col("event_id"))
      .as[(String, String, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[Map[String, Long], (String, Seq[String], Seq[Long])](
        GroupStateTimeout.NoTimeout) { case (key, rows, state) =>
        val m = mutable.HashMap.empty[String, Long]
        state.getOption.foreach(s => s.foreach { case (i, c) => m.update(i, c) })
        rows.toSeq.sortBy(r => (r._3.getTime, r._4)).foreach { r =>
          val item = r._2
          m.get(item) match {
            case Some(c) => m.update(item, c + 1)
            case None if m.size < k => m.update(item, 1L)
            case None =>
              val keys = m.keys.toArray
              val dead = mutable.ArrayBuffer.empty[String]
              keys.foreach { key2 =>
                val c = m(key2) - 1
                if (c == 0) dead += key2 else m.update(key2, c)
              }
              dead.foreach(m.remove)
          }
        }
        state.update(m.toMap)
        val top = m.toSeq.sortBy { case (i, c) => (-c, i) }
        (key, top.map(_._1), top.map(_._2))
      }
      .toDF("event_type", "items", "counts")
  }

  /** The one epoch-addressed ingest path: [[sinkEpochParquet]] and
    * every ingest twin are a `body` run by this `foreachBatch`. Per
    * micro-batch N, in order: snapshot the persistent-RDD set; read
    * the index history once — the `indexDir` epochs STRICTLY EARLIER
    * than N ([[historyEpochs]]), None when there are none or no index;
    * `body(batch, history)` returns the verdicts and the epoch's index
    * contribution; overwrite `outDir/epoch=N`, then `indexDir/epoch=N`
    * (outputs before index); then — after both writes, and on any
    * failure — unpersist every RDD persisted during the epoch.
    *
    * A replayed batch (the at-least-once failure mode) overwrites its
    * own previous attempt instead of appending duplicates: exactly-once
    * at the directory level without a transactional table format.
    * The release diffs the persistent-RDD set, so it covers ANY RDD
    * persisted on the same SparkContext while the epoch runs — the
    * body's `localCheckpoint()`s, which a long-running stream makes
    * afresh every micro-batch (accumulated, they are the round-13
    * Bench leak class, 8× inflation), and a concurrent caller's
    * persists alike — while caches that predate the epoch are kept. */
  private[graft] def epochIngest(src: DataFrame, outDir: String, indexDir: Option[String])(
      body: (DataFrame, Option[DataFrame]) => (DataFrame, Option[DataFrame]))
      : DataStreamWriter[Row] =
    src.writeStream.foreachBatch { (batch: Dataset[Row], epochId: Long) =>
      val spark = batch.sparkSession
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      def at(dir: String) = s"$dir/epoch=$epochId"
      try {
        val hist = indexDir.map(historyEpochs(spark, _, epochId)).filter(_.nonEmpty)
          .map(ps => graft.Tables.read(spark, ps: _*))
        val (out, index) = body(batch, hist)
        out.write.mode("overwrite").parquet(at(outDir))
        for (dir <- indexDir; df <- index) df.write.mode("overwrite").parquet(at(dir))
      } finally
        sc.getPersistentRDDs.foreach { case (id, r) =>
          if (!before(id)) r.unpersist(blocking = false)
        }
    }

  /** Idempotent micro-batch parquet sink: each batch lands in its own
    * epoch-addressed subdirectory ([[epochIngest]]). `foreachBatch` is
    * also the escape hatch for sinks Structured Streaming lacks
    * natively (JDBC, the graft Sink registry). */
  def sinkEpochParquet(df: DataFrame, outDir: String): DataStreamWriter[Row] =
    epochIngest(df, outDir, None)((batch, _) => (batch, None))

  /** CONTINUOUS near-dedup ingest — the streaming form of
    * `dedup_incremental` (operators/Dedup.scala), i.e. the shape a
    * crawl pipeline actually runs: each micro-batch of documents is
    * minhash-signed (work O(batch shingles), never the corpus),
    * LSH-banded, and probed (a) against the PERSISTED band index of
    * everything ingested before it and (b) against itself; flagged
    * pairs land in an epoch-addressed parquet, and the batch's own
    * bands are appended to the index under the same epoch address —
    * so a replayed batch overwrites both its verdicts and its index
    * contribution instead of double-inserting (at-least-once replay
    * safe without a transactional format).
    *
    * VERIFICATION TIERS, made explicit in the output schema
    * (doc_a, doc_b, origin, verified, jac): within-batch hits have
    * both texts on hand, so they are exact-Jaccard verified at
    * `threshold` (band collisions below it are dropped) and emitted
    * with verified=true and the measured jac; `origin="history"` hits
    * probe a band index that stores NO text, so they are UNVERIFIED
    * CANDIDATES — verified=false, jac=null — and b=4/r=2 banding has
    * nontrivial false-positive odds at low similarity. Consumers
    * treating the feed as dedup verdicts must re-verify history rows
    * against the document store (or route them through the batch
    * `dedup_incremental` path, which does exactly that).
    *
    * At scale the index is the curated artifact: band-keyed, so the
    * probe is a shuffle equi-join sized by Σ bucket², identical to the
    * batch path's bound. Epoch subdirectories compact offline exactly
    * like any ingest table (`scale_compaction`).
    */
  def dedupIngest(docs: DataFrame, indexDir: String, outDir: String,
      threshold: Double = 0.5): DataStreamWriter[Row] =
    epochIngest(docs, outDir, Some(indexDir)) { (batch, hist) =>
      val stable = batch.localCheckpoint()
      val bands = graft.operators.Dedup.bandsOf(
        graft.operators.Dedup.signatureOf(stable)).localCheckpoint()
      val vsHist = hist.map { h =>
        bands.as("n").join(h.as("h"),
            col("n.band_idx") === col("h.band_idx") && col("n.band") === col("h.band"))
          .select(col("h.doc_id").as("doc_a"), col("n.doc_id").as("doc_b"),
            lit("history").as("origin"), lit(false).as("verified"),
            lit(null).cast("double").as("jac"))
          .distinct()
      }
      // both texts are in the batch: exact-Jaccard verify at threshold
      val vsBatch = graft.operators.Dedup.verifiedPairsOf(stable, threshold)
        .select(col("doc_a"), col("doc_b"), lit("batch").as("origin"),
          lit(true).as("verified"), col("jac"))
      (vsHist.map(_.unionByName(vsBatch)).getOrElse(vsBatch), Some(bands))
    }

  /** CONTAINMENT-SCREEN-ON-INGEST — the streaming twin of the batch
    * `dedup_containment` PPJoin (round 15, VERDICT task 7): the
    * asymmetric overlap C(sub→sup) = |sub∩sup|/|sub| ≥ t that
    * quoted/subset dedup and DECONTAMINATION need (an arriving train
    * doc containing — or contained in — an already-ingested benchmark
    * doc must be flagged at ingest, not at the next batch sweep).
    *
    * Each micro-batch is shingled with the batch op's exact chain
    * ([[graft.operators.Dedup.shingleRows]]: tokenize → 3-word
    * shingles → per-doc distinct → xxhash64 ids) and ranked by
    * SHINGLE-ID order. The batch op ranks by global rarest-first
    * frequency — a selectivity heuristic whose ranks CHANGE as the
    * corpus grows; the prefix/positional proofs only need SOME
    * consistent global total order (Dedup scaladoc), and id order is
    * TIME-INVARIANT: a doc's (n, rn, prefix-membership) persisted at
    * epoch e is still a valid m=2 extended prefix at epoch e+k, so
    * the index never needs re-ranking. Both stages keep the same
    * LOSSLESS m=2 candidate rule as the batch op — extended prefix
    * rn ≤ n − ⌈t·n⌉ + 2, per-row positional bound, per-pair
    * aggregated bound cp + min(|A|−ra(β), |B|−rb(β)) ≥ r = ⌈t·|A|⌉,
    * cp ≥ min(2, r) — so candidates differ from the batch stage
    * (different order ⇒ different prefixes) but the VERIFIED output
    * is identical; verification is exact (the index stores shingle
    * ids, not a lossy sketch), so unlike [[dedupIngest]] every emitted
    * row is a verdict, no unverified tier.
    *
    * Directions covered per epoch — all ordered pairs whose LATER
    * member is in this batch, each pair exactly once across the run:
    * batch-sub→{batch ∪ history}-sup in one probe, history-sub→
    * batch-sup in the other. Work per ingest is O(batch): the rank
    * window partitions by batch doc only; both candidate joins are
    * keyed equi-joins sized by the batch's prefix tokens × index
    * bucket width (the PPJoin Σ bound with one side batch-bounded);
    * verify builds shingle sets ONLY for docs named by a candidate
    * (left-semi restriction). On a cluster the index is bucketed by
    * tk so the probe prunes to matching buckets. Epoch-addressed
    * overwrite on both sinks ⇒ at-least-once replay safe.
    *
    * Output per epoch: (doc_sub, doc_sup, inter_size, containment) —
    * the batch op's exact schema; union over an id-ordered replay's
    * epochs equals the batch output exactly (StreamBatchParitySpec). */
  def containmentIngest(docs: DataFrame, indexDir: String, outDir: String,
      threshold: Double = 0.8): DataStreamWriter[Row] =
    epochIngest(docs, outDir, Some(indexDir)) { (batch, hist) =>
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.{DoubleType, LongType}
      val t = threshold
      val stable = batch.localCheckpoint()
      val wDoc = Window.partitionBy(col("doc_id"))
      val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("tk"))
      val cur = graft.operators.Dedup.shingleRows(stable)
        .withColumn("n", count(lit(1)).over(wDoc))
        .withColumn("rn", row_number().over(wOrd))
        .withColumn("pref",
          col("rn") <= col("n") - ceil(lit(t) * col("n")) + lit(2))
        .localCheckpoint() // consumed by 2 probes + verify + index sink

      // the batch op's candidate stage, parameterized by which side
      // is the probing SUBSET — identical prunes, identical columns
      def candidates(sub: DataFrame, sup: DataFrame): DataFrame = {
        val r = ceil(lit(t) * col("na"))
        sub.filter(col("pref")).as("a").join(sup.as("b"),
            col("a.tk") === col("b.tk") && col("a.doc_id") =!= col("b.doc_id") &&
              col("b.n") >= ceil(lit(t) * col("a.n")) &&
              (lit(2) + least(col("a.n") - col("a.rn"), col("b.n") - col("b.rn"))) >=
                ceil(lit(t) * col("a.n")))
          .select(col("a.doc_id").as("doc_sub"), col("b.doc_id").as("doc_sup"),
            col("a.n").as("na"), col("b.n").as("nb"),
            col("a.rn").as("ra"), col("b.rn").as("rb"))
          .groupBy(col("doc_sub"), col("doc_sup"))
          .agg(count(lit(1)).as("cp"), max(col("na")).as("na"), max(col("nb")).as("nb"),
            max(col("ra")).as("mra"), max(col("rb")).as("mrb"))
          .filter(col("cp") >= least(lit(2), r) &&
            (col("cp") + least(col("na") - col("mra"), col("nb") - col("mrb"))) >= r)
          .select(col("doc_sub"), col("doc_sup"))
      }
      val fromBatchSub = candidates(cur, hist.map(cur.unionByName(_)).getOrElse(cur))
      val cand = hist.map(h => fromBatchSub.unionByName(candidates(h, cur)))
        .getOrElse(fromBatchSub)

      // exact verify, restricted to candidate-named docs (O(cand))
      val allTok = hist.map(cur.unionByName(_)).getOrElse(cur)
      val ids = cand.select(col("doc_sub").as("doc_id"))
        .unionByName(cand.select(col("doc_sup").as("doc_id"))).distinct()
      val sets = allTok.join(ids, Seq("doc_id"), "left_semi")
        .groupBy(col("doc_id"))
        .agg(collect_set(col("tk")).as("set"), max(col("n")).as("n"))
      val cont = col("inter_size").cast(DoubleType) / col("na").cast(DoubleType)
      val verdicts = cand
        .join(sets.select(col("doc_id").as("doc_sub"), col("set").as("sa"),
          col("n").as("na")), "doc_sub")
        .join(sets.select(col("doc_id").as("doc_sup"), col("set").as("sb")), "doc_sup")
        .withColumn("inter_size",
          size(array_intersect(col("sa"), col("sb"))).cast(LongType))
        .filter(cont >= t)
        .select(col("doc_sub"), col("doc_sup"), col("inter_size"),
          cont.as("containment"))
      (verdicts, Some(cur))
    }

  /** Semantic-dedup-on-ingest — the streaming twin of
    * `dedup_semantic` (SemDeDup, round 11): each micro-batch of
    * (vec_id, embedding) rows is routed to its Lloyd cell by the
    * broadcast batch-trained model (the [[kmeansAssign]] per-row
    * argmin), cosine-compared against (a) the PERSISTED cell-mates
    * ingested before it and (b) its own lower-id batch-mates, and
    * dropped iff any lower-id cell-mate reaches τ. The index stores
    * EVERY ingested vector, not only kept ones — the batch rule drops
    * against any lower-id neighbor regardless of that neighbor's own
    * verdict, so parity demands the identical comparison set. Both
    * outputs are epoch-addressed ([[epochIngest]]: a replayed batch
    * overwrites, never double-inserts). With id-ordered arrival the
    * verdict stream equals the batch `dedup_semantic` output EXACTLY
    * (StreamBatchParitySpec); out-of-order arrival degrades
    * gracefully to "first-seen wins", the honest streaming semantics.
    *
    * Scale: per batch the work is O(batch × cell-mates) keyed
    * equi-joins — the same Σ|cell|² bound as the batch op, amortized
    * over ingestion; the model is k×dim literals, no driver state. */
  def semanticDedupIngest(vecs: DataFrame, cents: Seq[(Long, Seq[Double])],
      indexDir: String, outDir: String, tau: Double = 0.375):
      DataStreamWriter[Row] =
    epochIngest(vecs, outDir, Some(indexDir)) { (batch, hist) =>
      import graft.operators.Similarity.{assign, dotLambda, unkeyed}
      val cur = assign(embeddingVecs(batch), unkeyed(cents))
        .select(col("vec_id"), col("e"), col("cid").as("cell"))
        .withColumn("nrm", sqrt(dotLambda(col("e"), col("e"))))
        .localCheckpoint()
      cellVerdictTail(cur, hist, tau)
    }

  /** Shared cell-keyed compare/keep tail of the semantic ingest twins:
    * `cur` is the routed micro-batch (vec_id, e, cell, nrm), already
    * localCheckpoint()ed, and `hist` the persisted cell-mates of
    * earlier epochs. Compares against those + lower-id batch-mates and
    * returns the verdicts and the epoch's index contribution. */
  private def cellVerdictTail(cur: DataFrame, hist: Option[DataFrame],
      tau: Double): (DataFrame, Option[DataFrame]) = {
    import graft.operators.Similarity.dotLambda
    def cs(a: String, b: String) =
      graft.Parity.r6(dotLambda(col(s"$a.e"), col(s"$b.e")) /
        (col(s"$a.nrm") * col(s"$b.nrm")))
    val vsBatch = cur.as("a").join(cur.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("b.vec_id").as("bid"), cs("a", "b").as("cs"))
    val cands = hist.fold(vsBatch) { h =>
      vsBatch.unionByName(
        cur.as("n").join(h.as("h"),
            col("n.cell") === col("h.cell") && col("h.vec_id") < col("n.vec_id"))
          .select(col("n.vec_id").as("bid"), cs("h", "n").as("cs")))
    }
    val nn = cands.groupBy(col("bid")).agg(max(col("cs")).as("nn_sim"))
    val verdicts = cur.select(col("vec_id"), col("cell"))
      .join(nn, col("vec_id") === col("bid"), "left")
      .select(col("vec_id"), col("cell"), col("nn_sim"),
        (col("nn_sim").isNull || col("nn_sim") < tau).as("keep"))
    (verdicts, Some(cur.select(col("vec_id"), col("e"), col("cell"), col("nrm"))))
  }

  /** Hierarchical semantic-dedup-on-ingest — the streaming twin of
    * `dedup_semantic_coarse` (round 14, VERDICT task 6): at the corpus
    * sizes that motivate the two-level batch path, the flat ingest
    * twin would route each row against all k cells (k ∝ corpus under
    * the SemDeDup rule); this twin replays the batch hierarchy
    * per row — argmin over the g broadcast SUPER centroids, then
    * argmin over that super-cell's m MEMBER centroids — O(√k) literal
    * comparisons per row, cell id = sid·m + cid exactly as the batch
    * routing. Both argmins use the identical sequential-fold distance
    * (e·e − 2e·c + c·c) and (dist, cid) tie-break as the batch
    * routing (the Lloyd core's `Similarity.assign`), so on an id-ordered
    * replay of the training corpus the verdict stream equals the
    * batch `dedup_semantic_coarse` output EXACTLY
    * (StreamBatchParitySpec). A vector whose nearest super acquired
    * no trained members (possible only for supers EMPTY at train
    * time) routes to a null cell and keeps — the batch op cannot see
    * such a vector at all, so the seam is new-data-only and
    * documented rather than hidden.
    *
    * `supers` is (sid, centroid); `members` is (sid, cid, centroid)
    * with cid ∈ [0, m); both from the batch-trained
    * [[graft.operators.Similarity.coarseModelSeq]] — k×dim literals
    * total, no driver state across batches. PRECONDITION: both layers
    * non-empty — an empty candidate literal has no element type, and
    * a model with zero trained members would otherwise surface as an
    * opaque planner error inside foreachBatch (round-15 advisor). */
  def semanticDedupCoarseIngest(vecs: DataFrame,
      supers: Seq[(Long, Seq[Double])],
      members: Seq[(Long, Long, Seq[Double])], m: Int,
      indexDir: String, outDir: String, tau: Double = 0.375):
      DataStreamWriter[Row] = {
    require(supers.nonEmpty && members.nonEmpty,
      "semanticDedupCoarseIngest needs a trained model: supers and members must be non-empty")
    epochIngest(vecs, outDir, Some(indexDir)) { (batch, hist) =>
      import graft.operators.Similarity.{assign, dotLambda, unkeyed}
      val routed = assign(embeddingVecs(batch), unkeyed(supers))
        .select(col("vec_id"), col("e"), col("cid").as("sid"))
      val cur = assign(routed, members, Some("sid"))
        .select(col("vec_id"), col("e"),
          (col("sid") * lit(m.toLong) + col("cid")).as("cell"))
        .withColumn("nrm", sqrt(dotLambda(col("e"), col("e"))))
        .localCheckpoint()
      cellVerdictTail(cur, hist, tau)
    }
  }

  /** DSIR-score-on-ingest — the streaming twin of the batch
    * `corpus_dsir_select` scorer (round 12): the per-bucket importance
    * relation λ is TRAINED IN BATCH (Curation.dsirLambda, ≤512 rows),
    * collected once, and inlined here as a literal map — after which
    * scoring is a PURE STATELESS per-row projection: tokenize,
    * build unigram+bigram features, hash each to its md5 bucket, and
    * fold Σ λ_q[bucket] with `aggregate` over the feature array (no
    * explode, no per-doc aggregation state, append mode). Emits the
    * same (doc_id, lang, n_feats, score) relation the batch query
    * ranks; the global top-k SELECTION stays a downstream/batch
    * concern — a stream cannot know the final rank of an unbounded
    * corpus. `lamDefault` scores buckets the training corpus never
    * populated (the batch λ omits them); parity replays of the
    * training corpus itself never hit it. Beyond replay, note the
    * twins also diverge in `n_feats`, not just score: the batch path's
    * inner join to the λ relation drops unseen-bucket features from
    * BOTH score and n_feats, while this stream counts every feature in
    * n_feats and scores unseen buckets `lamDefault` — on the training
    * corpus the bucket sets coincide and the relations are equal.
    * StreamBatchParitySpec asserts row equality with the batch
    * scorer's pre-limit relation on a replayed corpus. */
  def dsirScoreIngest(docs: DataFrame, lam: Seq[(Long, Long)],
      lamDefault: Long = 0L): DataFrame = {
    require(lam.nonEmpty,
      "dsirScoreIngest needs a non-empty trained λ relation " +
        "(map_from_arrays over empty untyped literal arrays fails analysis)")
    val b = 512
    val lamMap = map_from_arrays(
      array(lam.map(x => lit(x._1)): _*),
      array(lam.map(x => lit(x._2)): _*))
    val t = filter(split(col("text"), " "), x => x =!= "")
    val feats = concat(t,
      when(size(t) >= 2,
        transform(sequence(lit(1), size(t) - 1),
          i => concat_ws(" ", element_at(t, i), element_at(t, i + 1))))
        .otherwise(array().cast("array<string>")))
    docs
      .select(col("doc_id"), col("lang"), feats.as("f"))
      .filter(size(col("f")) > 0)
      .select(col("doc_id"), col("lang"),
        size(col("f")).cast("long").as("n_feats"),
        aggregate(
          transform(col("f"), f =>
            conv(substring(md5(f), 1, 8), 16, 10).cast("long") % b),
          lit(0L),
          (acc, bk) => acc + coalesce(element_at(lamMap, bk), lit(lamDefault)))
          .as("score_q"))
      .select(col("doc_id"), col("lang"), col("n_feats"),
        (col("score_q").cast("double") / lit(1000000000.0)).as("score"))
  }

  /** RERANK-ON-INGEST — the streaming twin of the batch
    * `sim_rerank_fuse` (round 16, r15 VERDICT task 5): arriving QUERY
    * ids rerank against the static corpus + the PERSISTED write-once
    * lexical index ([[graft.operators.Similarity.lexicalIndex]], a
    * [[graft.Caches.once]] store of BM25 state). Per batch the
    * work is the eval-only path: ANN shortlist vs the corpus (broadcast
    * batch-bounded query side), BM25 term joins restricted to the
    * shortlist, one fusion projection — the corpus-wide tf/df/dlen
    * training pass never runs on the ingest path (it ran once, at index
    * publish).
    *
    * STATELESS twin (the dsirScoreIngest class): each qid's verdict
    * depends only on the static corpus snapshot, never on other
    * epochs — so the twin is replay-stable by construction (re-running
    * an epoch overwrites it with identical rows; out-of-order arrival
    * reorders epochs, not verdicts) and the union over any replay's
    * epochs equals the batch `rerankFuseFor` output on the same qid
    * set exactly (StreamBatchParitySpec). Epoch-addressed overwrite ⇒
    * at-least-once replay safe. */
  def rerankFuseIngest(queries: DataFrame, dir: String,
      outDir: String): DataStreamWriter[Row] =
    epochIngest(queries, outDir, None) { (batch, _) =>
      // load-bearing: ids feeds `short`, which the fusion plan
      // references twice; released with the epoch
      val ids = batch.select(col("qid")).distinct().localCheckpoint()
      (graft.operators.Similarity.rerankFuseForIds(batch.sparkSession, dir, ids), None)
    }

  /** Perceptual near-dup pairing on ingest — the streaming twin of
    * `mm_phash_pairs` (round 17, r16 VERDICT task 5), completing the
    * ingest-twin set across all three near-dup families (text shingles
    * → containmentIngest, embeddings → semanticDedupIngest, media →
    * here). Arriving media payloads (doc_id, payload) are pHash-signed
    * with the batch op's exact decode pass
    * ([[graft.operators.Multimodal.phashImages]]), probed against the
    * PERSISTED signature index (every previously ingested decodable
    * doc's 64-bit pHash) plus their own batch-mates, and every near-dup
    * pair whose LATER-ARRIVING member is in this batch is emitted with
    * its Hamming distance — the containmentIngest emission discipline.
    *
    * The probe is the DIRECTIONAL form of the batch op's
    * signature-level pigeonhole banding (bandedHammingPairs): batch
    * signatures band-join against {batch ∪ history} signatures on any
    * shared 16-bit block (4 blocks ⇒ any pair within Hamming ball 3
    * shares one — recall is structural, not probabilistic), Hamming is
    * verified per DISTINCT signature pair, and doc expansion restricts
    * one side to batch docs — so history×history pairs (already
    * emitted at their own later member's epoch) are never recomputed.
    * Work per ingest is O(batch): the band join is keyed by (block_idx,
    * block) with one side batch-bounded, and expansion cost is the
    * emitted pairs. The index is append-only epoch parquet — on a
    * cluster, bucketed by a signature band so the probe prunes to
    * matching buckets.
    *
    * Exactly-once per pair across an ordered run; a REPLAYED batch
    * overwrites its epoch (and, having more history visible, may
    * re-emit pairs later epochs also carry — set-union semantics, and
    * every emitted (pair, hamming) row is identical wherever it
    * appears because the signatures are deterministic). Union over any
    * replay's epochs equals the batch `mm_phash_pairs` pair set
    * exactly (StreamBatchParitySpec). */
  def phashPairsIngest(media: DataFrame, indexDir: String, outDir: String,
      ball: Int = 3): DataStreamWriter[Row] = {
    require(ball <= 3, s"4x16-bit bands only guarantee recall for ball <= 3, got $ball")
    epochIngest(media, outDir, Some(indexDir)) { (batch, hist) =>
      import org.apache.spark.sql.types.LongType
      val spark = batch.sparkSession
      import spark.implicits._
      // one decode pass per batch; checkpointed — the signature
      // relation feeds the band probe, both expansions, the same-sig
      // tier, and the index sink
      val cur = graft.operators.Multimodal
        .phashImages(batch
          .select(col("doc_id"), col("payload"))
          .as[graft.operators.Multimodal.MediaRow])
        .filter(col("ok"))
        .select(col("doc_id"), col("phash").as("simhash"))
        .toDF().localCheckpoint()
      val all = hist.map(cur.unionByName(_)).getOrElse(cur)
      def blocks(s: DataFrame): DataFrame = s.select(col("simhash")).distinct()
        .select(col("simhash"),
          posexplode(array((0 until 4).map(b =>
            shiftrightunsigned(col("simhash"), b * 16).bitwiseAND(lit(0xffffL))): _*))
            .as(Seq("block_idx", "block")))
      val sigPairs = blocks(cur).as("a").join(blocks(all).as("b"),
          col("a.block_idx") === col("b.block_idx") &&
            col("a.block") === col("b.block") &&
            col("a.simhash") =!= col("b.simhash"))
        .select(col("a.simhash").as("sc"), col("b.simhash").as("so"))
        .filter(bit_count(col("sc").bitwiseXOR(col("so"))) <= ball)
        .distinct()
      val cross = sigPairs
        .join(cur.as("dc"), col("sc") === col("dc.simhash"))
        .join(all.as("dd"), col("so") === col("dd.simhash"))
        .select(
          least(col("dc.doc_id"), col("dd.doc_id")).as("doc_a"),
          greatest(col("dc.doc_id"), col("dd.doc_id")).as("doc_b"),
          bit_count(col("sc").bitwiseXOR(col("so"))).cast(LongType).as("hamming"))
        .distinct()
      val same = cur.as("x").join(all.as("y"),
          col("x.simhash") === col("y.simhash") &&
            col("x.doc_id") =!= col("y.doc_id"))
        .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
          greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"),
          lit(0L).as("hamming"))
        .distinct()
      (cross.unionByName(same), Some(cur))
    }
  }

  /** Tokenize-on-ingest: the batch `text_bpe_tokenize` projection
    * (graft.operators.TextOps.bpeTokenizeCols) applied UNCHANGED to a
    * streaming document source — per doc, whitespace token count,
    * subword count under the fixture merges, and the md5 of the
    * in-order piece stream. Fully stateless (no agg, no watermark;
    * append mode), so the streaming plan is the batch plan minus the
    * sort: token accounting lands incrementally as documents arrive,
    * the ingest half of a training-data pipeline's token budget.
    * StreamBatchParitySpec asserts row-set equality with the batch
    * query on a replayed corpus. */
  def bpeTokenize(docs: DataFrame): DataFrame =
    graft.operators.TextOps.bpeTokenizeCols(docs)

  final case class AsofEv(tsMs: Long, id: Long)
  final case class AsofRow(user_id: Long, ts: java.sql.Timestamp,
      event_id: Long, is_trade: Boolean)
  final case class AsofState(quotes: Seq[AsofEv], trades: Seq[AsofEv])
  final case class AsofOut(purchase_id: Long, user_id: Long,
      ts: java.sql.Timestamp, click_id: Option[Long],
      click_ts: Option[java.sql.Timestamp])

  /** Stream-stream BACKWARD AS-OF join (the temporal enrich Flink
    * calls a temporal join; Structured Streaming has no native
    * operator for it): each trade-side event is enriched with the
    * LATEST quote-side event at-or-before its timestamp, per key —
    * batch `join_asof` semantics on two live streams.
    *
    * Correctness leans entirely on the watermark: a trade at t is
    * emitted only once the watermark passes t, at which point every
    * quote with ts ≤ t has arrived (later ones would be dropped as
    * late), so "latest quote ≤ t" is final — the same
    * emit-when-complete discipline as windowed aggregation, applied to
    * a join. Both inputs are unioned with a side tag into ONE keyed
    * stateful operator (the standard multi-input-state pattern).
    *
    * State is bounded per key: the in-flight trades inside the
    * watermark horizon, the quotes at-or-above the watermark, and
    * exactly ONE quote below it (the latest — the only one a future
    * trade can still match; older quotes are provably dead and
    * pruned). Event-time timeouts flush matured trades, and keys idle
    * past a 24 h event-time TTL are removed ENTIRELY — cached latest
    * quote included — so total state is bounded by active keys, not
    * lifetime keys. That is the standard temporal-join TTL tradeoff:
    * a trade arriving after > TTL of silence on its key loses a match
    * older than the TTL. StreamBatchParitySpec replays a corpus and
    * asserts EXACT equality with the batch as-of join for every trade
    * below the final watermark. */
  def asofEnrich(trades: DataFrame, quotes: DataFrame,
      watermark: String = "10 minutes"): Dataset[AsofOut] = {
    val spark = trades.sparkSession
    import spark.implicits._
    val t = trades.select(col("user_id"), col("ts"), col("event_id"),
      lit(true).as("is_trade"))
    val q = quotes.select(col("user_id"), col("ts"), col("event_id"),
      lit(false).as("is_trade"))
    val unioned = t.unionByName(q).withWatermark("ts", watermark).as[AsofRow]

    val idleTtlMs = 24L * 3600000

    def flush(uid: Long, st: AsofState, wm: Long): (Seq[AsofOut], AsofState) = {
      val (ready, pending) = st.trades.partition(_.tsMs < wm)
      // one sort of each side per flush, then a monotone merge-scan:
      // trades ascending, quote pointer only ever advances — O(T + Q)
      // matching after the O(Q log Q) sort (not a sort per trade)
      val sortedQuotes = st.quotes.sortBy(e => (e.tsMs, e.id)).toIndexedSeq
      var qi = 0
      var best: Option[AsofEv] = None
      val outs = ready.sortBy(e => (e.tsMs, e.id)).map { tr =>
        // latest quote at-or-before the trade; ties by id (mirrors the
        // batch ORDER BY cts DESC, cid DESC)
        while (qi < sortedQuotes.length && sortedQuotes(qi).tsMs <= tr.tsMs) {
          best = Some(sortedQuotes(qi)); qi += 1
        }
        AsofOut(tr.id, uid, new java.sql.Timestamp(tr.tsMs), best.map(_.id),
          best.map(x => new java.sql.Timestamp(x.tsMs)))
      }
      val (dead, live) = sortedQuotes.partition(_.tsMs < wm)
      val keep = dead.lastOption.toSeq ++ live
      (outs, AsofState(keep, pending))
    }

    def fn(uid: Long, rows: Iterator[AsofRow],
        state: GroupState[AsofState]): Iterator[AsofOut] = {
      val wm = state.getCurrentWatermarkMs()
      val st0 = state.getOption.getOrElse(AsofState(Nil, Nil))
      val st1 =
        if (state.hasTimedOut) st0
        else {
          val rs = rows.toSeq
          AsofState(
            st0.quotes ++ rs.filter(!_.is_trade)
              .map(r => AsofEv(r.ts.getTime, r.event_id)),
            st0.trades ++ rs.filter(_.is_trade)
              .map(r => AsofEv(r.ts.getTime, r.event_id)))
        }
      val (outs, st2) = flush(uid, st1, wm)
      // Idle-key GC: with no in-flight trades and no quote newer than
      // the TTL horizon, drop the key entirely — including its cached
      // latest quote. This bounds state by ACTIVE keys at the
      // documented cost (the temporal-join TTL tradeoff): a trade
      // arriving after > TTL of key silence loses a match older than
      // the TTL. Without this, every key ever seen would pin one quote
      // row forever.
      val idle = st2.trades.isEmpty &&
        st2.quotes.forall(_.tsMs < wm - idleTtlMs)
      if (idle) state.remove()
      else {
        state.update(st2)
        // wake when the oldest pending trade matures; with no pending
        // trades, at the TTL horizon to GC the idle quote cache
        val next =
          if (st2.trades.nonEmpty) st2.trades.map(_.tsMs).min + 1
          else st2.quotes.map(_.tsMs).max + idleTtlMs
        state.setTimeoutTimestamp(math.max(next, wm + 1))
      }
      outs.iterator
    }

    unioned.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  final case class FunRow(user_id: Long, ts: java.sql.Timestamp, event_type: String)
  final case class FunEv(tsMs: Long, kind: Int)
  final case class FunState(pending: Seq[FunEv], tSignup: Option[Long],
      tClick: Option[Long], tPurchase: Option[Long])
  final case class FunnelOut(user_id: Long, funnel_stage: Int,
      t_signup: Option[java.sql.Timestamp], t_click: Option[java.sql.Timestamp],
      t_purchase: Option[java.sql.Timestamp])

  /** FUNNEL-ON-INGEST — the live form of the batch windowed funnel
    * (`events_funnel_windowed`): per user, signup → click → purchase
    * where each step must land within `stepMs` of the previous, with
    * a stage-advance row emitted as soon as the watermark proves the
    * transition final. The conversion monitor a growth team watches
    * in near-real-time instead of recomputing the batch rollup.
    *
    * Correctness leans on the asofEnrich discipline: events buffer in
    * state until the watermark passes them, then replay through the
    * funnel automaton in EVENT-TIME order — so "first signup", "first
    * qualifying click after it", "first qualifying purchase" are
    * decided on the same total order the batch query's min()s see,
    * and a matured transition can never be revised (anything that
    * could revise it would be below the watermark, i.e. dropped-late).
    *
    * State is bounded per key: the un-matured events inside the
    * watermark horizon plus three optional timestamps. Keys are
    * REMOVED outright the moment the funnel can no longer move: on
    * conversion (stage 3), on an empty automaton (clicks with no
    * signup can never qualify — the step windows only look forward),
    * or when the watermark closes the current step's 72 h window.
    * Event-time timeouts wake the key exactly at its next deadline.
    * StreamBatchParitySpec replays the corpus and asserts per-user
    * stage equality with the batch recipe for every user whose events
    * all matured below the final watermark. */
  def funnelTrack(events: DataFrame, watermark: String = "10 minutes",
      stepMs: Long = 72L * 3600000): Dataset[FunnelOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val in = events.filter(col("event_type").isin("signup", "click", "purchase"))
      .select(col("user_id"), col("ts"), col("event_type"))
      .withWatermark("ts", watermark).as[FunRow]

    def stageOf(s: FunState): Int =
      if (s.tPurchase.isDefined) 3 else if (s.tClick.isDefined) 2
      else if (s.tSignup.isDefined) 1 else 0

    def fn(uid: Long, rows: Iterator[FunRow],
        state: GroupState[FunState]): Iterator[FunnelOut] = {
      val wm = state.getCurrentWatermarkMs()
      val st0 = state.getOption.getOrElse(FunState(Nil, None, None, None))
      val withNew =
        if (state.hasTimedOut) st0
        else st0.copy(pending = st0.pending ++ rows.map(r =>
          FunEv(r.ts.getTime, r.event_type match {
            case "signup" => 0
            case "click" => 1
            case _ => 2
          })))
      val (ready, pending) = withNew.pending.partition(_.tsMs < wm)
      var s = withNew.copy(pending = pending)
      val before = stageOf(withNew)
      // replay matured events in event-time order (signup before click
      // on a tie — harmless under the strict > bounds, deterministic)
      for (e <- ready.sortBy(e => (e.tsMs, e.kind))) e.kind match {
        case 0 => if (s.tSignup.isEmpty) s = s.copy(tSignup = Some(e.tsMs))
        case 1 => if (s.tClick.isEmpty && s.tSignup.exists(t =>
          e.tsMs > t && e.tsMs <= t + stepMs)) s = s.copy(tClick = Some(e.tsMs))
        case _ => if (s.tPurchase.isEmpty && s.tClick.exists(t =>
          e.tsMs > t && e.tsMs <= t + stepMs)) s = s.copy(tPurchase = Some(e.tsMs))
      }
      val after = stageOf(s)
      val outs =
        if (after > before) Seq(FunnelOut(uid, after,
          s.tSignup.map(new java.sql.Timestamp(_)),
          s.tClick.map(new java.sql.Timestamp(_)),
          s.tPurchase.map(new java.sql.Timestamp(_))))
        else Nil
      // a funnel that can never advance again is dead state
      val frozen = s.pending.isEmpty && (after match {
        case 3 => true
        case 0 => true // only forward-looking steps: orphan clicks/purchases can never qualify
        case 1 => s.tSignup.exists(t => wm > t + stepMs)
        case _ => s.tClick.exists(t => wm > t + stepMs)
      })
      if (frozen) state.remove()
      else {
        state.update(s)
        val next =
          if (s.pending.nonEmpty) s.pending.map(_.tsMs).min + 1
          else if (after == 1) s.tSignup.get + stepMs + 1
          else if (after == 2) s.tClick.get + stepMs + 1
          else wm + 1
        state.setTimeoutTimestamp(math.max(next, wm + 1))
      }
      outs.iterator
    }

    in.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** k-means ASSIGN-ON-INGEST: score each arriving embedding against a
    * TRAINED centroid relation (the model `cluster_kmeans` fits;
    * collected once — k×dim bounded driver state, the IVF-centroid
    * precedent) and emit its cluster + distance. Model-apply for
    * clustering is the streaming half of the train-batch/apply-stream
    * split: train offline on the corpus, route every new vector to its
    * bucket the micro-batch it arrives in.
    *
    * Completely stateless — the argmin is the batch Lloyd core's
    * literal map-side `Similarity.assign`, the very expression the
    * batch assignment evaluates, so there is no shuffle, no watermark,
    * append mode — and StreamBatchParitySpec asserts EXACT (vec_id,
    * cid, dist) row-set equality against the batch third-round
    * assignment. */
  def kmeansAssign(vecs: DataFrame, cents: Seq[(Long, Seq[Double])]): DataFrame = {
    import graft.operators.Similarity.{assign, unkeyed}
    assign(embeddingVecs(vecs), unkeyed(cents))
      .select(col("vec_id"), col("cid"), col("dist"))
  }

  /** (vec_id, e): an embedding source as the Lloyd core reads it. */
  private def embeddingVecs(vecs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    vecs.select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("e"))
  }

  /** Score-on-ingest: the fixture quality classifier
    * (`text_classifier_score` semantics — md5-hashed word uni+bigrams
    * into 64 buckets, integer centiweights, logistic link) applied to
    * a streaming document source. The BATCH query uses the distributed
    * shape (explode → broadcast model join → per-doc agg: right when a
    * doc's features should never sit in one task); the streaming twin
    * computes the identical integer sum as a PER-ROW array fold
    * (`transform` + `aggregate` over the feature array), so it is
    * completely stateless — no shuffle, no watermark, append mode —
    * and a doc is scored in the micro-batch it arrives in.
    * StreamBatchParitySpec asserts exact row-set equality (the sum is
    * an exact BIGINT either way; the only floats are the shared final
    * division + exp, identical expressions on identical inputs). */
  def classifierScore(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val tk = filter(split(col("text"), " "), t => t =!= "")
    val bg = transform(sequence(lit(1), size(col("tk")) - 1),
      i => concat_ws(" ", slice(col("tk"), i, lit(2))))
    docs
      .select(col("doc_id"), tk.as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"), concat(col("tk"), bg).as("feats"))
      .select(col("doc_id"), size(col("feats")).cast(LongType).as("n_features"),
        aggregate(
          transform(col("feats"), f =>
            conv(substring(md5(concat(lit("qc:"), f)), 1, 4), 16, 10)
              .cast(LongType) % 64),
          lit(0L), (acc, b) => acc + (b * 37) % 101 - 50).as("sw"))
      .select(col("doc_id"), col("n_features"),
        graft.Parity.r6(lit(1.0) / (lit(1.0) +
          exp((-col("sw")).cast(DoubleType) /
            (col("n_features") * 100).cast(DoubleType)))).as("score"),
        when(col("sw") >= 0, 1L).otherwise(0L).as("label"))
  }
}
