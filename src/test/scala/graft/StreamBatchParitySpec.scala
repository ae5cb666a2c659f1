package graft

import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp

/** The streaming operators reuse the batch expressions — so a bounded
  * file driven through `readStream` must emit exactly the batch answer
  * for every window the watermark closed (SURVEY.md §2.9: "same code
  * reusable under Structured Streaming"). */
class StreamBatchParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("streamed tumbling counts equal the batch computation for closed windows") {
    val batchEvents = Tables.events(spark, TestSpark.sf)
    val schema = batchEvents.schema

    // stage the events parquet (post ns→µs conversion) into a stream dir
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_stream_src"
    batchEvents.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = StreamingOps.tumblingCounts(stream, watermark = "10 minutes")
      .writeStream.format("memory").queryName("t_parity").outputMode("append").start()
    q.processAllAvailable(); q.stop()

    val emitted = spark.table("t_parity")
      .select(col("window_start"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet

    val batch = batchEvents
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet

    // every emitted window must match the batch result exactly
    assert(emitted.subsetOf(batch),
      s"stream emitted rows not in batch: ${emitted.diff(batch).take(3)}")
    // and the stream must have closed nearly all windows (only those
    // within the final watermark horizon may be withheld)
    assert(emitted.size >= batch.size - 10,
      s"stream emitted ${emitted.size} of ${batch.size} windows")
  }

  test("streamed watermark dedup equals batch dropDuplicates on a replayed file") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    final case class E(event_id: Long, ts: Timestamp, user_id: Long)
    val base = Tables.events(spark, TestSpark.sf)
      .select(col("event_id"), col("ts"), col("user_id"))
      .limit(200).as[(Long, Timestamp, Long)].collect().toSeq
    val withDups = base ++ base.take(50) // replay a prefix = duplicate ids

    val ms = MemoryStream[(Long, Timestamp, Long)]
    val q = StreamingOps.dedupWithinWatermark(
        ms.toDF().toDF("event_id", "ts", "user_id"), watermark = "1 hour")
      .writeStream.format("memory").queryName("dedup_parity").outputMode("append").start()
    ms.addData(withDups)
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("dedup_parity")
      .select("event_id").as[Long].collect().sorted.toSeq
    val batch = base.map(_._1).distinct.sorted
    assert(streamed == batch, "watermark dedup diverged from batch distinct")
  }

  test("stream-stream interval join equals the batch interval join on a replay") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val ev = Tables.events(spark, TestSpark.sf)
      .filter(col("user_id") < 50)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    final case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
        event_type: String, value: Double)
    val rows = ev.as[(Long, Timestamp, Long, String, Double)].collect().toSeq

    val purchases = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val touches = MemoryStream[(Long, Timestamp, Long, String, Double)]
    def named(m: MemoryStream[(Long, Timestamp, Long, String, Double)]) =
      m.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = StreamingOps.joinPurchasesToTouches(
        named(purchases).filter(col("event_type") === "purchase"),
        named(touches).filter(col("event_type").isin("click", "view")),
        windowMinutes = 30, watermark = "10 minutes")
      .writeStream.format("memory").queryName("ssj_parity").outputMode("append").start()
    purchases.addData(rows)
    touches.addData(rows)
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("ssj_parity")
      .select("purchase_id", "touch_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("pts"))
    val t = ev.filter(col("event_type").isin("click", "view"))
      .select(col("event_id").as("touch_id"), col("user_id"), col("ts").as("tts"))
    val batch = p.join(t, Seq("user_id"))
      .filter(col("tts") <= col("pts") &&
        col("tts") >= col("pts") - expr("interval 30 minutes"))
      .select("purchase_id", "touch_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(streamed == batch,
      s"stream-stream join diverged: missing=${(batch -- streamed).take(3)} " +
        s"extra=${(streamed -- batch).take(3)}")
  }

  test("stateful sessionization (flatMapGroupsWithState) equals batch events_sessionize") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val source = Tables.events(spark, TestSpark.sf).filter(col("user_id") < 20)
    val rows = source.select(col("user_id"), col("ts"), col("value"))
      .as[StreamingOps.SessEvent].collect().toSeq
    assert(rows.nonEmpty)
    val maxTs = rows.map(_.ts.getTime).max

    val ms = MemoryStream[StreamingOps.SessEvent]
    val q = StreamingOps.statefulSessionize(ms.toDF(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_parity").outputMode("append").start()
    ms.addData(rows)
    q.processAllAvailable()
    // two sentinel batches: the first advances the watermark past every
    // real session's timeout (last event + gap), the second triggers the
    // micro-batch in which those timeouts actually fire
    ms.addData(Seq(StreamingOps.SessEvent(999999L, new Timestamp(maxTs + 86400000L), 0.0)))
    q.processAllAvailable()
    ms.addData(Seq(StreamingOps.SessEvent(999999L, new Timestamp(maxTs + 2 * 86400000L), 0.0)))
    q.processAllAvailable()
    q.stop()

    val emitted = spark.table("sess_parity")
      .filter(col("user_id") < 20) // drop the sentinel user
      .select(col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n"), col("sum_value"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))

    // the oracle-checked batch operator, restricted to the same users
    val batch = SparkEntry.queries("events_sessionize")(spark, TestSpark.sf)
      .filter(col("user_id") < 20)
      .select(col("user_id"), col("session_start"), col("n_events"), col("sum_value"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))

    // exact on (user, start, count); float sums compared with tolerance
    // (the two paths accumulate in different orders)
    assert(emitted.map(t => (t._1, t._2, t._3)).toSet ==
      batch.map(t => (t._1, t._2, t._3)).toSet,
      "stream sessions differ from batch gaps-and-islands sessions")
    val batchSums = batch.map(t => (t._1, t._2) -> t._4).toMap
    emitted.foreach { case (u, s, _, sum) =>
      assert(math.abs(sum - batchSums((u, s))) < 1e-6 + 0.005,
        s"sum mismatch for user $u session $s")
    }
  }

  test("streamed KMV partials merge to EXACTLY the batch bottom-k estimate") {
    // bottom-k is a semilattice — bottom_k(A ∪ B) =
    // bottom_k(bottom_k(A) ∪ bottom_k(B)) — and the md5 hash is
    // deterministic, so per-micro-batch partial sketches re-merged at
    // read time give the BIT-IDENTICAL answer the batch operator
    // computes: the operational pattern for maintaining distinct-count
    // sketches over a stream without ever reprocessing history, proven
    // exact (not approximately equal) against the oracle-checked query.
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val k = 8
    val pairs = Tables.events(spark, TestSpark.sf)
      .select(col("event_type"), col("user_id")).distinct()
      .as[(String, Long)].collect().toSeq.sortBy(_._2)
    val ms = MemoryStream[(String, Long)]
    val partials = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    val q = ms.toDF().toDF("event_type", "user_id").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val hcol = conv(substring(md5(concat(lit("kmv:"),
          col("user_id").cast("string"))), 1, 12), 16, 10)
          .cast("long").cast("double") / lit(281474976710656.0)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type")).orderBy(col("h"), col("user_id"))
        val p = df.dropDuplicates("event_type", "user_id").withColumn("h", hcol)
          .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
          .select(col("event_type"), col("h")).collect()
          .map(r => r.getString(0) -> r.getDouble(1)).toSeq
        partials.synchronized { partials += p }
        ()
      }.start()
    pairs.grouped(math.max(1, pairs.size / 3)).foreach { chunk =>
      ms.addData(chunk); q.processAllAvailable()
    }
    q.stop()
    assert(partials.size >= 3, s"expected >=3 micro-batches, got ${partials.size}")
    // read-time merge: per type, the k smallest hashes across partials
    val merged = partials.flatten.groupBy(_._1).view
      .mapValues(_.map(_._2).sorted.take(k)).toMap
    val batch = SparkEntry.queries("agg_kmv_distinct")(spark, TestSpark.sf)
      .select("event_type", "est_distinct").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    batch.foreach { case (t, est) =>
      val hk = merged(t)(k - 1)
      val mergedEst = math.floor((k - 1).toDouble / hk * 100 + 0.5) / 100
      assert(mergedEst == est,
        s"$t: merged-partial estimate $mergedEst != batch $est")
    }
  }

  test("chained stateful aggs: streamed sliding distinct equals batch for closed windows") {
    val batchEvents = Tables.events(spark, TestSpark.sf)
    val schema = batchEvents.schema
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_stream_src_sd"
    batchEvents.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = StreamingOps.slidingDistinctUsers(stream, watermark = "10 minutes")
      .writeStream.format("memory").queryName("sd_parity")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()

    val emitted = spark.table("sd_parity")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSet

    val batch = batchEvents
      .groupBy(window(col("ts"), "4 hours", "1 hour").as("w"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(col("w.start"), col("n_users"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSet

    assert(emitted.subsetOf(batch),
      s"stream emitted rows not in batch: ${emitted.diff(batch).take(3)}")
    // the double watermark horizon may withhold the trailing windows
    // of BOTH stages; everything older must have closed and matched
    assert(emitted.size >= batch.size - 20,
      s"stream emitted ${emitted.size} of ${batch.size} windows")
  }

  test("running MG heavy hitters equal a reference fold and keep the frequency guarantee") {
    val k = 8
    val batchEvents = Tables.events(spark, TestSpark.sf)
    val schema = batchEvents.schema
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_stream_src_hh"
    batchEvents.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = StreamingOps.runningHeavyHitters(stream, k = k)
      .writeStream.format("memory").queryName("hh_parity")
      .outputMode("update").start()
    q.processAllAvailable(); q.stop()

    // one source batch → one state emission per event_type (latest wins)
    val emitted = spark.table("hh_parity").collect()
      .map(r => r.getString(0) ->
        (r.getSeq[String](1) zip r.getSeq[Long](2)).toMap).toMap

    val rows = batchEvents
      .select(col("event_type"), col("user_id").cast("string"),
        col("ts"), col("event_id"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getTimestamp(2).getTime, r.getLong(3)))
      .groupBy(_._1)

    rows.foreach { case (t, rs) =>
      // reference MG fold over the same (ts, event_id)-sorted order
      var m = Map.empty[String, Long]
      rs.sortBy(r => (r._3, r._4)).foreach { r =>
        val item = r._2
        if (m.contains(item)) m = m.updated(item, m(item) + 1)
        else if (m.size < k) m = m.updated(item, 1L)
        else m = m.map { case (x, c) => (x, c - 1) }.filter(_._2 > 0)
      }
      assert(emitted(t) == m, s"$t: streamed MG state != reference fold")
      // the classic guarantee: true frequency > n/(k+1) ⇒ tracked
      val freq = rs.groupBy(_._2).map { case (u, g) => (u, g.size.toLong) }
      val n = rs.size.toLong
      freq.filter(_._2 > n / (k + 1) + 1).keys.foreach { u =>
        assert(emitted(t).contains(u),
          s"$t: heavy user $u (freq ${freq(u)}, n $n) missing from MG state")
      }
    }
  }

  test("streamed BPE tokenize equals the batch text_bpe_tokenize row set") {
    // stateless projection parity: the streaming op IS the batch
    // projection (TextOps.bpeTokenizeCols), so a replayed corpus must
    // produce the identical (doc_id, ws_tokens, subword_tokens,
    // sub_md5) set — md5 over the in-order piece stream makes this an
    // exact segmentation check, not just a count check.
    val batchDocs = Tables.documents(spark, TestSpark.sf)
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_stream_docs"
    batchDocs.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(batchDocs.schema).parquet(dir)
    val q = StreamingOps.bpeTokenize(stream)
      .writeStream.format("memory").queryName("bpe_parity")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("bpe_parity").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val batch = SparkEntry.queries("text_bpe_tokenize")(spark, TestSpark.sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(streamed == batch,
      s"streamed BPE tokenize diverged from batch: " +
        s"stream-only ${(streamed -- batch).take(3)}, " +
        s"batch-only ${(batch -- streamed).take(3)}")
  }

  test("streamed DSIR scores equal the batch corpus_dsir_select pre-limit relation") {
    // train λ in batch (the 512-bucket importance relation), inline it
    // into the stateless streaming scorer, replay the training corpus,
    // and demand EXACT per-doc equality with the batch scorer before
    // its top-50 limit: same n_feats, same exact-integer score fold.
    val lam = graft.operators.Curation.dsirLambda(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(lam.nonEmpty && lam.size <= 512)

    val batchDocs = Tables.documents(spark, TestSpark.sf)
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_stream_dsir"
    batchDocs.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(batchDocs.schema).parquet(dir)
    val q = StreamingOps.dsirScoreIngest(stream, lam)
      .writeStream.format("memory").queryName("dsir_parity")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("dsir_parity").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // the batch query's scoring relation, un-limited: rebuild it from
    // the same public surface by dropping the rank cut — the registered
    // query is top-50, so compare through a fresh scoring pass
    val batch = graft.operators.Curation.dsirFeatsScored(spark, TestSpark.sf)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(streamed == batch,
      s"streamed DSIR scores diverged: stream-only ${(streamed -- batch).take(3)}, " +
        s"batch-only ${(batch -- streamed).take(3)}")
    // and the registered top-50 is exactly the top slice of the stream
    val top50 = SparkEntry.queries("corpus_dsir_select")(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSet
    val streamTop = streamed.toSeq.sortBy { case (id, _, _, s) => (-s, id) }
      .take(50).map { case (id, _, _, s) => (id, s) }.toSet
    assert(top50 == streamTop,
      "batch top-50 is not the top slice of the streamed score relation")
  }

  test("streamed classifier score equals the batch text_classifier_score row set") {
    // different plan shapes, identical semantics: the batch query
    // scores via explode -> broadcast model join -> per-doc agg, the
    // streaming twin via a stateless per-row array fold. The bucket
    // weight sum is an exact BIGINT either way, so equality is exact,
    // including the r6-rounded logistic score.
    val batchDocs = Tables.documents(spark, TestSpark.sf)
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_stream_docs_cls"
    batchDocs.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(batchDocs.schema).parquet(dir)
    val q = StreamingOps.classifierScore(stream)
      .writeStream.format("memory").queryName("cls_parity")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()

    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))
    val streamed = spark.table("cls_parity").collect().map(key).toSet
    val batch = SparkEntry.queries("text_classifier_score")(spark, TestSpark.sf)
      .collect().map(key).toSet
    assert(streamed == batch,
      s"streamed classifier score diverged from batch: " +
        s"stream-only ${(streamed -- batch).take(3)}, " +
        s"batch-only ${(batch -- streamed).take(3)}")
  }

  test("funnel-on-ingest reproduces the batch windowed funnel stage per matured user") {
    val spark2 = spark
    import spark2.implicits._
    val batchEvents = Tables.events(spark, TestSpark.sf)
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_stream_funnel"
    batchEvents.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(batchEvents.schema).parquet(dir)
    val q = StreamingOps.funnelTrack(stream, watermark = "10 minutes")
      .toDF()
      .writeStream.format("memory").queryName("funnel_parity")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()

    val emitted = spark.table("funnel_parity")
      .select(col("user_id"), col("funnel_stage")).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    // append-mode monotonicity: a (user, stage) pair must emit at most once
    val dups = emitted.groupBy(identity).filter(_._2.length > 1).keys
    assert(dups.isEmpty, s"stage rows emitted more than once: ${dups.take(5)}")
    val streamed = emitted.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap

    // batch truth: the events_funnel_windowed stage recipe per user,
    // restricted to users whose every event matured below the final
    // watermark (only those funnels are provably final in the stream)
    val step = expr("INTERVAL 72 HOURS")
    val s1 = batchEvents.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_signup"))
    val s2 = batchEvents.filter(col("event_type") === "click")
      .join(s1, Seq("user_id"))
      .filter(col("ts") > col("t_signup") && col("ts") <= col("t_signup") + step)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
    val s3 = batchEvents.filter(col("event_type") === "purchase")
      .join(s2, Seq("user_id"))
      .filter(col("ts") > col("t_click") && col("ts") <= col("t_click") + step)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
    val maxTs = batchEvents.agg(max(col("ts"))).collect()(0).getTimestamp(0)
    val wmCutoff = new java.sql.Timestamp(maxTs.getTime - 10 * 60000)
    val matured = batchEvents.groupBy(col("user_id"))
      .agg(max(col("ts")).as("u_max")).filter(col("u_max") < wmCutoff)
    val expected = matured.select(col("user_id"))
      .join(s1, Seq("user_id"), "left")
      .join(s2, Seq("user_id"), "left")
      .join(s3, Seq("user_id"), "left")
      .select(col("user_id"),
        when(col("t_purchase").isNotNull, 3)
          .when(col("t_click").isNotNull, 2)
          .when(col("t_signup").isNotNull, 1).otherwise(0).as("stage"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

    assert(expected.count(_._2 >= 1) > 0, "degenerate fixture: no matured funnels")
    val wrong = expected.collect {
      case (u, st) if st >= 1 && !streamed.get(u).contains(st) =>
        (u, st, streamed.get(u))
      case (u, 0) if streamed.contains(u) => (u, 0, streamed.get(u))
    }
    assert(wrong.isEmpty,
      s"funnel stages diverged (user, batch stage, streamed): ${wrong.take(5)}")
  }

  test("stream-stream as-of join equals the batch backward as-of for matured trades") {
    val spark2 = spark
    import spark2.implicits._
    val batchEvents = Tables.events(spark, TestSpark.sf)
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_stream_asof"
    batchEvents.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(batchEvents.schema).parquet(dir)
    val q = StreamingOps.asofEnrich(
        trades = stream.filter(col("event_type") === "purchase"),
        quotes = stream.filter(col("event_type") === "click"),
        watermark = "10 minutes")
      .toDF()
      .writeStream.format("memory").queryName("asof_parity")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()

    val emittedRows = spark.table("asof_parity")
      .select(col("purchase_id"), col("click_id"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1)))
    // append-mode exactly-once: a purchase must emit at most once
    // (toMap would silently mask a double emission)
    val dups = emittedRows.groupBy(_._1).filter(_._2.length > 1).keys
    assert(dups.isEmpty, s"purchases emitted more than once: ${dups.take(5)}")
    val emitted = emittedRows.toMap

    // batch truth: latest click at-or-before each purchase, ties by id
    // (the join_asof family's backward semantics), restricted to
    // purchases the final watermark matured
    val maxTs = batchEvents.agg(max(col("ts"))).collect()(0).getTimestamp(0)
    val wmCutoff = new java.sql.Timestamp(maxTs.getTime - 10 * 60000)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("purchase_id"))
      .orderBy(col("cts").desc, col("cid").desc)
    val expected = batchEvents.filter(col("event_type") === "purchase")
      .filter(col("ts") < wmCutoff)
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      .join(batchEvents.filter(col("event_type") === "click")
          .select(col("user_id").as("cu"), col("ts").as("cts"),
            col("event_id").as("cid")),
        col("user_id") === col("cu") && col("cts") <= col("ts"), "left")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("purchase_id"), coalesce(col("cid"), lit(-1L)).as("cid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    assert(expected.nonEmpty, "degenerate fixture: no matured purchases")
    val missing = expected.keySet -- emitted.keySet
    assert(missing.isEmpty,
      s"trades matured by the watermark but never emitted: ${missing.take(5)}")
    val wrong = expected.collect {
      case (p, c) if emitted(p) != c => (p, c, emitted(p))
    }
    assert(wrong.isEmpty,
      s"as-of matches diverged (purchase, batch click, streamed click): ${wrong.take(5)}")
  }

  test("streamed k-means assignment equals the batch final assignment exactly") {
    // train-batch / apply-stream: the centroid model is the batch
    // two-round Lloyd fit (collected once — k×dim driver state); the
    // streaming twin scores each arriving embedding statelessly
    // against the literal centroids. Distances are the same
    // sequential-fold arithmetic, so equality is on the EXACT double,
    // not a rounding of it.
    val model = graft.operators.Similarity.kmeansModelSeq(spark, TestSpark.sf)
    val batchVecs = Tables.embeddings(spark, TestSpark.sf)
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_stream_kmeans"
    batchVecs.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(batchVecs.schema).parquet(dir)
    val q = StreamingOps.kmeansAssign(stream, model)
      .writeStream.format("memory").queryName("kmeans_parity")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("kmeans_parity").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = graft.operators.Similarity.kmeansFinalAssign(spark, TestSpark.sf)
      .select(col("vec_id"), col("cid"), col("dist")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == batch,
      s"streamed k-means assignment diverged: " +
        s"stream-only ${(streamed -- batch).take(3)}, " +
        s"batch-only ${(batch -- streamed).take(3)}")
  }

  final case class VecRow(vec_id: Long, embedding: Seq[Float])

  test("semantic dedup on ingest equals batch dedup_semantic on the replayed corpus") {
    // SemDeDup parity: stream the embedding corpus in id-ordered
    // micro-batches through semanticDedupIngest (persisted cell index
    // + within-batch pairing) — the verdict stream must equal the
    // batch dedup_semantic output EXACTLY: the streamed argmin uses
    // the same model doubles as literals, dist/cosine are the same
    // sequential folds, and the index keeps every ingested vector so
    // the comparison set matches the batch lower-id rule.
    val spark2 = spark
    import spark2.implicits._
    implicit val sc = spark2.sqlContext
    val model = graft.operators.Similarity.kmeansModelSeq(spark2, TestSpark.sf)
    val base = s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft_stream_semdedup_${System.nanoTime()}"
    val ms = MemoryStream[VecRow]
    val q = StreamingOps.semanticDedupIngest(ms.toDF(), model,
        s"$base/idx", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt").start()
    val rows = Tables.embeddings(spark2, TestSpark.sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => VecRow(r.getLong(0), r.getSeq[Float](1).toSeq))
      .sortBy(_.vec_id)
    rows.grouped(180).foreach { chunk =>
      ms.addData(chunk.toSeq: _*); q.processAllAvailable()
    }
    q.stop()
    def canon(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getBoolean(3))
    val streamed = spark2.read.parquet(s"$base/out/epoch=*")
      .collect().map(canon).toSet
    val batch = SparkEntry.queries("dedup_semantic")(spark2, TestSpark.sf)
      .collect().map(canon).toSet
    assert(streamed.size == rows.length, "one verdict per ingested vector")
    assert(streamed == batch,
      s"semantic dedup on ingest diverged from batch: " +
        s"stream-only ${(streamed -- batch).take(3)}, " +
        s"batch-only ${(batch -- streamed).take(3)}")
  }

  test("hierarchical semantic dedup on ingest equals batch dedup_semantic_coarse on the replayed corpus") {
    // Two-level parity (round 14, VERDICT task 6): the coarse twin
    // routes super-then-member against the batch-trained hierarchy —
    // O(√k) literal comparisons per row instead of the flat twin's k.
    // On an id-ordered replay the verdict stream must equal the batch
    // dedup_semantic_coarse output EXACTLY: same sequential-fold
    // distances, same (dist, cid) tie-breaks in both layers, same
    // sid·m + cid cell ids, and the persisted index preserves the
    // batch lower-id comparison set.
    val spark2 = spark
    import spark2.implicits._
    implicit val sc = spark2.sqlContext
    val (m, supers, _, members) =
      graft.operators.Similarity.coarseModelSeq(spark2, TestSpark.sf, 16)
    assert(members.nonEmpty && supers.nonEmpty)
    val base = s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft_stream_semcoarse_${System.nanoTime()}"
    val ms = MemoryStream[VecRow]
    val q = StreamingOps.semanticDedupCoarseIngest(ms.toDF(), supers,
        members, m, s"$base/idx", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt").start()
    val rows = Tables.embeddings(spark2, TestSpark.sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => VecRow(r.getLong(0), r.getSeq[Float](1).toSeq))
      .sortBy(_.vec_id)
    rows.grouped(180).foreach { chunk =>
      ms.addData(chunk.toSeq: _*); q.processAllAvailable()
    }
    q.stop()
    def canon(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getBoolean(3))
    val streamed = spark2.read.parquet(s"$base/out/epoch=*")
      .collect().map(canon).toSet
    val batch = SparkEntry.queries("dedup_semantic_coarse")(spark2, TestSpark.sf)
      .collect().map(canon).toSet
    assert(streamed.size == rows.length, "one verdict per ingested vector")
    assert(streamed == batch,
      s"hierarchical semantic dedup on ingest diverged from batch: " +
        s"stream-only ${(streamed -- batch).take(3)}, " +
        s"batch-only ${(batch -- streamed).take(3)}")
  }

  test("hierarchical ingest gives a vector whose super has no trained members a null cell and keeps it") {
    // The member lookup is keyed by super id: a super with no member
    // centroids must route to a NULL cell (never a lookup error under
    // ANSI), and a null cell meets no cell-mates, so the vector keeps
    // — here even against an identical batch-mate.
    val spark2 = spark
    import spark2.implicits._
    implicit val sc = spark2.sqlContext
    val supers = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
    val members = Seq((0L, 0L, Seq(1.0, 0.0)), (0L, 1L, Seq(0.5, 0.0)))
    val base = s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft_stream_semcoarse_null_${System.nanoTime()}"
    val ms = MemoryStream[VecRow]
    val q = StreamingOps.semanticDedupCoarseIngest(ms.toDF(), supers,
        members, 2, s"$base/idx", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt").start()
    ms.addData(VecRow(0L, Seq(1f, 0f)), VecRow(1L, Seq(0f, 1f)), VecRow(2L, Seq(0f, 1f)))
    q.processAllAvailable(); q.stop()
    val got = spark2.read.parquet(s"$base/out/epoch=*").collect().map { r =>
      r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getBoolean(3))
    }.toMap
    assert(got == Map(0L -> (Some(0L), true), 1L -> (None, true), 2L -> (None, true)),
      s"unexpected verdicts: $got")
  }

  final case class DocRow(doc_id: Long, text: String)

  test("containment-on-ingest equals the batch PPJoin containment on the replayed corpus") {
    // Round-15 twin (VERDICT r14 task 7): stream the documents table
    // in id-ordered micro-batches through containmentIngest — per
    // epoch the arriving docs probe the persisted shingle-id prefix
    // index with the same lossless m=2 candidate rule as the batch
    // op, in BOTH directions (arriving-sub and arriving-sup), and
    // every emitted row is exact-verified. The union of all epochs'
    // verdicts must equal the batch dedup_containment output EXACTLY:
    // the ingest prefix ranks by shingle-id order instead of the
    // batch's frequency order, which changes the CANDIDATE sets but —
    // both orders satisfying the pigeonhole/positional proofs — not
    // the verified pair set. Exactness of the pair set is therefore
    // also an end-to-end proof of the "any consistent global total
    // order" claim the id-space pipeline rests on.
    val spark2 = spark
    import spark2.implicits._
    implicit val sc = spark2.sqlContext
    val base = s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft_stream_contain_${System.nanoTime()}"
    val ms = MemoryStream[DocRow]
    val q = StreamingOps.containmentIngest(ms.toDF(), s"$base/idx", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt").start()
    val rows = Tables.documents(spark2, TestSpark.sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => DocRow(r.getLong(0), r.getString(1)))
      .sortBy(_.doc_id)
    rows.grouped(40).foreach { chunk =>
      ms.addData(chunk.toSeq: _*); q.processAllAvailable()
    }
    q.stop()
    def canon(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    val streamed = spark2.read.parquet(s"$base/out/epoch=*")
      .select("doc_sub", "doc_sup", "inter_size", "containment")
      .collect().map(canon).toSet
    val batch = SparkEntry.queries("dedup_containment")(spark2, TestSpark.sf)
      .collect().map(canon).toSet
    assert(batch.nonEmpty, "fixture has no containment pairs — vacuous")
    assert(streamed == batch,
      s"containment on ingest diverged from batch: " +
        s"stream-only ${(streamed -- batch).take(3)}, " +
        s"batch-only ${(batch -- streamed).take(3)}")
  }

  final case class QidRow(qid: Long)

  test("rerank-fuse-on-ingest equals batch sim_rerank_fuse and is replay-stable") {
    // Round-16 twin (r15 VERDICT task 5): query ids arrive in
    // micro-batches — out of order, with one whole batch replayed (the
    // at-least-once failure mode) — and rerank against the static
    // corpus + the PERSISTED lexical index. Stateless contract: every
    // (qid, rnk) verdict is identical in every epoch it appears, and
    // the deduped union over epochs equals the batch sim_rerank_fuse
    // output EXACTLY (all scores r6-quantized ⇒ exact equality, not
    // approximate). This also end-to-end-proves the eval-only path:
    // the twin never runs the corpus-wide tf/df training pass, so a
    // divergence would mean the persisted index differs from the batch
    // derivation.
    val spark2 = spark
    import spark2.implicits._
    implicit val sc = spark2.sqlContext
    val base = s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft_stream_rerank_${System.nanoTime()}"
    val ms = MemoryStream[QidRow]
    val q = StreamingOps.rerankFuseIngest(ms.toDF(), TestSpark.sf, s"$base/out")
      .option("checkpointLocation", s"$base/ckpt").start()
    ms.addData((5L to 9L).map(QidRow): _*); q.processAllAvailable() // late half first
    ms.addData((0L to 4L).map(QidRow): _*); q.processAllAvailable()
    ms.addData((5L to 9L).map(QidRow): _*); q.processAllAvailable() // duplicate batch
    q.stop()
    def canon(r: org.apache.spark.sql.Row) =
      ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3), r.getDouble(4),
        r.getDouble(5), r.getDouble(6), r.getDouble(7), r.getDouble(8),
        r.getDouble(9)))
    val emitted = spark2.read.parquet(s"$base/out") // epoch= partition col
      .select(col("qid"), col("rnk"), col("cid"), col("ann"), col("lex"),
        col("fresh"), col("c_ann"), col("c_lex"), col("c_fresh"), col("score"),
        col("epoch").cast("long").as("epoch"))
      .collect().map(r => (canon(r), r.getLong(10)))
    // (a) the duplicate batch genuinely flowed: qids 5-9 in >= 2 epochs
    val epochsPerQid = emitted.groupBy(_._1._1._1).view
      .mapValues(_.map(_._2).distinct.size).toMap
    (5L to 9L).foreach(q0 => assert(epochsPerQid.getOrElse(q0, 0) >= 2,
      s"duplicate batch did not re-emit qid $q0"))
    // (b) replay stability: one verdict per (qid, rnk) across all epochs
    val verdicts = emitted.map(_._1).groupBy(_._1).view
      .mapValues(_.map(_._2).distinct).toMap
    val unstable = verdicts.filter(_._2.size > 1)
    assert(unstable.isEmpty, s"verdicts changed across replays: ${unstable.take(3)}")
    // (c) deduped union == batch output
    val streamed = emitted.map(_._1).toSet
    val batch = SparkEntry.queries("sim_rerank_fuse")(spark2, TestSpark.sf)
      .collect().map(canon).toSet
    assert(batch.nonEmpty, "batch rerank produced no rows — vacuous")
    assert(streamed == batch,
      s"rerank on ingest diverged from batch: " +
        s"stream-only ${(streamed -- batch).take(3)}, " +
        s"batch-only ${(batch -- streamed).take(3)}")
  }

  test("phash-pairs-on-ingest equals batch mm_phash_pairs and is replay-stable") {
    // Round-17 twin (r16 VERDICT task 5): media payloads arrive in
    // micro-batches — out of order, with one whole batch replayed —
    // are pHash-signed, probed against the persisted signature index
    // + batch-mates, and every near-dup pair is emitted exactly when
    // its later-arriving member lands. Contract: the union over all
    // epochs equals the batch mm_phash_pairs pair set EXACTLY, and a
    // pair's Hamming distance is identical in every epoch that
    // carries it (signatures are deterministic). The payload stream
    // is the batch op's own synthesis (Multimodal.phashMedia), so the
    // planted re-encoded copies flow through too — and because the
    // stream is split by doc_id halves, planted copies (doc_id + 1e9,
    // second half) arrive in a DIFFERENT epoch than their sources
    // (first half): the cross-epoch index probe is genuinely load-
    // bearing, not just batch-mate pairing.
    val spark2 = spark
    import spark2.implicits._
    implicit val sc = spark2.sqlContext
    import graft.operators.Multimodal
    val base = s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft_stream_phash_${System.nanoTime()}"
    val media = Multimodal.phashMedia(spark2, TestSpark.sf).collect().toSeq
    val mid = media.map(_.doc_id).sorted.apply(media.size / 2)
    val firstHalf = media.filter(_.doc_id < mid)
    val secondHalf = media.filter(_.doc_id >= mid)
    val ms = MemoryStream[Multimodal.MediaRow]
    val q = StreamingOps.phashPairsIngest(ms.toDF(), s"$base/idx", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt").start()
    ms.addData(secondHalf: _*); q.processAllAvailable() // late half first
    ms.addData(firstHalf: _*); q.processAllAvailable()
    ms.addData(secondHalf: _*); q.processAllAvailable() // duplicate batch
    q.stop()
    val emitted = spark2.read.parquet(s"$base/out")
      .select(col("doc_a"), col("doc_b"), col("hamming"),
        col("epoch").cast("long").as("epoch"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2), r.getLong(3)))
    // (a) the duplicate batch genuinely flowed: 3 index epochs exist
    val idxEpochs = new java.io.File(s"$base/idx").listFiles()
      .count(_.getName.startsWith("epoch="))
    assert(idxEpochs == 3, s"expected 3 index epochs, found $idxEpochs")
    // (b) replay stability: one hamming per pair across all epochs
    val byPair = emitted.groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    val unstable = byPair.filter(_._2.size > 1)
    assert(unstable.isEmpty, s"pair hamming changed across replays: ${unstable.take(3)}")
    // (c) at least one pair crossed epochs (the index probe fired):
    // a planted copy (second half) paired with its first-half source
    val crossEpoch = emitted.filter { case ((a, b), _, _) =>
      a < mid && b >= 1000000000L }
    assert(crossEpoch.nonEmpty, "no cross-epoch planted pair — index probe vacuous")
    // (d) deduped union == batch mm_phash_pairs
    val streamed = emitted.map(e => (e._1, e._2)).toSet
    val batch = SparkEntry.queries("mm_phash_pairs")(spark2, TestSpark.sf)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toSet
    assert(batch.nonEmpty, "batch mm_phash_pairs produced no rows — vacuous")
    assert(streamed == batch,
      s"phash pairs on ingest diverged from batch: " +
        s"stream-only ${(streamed -- batch).take(3)}, " +
        s"batch-only ${(batch -- streamed).take(3)}")
  }

  test("stateless ingest verdicts are replay-stable under out-of-order and duplicate batches") {
    // Late-data contract for the STATELESS twins (round 13, VERDICT
    // task 7): the stateful ops have watermark proofs, but the
    // stateless scorers' claim — no watermark needed because each
    // verdict is a pure function of its row — had only been exercised
    // on in-order replays. Pin it operationally: feed the corpus out
    // of order (late half first), then re-feed an entire earlier
    // batch verbatim (the at-least-once failure mode), through the
    // epoch-addressed parquet sink, and assert every document's
    // verdict is IDENTICAL everywhere it appears, with the deduped
    // union equal to the batch scorer on the full fed corpus.
    val spark2 = spark
    import spark2.implicits._
    implicit val sc = spark2.sqlContext
    val lam = graft.operators.Curation.dsirLambda(spark2, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val docs = Tables.documents(spark2, TestSpark.sf)
      .select(col("doc_id"), col("lang"), col("text"))
      .as[(Long, String, String)].collect().sortBy(_._1).take(300).toSeq
    val (early, late) = docs.splitAt(150)

    val outDir = s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft_replay_dsir_${System.nanoTime()}"
    val ms = MemoryStream[(Long, String, String)]
    val q = StreamingOps.sinkEpochParquet(
        StreamingOps.dsirScoreIngest(
          ms.toDF().toDF("doc_id", "lang", "text"), lam), s"$outDir/out")
      .option("checkpointLocation", s"$outDir/ckpt").start()
    ms.addData(late: _*); q.processAllAvailable()   // out of order
    ms.addData(early: _*); q.processAllAvailable()
    ms.addData(late: _*); q.processAllAvailable()   // duplicate batch
    q.stop()

    val emitted = spark2.read.parquet(s"$outDir/out") // epoch= partition col
      .select(col("doc_id"), col("lang"), col("n_feats"), col("score"),
        col("epoch").cast("long").as("epoch"))
      .collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getLong(2), r.getDouble(3)),
        r.getLong(4)))
    // (a) the duplicate batch genuinely flowed: every EMITTED late
    // doc's verdict landed in at least two distinct epochs (docs with
    // empty text are filtered by the scorer on both sides)
    val epochsPerDoc = emitted.groupBy(_._1).view
      .mapValues(_.map(_._3).distinct.size).toMap
    val lateEmitted = late.filter(d => epochsPerDoc.contains(d._1))
    assert(lateEmitted.size >= late.size / 2, "late half mostly filtered out?")
    assert(lateEmitted.forall(d => epochsPerDoc(d._1) >= 2),
      "duplicate batch did not re-emit the late half")
    // (b) replay stability: one verdict per doc across ALL epochs —
    // the score fold is exact integer arithmetic, so equality is
    // exact, not approximate
    val verdictsPerDoc = emitted.groupBy(_._1).view
      .mapValues(_.map(_._2).distinct).toMap
    val unstable = verdictsPerDoc.filter(_._2.size > 1)
    assert(unstable.isEmpty,
      s"verdicts changed across replays: ${unstable.take(3)}")
    // (c) the deduped union equals the batch scorer restricted to the
    // fed corpus (same pre-limit relation the in-order parity test
    // uses)
    val fedIds = docs.map(_._1).toSet
    val streamed = verdictsPerDoc.map { case (id, vs) => (id, vs.head) }.toSet
    val batch = graft.operators.Curation.dsirFeatsScored(spark2, TestSpark.sf)
      .collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getLong(2), r.getDouble(3))))
      .filter(x => fedIds.contains(x._1)).toSet
    assert(streamed == batch,
      s"deduped stream union diverged from batch: " +
        s"stream-only ${(streamed -- batch).take(3)}, " +
        s"batch-only ${(batch -- streamed).take(3)}")
  }

  test("historyEpochs sees only strictly-earlier epochs and ignores foreign dirs") {
    // Round-18 ADVICE: a restarted stream reprocessing epoch N while
    // epoch N+1's index already exists must NOT probe future
    // signatures — epoch N's output would depend on data that had not
    // arrived when it first ran. The fix filters to numeric epoch ids
    // strictly below the current one; non-numeric epoch= names
    // (foreign files) are skipped rather than probed.
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_histep_${System.nanoTime()}")
    Seq("epoch=0", "epoch=1", "epoch=2", "epoch=notanum", "unrelated")
      .foreach(n => new java.io.File(root, n).mkdirs())
    def names(epochId: Long): Set[String] =
      StreamingOps.historyEpochs(spark, root.toString, epochId)
        .map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
    assert(names(1L) == Set("epoch=0"),
      "replayed epoch 1 must see only epoch 0, not its own or future epochs")
    assert(names(2L) == Set("epoch=0", "epoch=1"))
    assert(names(0L) == Set.empty[String])
    // normal forward operation unchanged: current epoch N+1 sees all
    // previously-published epochs
    assert(names(3L) == Set("epoch=0", "epoch=1", "epoch=2"))
  }

  test("ingest twins release every RDD they persist during the stream") {
    // Each epoch's localCheckpoints are released by the epoch ingest
    // path once both outputs are written: a long-running stream must
    // not accumulate checkpoint blocks until a driver GC happens to
    // let the ContextCleaner collect them.
    val spark2 = spark
    import spark2.implicits._
    implicit val sc = spark2.sqlContext
    val ctx = spark2.sparkContext
    val base = s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft_stream_release_${System.nanoTime()}"
    val docs = Tables.documents(spark2, TestSpark.sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => DocRow(r.getLong(0), r.getString(1))).sortBy(_.doc_id).take(60).toSeq
    val vecs = Tables.embeddings(spark2, TestSpark.sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => VecRow(r.getLong(0), r.getSeq[Float](1).toSeq))
      .sortBy(_.vec_id).take(60).toSeq
    val cents = vecs.take(4).zipWithIndex
      .map { case (v, i) => (i.toLong, v.embedding.map(_.toDouble)) }
    val before = ctx.getPersistentRDDs.keySet
    def twoEpochs[T: org.apache.spark.sql.Encoder](name: String, rows: Seq[T])(
        twin: (org.apache.spark.sql.DataFrame, String, String) =>
          org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row]): Unit = {
      val ms = MemoryStream[T]
      val q = twin(ms.toDF(), s"$base/$name/idx", s"$base/$name/out")
        .option("checkpointLocation", s"$base/$name/ckpt").start()
      val (a, b) = rows.splitAt(rows.size / 2)
      Seq(a, b).foreach { chunk => ms.addData(chunk: _*); q.processAllAvailable() }
      q.stop()
      val epochs = new java.io.File(s"$base/$name/idx").listFiles()
        .count(_.getName.startsWith("epoch="))
      assert(epochs == 2, s"$name wrote $epochs index epochs, expected 2")
    }
    twoEpochs("dedup", docs)(StreamingOps.dedupIngest(_, _, _))
    twoEpochs("containment", docs)(StreamingOps.containmentIngest(_, _, _))
    twoEpochs("semantic", vecs)(StreamingOps.semanticDedupIngest(_, cents, _, _))
    val left = ctx.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"RDDs persisted during the stream are still persisted: $left")
  }

  test("a failing epoch body propagates, releases its checkpoint and writes no epoch") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sc = spark2.sqlContext
    val ctx = spark2.sparkContext
    val base = s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft_stream_fail_${System.nanoTime()}"
    val before = ctx.getPersistentRDDs.keySet
    val persisted = new java.util.concurrent.atomic.AtomicReference(Set.empty[Int])
    val ms = MemoryStream[DocRow]
    val q = StreamingOps.epochIngest(ms.toDF(), s"$base/out", Some(s"$base/idx")) { (batch, _) =>
      batch.localCheckpoint()
      persisted.set((ctx.getPersistentRDDs.keySet -- before).toSet)
      throw new IllegalStateException("injected body failure")
    }.option("checkpointLocation", s"$base/ckpt").start()
    ms.addData(DocRow(1L, "a b c"), DocRow(2L, "d e f"))
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    assert(Iterator.iterate[Throwable](failed)(_.getCause).takeWhile(_ != null)
      .exists(e => Option(e.getMessage).exists(_.contains("injected body failure"))),
      s"query failed for the wrong reason: $failed")
    assert(persisted.get.nonEmpty, "the body's checkpoint was never persisted")
    val left = ctx.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"the failed epoch's checkpoint is still persisted: $left")
    Seq("out", "idx").foreach { d =>
      val f = new java.io.File(s"$base/$d")
      assert(!f.exists || !f.list().exists(_.startsWith("epoch=")), s"$d has an epoch dir")
    }
  }
}
