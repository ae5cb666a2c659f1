package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Algebraic invariants across operators (SURVEY.md §5.2 item 3). */
class InvariantSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf
  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("semi ∪ anti partitions customer") {
    val total = Tables.customer(spark, sf).count()
    assert(q("join_left_semi").count() + q("join_left_anti").count() == total)
  }

  test("intersect + except partition the left set") {
    val a = Tables.customer(spark, sf)
      .filter(col("c_mktsegment") === "BUILDING").count()
    assert(q("set_intersect").count() + q("set_except").count() == a)
  }

  test("topk_per_group emits at most 3 per group, ranks 1..3") {
    val df = q("topk_per_group")
    assert(df.groupBy("o_custkey").count().filter(col("count") > 3).count() == 0)
    assert(df.agg(max("rn")).collect()(0).getLong(0) <= 3)
  }

  test("dedup_exact is idempotent") {
    val once = q("dedup_exact")
    assert(once.dropDuplicates().count() == once.count())
  }

  test("sessionize gaps within a session never exceed 30 min") {
    // reconstruct: every event's gap to the previous in the same session ≤ 30min
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, sf)
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val flagged = ev
      .withColumn("gap_us", unix_micros(col("ts")) - unix_micros(lag("ts", 1).over(w)))
      .withColumn("newsess", when(col("gap_us") > 1800000000L, 1L).otherwise(0L))
      .withColumn("sess_id", sum("newsess").over(w.rowsBetween(Long.MinValue, 0)))
    val bad = flagged.filter(col("newsess") === 0 && col("gap_us") > 1800000000L)
    assert(bad.count() == 0)
  }

  test("cosine similarities are bounded and self-excluded") {
    val df = q("sim_cosine_topk")
    assert(df.filter(col("cs") > 1.000001 || col("cs") < -1.000001).count() == 0)
    assert(df.filter(col("qid") === col("cid")).count() == 0)
    assert(df.groupBy("qid").count().filter(col("count") =!= 5).count() == 0)
  }

  test("jaccard scores lie in (0, 1]") {
    val df = q("dedup_ngram_jaccard")
    assert(df.filter(col("jac") <= 0 || col("jac") > 1).count() == 0)
  }

  test("minhash signatures are deterministic across runs") {
    val a = q("dedup_minhash").collect().toSeq
    val b = q("dedup_minhash").collect().toSeq
    assert(a == b)
  }

  test("keymap_assign keys are dense 0..n-1") {
    val keys = q("keymap_assign").select("key").collect().map(_.getLong(0)).sorted
    assert(keys.toSeq == keys.indices.map(_.toLong).toSeq)
  }

  test("bucketed join plans with no shuffle on the join keys") {
    val plan = SparkEntry.queries("join_bucketed")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Join"))
    // bucketing pre-shuffled at write time: the join must not exchange
    // on either key (the post-join aggregation may still shuffle)
    assert(!plan.contains("hashpartitioning(l_orderkey"))
    assert(!plan.contains("hashpartitioning(o_orderkey"))
  }

  test("salted join equals the plain join (semantics-preserving rewrite)") {
    val salted = q("join_skew_salted").collect().toSeq
    val plain = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        Parity.r2(sum(col("l_extendedprice"))).as("revenue"))
      .orderBy(col("o_orderstatus")).collect().toSeq
    assert(salted == plain)
  }

  test("tumbling-distinct event totals equal the raw event count") {
    val total = q("window_tumbling_distinct")
      .agg(sum("n_events")).collect()(0).getLong(0)
    assert(total == Tables.events(spark, sf).count())
  }

  test("retention at offset 0 covers every user exactly once per cohort") {
    val df = q("events_retention")
    val cohortTotal = df.filter(col("week_offset") === 0)
      .agg(sum("n_users")).collect()(0).getLong(0)
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(cohortTotal == users)
  }

  test("verified minhash pairs are a subset of the banding candidates") {
    val verified = q("dedup_minhash_verified")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cands = q("dedup_minhash_pairs")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified.subsetOf(cands))
  }

  test("distributed percentile brackets: p50 <= p90 per group") {
    val bad = q("agg_percentile").filter(col("p50") > col("p90")).count()
    assert(bad == 0)
  }

  test("langid predicts a known language with a score") {
    val df = q("text_langid")
    assert(df.filter(col("predicted_lang").isin("en", "fr", "es", "de", "zh", "und")).count()
      == df.count())
  }

  test("pii redaction leaves no digits and counts every synthesized email/phone") {
    val df = q("text_pii_redact")
    assert(df.filter(col("redacted").rlike("[0-9]")).count() == 0)
    // every row synthesizes exactly one email and one phone
    assert(df.filter(col("n_emails") =!= 1 || col("n_phones") =!= 1).count() == 0)
  }

  test("attribution touches precede their purchase") {
    val df = q("events_attribution")
    assert(df.filter(col("touch_ts") > col("purchase_ts")).count() == 0)
    assert(df.filter(col("touch_type").isNotNull &&
      !col("touch_type").isin("click", "view")).count() == 0)
  }

  test("normalized text is idempotent under re-normalization") {
    val df = q("text_normalize")
    val renorm = trim(regexp_replace(
      regexp_replace(lower(col("norm_text")), "[^a-z0-9 ]", " "), " +", " "))
    assert(df.filter(renorm =!= col("norm_text")).count() == 0)
  }

  test("histogram bins partition lineitem and respect bin bounds") {
    val df = q("agg_histogram")
    val total = Tables.lineitem(spark, sf).count()
    assert(df.agg(sum("n")).collect()(0).getLong(0) == total)
    assert(df.filter(col("bin_min") < col("bin_lo") ||
      col("bin_max") >= col("bin_lo") + 5000).count() == 0)
  }

  test("IVF ANN finds a usable fraction of the exact top-k (recall sanity)") {
    val exact = q("sim_cosine_topk")
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = q("sim_ann_ivf")
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // cell-local search trades recall for never touching other cells;
    // random 64-dim embeddings are the hardest case, so the bar is a
    // sanity floor, not a quality target
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.2, s"IVF recall collapsed: $recall")
    // every IVF hit must be a real vector pair, self-pairs excluded
    assert(ivf.forall { case (q0, c) => q0 != c })
  }

  test("IVF-PQ ADC + exact rerank holds recall and never beats the exact scores") {
    val exact = q("sim_cosine_topk")
      .select("qid", "cid", "cs").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivfpq = q("sim_ann_ivfpq")
      .select("qid", "cid", "cs").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // same cells as IVF, further compressed by PQ — the floor is the
    // sanity bar for random 64-dim embeddings (hardest case)
    val recall = (exact.keySet & ivfpq.keySet).size.toDouble / exact.size
    assert(recall >= 0.15, s"IVF-PQ recall collapsed: $recall")
    assert(ivfpq.keys.forall { case (q0, c) => q0 != c })
    // the rerank stage scores with EXACT cosine: any pair both sides
    // report must carry the identical rounded score
    (exact.keySet & ivfpq.keySet).foreach { k =>
      assert(exact(k) == ivfpq(k), s"rerank score drifted for $k")
    }
  }

  test("window_session (Spark-native) matches events_sessionize boundaries") {
    // closes SURVEY §2's one check gap: the Spark-native session_window
    // has no DuckDB oracle, so prove it against the oracle-checked
    // gaps-and-islands formulation instead. The two differ only at a
    // gap of EXACTLY 30 min (session_window splits weakly at >= gap,
    // the explicit lag test strictly at > gap) — microsecond event
    // timestamps make that measure-zero on the fixtures, so boundary
    // sets must be identical.
    val native = q("window_session")
      .select("user_id", "session_start", "n").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val explicit = q("events_sessionize")
      .select("user_id", "session_start", "n_events").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(native == explicit,
      s"only-native=${(native -- explicit).take(3)} only-explicit=${(explicit -- native).take(3)}")
  }

  test("dedup_winnowing_incremental equals the full-corpus join restricted to the batch") {
    // the persisted-index ingest path must lose nothing: probing the
    // stored history index + batch self-join == monolithically
    // fingerprinting the whole corpus and keeping only pairs that
    // touch a batch doc (with identical shared-fingerprint counts)
    val inc = q("dedup_winnowing_incremental").collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)), r.getLong(2))).toSet
    val fp = graft.operators.TextOps.winnowFingerprints(spark, sf)
    val full = fp.as("a").join(fp.as("b"),
        col("a.wmin") === col("b.wmin") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("ns"))
      .filter(col("da") % 5 === 4 || col("db") % 5 === 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(inc == full,
      s"only-inc=${(inc -- full).take(3)} only-full=${(full -- inc).take(3)}")
  }

  test("dedup_span_maximal recovers the planted shared span exactly (maximal)") {
    // plant one 16-token phrase inside two otherwise-unique docs: the
    // only cross-doc repeated 8-windows are the 9 offsets fully inside
    // the phrase, one island each => exactly one span per doc, exactly
    // 16 tokens, identical md5 — neither extended into the unique
    // context nor truncated. Deterministic: violations are merge bugs,
    // never sampling noise.
    val planted = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_planted_span").getAbsolutePath
    val shared = (0 until 16).map(i => s"shared$i")
    def uniq(p: String, n: Int) = (0 until n).map(i => s"$p$i")
    val rows = Seq(
      (1L, (uniq("a", 8) ++ shared ++ uniq("az", 6)).mkString(" ")),
      (2L, (uniq("b", 3) ++ shared ++ uniq("bz", 10)).mkString(" ")),
      (3L, uniq("c", 30).mkString(" ")))
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("src0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$planted/documents.parquet")
    val got = SparkEntry.queries("dedup_span_maximal")(spark, planted)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1)
    assert(got.length == 2, s"expected exactly the two planted spans, got ${got.toSeq}")
    assert(got(0)._1 == 1L && got(0)._2 == 9L && got(0)._3 == 16L,
      s"doc 1 span wrong: ${got(0)}")
    assert(got(1)._1 == 2L && got(1)._2 == 4L && got(1)._3 == 16L,
      s"doc 2 span wrong: ${got(1)}")
    assert(got(0)._4 == got(1)._4, "same content must hash to the same span_md5")
  }

  test("dedup_span_apply excises the planted span from the non-keeper only") {
    // same planted fixture as above (written by the previous test's
    // run order is not guaranteed — rewrite it): doc 1 is the keeper
    // (min doc_id owning the span_md5) and stays whole; doc 2 loses
    // exactly the 16 planted tokens; doc 3 is untouched.
    val planted = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_planted_span_apply").getAbsolutePath
    val shared = (0 until 16).map(i => s"shared$i")
    def uniq(p: String, n: Int) = (0 until n).map(i => s"$p$i")
    val doc2Kept = uniq("b", 3) ++ uniq("bz", 10)
    val rows = Seq(
      (1L, (uniq("a", 8) ++ shared ++ uniq("az", 6)).mkString(" ")),
      (2L, (uniq("b", 3) ++ shared ++ uniq("bz", 10)).mkString(" ")),
      (3L, uniq("c", 30).mkString(" ")))
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("src0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$planted/documents.parquet")
    val got = SparkEntry.queries("dedup_span_apply")(spark, planted)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1)
    assert(got.map(g => (g._1, g._2, g._3)).toSeq ==
      Seq((1L, 30L, 30L), (2L, 29L, 13L), (3L, 30L, 30L)), s"got ${got.toSeq}")
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got(1)._4 == md5hex(doc2Kept.mkString(" ")),
      "non-keeper cleaned stream must be exactly its unique tokens, in order")
    assert(got(0)._4 == md5hex(rows(0)._2), "keeper must be byte-identical")
  }

  test("dedup_span_maximal islands are separated (no mergeable adjacent spans)") {
    // maximality, corpus-wide: two spans of one doc always have >= 2
    // unrepeated offsets between them in window-offset space — gap 1
    // would mean the islands should have merged.
    val spans = q("dedup_span_maximal")
      .select("doc_id", "span_start", "span_len").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).values
    spans.foreach { ss =>
      ss.sortBy(_._2).sliding(2).foreach {
        case Array((_, s1, l1), (d, s2, _)) =>
          val prevEndOffset = s1 + l1 - 8 // last repeated window offset
          assert(s2 >= prevEndOffset + 2,
            s"doc $d: spans at $s1(len $l1) and $s2 should have merged")
        case _ => ()
      }
    }
  }

  test("simhash pigeonhole finds every planted pair it promises (hamming <= 3)") {
    // the pigeonhole guarantee is absolute, not probabilistic: hamming
    // <= 3 over 4 disjoint 16-bit blocks forces >= 1 identical block,
    // so every such pair MUST surface. Plant (a) exact copies
    // (hamming 0 — all four blocks match) and (b) one-token edits
    // (hamming data-dependent); assert every planted pair whose TRUE
    // hamming is <= 3 appears. Zero flake: violations are
    // implementation bugs in the banding join, never sampling noise.
    val planted = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_planted_docs").getAbsolutePath
    val src = Tables.documents(spark, sf)
    val exact = src.filter(col("doc_id") < 10)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars"))
    val edited = src.filter(col("doc_id") < 10)
      .select((col("doc_id") + 200000L).as("doc_id"),
        concat(lit("zzz "), substring_index(col("text"), " ", -10000)).as("text"),
        col("lang"), col("source"), col("n_chars"))
    src.unionByName(exact).unionByName(edited).coalesce(1)
      .write.mode("overwrite").parquet(s"$planted/documents.parquet")
    val pairs = SparkEntry.queries("dedup_simhash_pairs")(spark, planted)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // (a) exact copies: unconditionally found
    (0 until 10).foreach { q0 =>
      assert(pairs.contains((q0.toLong, q0 + 100000L)),
        s"exact copy pair ($q0, ${q0 + 100000}) missed")
    }
    // (b) edited copies: found exactly when true hamming <= 3
    val sh = SparkEntry.queries("dedup_simhash")(spark, planted)
      .select("doc_id", "simhash").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until 10).foreach { q0 =>
      val h = java.lang.Long.bitCount(sh(q0.toLong) ^ sh(q0 + 200000L))
      if (h <= 3)
        assert(pairs.contains((q0.toLong, q0 + 200000L)),
          s"edited pair ($q0, ${q0 + 200000}) at hamming $h missed — pigeonhole broken")
    }
  }

  test("mm simhash pigeonhole recovers planted byte-perturbed payloads (hamming <= 3)") {
    // the multimodal twin of the text simhash planted test: payloads
    // are the documents' bytes; plant (a) exact byte copies (hamming 0
    // — unconditionally found) and (b) single-byte edits mid-payload
    // (a 1-byte edit rewrites only the 4 byte-shingles crossing it, so
    // long payloads land at small TRUE hamming); assert every planted
    // pair whose true hamming is <= 3 surfaces. The <= 3 over 4
    // disjoint 16-bit blocks guarantee is absolute — misses are
    // banding-join bugs, never sampling noise.
    val planted = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_planted_mm").getAbsolutePath
    val src = Tables.documents(spark, sf)
    val exact = src.filter(col("doc_id") < 10)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars"))
    val edited = src.filter(col("doc_id") < 10)
      .select((col("doc_id") + 200000L).as("doc_id"),
        concat(substring(col("text"), 1, 20), lit("#"),
          substring(col("text"), 22, 1 << 30)).as("text"),
        col("lang"), col("source"), col("n_chars"))
    src.unionByName(exact).unionByName(edited).coalesce(1)
      .write.mode("overwrite").parquet(s"$planted/documents.parquet")
    val pairs = SparkEntry.queries("mm_simhash_pairs")(spark, planted)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 10).foreach { q0 =>
      assert(pairs.contains((q0.toLong, q0 + 100000L)),
        s"exact payload copy pair ($q0, ${q0 + 100000}) missed")
    }
    val sh = SparkEntry.queries("mm_simhash")(spark, planted)
      .select("doc_id", "simhash").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val recovered = (0 until 10).count { q0 =>
      val h = java.lang.Long.bitCount(sh(q0.toLong) ^ sh(q0 + 200000L))
      if (h <= 3)
        assert(pairs.contains((q0.toLong, q0 + 200000L)),
          s"edited pair ($q0, ${q0 + 200000}) at hamming $h missed — pigeonhole broken")
      h <= 3
    }
    // the fingerprint must actually be perceptual: with the 4-byte
    // shingle window, 1-byte edits stay within the hamming-3 ball.
    // Floor 7 is a REGENERATION-ROBUST margin under a measured 10/10
    // (2026-08-13 testdata generation, per-pair hammings 0,0,1,3,1,1,
    // 1,0,1,1; the old 8-byte window measured 3/10, so the floor
    // separates the regimes cleanly). If a future testdata
    // regeneration trips this, re-measure per CLAUDE.md before
    // touching the floor: the failure message prints the count.
    assert(recovered >= 7,
      s"only $recovered/10 single-byte edits landed within hamming 3 — " +
        "byte-shingle simhash lost its locality")
  }

  test("mm simhash pairs stay selective on the raw corpus (no ball-width regression)") {
    // the flip side of the planted-recovery contract: a near-dup
    // signal must also REJECT. Text corpora share so many byte 4-grams
    // that fingerprints correlate across unrelated docs, so widening
    // the Hamming ball floods the output (round 10 measured ball 7 =
    // 9% of ALL doc pairs at sf0.1 — noise, not dedup). Raw-corpus
    // pairs at ball 3: measured 55 at sf0.001 (500 docs, 124,750
    // possible pairs = 0.04%). The 1% ceiling leaves two orders of
    // magnitude regeneration headroom while any ball-widening (or
    // fingerprint-collapse) regression blows straight past it.
    val n = Tables.documents(spark, sf).count()
    val pairs = q("mm_simhash_pairs").count()
    val frac = pairs.toDouble / (n.toDouble * (n - 1) / 2)
    info(f"raw-corpus pair fraction: $frac%.5f ($pairs of ${n * (n - 1) / 2})")
    assert(frac <= 0.01,
      f"mm_simhash_pairs lost selectivity: $pairs pairs = $frac%.4f of all " +
        "pairs — fingerprints collapsed or the Hamming ball widened")
  }

  test("trained classifier agrees with its teacher on a held-out md5 split") {
    // the _fit/_fit_score oracles pin the exact weight trajectory
    // (hash parity = determinism), but a blind gate re-run would wave
    // a QUALITY regression through — e.g. a sign error in the update
    // still yields a deterministic, hash-stable trajectory. This is
    // the quality floor: on a fixed pseudo-random ~25% of docs
    // (md5(doc_id) first hex in 0-3 — the parity-rules hash, so the
    // split survives testdata regeneration by construction), the
    // distilled student must agree with the fixture teacher at a rate
    // a working perceptron achieves and a broken one cannot.
    val rows = q("text_classifier_fit_score")
      .select(col("doc_id"), col("agree"))
      .filter(substring(md5(col("doc_id").cast("string")), 1, 1)
        .isin("0", "1", "2", "3"))
    val n = rows.count()
    assert(n >= 50, s"holdout split unexpectedly small: $n docs")
    val rate = rows.agg(avg(col("agree"))).collect()(0).getDouble(0)
    info(f"holdout agreement: $rate%.4f over $n docs")
    // measured 0.964 on the 2026-08-13 testdata generation (and the
    // pre-fix full-batch trainer measured 0.564 — the degenerate
    // always-positive regime this floor exists to catch). Floor 0.75
    // leaves regeneration headroom; if a regeneration trips it,
    // re-measure per CLAUDE.md — the info line prints the rate.
    assert(rate >= 0.75,
      f"student-teacher holdout agreement collapsed: $rate%.4f")
  }

  test("bidirectional containment pairs are jaccard pairs (C>=0.8 both ways => J>=2/3)") {
    // |A∩B| >= 0.8·max(|A|,|B|) in both directions forces
    // J = I/(|A|+|B|−I) >= 0.8/1.2 — comfortably over the jaccard
    // join's 0.5 threshold, so every mutual-containment pair MUST
    // appear in dedup_jaccard_prefix's (lossless) output
    val cont = q("dedup_containment")
      .select("doc_sub", "doc_sup").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val mutual = cont.filter { case (a, b) => cont.contains((b, a)) }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    val jac = q("dedup_jaccard_prefix")
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mutual.subsetOf(jac),
      s"mutual-containment pairs missing from jaccard join: ${mutual -- jac}")
  }

  test("prefix-filtered jaccard join finds every MinHash-verified pair") {
    // both operators bound the same truth: pairs with shingle-set
    // Jaccard >= 0.5. MinHash banding can MISS a true pair (probabilistic
    // candidates); the prefix filter provably cannot — so the verified
    // pair set must be a subset of the prefix join's result.
    val prefix = q("dedup_jaccard_prefix")
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = q("dedup_minhash_verified")
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded.subsetOf(prefix),
      s"prefix join lost verified pairs: ${banded -- prefix}")
  }

  test("priority sample is weight-biased: sampled docs are longer on average") {
    val sampled = q("sample_weighted")
    assert(sampled.count() == 100)
    val sampledMean = sampled.agg(avg(col("n_tokens"))).collect()(0).getDouble(0)
    val corpusMean = Tables.documents(spark, sf)
      .select(size(split(col("text"), " +")).cast("double").as("n"))
      .agg(avg(col("n"))).collect()(0).getDouble(0)
    // inclusion probability ∝ token count ⇒ the sample must skew long
    assert(sampledMean > corpusMean,
      s"weighted sample not size-biased: $sampledMean <= $corpusMean")
  }

  test("triangle counts: clustering in (0,1], degree supports the count") {
    val rows = q("graph_triangles").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val deg = r.getLong(1); val tri = r.getLong(2); val cc = r.getDouble(3)
      assert(tri >= 1 && deg >= 2)
      // a node in t triangles needs t distinct neighbor pairs
      assert(tri <= deg * (deg - 1) / 2, s"impossible count: $r")
      assert(cc > 0 && cc <= 1.0)
    }
  }

  test("ewma satisfies its recursion s_t = x_t/2 + s_{t-1}/2 BIT-FOR-BIT") {
    // the α=½ power-of-two rewrite claims exact binary arithmetic —
    // so the recursive identity must hold with ==, not a tolerance.
    // Day gaps decay by the index difference: s_t = x_t/2 + s_prev/2^(Δidx)
    val rows = q("timeseries_ewma").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
    assert(rows.nonEmpty)
    rows.values.foreach { series =>
      val s = series.sortBy(_._2)
      val day0 = java.time.LocalDate.parse(s.head._2)
      def idx(d: String) = java.time.temporal.ChronoUnit.DAYS
        .between(day0, java.time.LocalDate.parse(d))
      s.zipWithIndex.foreach { case ((_, d, n, ewma), i) =>
        val prev = if (i == 0) 0.0
          else s(i - 1)._4 / math.pow(2.0, (idx(d) - idx(s(i - 1)._2) - 1).toDouble)
        assert(ewma == n / 2.0 + prev / 2.0, s"recursion broke at $d")
      }
    }
  }

  test("entropy is bounded by ln(vocab) and perplexity matches exp(entropy)") {
    q("text_entropy").collect().foreach { r =>
      val vocab = r.getLong(2); val h = r.getDouble(3); val ppl = r.getDouble(4)
      assert(h > 0 && h <= math.log(vocab.toDouble) + 1e-9)
      assert(math.abs(ppl - math.exp(h)) <= 0.005 + 1e-9)
    }
  }

  test("IVF centroids train once: a second invocation reuses the stored layout") {
    q("sim_ann_ivf").write.format("noop").mode("overwrite").save()
    // the store kind carries k, iters and the algorithm version (_v6)
    val f = new java.io.File(
      Caches.dir(spark, "ivfcent_k10_i2_v6", sf, Seq("embeddings")), "centroids.csv")
    assert(f.exists(), "first invocation must publish the centroid store")
    val published = f.lastModified()
    q("sim_ann_ivf").write.format("noop").mode("overwrite").save()
    assert(f.lastModified() == published, "second invocation must not retrain")
  }

  test("two-phase bin selection reproduces the flat percentile exactly") {
    // same answer, different plan: the scale path must equal the
    // reference histogram-window path row for row
    val flat = q("agg_percentile").collect().toSeq
    val selected = q("agg_percentile_select").collect().toSeq
    assert(flat == selected)
  }

  test("GK-sketch percentiles bracket the exact interpolated values") {
    val approx = q("agg_approx_percentile")
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val exact = q("agg_percentile")
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val spread = Tables.lineitem(spark, sf)
      .agg(max(col("l_extendedprice")) - min(col("l_extendedprice")))
      .collect()(0).getDouble(0)
    val colMax = Tables.lineitem(spark, sf)
      .agg(max(col("l_extendedprice"))).collect()(0).getDouble(0)
    exact.foreach { case (flag, (p50, p90)) =>
      val (a50, a99) = approx(flag) // approx computes p50 + p99
      // GK guarantees rank error <= eps*n; translate loosely to a value
      // bound of 10% of the column spread (generous — catches gross breaks)
      assert(math.abs(a50 - p50) <= spread * 0.1, s"$flag p50: $a50 vs $p50")
      assert(a99 >= p90 - spread * 0.02 && a99 <= colMax,
        s"$flag p99 outside [p90, max]: $a99")
    }
  }

  test("rolling-hash windows cover each document exactly (len - k + 1)") {
    val df = q("dedup_rolling_chunks") // rolling_hash(text, 16)
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), length(col("text")).cast("long").as("len"))
    val bad = df.join(docs, "doc_id")
      .filter(col("n_windows") =!= greatest(col("len") - 15, lit(0L)) ||
        col("n_boundaries") > col("n_windows"))
    assert(bad.count() == 0)
  }

  test("z-order buckets bound both dimensions to 64-value rectangles") {
    // top-4 Morton bits fix 2 high bits of each 8-bit dim ⇒ sides ≤ 2^6
    val bad = q("scale_zorder").filter(
      col("max_x") - col("min_x") >= 64 || col("max_y") - col("min_y") >= 64)
    assert(bad.count() == 0)
  }

  test("repetition fractions are well-formed and bounded") {
    val df = q("text_repetition")
    val bad = df.filter(
      col("top_word_frac") <= 0 || col("top_word_frac") > 1 ||
        col("dup_bigram_frac") < 0 || col("dup_bigram_frac") >= 1 ||
        col("top_bigram_frac") <= 0 || col("top_bigram_frac") > 1)
    assert(bad.count() == 0)
    // every doc with >=2 tokens appears exactly once
    val expected = Tables.documents(spark, sf)
      .filter(size(filter(split(col("text"), " "), t => t =!= "")) >= 2).count()
    assert(df.count() == expected)
  }

  test("HLL sketch re-aggregation tracks exact distinct counts within 5%") {
    val est = q("agg_hll_reaggregate")
      .select("event_type", "est_users")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.events(spark, sf)
      .groupBy("event_type").agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    exact.foreach { case (t, n) =>
      assert(math.abs(est(t) - n) <= math.max(2L, (n * 0.05).toLong),
        s"HLL estimate for $t drifted: est=${est(t)} exact=$n")
    }
  }

  test("decontamination: every flagged pair crosses corpus→benchmark") {
    val df = q("text_decontaminate")
    assert(df.filter(col("corpus_doc") % 20 === 0).count() == 0)
    assert(df.filter(col("bench_doc") % 20 =!= 0).count() == 0)
    assert(df.filter(!col("reason").isin("exact_dup", "near_dup")).count() == 0)
    // a (corpus, bench) pair appears exactly once (exact wins over near)
    assert(df.groupBy("corpus_doc", "bench_doc").count()
      .filter(col("count") > 1).count() == 0)
  }

  test("median lies within group min/max; mode count is the group maximum") {
    val mm = q("agg_median_mode")
    val bounds = Tables.lineitem(spark, sf).groupBy("l_returnflag")
      .agg(min("l_quantity").as("lo"), max("l_quantity").as("hi"))
    val bad = mm.join(bounds, "l_returnflag")
      .filter(col("median_qty") < col("lo") || col("median_qty") > col("hi"))
    assert(bad.count() == 0)
  }

  test("budget select: under budget, and maximal in the canonical order") {
    import org.apache.spark.sql.functions.{conv, md5, substring}
    val sel = q("corpus_budget_select").collect()
    val total = sel.map(_.getLong(1)).sum
    assert(total <= 10000L, s"selected $total tokens > budget")
    val selIds = sel.map(_.getLong(0)).toSet
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"),
        // same token definition as the operator: SUBWORD count (r7)
        size(operators.TextOps.subwords(
          filter(split(col("text"), " "), t => t =!= "")))
          .cast("long").as("tokens"),
        least(lit(9L), floor(col("n_chars") / 200)).cast("long").as("bin"),
        conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
          .cast("long").as("bucket"),
        md5(col("doc_id").cast("string")).as("md5key"))
      .orderBy(col("bin").desc, col("bucket"), col("md5key"), col("doc_id"))
      .collect()
    // the flat cumsum is strictly increasing (min tokens > 0), so the
    // oracle's keep-set is exactly a PREFIX of the canonical order
    var cum = 0L
    docs.foreach { r =>
      val id = r.getLong(0); cum += r.getLong(1)
      assert(selIds(id) == (cum <= 10000L),
        s"doc $id at cumulative $cum: selected=${selIds(id)}")
    }
  }

  test("multi-probe LSH dominates single-bucket LSH (recall can only widen)") {
    val lsh = q("sim_ann_lsh").collect()
    val mp = q("sim_ann_multiprobe").collect()
    assert(mp.length >= lsh.length) // 13 probes ⊇ the 1 probe
    // per query answered by both, the probed top-1 is at least as good
    val top1 = (rows: Array[org.apache.spark.sql.Row]) =>
      rows.filter(_.getLong(1) == 1L).map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val l1 = top1(lsh); val m1 = top1(mp)
    l1.foreach { case (qid, cs) => assert(m1(qid) >= cs) }
  }

  test("multi-probe LSH recovers planted near-duplicates (numeric recall floor)") {
    // a recall floor vs the exact top-3 on the RAW fixture is noise:
    // the synthetic embeddings are uniform-random, so the "nearest"
    // neighbors sit at ~55° and share a 12-bit hyperplane bucket only
    // at the random baseline (measured recall 0.07 at sf0.001, 0.0 at
    // sf0.01). The statistically sound contract plants a true
    // near-duplicate per query (8% cyclic-shift mix → cosine ≈ 0.997,
    // θ ≈ 0.08 rad): per plane P[split] ≈ θ/π ≈ 0.026, so the partner
    // lands within Hamming ≤ 1 of the query's bucket w.p. ≈ 0.96 —
    // a ≥ 7/10 floor has ~1e-4 false-failure probability while any
    // bucketing/probe regression drives recovery toward zero.
    val planted = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_planted_emb").getAbsolutePath
    val src = Tables.embeddings(spark, sf)
    val dup = src.filter(col("vec_id") < 10)
      .select((col("vec_id") + 1000L).as("vec_id"),
        expr("""transform(embedding, (x, i) ->
          CAST(x + 0.08 * element_at(embedding,
            (CAST(i + 1 AS INT) % size(embedding)) + 1) AS FLOAT))""").as("embedding"),
        col("label"))
    src.unionByName(dup).coalesce(1).write.mode("overwrite")
      .parquet(s"$planted/embeddings.parquet")
    val mp = SparkEntry.queries("sim_ann_multiprobe")(spark, planted)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = (0 until 10).count(q0 => mp.contains((q0.toLong, q0 + 1000L)))
    info(s"planted-pair recall: ${found / 10.0}")
    assert(found >= 7, s"multi-probe missed planted near-dups: only $found/10 recovered")
  }

  test("dedup_semantic drops planted near-duplicates and keeps their originals' slot") {
    // SemDeDup contract: append a cosine≈0.997 partner (8% cyclic-shift
    // mix) with a HIGHER id for each of 10 originals — the keep-the-
    // first rule must route each pair to one cell and drop the copy.
    // A copy survives only if the pair straddles a Lloyd cell boundary
    // (near-identical vectors argmin apart) — measured 10/10 dropped;
    // floor 8 leaves headroom for a boundary straddle after a testdata
    // regeneration while any real keep-rule regression scores ~0.
    val planted = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_planted_semdedup").getAbsolutePath
    val src = Tables.embeddings(spark, sf)
    val dup = src.filter(col("vec_id") < 10)
      .select((col("vec_id") + 1000L).as("vec_id"),
        expr("""transform(embedding, (x, i) ->
          CAST(x + 0.08 * element_at(embedding,
            (CAST(i + 1 AS INT) % size(embedding)) + 1) AS FLOAT))""").as("embedding"),
        col("label"))
    src.unionByName(dup).coalesce(1).write.mode("overwrite")
      .parquet(s"$planted/embeddings.parquet")
    val rows = SparkEntry.queries("dedup_semantic")(spark, planted).collect()
      .map(r => r.getLong(0) -> r).toMap
    val dropped = (0 until 10).count { q =>
      val r = rows(q + 1000L)
      !r.getBoolean(3) && !r.isNullAt(2) && r.getDouble(2) > 0.9
    }
    info(s"planted copies dropped: $dropped/10")
    assert(dropped >= 8,
      s"semantic dedup missed planted near-duplicates: only $dropped/10 dropped")
    // and the rule is selective, not a corpus-nuke: measured 438/510
    // kept (the uniform corpus has ~60 organic tail pairs above tau at
    // this SF) — floor 70% with headroom
    val kept = rows.values.count(_.getBoolean(3))
    assert(kept * 10 >= rows.size * 7,
      s"over-aggressive dedup: kept only $kept of ${rows.size}")
  }

  test("hierarchical semantic dedup still catches the planted near-duplicates") {
    // The round-13 scale path (dedup_semantic_coarse: two-level
    // k-means, 16 cells here vs the flat row's 4) must not trade away
    // the SemDeDup contract: a cosine≈0.997 pair straddles a cell
    // boundary only if the two near-identical vectors argmin to
    // different (super, member) cells — rarer than a wrong cell being
    // merely SMALLER. Same planted fixture recipe as the flat test;
    // measured 10/10 dropped at k=16; floor 8 leaves regeneration
    // headroom while a routing regression scores ~0.
    val planted = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_planted_semhier").getAbsolutePath
    val src = Tables.embeddings(spark, sf)
    val dup = src.filter(col("vec_id") < 10)
      .select((col("vec_id") + 1000L).as("vec_id"),
        expr("""transform(embedding, (x, i) ->
          CAST(x + 0.08 * element_at(embedding,
            (CAST(i + 1 AS INT) % size(embedding)) + 1) AS FLOAT))""").as("embedding"),
        col("label"))
    src.unionByName(dup).coalesce(1).write.mode("overwrite")
      .parquet(s"$planted/embeddings.parquet")
    val rows = SparkEntry.queries("dedup_semantic_coarse")(spark, planted)
      .collect().map(r => r.getLong(0) -> r).toMap
    val dropped = (0 until 10).count { q =>
      val r = rows(q + 1000L)
      !r.getBoolean(3) && !r.isNullAt(2) && r.getDouble(2) > 0.9
    }
    info(s"planted copies dropped (hierarchical): $dropped/10")
    assert(dropped >= 8,
      s"hierarchical semantic dedup missed planted near-duplicates: " +
        s"only $dropped/10 dropped")
    val kept = rows.values.count(_.getBoolean(3))
    assert(kept * 10 >= rows.size * 7,
      s"over-aggressive hierarchical dedup: kept only $kept of ${rows.size}")
  }

  test("IVF-PQ recovers planted near-duplicates through cells + ADC + rerank") {
    // same planted fixture as the multi-probe contract (cosine ≈ 0.997
    // partner per query): the partner must survive the whole IVF-PQ
    // funnel — land in the query's coarse cell, rank top-20 by the
    // quantized ADC score, and surface in the exact top-3 rerank. The
    // pipeline is deterministic (trained centroids are content-
    // addressed per fixture), so the floor guards every stage against
    // regression; a modest 6/10 leaves headroom for the ~8% L2
    // perturbation occasionally crossing a k-means cell boundary.
    val planted = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_planted_emb").getAbsolutePath
    val src = Tables.embeddings(spark, sf)
    val dup = src.filter(col("vec_id") < 10)
      .select((col("vec_id") + 1000L).as("vec_id"),
        expr("""transform(embedding, (x, i) ->
          CAST(x + 0.08 * element_at(embedding,
            (CAST(i + 1 AS INT) % size(embedding)) + 1) AS FLOAT))""").as("embedding"),
        col("label"))
    src.unionByName(dup).coalesce(1).write.mode("overwrite")
      .parquet(s"$planted/embeddings.parquet")
    val got = SparkEntry.queries("sim_ann_ivfpq")(spark, planted)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = (0 until 10).count(q0 => got.contains((q0.toLong, q0 + 1000L)))
    info(s"IVF-PQ planted-pair recall: ${found / 10.0}")
    assert(found >= 6, s"IVF-PQ missed planted near-dups: only $found/10 recovered")
  }

  test("maxsim ranks a slot-rotated copy first where pooled cosine cannot see it") {
    // the late-interaction contract: a candidate whose 4 token slots
    // are a PERMUTATION of the query's slots (here: rotate the 64-dim
    // vector by one 16-dim slot) matches every query slot exactly
    // under max — maxsim = 4·cos(sub, sub) = 4.0 deterministically —
    // while its POOLED cosine vs the query is that of two independent
    // random vectors (≈ N(0, 1/64)), nowhere near the top. This is
    // the capability MaxSim exists for; both directions are asserted
    // so a regression to pooled scoring (or a slot-slicing bug that
    // misaligns slices) fails loudly.
    val planted = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_planted_maxsim").getAbsolutePath
    val src = Tables.embeddings(spark, sf)
    val rot = src.filter(col("vec_id") < 10)
      .select((col("vec_id") + 2000L).as("vec_id"),
        concat(slice(col("embedding"), 17, 48), slice(col("embedding"), 1, 16))
          .as("embedding"),
        col("label"))
    src.unionByName(rot).coalesce(1).write.mode("overwrite")
      .parquet(s"$planted/embeddings.parquet")
    val mx = SparkEntry.queries("sim_maxsim_rerank")(spark, planted)
      .filter(col("rnk") === 1)
      .select("qid", "cid", "maxsim").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    (0 until 10).foreach { q0 =>
      val (cid, s) = mx(q0.toLong)
      assert(cid == q0 + 2000L,
        s"query $q0: rank-1 is $cid, not the slot-rotated partner")
      assert(s >= 3.999998,
        s"query $q0: maxsim $s below the exact-slot-match score")
    }
    val cosTop = SparkEntry.queries("sim_cosine_topk")(spark, planted)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val visible = (0 until 10).count(q0 => cosTop.contains((q0.toLong, q0 + 2000L)))
    info(s"pooled cosine sees the rotated partner in top-5 for $visible/10 queries")
    assert(visible <= 2,
      s"pooled cosine ranks the rotated copy top-5 for $visible/10 queries — " +
        "the fixture no longer discriminates late interaction from pooling")
  }

  test("two-phase tdigest re-aggregation stays within 2% rank error per event type") {
    val est = q("agg_tdigest_reaggregate").collect()
      .map(r => r.getString(0) -> Seq(0.5 -> r.getDouble(2), 0.95 -> r.getDouble(3))).toMap
    val byType = Tables.events(spark, sf)
      .select(col("event_type"), col("value")).collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getDouble(1)).sorted).toMap
    for ((t, pairs) <- est; (qq, e) <- pairs) {
      val xs = byType(t)
      val rank = xs.count(_ <= e).toDouble / xs.length
      // the daily-sketch → merge path compresses twice, so the band is
      // 2× the single-digest contract
      assert(math.abs(rank - qq) <= 0.02,
        s"$t q=$qq est=$e lands at rank $rank (n=${xs.length})")
    }
  }

  test("tdigest percentiles stay within 1% rank error of the exact sort per group") {
    val est = q("agg_tdigest_percentile").collect()
      .map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val byFlag = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_extendedprice")).collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getDouble(1)).sorted).toMap
    for ((flag, ests) <- est; (qq, e) <- Seq(0.5, 0.95, 0.99).zip(ests)) {
      val xs = byFlag(flag)
      // rank of the estimate in the exactly-sorted group
      val rank = xs.count(_ <= e).toDouble / xs.length
      assert(math.abs(rank - qq) <= 0.01,
        s"$flag q=$qq est=$e lands at rank $rank (n=${xs.length})")
    }
  }

  test("tdigest scalar extraction equals the single-phase aggregate exactly") {
    // Round 18: agg_tdigest_percentile builds ONE sketch per group and
    // extracts three quantiles (tdigest_quantile_of) instead of running
    // three identical digest builds. The two forms must agree on the
    // EXACT double, not a tolerance: same insertion/merge sequence →
    // same buffer; serialization round-trips exactly; quantile() on a
    // compressed pending-free buffer does not re-compress.
    val src = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_extendedprice"))
    src.createOrReplaceTempView("td_eq_src")
    val rows = spark.sql(
      """SELECT l_returnflag,
        |  tdigest_quantile(l_extendedprice, 200, 0.5) AS a50,
        |  tdigest_quantile(l_extendedprice, 200, 0.99) AS a99,
        |  tdigest_quantile_of(tdigest_sketch(l_extendedprice, 200), 200, 0.5) AS b50,
        |  tdigest_quantile_of(tdigest_sketch(l_extendedprice, 200), 200, 0.99) AS b99
        |FROM td_eq_src GROUP BY l_returnflag""".stripMargin).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(1) == r.getDouble(3) && r.getDouble(2) == r.getDouble(4),
        s"${r.getString(0)}: scalar extraction diverged from single-phase: $r")
    }
  }

  test("object bitmap aggs are byte-identical to Spark's built-ins") {
    // Round 18: the hash-aggregable BitmapConstructObjAgg/BitmapOrObjAgg
    // (ObjectHashAggregate — no sorts) must produce the EXACT bytes of
    // Spark's declarative bitmap_construct_agg/bitmap_or_agg so that
    // bitmap_count / bitmap_and / stored partials stay interchangeable.
    // This pins the 4096-byte pos>>3 / 1<<(pos&7) layout contract.
    Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_partkey"))
      .createOrReplaceTempView("bm_eq_src")
    val partials = spark.sql(
      """SELECT l_returnflag, bitmap_bucket_number(l_partkey) AS bkt,
        |  bitmap_construct_agg(bitmap_bit_position(l_partkey)) AS a,
        |  bitmap_construct_obj_agg(bitmap_bit_position(l_partkey)) AS b
        |FROM bm_eq_src GROUP BY 1, 2""".stripMargin)
    partials.createOrReplaceTempView("bm_eq_partials")
    val rows = partials.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(java.util.Arrays.equals(
        r.getAs[Array[Byte]]("a"), r.getAs[Array[Byte]]("b")),
        s"construct bytes diverged for ${r.get(0)}/${r.get(1)}")
    }
    val or = spark.sql(
      """SELECT l_returnflag, bitmap_or_agg(a) AS a, bitmap_or_obj_agg(b) AS b
        |FROM bm_eq_partials GROUP BY 1""".stripMargin).collect()
    assert(or.nonEmpty)
    or.foreach { r =>
      assert(java.util.Arrays.equals(
        r.getAs[Array[Byte]]("a"), r.getAs[Array[Byte]]("b")),
        s"or bytes diverged for ${r.get(0)}")
    }
  }

  test("pagerank: ranks positive, top-50 mass below 1, supplier hubs outrank parts") {
    val pr = q("graph_pagerank").collect()
    assert(pr.length == 50)
    val ranks = pr.map(_.getDouble(1))
    assert(ranks.forall(_ > 0))
    assert(ranks.sum < 1.0 + 1e-6) // total mass over ALL nodes is 1
    // suppliers see ~20x more in-edges than parts in this bipartite
    // graph — the head of the ranking must be supplier nodes
    assert(pr.take(10).forall(_.getString(0).startsWith("s")))
  }

  test("PQ encoding: codes in range, distortion beats the one-centroid baseline") {
    val rows = q("sim_pq_encode").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      (1 to 4).foreach { i =>
        val c = r.getLong(i); assert(c >= 0 && c < 16, s"code $c out of [0,16)")
      }
    }
    val avgMse = rows.map(_.getDouble(5)).sum / rows.length
    // baseline: per-dim population variance = the distortion of a
    // single-centroid (corpus mean) codebook; 16 codes/subspace must
    // beat it decisively or the quantizer learned nothing
    val baseline = Tables.embeddings(spark, sf)
      .select(posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "x")))
      .groupBy("pos").agg(var_pop(col("x")).as("v"))
      .agg(avg(col("v"))).collect()(0).getDouble(0)
    assert(avgMse > 0.0)
    assert(avgMse < baseline, s"PQ mse $avgMse not below one-centroid baseline $baseline")
  }

  test("count-min estimates dominate exact counts within the ε·N guarantee") {
    val rows = q("agg_countmin_freq").collect()
    assert(rows.nonEmpty)
    val n = rows.map(_.getLong(2)).sum // total stream length
    val slack = math.ceil(0.001 * n).toLong
    rows.foreach { r =>
      val (est, exact) = (r.getLong(1), r.getLong(2))
      assert(est >= exact, s"${r.getString(0)}: CMS can never undercount")
      assert(est <= exact + slack, s"${r.getString(0)}: est $est exceeds ε·N bound")
    }
  }

  test("compaction collapses the fragmented layout's file count") {
    q("scale_compaction").collect() // materializes both layouts
    def parquetFiles(d: String): Int = {
      val f = new java.io.File(d)
      if (!f.isDirectory) 0 else f.listFiles().count(_.getName.endsWith(".parquet"))
    }
    val base = Caches.dir(spark, "compact_v1", sf, Seq("orders"))
    val frag = parquetFiles(s"$base/fragmented")
    val packed = parquetFiles(s"$base/compacted")
    assert(frag == 64, s"fragmented layout should have 64 shards, got $frag")
    // sf0.001 orders is far below one 32 MB target file
    assert(packed == 1, s"compacted layout should be one file, got $packed")
  }

  test("scd2: versions per key are contiguous, exactly one current, history closed") {
    val df = q("scale_scd2_apply").cache()
    try {
      // every key has exactly one open (is_current) row…
      val open = df.filter(col("is_current")).groupBy("key").count()
      assert(open.filter(col("count") =!= 1).count() == 0)
      // …except keys whose latest change was a delete: zero open rows
      val keys = df.select("key").distinct().count()
      val openKeys = open.count()
      assert(openKeys <= keys)
      // closed rows carry a valid_to; open rows never do
      assert(df.filter(col("is_current") && col("valid_to").isNotNull).count() == 0)
      assert(df.filter(!col("is_current") && col("valid_to").isNull).count() == 0)
      // version numbering starts at 1 and is dense per key
      val vs = df.groupBy("key").agg(min("version").as("lo"),
        max("version").as("hi"), count(lit(1)).as("n"))
      assert(vs.filter(col("lo") =!= 1 || col("hi") =!= col("n")).count() == 0)
    } finally df.unpersist()
  }

  test("timeseries family: cusum closes near zero, ACF bounded, seasonal indices cancel") {
    // CUSUM of deviations from the series mean must return to ~0 at
    // the last day (up to the r6 rounding of each daily term), and
    // exactly the max-|s| days carry the peak flag
    val cu = q("events_cusum").collect()
    val nDays = cu.length
    assert(math.abs(cu.last.getDouble(2)) <= nDays * 2e-6 + 1e-6,
      s"final CUSUM ${cu.last.getDouble(2)} far from 0 over $nDays days")
    assert(cu.count(_.getBoolean(3)) >= 1, "no peak day flagged")
    // Pearson r is bounded; every probed lag found pairs
    q("timeseries_autocorr").collect().foreach { r =>
      assert(math.abs(r.getDouble(2)) <= 1.0 && r.getLong(1) >= 1)
    }
    // weekday decomposition partitions the day count, and the
    // count-weighted seasonal indices cancel (they are deviations
    // from the corpus mean) up to per-term rounding
    val se = q("timeseries_seasonal").collect()
    assert(se.map(_.getLong(1)).sum == nDays)
    val weighted = se.map(r => r.getLong(1) * r.getDouble(3)).sum
    assert(math.abs(weighted) <= nDays * 2e-6 + 1e-6,
      s"weighted seasonal sum $weighted should cancel")
  }

  test("shuffle-shard is a permutation: dense per-shard ranks, corpus preserved, balanced") {
    val df = q("pipeline_shuffle_shard").cache()
    try {
      assert(df.count() == Tables.documents(spark, sf).count())
      assert(df.select("doc_id").distinct().count() == df.count())
      // positions are dense 1..|shard| within every shard
      val byShard = df.groupBy("shard")
        .agg(min("pos").as("lo"), max("pos").as("hi"), count(lit(1)).as("n"))
      assert(byShard.filter(col("lo") =!= 1 || col("hi") =!= col("n")).count() == 0)
      // md5 keys spread shards to within 3x of each other on this fixture
      val ns = byShard.select("n").collect().map(_.getLong(0))
      assert(ns.length == 8 && ns.max <= 3 * ns.min,
        s"shard imbalance: ${ns.toSeq.sorted}")
    } finally df.unpersist()
  }

  test("bootstrap CI brackets the point estimate with positive width") {
    // deterministic hash-weights ⇒ one fixed draw: on this fixture the
    // 2nd/31st-of-32 replicate means must straddle the full-sample
    // mean for every group (a degenerate or inverted interval means
    // the weights or the order statistics broke)
    q("stats_bootstrap_ci").collect().foreach { r =>
      val (m, lo, hi) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      assert(lo < hi, s"degenerate CI [$lo, $hi]")
      assert(lo <= m && m <= hi, s"mean $m outside CI [$lo, $hi]")
    }
  }

  test("psi drift terms are non-negative and bins partition the corpus") {
    // (p−q)·ln(p/q) has matching signs in both factors, so every term
    // is ≥ 0 (up to the r6 floor); bin counts must re-add to the
    // corpus split exactly (fixed bin list ⇒ nothing dropped).
    val df = q("profile_distribution_drift").cache()
    try {
      assert(df.filter(col("psi_term") < 0).count() == 0)
      val Array(refN, curN) = df.agg(sum("ref_n"), sum("cur_n"))
        .head.toSeq.map(_.asInstanceOf[Long]).toArray
      val byFlag = Tables.documents(spark, sf)
        .groupBy(col("source") === "src0").count()
        .collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
      assert(refN == byFlag(true) && curN == byFlag(false))
    } finally df.unpersist()
  }

  test("incremental dedup finds exactly the full-run pairs that touch the batch") {
    // completeness/soundness of the persisted-index path: probing the
    // history index + the batch self-join must yield PRECISELY the
    // full-corpus banding pairs with >= 1 batch member — no duplicate
    // escapes the incremental ingest, none is invented. (History-
    // internal pairs are intentionally absent: they were reported when
    // THEIR batch landed.)
    val inc = q("dedup_incremental").select("doc_a", "doc_b").collect()
      .map { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        (math.min(a, b), math.max(a, b))
      }.toSet
    val full = q("dedup_minhash_pairs").select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter(p => p._1 % 5 == 4 || p._2 % 5 == 4).toSet
    assert(inc == full,
      s"incremental/full mismatch: missing=${full -- inc}, extra=${inc -- full}")
  }

  test("kmv set-algebra estimates land inside the k=64 error envelope") {
    // deterministic md5 hashing ⇒ one fixed draw, so these are
    // fixed-fixture bounds (no flake): k=64 gives SE ≈ 1/√64 = 12.5%;
    // measured errors at the test SF are 5–16%, asserted with headroom.
    val r = q("agg_kmv_setops").head
    val (ni, nu) = (r.getLong(2), r.getLong(3))
    val (eu, ej, ei) = (r.getDouble(4), r.getDouble(5), r.getDouble(6))
    assert(math.abs(eu - nu) / nu < 0.25, s"union est $eu vs exact $nu")
    assert(math.abs(ei - ni) / ni < 0.25, s"intersect est $ei vs exact $ni")
    assert(math.abs(ej - ni.toDouble / nu) < 0.15, s"jaccard est $ej")
    // sketch algebra is internally consistent: |A∩B| = ρ · |A∪B|
    assert(math.abs(ei - ej * eu) < 0.5)
  }

  test("winnowing guarantee: every shared run of >= w+k-1 tokens yields a match") {
    // Schleimer–Wilkerson–Aiken theorem: a shared token run of length
    // >= w+k-1 (= 8 here) contains a FULL window of w identical
    // k-grams in both documents, so both select that window's minimum
    // hash — the pair MUST appear in text_winnowing_matches. Absolute,
    // not probabilistic: a miss is a bug in the selection or the join,
    // never sampling noise. Negative side: disjoint-vocabulary docs
    // can only pair via an md5 collision (~2^-128), so none may appear.
    val planted = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_planted_winnow").getAbsolutePath
    import spark.implicits._
    val rows = (0 until 10).flatMap { i =>
      val run = (0 until 8).map(j => s"shared${i}_$j").mkString(" ")
      def doc(p: String, id: Long) = {
        val filler = (0 until 20).map(j => s"$p${i}_$j")
        val text = (filler.take(10) :+ run :++ filler.drop(10)).mkString(" ")
        (id, text, "en", "planted", text.length.toLong)
      }
      Seq(doc("fa", i.toLong), doc("fb", 1000L + i))
    } ++ (0 until 5).map { i =>
      val text = (0 until 40).map(j => s"lone${i}_$j").mkString(" ")
      (5000L + i, text, "en", "planted", text.length.toLong)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars").coalesce(1)
      .write.mode("overwrite").parquet(s"$planted/documents.parquet")
    val pairs = SparkEntry.queries("text_winnowing_matches")(spark, planted)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 10).foreach { i =>
      assert(pairs.contains((i.toLong, 1000L + i)),
        s"planted 8-token run pair ($i, ${1000 + i}) missed — winnowing guarantee broken")
    }
    assert(!pairs.exists(p => p._1 >= 5000L || p._2 >= 5000L),
      "disjoint-vocabulary doc surfaced in matches — spurious fingerprint sharing")
  }

  test("winnowing density: selection compresses the k-gram inventory toward 2/(w+1)") {
    // on random text winnowing keeps an expected ~2/(w+1) = 0.4 of
    // k-gram positions (distinct VALUES can only be fewer); assert the
    // corpus-wide mean sits well under 1 and every doc keeps >= 1.
    val df = q("text_winnowing").cache()
    try {
      assert(df.filter(col("n_fingerprints") < 1 ||
        col("n_fingerprints") > col("n_kgrams")).count() == 0)
      val mean = df.agg(avg(col("fp_density"))).head.getDouble(0)
      assert(mean > 0.05 && mean < 0.7,
        s"mean fp_density $mean outside the plausible winnowing band")
    } finally df.unpersist()
  }

  test("sim_rp_project preserves norms in expectation (JL guarantee)") {
    // val_j = (s_j·v)/√k with iid ±1 signs ⇒ E[Σ_j val_j²] = ‖v‖².
    // Per-vector the ratio is χ²₁₆/16-distributed (heavy tails OK);
    // the corpus mean concentrates hard. Bounds are measured-with-
    // headroom per house style (observed mean ≈ 1.0 ± 0.05).
    val proj = q("sim_rp_project")
      .groupBy(col("vec_id")).agg(sum(col("val") * col("val")).as("pn2"))
    val nrm = Tables.embeddings(spark, sf)
      .select(col("vec_id"), aggregate(
        transform(col("embedding").cast("array<double>"), x => x * x),
        lit(0.0), (a, x) => a + x).as("n2"))
    val ratios = proj.join(nrm, "vec_id")
      .select((col("pn2") / col("n2")).as("r")).collect().map(_.getDouble(0))
    val mean = ratios.sum / ratios.length
    assert(mean > 0.8 && mean < 1.2, s"JL norm ratio mean drifted: $mean")
    assert(ratios.forall(r => r > 0.05 && r < 5.0),
      s"JL per-vector ratio outside χ² tail bounds: ${ratios.min} .. ${ratios.max}")
  }

  test("stats_spearman is exactly ±1 on planted monotone data") {
    // flag A: discount strictly increasing in quantity ⇒ ρ = 1.0
    // exactly (ranks coincide, integer moments make it exact, r6
    // cannot smear a true 1). flag B: strictly decreasing ⇒ −1.0.
    import spark.implicits._
    val planted = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_planted_spearman").getAbsolutePath
    val rows = (1 to 40).flatMap { qy =>
      Seq(("A", qy, qy * 2 / 100.0), ("B", qy, (100 - qy) / 100.0))
    }
    rows.toDF("l_returnflag", "l_quantity", "l_discount")
      .coalesce(1).write.mode("overwrite").parquet(s"$planted/lineitem.parquet")
    val got = SparkEntry.queries("stats_spearman")(spark, planted)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(got("A") == 1.0, s"monotone-up rho was ${got("A")}")
    assert(got("B") == -1.0, s"monotone-down rho was ${got("B")}")
  }

  test("stats_theilsen ignores a planted outlier day that would wreck OLS") {
    // 21 days of count = 5 + 2t, except day 10 spikes to 1000 events.
    // 190 of the 210 pairwise slopes avoid the outlier and equal 2.0
    // exactly, so the median is 2.0; an OLS slope on the same series
    // is pulled away (the point of the estimator). The intercept is
    // the median residual at slope 2 on the EPOCH-day axis: every
    // clean day has residual (5 + 2·offset) − 2·(epoch0 + offset)
    // = 5 − 2·epoch0 exactly (all double ops exact at these
    // magnitudes), and 20 of 21 days are clean, so the median is that
    // shared value.
    import spark.implicits._
    val planted = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_planted_theilsen").getAbsolutePath
    val base = java.time.LocalDate.of(2024, 1, 1)
    val rows = (0 until 21).flatMap { t =>
      val n = if (t == 10) 1000 else 5 + 2 * t
      (0 until n).map { i =>
        (t.toLong * 100000 + i,
          java.sql.Timestamp.valueOf(base.plusDays(t).atTime(12, 0, i % 60)),
          i.toLong % 7, "view", 1.0, """{}""")
      }
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$planted/events.parquet")
    val got = SparkEntry.queries("stats_theilsen")(spark, planted).collect()
    assert(got.length == 1)
    val (slope, icept) = (got(0).getDouble(3), got(0).getDouble(4))
    val expectedIcept = 5.0 - 2.0 * base.toEpochDay
    assert(slope == 2.0, s"robust slope was $slope, expected exactly 2.0")
    assert(icept == expectedIcept,
      s"robust intercept was $icept, expected exactly $expectedIcept")
  }

  test("cluster_kmeans recovers four planted well-separated blobs") {
    // 4 blobs of 10 vectors at orthogonal unit corners ±0.01 jitter;
    // ids 0..3 are one blob member each (the deterministic init picks
    // one seed per blob), so Lloyd must converge to the planted
    // 10/10/10/10 partition with inertia ≤ the jitter energy.
    import spark.implicits._
    val planted = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_planted_kmeans").getAbsolutePath
    val vecs = (0 until 40).map { id =>
      val blob = id % 4 // ids 0,1,2,3 land in distinct blobs
      val e = Array.tabulate(64) { d =>
        val center = if (d == blob * 16) 1.0f else 0.0f
        center + (((id * 64 + d) % 7 - 3) * 0.003f)
      }
      (id.toLong, e.toSeq, blob)
    }
    vecs.toDF("vec_id", "embedding", "label")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<FLOAT>) AS embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$planted/embeddings.parquet")
    val got = SparkEntry.queries("cluster_kmeans")(spark, planted).collect()
    assert(got.length == 4, s"expected 4 clusters, got ${got.length}")
    got.foreach { r =>
      assert(r.getLong(1) == 10, s"cluster ${r.getLong(0)} size ${r.getLong(1)} != 10")
      // jitter ≤ 0.009/dim ⇒ per-point sq dist ≤ 64·(2·0.009)² ≈ 0.021
      assert(r.getDouble(2) <= 0.3,
        s"cluster ${r.getLong(0)} inertia ${r.getDouble(2)} too high for the planted blobs")
    }
  }

  test("text_watermark_detect flags a greedily green-sampled doc, not natural text") {
    // doc 1: each next token chosen to make the (prev, cur) pair green
    // under the engine's md5 keying ⇒ ~all of 199 pairs green, z ≈ √199
    // ≈ 14. doc 2: an LCG token walk ignorant of the greenlist ⇒ green
    // fraction ~1/2, |z| far below the 4.0 cut. Deterministic fixture.
    import spark.implicits._
    val planted = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_planted_wm").getAbsolutePath
    def green(prev: String, cur: String): Boolean = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"wm:$prev $cur".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 4), 16) % 2 == 0
    }
    val vocab = (0 until 16).map(i => s"w$i")
    val wm = new StringBuilder("w0"); var prev = "w0"
    for (_ <- 1 until 200) {
      val nxt = vocab.find(w => green(prev, w)).getOrElse(vocab.head)
      wm.append(' ').append(nxt); prev = nxt
    }
    var s = 1L; val nat = new StringBuilder("w1")
    for (_ <- 1 until 200) {
      s = (s * 48271) % 2147483647L
      nat.append(' ').append(vocab((s % 16).toInt))
    }
    Seq((1L, wm.toString), (2L, nat.toString)).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$planted/documents.parquet")
    val got = SparkEntry.queries("text_watermark_detect")(spark, planted)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getLong(4) == 1L,
      s"green-sampled doc not flagged: z=${got(1L).getDouble(3)}")
    assert(got(1L).getDouble(3) > 10.0,
      s"green-sampled doc z ${got(1L).getDouble(3)} implausibly low")
    assert(got(2L).getLong(4) == 0L,
      s"natural doc false-positive: z=${got(2L).getDouble(3)}")
  }

  test("stats_eb_shrinkage partially shrinks heterogeneous planted segments") {
    // On the real (null) corpus every nation shares one distribution,
    // so τ̂² = 0 and B = 1 (full pooling) is the CORRECT answer. This
    // fixture plants genuinely different segment means (1000/1100/1200
    // ± 10) with very different n (200/50/8): between-group variance
    // dominates sampling noise ⇒ τ̂² > 0, and the small-n segment must
    // shrink hardest while the large-n one barely moves.
    import spark.implicits._
    val planted = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_planted_eb").getAbsolutePath
    val spec = Seq((0, 200, 1000.0), (1, 50, 1100.0), (2, 8, 1200.0))
    val nationDf = spec.map { case (k, _, _) => (k.toLong, s"N$k") }
      .toDF("n_nationkey", "n_name")
    val custDf = spec.flatMap { case (k, cnt, _) =>
      (0 until cnt).map(i => (k.toLong * 1000 + i, k.toLong))
    }.toDF("c_custkey", "c_nationkey")
    val ordersDf = spec.flatMap { case (k, cnt, mean) =>
      (0 until cnt).map(i => (k.toLong * 1000 + i, mean + (i % 21 - 10)))
    }.toDF("o_custkey", "o_totalprice")
    nationDf.coalesce(1).write.mode("overwrite").parquet(s"$planted/nation.parquet")
    custDf.coalesce(1).write.mode("overwrite").parquet(s"$planted/customer.parquet")
    ordersDf.coalesce(1).write.mode("overwrite").parquet(s"$planted/orders.parquet")
    val got = SparkEntry.queries("stats_eb_shrinkage")(spark, planted)
      .collect().map(r => r.getString(0) -> r).toMap
    val tau2 = got("N0").getDouble(4)
    assert(tau2 > 0.0, s"planted heterogeneity must yield tau2 > 0, got $tau2")
    val b0 = got("N0").getDouble(5); val b2 = got("N2").getDouble(5)
    assert(b0 < b2, s"large-n segment must shrink less (B0=$b0 vs B2=$b2)")
    assert(b2 < 1.0 && b0 > 0.0, s"shrinkage must be partial: B0=$b0, B2=$b2")
    for (k <- Seq("N0", "N2")) {
      val raw = got(k).getDouble(2); val gm = got(k).getDouble(3)
      val shrunk = got(k).getDouble(6)
      assert((shrunk - raw).abs <= (gm - raw).abs + 1e-9 &&
        (shrunk - gm).abs <= (raw - gm).abs + 1e-9,
        s"$k: shrunk mean $shrunk must lie between raw $raw and grand $gm")
    }
  }

  test("stats_mix_shift: the decomposition recomposes the total delta") {
    // Oaxaca identity: Σ within + Σ mix = Δ grand mean EXACTLY in the
    // algebra; the reported totals sum per-nation contributions
    // quantized at 1e-8, so the residue is bounded by #segments·1e-8
    // (plus the r6 output rounding).
    val rows = q("stats_mix_shift").collect()
    assert(rows.nonEmpty)
    val delta = rows.head.getDouble(9)
    val recomposed = rows.head.getDouble(10) + rows.head.getDouble(11)
    assert(math.abs(recomposed - delta) < 1e-3,
      s"within ${rows.head.getDouble(10)} + mix ${rows.head.getDouble(11)} " +
        s"!= delta $delta")
    // per-nation contributions must also sum to the totals
    val sumWithin = rows.map(_.getDouble(7)).sum
    assert(math.abs(sumWithin - rows.head.getDouble(10)) < 1e-3,
      s"per-nation within sum $sumWithin != total ${rows.head.getDouble(10)}")
  }

  test("text_classifier_calibration: ECE and bins are internally consistent") {
    val rows = q("text_classifier_calibration").collect()
    assert(rows.nonEmpty)
    val n = rows.map(_.getLong(1)).sum.toDouble
    val eceRecomputed = rows.map(r => r.getLong(1) * r.getDouble(5)).sum / n
    val ece = rows.head.getDouble(6)
    assert(math.abs(eceRecomputed - ece) < 1e-9,
      s"ECE $ece != weighted per-bin gaps $eceRecomputed")
    rows.foreach { r =>
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
    }
    val brier = rows.head.getDouble(7)
    assert(brier >= 0.0 && brier <= 1.0, s"Brier $brier outside [0,1]")
  }

  test("events_lift_deciles: gains close at 1, lift ties out to rates") {
    val rows = q("events_lift_deciles").collect()
    assert(rows.length == 10, s"expected 10 deciles, got ${rows.length}")
    val m = rows.map(_.getLong(1)).sum.toDouble
    val totpos = rows.map(_.getLong(3)).sum.toDouble
    assert(rows.last.getDouble(6) == 1.0, "cumulative gains must close at 1.0")
    rows.foreach { r =>
      val rate = r.getDouble(4); val lift = r.getDouble(5)
      // lift·overall ≈ rate (both r6-rounded independently)
      assert(math.abs(lift * (totpos / m) - rate) < 1e-4,
        s"decile ${r.getLong(0)}: lift $lift inconsistent with rate $rate")
    }
  }

  test("corpus_dsir_select: the top slice is enriched in the target language") {
    // the oracle proves the VALUES; this proves the MEANING — hashed
    // importance scoring must rank target-like (en) documents up.
    // Base rate is ~20% (5 langs), so a broken scorer lands ~10/50;
    // measured 34/50 at sf0.01 — floor asserted with headroom after
    // measuring at the test SF (printed below).
    val rows = q("corpus_dsir_select").collect()
    assert(rows.length == 50)
    val en = rows.count(_.getString(1) == "en")
    info(s"target-language docs in top-50: $en")
    assert(en >= 20,
      s"DSIR selection not enriched: only $en/50 target-language docs " +
        "(random baseline ~10)")
    // scores must be sorted the way the contract says
    val scores = rows.map(_.getDouble(3))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
      "top slice not ordered by descending score")
  }

  test("semanticK follows the SemDeDup corpus-growth rule") {
    import graft.operators.Similarity.semanticK
    // fixture scales stay at the k=4 floor (oracle rows unchanged) …
    assert(semanticK(500) == 4)
    assert(semanticK(2000) == 4)
    // … and k grows linearly with the corpus at the 8k/cell target:
    // SemDeDup's own operating point (~400M LAION → ~50k cells)
    assert(semanticK(400L * 1000 * 1000) == 48829)
    assert(semanticK(100L * 1000 * 1000 * 1000) == (1 << 20),
      "cell count must cap, not overflow, at absurd corpus sizes")
    // the rule is monotone: more corpus never means fewer cells
    val ks = Seq(1L, 10000L, 100000L, 10000000L, 1000000000L).map(semanticK(_))
    assert(ks.zip(ks.tail).forall { case (a, b) => a <= b })
  }

  test("dedupSemanticAuto resolves the fixture corpus to the k=4 oracle pipeline") {
    // the corpus-derived entry point must agree EXACTLY with the
    // pinned-k pipeline at the k its rule selects — semanticK(500)=4,
    // so auto on the fixture IS the oracle-checked dedup_semantic
    import org.apache.spark.sql.functions.col
    val auto = graft.operators.Similarity.dedupSemanticAuto(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)), r.getBoolean(3))).toSeq
    val pinned = graft.operators.Similarity.dedupSemanticAt(spark, sf, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)), r.getBoolean(3))).toSeq
    assert(auto == pinned, "auto-k pipeline diverged from the pinned-k fixture")
    assert(auto.map(_._1) == auto.map(_._1).sorted && auto.nonEmpty)
  }

  test("dedup_semantic quadratic-work contract: sum of cell^2 <= 2 N^2/k at k=64") {
    // The 100 TB story in code: semantic dedup's pair join costs
    // Σ|cell|², and the SemDeDup rule keeps that ~N²/k by growing k
    // with the corpus. Train the REAL quantized Lloyd at k=64 on the
    // sf0.1 embeddings (n=2000) and assert the measured cell layout
    // stays within 2× of the perfectly-balanced floor. Measured at
    // round 12: ratio 1.025 (sf0.1, k=64) / 1.128 (sf0.01, k=64) —
    // the 2× ceiling has >40% headroom over the worst measured point.
    // N²/k is also asserted as the mathematical floor so a broken
    // size accounting can't vacuously pass.
    if (!new java.io.File("/root/testdata/sf0.1").isDirectory)
      cancel("/root/testdata/sf0.1 not present in this environment")
    val k = 64
    val sizes = graft.operators.Similarity
      .kmeansFinalAssign(spark, "/root/testdata/sf0.1", k)
      .groupBy(org.apache.spark.sql.functions.col("cid")).count()
      .collect().map(_.getLong(1))
    val n = sizes.sum
    val sumSq = sizes.map(c => c * c).sum.toDouble
    val floor = n.toDouble * n / k
    info(f"n=$n cells=${sizes.length} sum_sq=$sumSq%.0f floor=$floor%.0f ratio=${sumSq / floor}%.3f")
    assert(n == 2000L, s"unexpected corpus size $n")
    assert(sumSq >= floor, "sum of squares below the mathematical floor — accounting bug")
    assert(sumSq <= 2.0 * floor,
      f"cell imbalance: sum|cell|²=$sumSq%.0f exceeds 2·N²/k=${2 * floor}%.0f — " +
        "the cell-bounded cost argument no longer holds")
  }

  test("PPJoin candidate:true ratios stay tight (sf0.01 and sf0.1 ceilings)") {
    // Round-15 tripwire (VERDICT r14 task 4): the m=2 extended-prefix
    // + positional-filter candidate stage cut sf10 containment
    // candidates 137:1 → 3.1:1, and that TIGHTNESS — not just
    // losslessness — is what makes the family complete at sf100. The
    // string oracles prove no true pair is lost; nothing proves a
    // future prefix/filter edit doesn't silently reopen the candidate
    // flood. Pin the measured ratios with 2× headroom (measured
    // round 15): sf0.01 jaccard 25/25 = 1.0, containment 51/50 = 1.02;
    // sf0.1 jaccard 12.4:1, containment 6.1:1 (SCALING.md round-14
    // table, stable across sf0.1 and sf1). The data is deterministic,
    // so a ceiling breach is a real candidate-stage loosening, never
    // noise — if a deliberate re-plan changes the tradeoff, re-measure
    // with this test's info line and move the ceiling WITH a PLANS.md
    // note.
    val ceilings = Seq(
      // (dir, jaccard ceiling, containment ceiling)
      ("/root/testdata/sf0.01", 3.0, 3.0),
      ("/root/testdata/sf0.1", 25.0, 13.0))
    for ((dir, jacCeil, conCeil) <- ceilings) {
      if (!new java.io.File(dir).isDirectory) cancel(s"$dir not present")
      val tok = graft.operators.Dedup.shingleTok(spark, dir)
      val jacCand = graft.operators.Dedup.jaccardPrefixCandidates(tok).count()
      val jacTrue = SparkEntry.queries("dedup_jaccard_prefix")(spark, dir).count()
      val conCand = graft.operators.Dedup.containmentCandidates(tok).count()
      val conTrue = SparkEntry.queries("dedup_containment")(spark, dir).count()
      val jacRatio = jacCand.toDouble / math.max(1L, jacTrue)
      val conRatio = conCand.toDouble / math.max(1L, conTrue)
      info(f"$dir jaccard $jacCand/$jacTrue=$jacRatio%.2f (ceil $jacCeil) " +
        f"containment $conCand/$conTrue=$conRatio%.2f (ceil $conCeil)")
      assert(jacTrue > 0 && conTrue > 0, s"$dir: no true pairs — vacuous")
      assert(jacRatio <= jacCeil,
        f"$dir jaccard candidate:true $jacRatio%.2f exceeds $jacCeil — " +
          "the prefix candidate stage has loosened (re-measure with this test's info line)")
      assert(conRatio <= conCeil,
        f"$dir containment candidate:true $conRatio%.2f exceeds $conCeil — " +
          "the extended-prefix/positional stage has loosened (re-measure with this test's info line)")
    }
  }

  test("mm_phash_pairs recovers every planted re-encoded copy; permuted tiles stay far") {
    // The query plants its own fixtures: every 97th doc additionally
    // emits a brightness-shifted BMP re-encode as doc_id + 1e9. pHash is
    // EXACTLY invariant to both transforms (lossless re-encode; +16
    // brightness moves only the excluded DC coefficient, and the render
    // keeps pixels <= 215 so nothing clips), so every planted pair MUST
    // surface at hamming 0 — a miss is a banding/decode bug, never
    // noise. Negative control at the library level: a tile-PERMUTED
    // render (same byte histogram, different structure) of the same
    // docs must land OUTSIDE ball 3 — asserted per-doc on hamming > 3
    // (measured on this corpus: permuted hashes land at hamming ~32).
    import spark.implicits._
    val planted = Tables.documents(spark, sf)
      .filter(col("doc_id") % 97 === 0).select("doc_id").as[Long].collect().sorted
    assert(planted.nonEmpty, "no doc_id % 97 == 0 rows at this SF — vacuous")
    val pairs = q("mm_phash_pairs")
      .select("doc_a", "doc_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    planted.foreach { id =>
      val h = pairs.get((id, id + 1000000000L))
      assert(h.contains(0L),
        s"planted re-encoded copy ($id, ${id + 1000000000L}) " +
          s"${if (h.isEmpty) "missed" else s"at hamming ${h.get}, expected 0"}")
    }
    // negative control needs structure to destroy: a near-uniform or
    // sub-tile-length text renders to a (near-)constant image that a
    // permutation maps to itself — restrict to docs with >= 64 bytes
    val texts = Tables.documents(spark, sf)
      .filter(col("doc_id") % 97 === 0 && length(col("text")) >= 64)
      .select("doc_id", "text")
      .as[(Long, String)].collect().take(10)
    assert(texts.nonEmpty, "no >=64-byte planted docs at this SF — vacuous")
    texts.foreach { case (id, text) =>
      val b = Option(text).getOrElse("").getBytes("UTF-8")
      val imgs = Seq(
        graft.operators.Multimodal.MediaRow(1L,
          graft.operators.Multimodal.encodeImage(
            graft.operators.Multimodal.renderTile(b), "png")),
        graft.operators.Multimodal.MediaRow(2L,
          graft.operators.Multimodal.encodeImage(
            graft.operators.Multimodal.renderTile(b, permute = true), "png")))
      val hs = graft.operators.Multimodal.phashImages(imgs.toDS())
        .collect().map(p => p.doc_id -> p.phash).toMap
      val h = java.lang.Long.bitCount(hs(1L) ^ hs(2L))
      assert(h > 3,
        s"doc $id: permuted tile landed INSIDE ball 3 (hamming $h) — " +
          "the pairing would emit a structural non-dup")
    }
  }

  test("approx distinct counts lie within 3 sigma of their rsd 0.02 of the exact counts") {
    val exact = Tables.lineitem(spark, sf).groupBy("l_returnflag")
      .agg(countDistinct("l_partkey").as("parts"), countDistinct("l_orderkey").as("orders"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val est = q("agg_approx_distinct").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(est.keySet == exact.keySet)
    for ((flag, (parts, orders)) <- exact; (e, n) <- Seq(est(flag)._1 -> parts, est(flag)._2 -> orders))
      assert(math.abs(e - n) <= 3 * 0.02 * n, s"flag $flag: estimate $e vs exact $n")
  }

  test("the Bernoulli sample holds 0.1 n rows within 4 sigma, each a lineitem row") {
    val li = Tables.lineitem(spark, sf)
    val n = li.count().toDouble
    val df = q("sample_bernoulli")
    val k = df.count()
    assert(math.abs(k - 0.1 * n) <= 4 * math.sqrt(n * 0.1 * 0.9), s"$k rows sampled of $n")
    assert(df.join(li, Seq("l_orderkey", "l_linenumber", "l_quantity"), "left_anti").isEmpty)
  }

  test("each stratum's sample size lies within 4 sigma of its fraction of the stratum") {
    val frac = Map("BUILDING" -> 0.2, "AUTOMOBILE" -> 0.5, "MACHINERY" -> 0.5,
      "FURNITURE" -> 0.8, "HOUSEHOLD" -> 0.8)
    val strata = Tables.customer(spark, sf).groupBy("c_mktsegment").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = q("sample_stratified").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet.subsetOf(strata.keySet))
    for ((seg, n) <- strata) {
      val (f, k) = (frac(seg), got.getOrElse(seg, 0L))
      assert(math.abs(k - f * n) <= 4 * math.sqrt(n * f * (1 - f)), s"$seg: $k sampled of $n")
    }
  }

  test("decode stub: its schema, one row per document, the same rows on two runs") {
    val df = q("mm_decode_stub")
    assert(df.schema.map(f => f.name -> f.dataType.simpleString) == Seq(
      "doc_id" -> "bigint", "n_bytes" -> "bigint", "width" -> "int", "height" -> "int",
      "n_frames" -> "int", "format" -> "string"))
    val rows = df.collect().toSeq
    val docs = Tables.documents(spark, sf).select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(rows.map(_.getLong(0)).sorted == docs)
    assert(q("mm_decode_stub").collect().toSeq == rows)
  }

  test("frame sample: its schema, every 5th frame of each image clip, the same rows on two runs") {
    val df = q("mm_frame_sample")
    assert(df.schema.map(f => f.name -> f.dataType.simpleString) == Seq(
      "doc_id" -> "bigint", "n_frames" -> "int", "frame_idx" -> "int", "frame_key" -> "string"))
    val rows = df.collect().toSeq
    val clips = q("mm_decode_stub").filter(col("format") === "img").collect()
      .map(r => r.getLong(0) -> r.getInt(4)).toMap
    val frames = rows.groupBy(_.getLong(0)).map { case (d, rs) => d -> rs.map(_.getInt(2)).sorted }
    assert(frames == clips.map { case (d, n) => d -> (0 until n by 5) })
    assert(rows.forall(r => r.getString(3) == s"${r.getLong(0)}:${r.getInt(2)}"))
    assert(q("mm_frame_sample").collect().toSeq == rows)
  }
}
