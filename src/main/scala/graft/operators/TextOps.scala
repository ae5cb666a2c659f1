package graft.operators

import graft.{Parity, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for training-data pipelines (SURVEY.md
  * §2.10): tokenization + term frequencies, corpus stats, quality
  * scoring, token counting (whitespace + BPE-ish regex), document
  * fingerprinting, and a heuristic language-ID.
  *
  * All built-ins (split / explode / higher-order array functions /
  * md5) — codegen'd, no UDFs, so plans stay whole-stage and DuckDB can
  * mirror the oracle-checked ones.
  *
  * Scale: tokenize/tf is explode → hash-agg with map-side combine —
  * shuffle volume is the vocabulary, not the corpus. Per-doc scores
  * are narrow projections (no shuffle at all).
  */
object TextOps {
  import Tables._

  private def toks: Column = filter(split(col("text"), " "), t => t =!= "")

  private def textTokenizeTf(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(explode(toks).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word"))
      .limit(100)

  private def textLangStats(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        avg(col("n_chars")).as("avg_chars"))
      .orderBy(col("lang"), col("source"))

  /** Quality signals: length, words, chars/word, stopword ratio,
    * vocabulary diversity. Single divisions of exact ints — bitwise
    * cross-engine deterministic, no rounding needed. */
  private def textQuality(spark: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to", "in")
    documents(spark, dir)
      .select(
        col("doc_id"),
        length(col("text")).cast(LongType).as("n_chars_actual"),
        size(toks).cast(LongType).as("n_words"),
        (length(col("text")).cast(DoubleType) / size(toks)).as("chars_per_word"),
        (size(filter(toks, t => t.isin(stop: _*))).cast(DoubleType) / size(toks))
          .as("stopword_ratio"),
        (size(array_distinct(toks)).cast(DoubleType) / size(toks)).as("distinct_ratio"))
      .orderBy(col("doc_id"))
  }

  private def textTokenCount(spark: SparkSession, dir: String): DataFrame = {
    graft.Tables.fanout(documents(spark, dir)) // per-row regex work: spread single-split inputs
      .select(
        col("doc_id"),
        size(filter(split(col("text"), "\\s+"), t => t =!= "")).cast(LongType)
          .as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
          .cast(LongType).as("bpe_ish_tokens"),
        subwordCount(toks).as("subword_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Fixture BPE merge table, collapsed to its vocabulary (the set of
    * pieces the merges produce) — the form greedy longest-match
    * consumes. A real pipeline ships this as a broadcast file; the
    * literal keeps both engines (Spark + DuckDB oracle) on one copy.
    * Deliberately exercises every tokenizer path on this corpus:
    * whole-word pieces (`table`), longest-match shadowing (`wind` >
    * `win`, `ord` > `or`), 3-piece splits (`cust om er`), and the
    * single-char byte fallback for out-of-vocab spans (`dup`,
    * trailing `t`/`y`/`g`/`w`). */
  private[graft] val bpeVocab: Seq[String] = Seq(
    "table", "the", "data", "cust", "om", "er", "col", "umn", "wind",
    "win", "ow", "str", "eam", "fil", "ter", "vec", "tor", "qu", "ery",
    "bat", "ch", "mer", "ge", "ord", "or", "gr", "oup", "sp", "ark",
    "sm", "all", "val", "ue", "sc", "an", "sl", "jo", "in", "ha", "sh",
    "li", "ne", "so", "rt", "fa", "st", "ke", "ro", "bi", "ag", "par",
    "a")

  /** Greedy longest-match subword segmentation of one word (the
    * tokenizer-apply step every token-billed curation op needs):
    * scan left to right; at each boundary take the longest vocab piece
    * that prefixes the remainder, falling back to one character.
    * Emitted as the space-joined piece string.
    *
    * Pure array higher-order functions — `aggregate` walks the
    * character positions carrying (next-boundary, pieces-so-far);
    * positions inside an already-consumed piece pass the accumulator
    * through untouched. O(|word| × |vocab|) with a ~50-piece fixture:
    * trivial per row, embarrassingly parallel, NO shuffle and no
    * driver state — at 100 TB this stays a narrow projection fused
    * into the scan, which is why the pieces are computed inline per
    * occurrence rather than via a distinct-words join (two shuffles
    * for a lookup the projection re-derives in nanoseconds). */
  private[graft] def bpeWord(w: Column): Column =
    bpeWordWith(array(bpeVocab.map(lit): _*), w)

  /** Same greedy walk with a caller-supplied vocab array column —
    * lets the merge-apply step segment under vocab ∪ {learned piece}
    * without a second code path. */
  private[graft] def bpeWordWith(vocab: Column, w: Column): Column = {
    val walk = aggregate(
      sequence(lit(1), length(w)),
      struct(lit(1).as("nxt"), lit("").as("toks")),
      (acc, i) => {
        val m = coalesce(
          array_max(transform(
            filter(vocab, p => w.substr(i, length(p)) === p),
            p => length(p))),
          lit(1))
        when(i < acc("nxt"), acc).otherwise(struct(
          (i + m).as("nxt"),
          concat(acc("toks"), lit(" "), w.substr(i, m)).as("toks")))
      })
    ltrim(walk("toks"))
  }

  /** Flattened piece stream of a word array under the fixture vocab
    * (+ optional learned merge pieces), via the compiled expression —
    * the hot path every token-billed op shares. `bpeWordWith` above is
    * the retained reference implementation; BpeParitySpec asserts the
    * two walks agree on the corpus. */
  private[graft] def subwords(tk: Column, extra: Column*): Column =
    call_function("bpe_subwords", (tk +: extra): _*)

  /** Subword token count of a whole document given its word array —
    * Σ pieces per word, 0 for an empty doc. */
  private[graft] def subwordCount(tk: Column): Column =
    size(subwords(tk)).cast(LongType)

  private[graft] def subwordCountWith(vocab: Column, tk: Column): Column = {
    val sub = concat_ws(" ", transform(tk, w => bpeWordWith(vocab, w)))
    when(sub === "", lit(0L))
      .otherwise(size(split(sub, " ")).cast(LongType))
  }

  /** The STATELESS tokenizer-apply projection, shared verbatim by the
    * batch query below and its Structured Streaming twin
    * ([[graft.streaming.StreamingOps.bpeTokenize]];
    * StreamBatchParitySpec asserts row-set equality): per doc, the
    * whitespace token count, the subword count under the fixture merge
    * table, and an md5 over the full in-order piece stream. No agg, no
    * window — on a stream it needs no watermark and runs in append
    * mode with zero state. */
  private[graft] def bpeTokenizeCols(docs: DataFrame): DataFrame = {
    docs
      .select(col("doc_id"), toks.as("tk"))
      .select(col("doc_id"),
        size(col("tk")).cast(LongType).as("ws_tokens"),
        subwords(col("tk")).as("ps"))
      .select(col("doc_id"), col("ws_tokens"),
        size(col("ps")).cast(LongType).as("subword_tokens"),
        md5(concat_ws(" ", col("ps"))).as("sub_md5"))
  }

  /** Subword tokenizer-apply over the corpus: per doc, the whitespace
    * token count, the subword token count under the fixture merge
    * table, and an md5 over the full in-order piece stream (so the
    * oracle checks the exact segmentation, not just its length). */
  private def textBpeTokenize(spark: SparkSession, dir: String): DataFrame =
    bpeTokenizeCols(graft.Tables.fanout(documents(spark, dir)))
      .orderBy(col("doc_id"))

  /** BPE merge-TRAINING step: corpus-wide adjacent piece-pair counts
    * under the current vocab — the statistic a BPE trainer maximizes
    * to pick its next merge ("which two pieces co-occur most?").
    * Pairs are word-internal only (BPE never merges across word
    * boundaries). Top 50 by count, tie-broken lexically, with the
    * candidate merged piece.
    *
    * Scale: segmentation is the same inline narrow projection as
    * `text_bpe_tokenize` (no distinct-words join); the pair explode
    * feeds ONE hash aggregate whose map-side combine collapses each
    * partition to its distinct pairs (≤ |vocab|² keys, in practice a
    * few hundred) before the shuffle — shuffle volume is the pair
    * vocabulary, not the corpus. One shuffle total, then a driver-side
    * top-50 via TakeOrderedAndProject. */
  private def textBpePairStats(spark: SparkSession, dir: String): DataFrame = {
    graft.Tables.fanout(documents(spark, dir))
      .select(explode(toks).as("w"))
      .select(subwords(array(col("w"))).as("ps")) // per-word: pairs stay word-internal
      .select(explode(zip_with(
        slice(col("ps"), lit(1), size(col("ps")) - 1),
        slice(col("ps"), lit(2), size(col("ps")) - 1),
        (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
      .groupBy(col("p.l").as("pair_left"), col("p.r").as("pair_right"))
      .agg(count(lit(1)).as("pair_count"))
      .withColumn("merged", concat(col("pair_left"), col("pair_right")))
      .orderBy(col("pair_count").desc, col("pair_left"), col("pair_right"))
      .limit(50)
  }

  /** Tokenizer fertility by (source, lang): subword tokens per
    * whitespace word — the curation signal for which domains are
    * expensive under the current vocab (fertility ≫ 1 means the
    * tokenizer fragments that domain; retrain or re-weight). One
    * narrow projection + one small hash aggregate. */
  private def textBpeFertility(spark: SparkSession, dir: String): DataFrame = {
    graft.Tables.fanout(documents(spark, dir))
      .select(col("source"), col("lang"),
        size(toks).cast(LongType).as("ws"),
        subwordCount(toks).as("sw"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("ws_tokens"),
        sum(col("sw")).as("subword_tokens"))
      .withColumn("fertility",
        when(col("ws_tokens") > 0,
          col("subword_tokens").cast(DoubleType) / col("ws_tokens").cast(DoubleType)))
      .orderBy(col("source"), col("lang"))
  }

  /** One full BPE TRAIN iteration, closing the loop pair_stats opens:
    * learn the top merge (max pair count, lexical tie-break), extend
    * the vocab with the merged piece, re-segment the corpus under
    * vocab ∪ {merge}, and report per-source token compression
    * (tokens_before/tokens_after) — the trainer's acceptance metric.
    *
    * Scale: the learned merge is a ONE-ROW broadcast crossJoin (the
    * standard scalar-enrichment shape here); both segmentations are
    * narrow projections fused into the scan; the only shuffle is the
    * final per-source hash aggregate (≤ |sources| keys). A real
    * trainer iterates this N-merges times with the vocab snapshot
    * broadcast per iteration — per-iteration cost is one corpus scan,
    * never a driver-side corpus. */
  private def textBpeApplyMerge(spark: SparkSession, dir: String): DataFrame = {
    // The learned merge is the trainer's output artifact: one scalar,
    // collected to the driver (bounded state, like the k-means
    // centroids) so both segmentations run as static-vocab compiled
    // expressions. A real trainer iterates exactly this way — learn
    // merge, extend broadcast vocab, rescan.
    val merged = textBpePairStats(spark, dir).limit(1)
      .select(col("merged")).collect()(0).getString(0)
    graft.Tables.fanout(documents(spark, dir))
      .select(col("source"), toks.as("tk"))
      .select(col("source"), lit(merged).as("merged"),
        subwordCount(col("tk")).as("nb"),
        size(subwords(col("tk"), lit(merged))).cast(LongType).as("na"))
      .groupBy(col("source"), col("merged"))
      .agg(sum(col("nb")).as("tokens_before"),
        sum(col("na")).as("tokens_after"))
      .orderBy(col("source"))
  }

  /** Canonical-form fingerprint (lowercase, sorted tokens → md5) with a
    * per-fingerprint duplicate count — the "did we already ingest this
    * content" primitive. */
  private def textFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val fp = md5(concat_ws(" ", array_sort(filter(split(lower(col("text")), " "), t => t =!= ""))))
    documents(spark, dir)
      .select(col("doc_id"), fp.as("fp"))
      .withColumn("dup_count", count(lit(1)).over(Window.partitionBy(col("fp"))))
      .orderBy(col("doc_id"))
  }

  /** Repetition signals (the Gopher/C4-style quality rules): the most
    * frequent token's share of the doc, the duplicated-bigram fraction,
    * and the top bigram's share. Boilerplate and spam repeat themselves;
    * these catch it where length/stopword rules don't. Two explode →
    * hash-agg passes (word-level and bigram-level) — shuffle volume is
    * the per-doc vocabulary (map-side combine), never the corpus text —
    * then a narrow doc_id equi-join. Exact integer counts divided once
    * at the end ⇒ bit-deterministic, oracle-checked. */
  private def textRepetition(spark: SparkSession, dir: String): DataFrame = {
    import graft.Tables.fanout
    val docs = fanout(documents(spark, dir)).select(col("doc_id"), toks.as("tk"))
    val words = docs
      .select(col("doc_id"), explode(col("tk")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_words"), max(col("cnt")).as("top_w"))
    val bg = explode(transform(sequence(lit(1), size(col("tk")) - 1),
      i => concat_ws(" ", slice(col("tk"), i, lit(2))))).as("bg")
    val bigrams = docs
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"), bg)
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_bg"), count(lit(1)).as("d_bg"),
        max(col("cnt")).as("top_bg"))
    words.join(bigrams, "doc_id")
      .select(col("doc_id"),
        (col("top_w").cast(DoubleType) / col("n_words")).as("top_word_frac"),
        ((col("n_bg") - col("d_bg")).cast(DoubleType) / col("n_bg")).as("dup_bigram_frac"),
        (col("top_bg").cast(DoubleType) / col("n_bg")).as("top_bigram_frac"))
      .orderBy(col("doc_id"))
  }

  /** Bigram language-model fluency score: corpus-level bigram
    * probabilities (one aggregation over the whole corpus), then each
    * doc scores avg log p(bigram) — the statistical-LM quality signal
    * (low score = improbable token sequences). Self-contained
    * two-pass dataflow. The bigram vocabulary grows with the corpus, so
    * the doc↔counts join is a plain shuffle join on `bg` — AQE still
    * promotes it to broadcast when the vocab is genuinely small. Only
    * the single-row grand total is broadcast unconditionally. */
  private def textLmScore(spark: SparkSession, dir: String): DataFrame = {
    import graft.Tables.fanout
    val bg = explode(transform(sequence(lit(1), size(col("tk")) - 1),
      i => concat_ws(" ", slice(col("tk"), i, lit(2))))).as("bg")
    val bgs = fanout(documents(spark, dir))
      .select(col("doc_id"), toks.as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"), bg)
    val counts = bgs.groupBy(col("bg")).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("total"))
    bgs.join(counts, "bg")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        log(col("cnt").cast(DoubleType) / col("total").cast(DoubleType)).as("lp"))
      .groupBy(col("doc_id"))
      .agg(graft.Parity.r6(avg(col("lp"))).as("lm_score"),
        count(lit(1)).as("n_bigrams"))
      .orderBy(col("doc_id"))
  }

  /** TF-IDF top terms per document — the classic relevance/keyword
    * primitive. One (doc, term) hash-agg gives tf; df is a count over
    * that same relation (never re-tokenizes); only the 1-row corpus
    * size broadcasts — the tf⋈df join is vocabulary-sized and left to
    * AQE. Top-3 per doc via a partitioned window. ln() is not
    * IEEE-identical cross-engine, so the score is rounded (r6) BEFORE
    * ranking and ties break on the term — rank order is deterministic
    * on both engines. */
  private def textTfidf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = documents(spark, dir)
    val tf = docs.select(col("doc_id"), explode(toks).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.filter(size(toks) > 0).agg(count(lit(1)).as("n_docs"))
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf", graft.Parity.r6(
        col("tf") * log(col("n_docs").cast(DoubleType) / col("df"))))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term")))
        .cast(LongType))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("tfidf"), col("rk"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** End-to-end curation decision: combine quality signals into a
    * keep/drop verdict with a reason — the shape of a real training-data
    * quality filter (thresholds are illustrative). Pure CASE logic over
    * exact-deterministic divisions ⇒ oracle-checked. */
  private def textQualityFilter(spark: SparkSession, dir: String): DataFrame = {
    val nWords = size(toks)
    val stop = Seq("the", "a", "of", "and", "to", "in")
    val stopRatio = size(filter(toks, t => t.isin(stop: _*))).cast(DoubleType) / nWords
    val distinctRatio = size(array_distinct(toks)).cast(DoubleType) / nWords
    documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        nWords.cast(LongType).as("n_words"),
        stopRatio.as("stop_ratio"), distinctRatio.as("distinct_ratio"))
      .withColumn("verdict",
        when(col("n_words") < 20, "drop:too_short")
          .when(col("distinct_ratio") < 0.3, "drop:repetitive")
          .when(col("stop_ratio") > 0.5, "drop:boilerplate")
          .otherwise("keep"))
      .orderBy(col("doc_id"))
  }

  /** Heuristic language-ID: score per language = fraction of tokens in
    * that language's tiny marker lexicon; argmax with a fixed
    * first-wins tie-break (fold order en,fr,es,de,zh — a later language
    * wins only when STRICTLY greater). Deterministic marker counting +
    * single exact-int divisions ⇒ oracle-checked: DuckDB recomputes the
    * scores and mirrors the tie-break as a reversed strict-greater CASE
    * chain. */
  private def textLangId(spark: SparkSession, dir: String): DataFrame = {
    val markers = Seq(
      "en" -> Seq("the", "a", "of", "and", "to", "data", "value"),
      "fr" -> Seq("le", "la", "de", "et", "un"),
      "es" -> Seq("el", "la", "de", "y", "un"),
      "de" -> Seq("der", "die", "das", "und", "ein"),
      "zh" -> Seq("de", "shi", "le"))
    // explode once, score with conditional aggregates (codegen'd) — a
    // per-language filter-lambda column would re-run the tokenizer per
    // reference (no CSE inside higher-order functions)
    val words = graft.Tables.fanout(documents(spark, dir))
      .select(col("doc_id"), col("lang"), explode(toks).as("word"))
    val scoreCols = markers.map { case (l, ws) =>
      (sum(when(col("word").isin(ws: _*), 1L).otherwise(0L)).cast(DoubleType) /
        count(lit(1))).as(s"score_$l")
    }
    val scored = words.groupBy(col("doc_id"), col("lang"))
      .agg(scoreCols.head, scoreCols.tail: _*)
    val best = markers.map(_._1).foldLeft(lit("und").as("p") -> lit(-1.0).as("s")) {
      case ((p, s), l) =>
        val better = col(s"score_$l") > s
        (when(better, lit(l)).otherwise(p), when(better, col(s"score_$l")).otherwise(s))
    }
    scored.select(col("doc_id"), col("lang").as("labeled_lang"),
        best._1.as("predicted_lang"), best._2.as("score"))
      .orderBy(col("doc_id"))
  }

  /** Canonical text normalization — the first stage of every dedup /
    * quality pipeline: lowercase, strip non-alphanumerics, collapse
    * whitespace runs, trim. Pure per-row projection (no shuffle); both
    * engines run the identical ASCII regexes so the md5 of the
    * normalized form is bit-identical cross-engine. */
  private def textNormalize(spark: SparkSession, dir: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
    graft.Tables.fanout(documents(spark, dir)) // per-row regex work
      .select(col("doc_id"), norm.as("norm_text"))
      .select(col("doc_id"), col("norm_text"),
        length(col("norm_text")).cast(LongType).as("norm_chars"),
        md5(col("norm_text")).as("norm_fp"))
  }

  /** PII redaction over event payloads: emails, phone-shaped numbers,
    * and residual digit runs are replaced with typed placeholders, with
    * per-category match counts for audit. The contact line is
    * synthesized deterministically from (user_id, event_id, props) —
    * the driver data carries no real PII — so both engines build and
    * redact the identical string; replacement ORDER matters (email
    * first: its digits must not be half-eaten by the number pass).
    * Per-row regex work → `fanout` spreads single-split inputs. */
  private def textPiiRedact(spark: SparkSession, dir: String): DataFrame = {
    val email = "[a-z0-9.]+@[a-z0-9.]+"
    val phone = "[0-9]{3}-[0-9]{4}"
    val num = "[0-9]+"
    val contact = concat(
      lit("reach user"), col("user_id").cast(StringType),
      lit("@example.com or 555-"),
      lpad((col("event_id") % 10000).cast(StringType), 4, "0"),
      lit(" ref "), col("props"))
    graft.Tables.fanout(events(spark, dir))
      .select(col("event_id"), contact.as("contact"))
      .select(
        col("event_id"),
        regexp_replace(regexp_replace(regexp_replace(col("contact"),
          email, "<EMAIL>"), phone, "<PHONE>"), num, "<NUM>").as("redacted"),
        size(regexp_extract_all(col("contact"), lit(email), lit(0)))
          .cast(LongType).as("n_emails"),
        size(regexp_extract_all(col("contact"), lit(phone), lit(0)))
          .cast(LongType).as("n_phones"))
  }

  /** Corpus n-gram statistics: top-50 bigrams by total occurrences with
    * document frequency — the building block for boilerplate detection
    * and contamination scans. One explode → hash-agg (map-side
    * combine); shuffle volume is the bigram vocabulary, not the corpus.
    * Exact distinct doc counts stay cheap because the group key (the
    * bigram) already partitions the shuffle. */
  private def textNgrams(spark: SparkSession, dir: String): DataFrame = {
    val bg = explode(transform(sequence(lit(1), size(col("tk")) - 1),
      i => concat_ws(" ", slice(col("tk"), i, lit(2))))).as("bg")
    documents(spark, dir)
      .select(col("doc_id"), toks.as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"), bg)
      .groupBy(col("bg"))
      .agg(count(lit(1)).as("cnt"), countDistinct(col("doc_id")).as("doc_freq"))
      .orderBy(col("cnt").desc, col("bg"))
      .limit(50)
  }

  /** Two-phase exact heavy hitters: a Misra–Gries sketch pass (custom
    * TypedImperativeAggregate, ≤40 counters per partial buffer — see
    * functions.MisraGriesAgg) shrinks the candidate set without ever
    * shuffling the full vocabulary, then ONE exact count of just the
    * candidates. MG's guarantee (every item with true freq > n/41
    * survives) makes the final output exact and order-independent even
    * though intermediate sketch counts aren't — which is why this
    * sketch pipeline can carry a DuckDB oracle (plain GROUP BY/HAVING)
    * that pure-sketch ops like agg_approx_distinct cannot.
    *
    * Exactly TWO corpus scans — the floor for exact heavy hitters
    * (candidates are unknowable until the sketch pass ends): the total
    * token count folds INTO the sketch pass as a sibling aggregate of
    * the same scan, and the threshold rides along the broadcast
    * candidate list into the recount — no third scan, no second
    * driver round-trip. */
  private def textHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val words = documents(spark, dir).select(explode(toks).as("word"))
    val cand = words
      .agg(expr("mg_topk(word, 40)").as("mg"), count(lit(1)).as("total"))
      .select(explode(col("mg")).as("c"), col("total"))
      .select(col("c.item").as("word"), col("total"))
    words.join(broadcast(cand), "word") // cand is distinct ⇒ inner ≡ semi
      .groupBy(col("word"), col("total")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > col("total") / 41.0)
      .select(col("word"), col("cnt"))
      .orderBy(col("cnt").desc, col("word"))
  }

  /** The canonical curation pipeline as ONE dataflow — normalize →
    * quality-gate → exact-dedup (keep min doc per fingerprint) →
    * redact → per-language corpus stats. Demonstrates that the
    * individual operators COMPOSE into a single Catalyst plan: the
    * scan is read once, filters fuse, and the only shuffles are the
    * dedup window and the final stats aggregate. Every stage is
    * deterministic, so the full five-stage pipeline hash-matches the
    * DuckDB CTE chain end-to-end. */
  private def pipelineCurateCorpus(spark: SparkSession, dir: String): DataFrame = {
    val normText = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
    val tk = filter(split(col("norm_text"), " "), t => t =!= "")
    val norm = graft.Tables.fanout(documents(spark, dir))
      .select(col("doc_id"), col("lang"), normText.as("norm_text"))
      .withColumn("n_words", size(tk).cast(LongType))
      .withColumn("distinct_ratio",
        size(array_distinct(tk)).cast(DoubleType) / size(tk))
    val kept = norm.filter(col("n_words") >= 20 && col("distinct_ratio") >= 0.3)
      .withColumn("fp", md5(concat_ws(" ", array_sort(tk))))
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    val deduped = kept.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    deduped
      .withColumn("redacted", regexp_replace(col("norm_text"), "[0-9]+", "<num>"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(filter(split(col("redacted"), " "), t => t =!= "")).cast(LongType))
          .as("total_tokens"),
        graft.Parity.r4(avg(col("distinct_ratio"))).as("avg_distinct_ratio"))
      .orderBy(col("lang"))
  }

  /** Per-source token-distribution Shannon entropy + perplexity — the
    * mixture-drift monitor for a training corpus: a source whose
    * entropy collapses went template-y or duplicated; one that spikes
    * went noisy. Identity: H = ln N − (Σ c·ln c)/N over per-token
    * counts, so the whole computation is two map-side-combinable
    * hash-aggs (token counts, then per-source moments) — no sort, no
    * window. ln is transcendental ⇒ rounded r6 before the compare
    * (same posture as every transcendental-bearing oracle op);
    * perplexity exponentiates the ALREADY-ROUNDED entropy so drift
    * cannot compound. */
  private def textEntropy(spark: SparkSession, dir: String): DataFrame = {
    val cnt = fanout(documents(spark, dir))
      .select(col("source"), explode(toks).as("t"))
      .groupBy(col("source"), col("t")).agg(count(lit(1)).as("c"))
    val ent = Parity.r6(
      log(col("n_tokens").cast("double")) - col("clogc") / col("n_tokens"))
    cnt.groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("vocab"),
        sum(col("c").cast("double") * log(col("c").cast("double"))).as("clogc"))
      .select(col("source"), col("n_tokens"), col("vocab"),
        ent.as("entropy"), Parity.r2(exp(ent)).as("perplexity"))
      .orderBy(col("source"))
  }

  /** Flesch-style readability scoring — the classic quality-filter
    * signal (too-hard and too-easy documents both correlate with
    * boilerplate/noise): words per sentence (sentence = a [.!?]+ run)
    * and a vowel-group syllable proxy, combined with the Flesch
    * reading-ease constants. The whole score is ×,÷,−, each exactly
    * rounded and written in the identical order on both engines ⇒
    * bit-exact with NO rounding formula. Pure per-row projection — no
    * shuffle at all beyond the deterministic output sort. */
  private def textReadability(spark: SparkSession, dir: String): DataFrame = {
    val words = greatest(lit(1), size(toks)).cast("double")
    val sentences = greatest(lit(1), regexp_count(col("text"), lit("[.!?]+")))
      .cast("double")
    val syllables = greatest(lit(1),
      regexp_count(lower(col("text")), lit("[aeiou]+"))).cast("double")
    val wps = words / sentences
    val spw = syllables / words
    fanout(documents(spark, dir))
      .select(col("doc_id"), words.cast("long").as("n_words"),
        sentences.cast("long").as("n_sentences"),
        wps.as("words_per_sentence"), spw.as("syllables_per_word"),
        (lit(206.835) - lit(1.015) * wps - lit(84.6) * spw).as("flesch"))
      .orderBy(col("doc_id"))
  }

  /** The fixture vocabulary as a DuckDB list literal, and the shared
    * recursive-CTE prelude that segments every DISTINCT corpus word by
    * the same greedy longest-match walk the Spark side runs (the
    * oracle's recursion carries (pos, pieces-so-far) per word; `m` is
    * the longest vocab piece prefixing the remainder, else 1). */
  private val bpeVocabSql: String =
    bpeVocab.map(p => s"'$p'").mkString("[", ",", "]")

  private[operators] val bpeSegSql: String =
    s"""WITH RECURSIVE vocab(piece) AS (SELECT unnest($bpeVocabSql)),
       | uw AS (
       |  SELECT DISTINCT unnest(list_filter(string_split(text, ' '),
       |    t -> t <> '')) AS wd
       |  FROM documents),
       | seg(wd, pos, toks) AS (
       |  SELECT wd, 1, '' FROM uw
       |  UNION ALL
       |  SELECT wd, pos + m, toks || ' ' || substr(wd, pos, m)
       |  FROM (SELECT wd, pos, toks,
       |    coalesce((SELECT max(len(piece)) FROM vocab v
       |      WHERE substr(wd, pos, len(piece)) = v.piece), 1) AS m
       |   FROM seg WHERE pos <= len(wd)) s),
       | wt AS (
       |  SELECT wd, ltrim(toks) AS toks,
       |   CAST(len(string_split(ltrim(toks), ' ')) AS BIGINT) AS ntok
       |  FROM seg WHERE pos > len(wd)),
       | d AS (SELECT doc_id, text, source, n_chars,
       |   list_filter(string_split(text, ' '), t -> t <> '') AS tk
       |  FROM documents),
       | e AS (SELECT doc_id, i, tk[i] AS wd
       |  FROM d, unnest(range(1, len(tk) + 1)) AS r(i))""".stripMargin

  /** Incremental winnowing ingest — the persisted-index shape
    * `dedup_incremental` proved for MinHash, mirrored for MOSS
    * fingerprints: the HISTORY corpus's (doc, fingerprint) index is
    * built once and PERSISTED (content-addressed parquet — at lake
    * scale, the curated artifact each ingest batch appends to); a new
    * BATCH (doc_id % 5 = 4 stands in for today's crawl) is
    * fingerprinted fresh and probed (1) against the stored index and
    * (2) against itself. Per-ingest work is O(batch fingerprints) plus
    * one fingerprint-keyed equi-join against the index — the full
    * corpus is never re-fingerprinted.
    *
    * Invariant (InvariantSpec): index-path output ≡ the monolithic
    * full-corpus fingerprint join restricted to pairs touching the
    * batch — the persisted index loses nothing. */
  private def dedupWinnowingIncremental(spark: SparkSession, dir: String): DataFrame = {
    def fpOf(docs: DataFrame): DataFrame =
      winnowSelectionsOf(docs).select(col("doc_id"), col("wmin")).distinct()
    val idxBase = graft.Caches.once(spark, "wnindex_v1", dir, Seq("documents"))(
      fpOf(fanout(documents(spark, dir)).filter(col("doc_id") % 5 =!= 4))
        .write.parquet(_))
    val hist = read(spark, idxBase)
    val batch = fpOf(fanout(documents(spark, dir)).filter(col("doc_id") % 5 === 4))
      .localCheckpoint()
    val vsHist = batch.as("n").join(hist.as("h"), col("n.wmin") === col("h.wmin"))
      .groupBy(col("h.doc_id").as("doc_a"), col("n.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("origin", lit("history"))
    val vsBatch = batch.as("a").join(batch.as("b"),
        col("a.wmin") === col("b.wmin") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("origin", lit("batch"))
    vsHist.unionByName(vsBatch)
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("origin"))
      .orderBy(col("origin"), col("doc_a"), col("doc_b"))
  }

  /** (doc_id, b): the hashed-feature relation shared by the fixture
    * scorer and the in-engine trainer — md5-hashed word uni+bigrams
    * folded into B=64 buckets, one row per feature OCCURRENCE. */
  private def hashedFeats(spark: SparkSession, dir: String): DataFrame = {
    val bg = transform(sequence(lit(1), size(col("tk")) - 1),
      i => concat_ws(" ", slice(col("tk"), i, lit(2))))
    fanout(documents(spark, dir))
      .select(col("doc_id"), toks.as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"), explode(concat(col("tk"), bg)).as("feat"))
      .select(col("doc_id"),
        (conv(substring(md5(concat(lit("qc:"), col("feat"))), 1, 4), 16, 10)
          .cast(LongType) % 64).as("b"))
  }

  /** Apply a (fasttext-shaped) hashed-feature linear classifier to
    * every document — the model-apply step a curation pipeline runs at
    * full-corpus scale to score quality/toxicity/domain: features are
    * md5-hashed word uni+bigrams folded into B=64 buckets, the
    * "trained" model is a 64-row weight table BROADCAST into the
    * scoring join, and the doc score is the mean feature weight pushed
    * through a logistic link. Swapping the deterministic fixture
    * weights for a really-trained table is a data change, not a plan
    * change — the operator shape (explode → bucket → broadcast model
    * join → per-doc agg) is the deliverable.
    *
    * Parity: weights are INTEGER centi-units ((b·37) mod 101 − 50), so
    * the per-doc sum is an exact BIGINT in any summation order; the
    * only float ops are one exactly-rounded division and the final
    * exp(), r6-rounded like every libm call in an oracle-checked
    * query. The label thresholds on the exact integer sum (sigmoid ≥
    * 0.5 ⇔ Σw ≥ 0) — bit-exact cross-engine, no float boundary.
    *
    * Scale: shuffle volume is one (doc_id, sum, count) partial-agg row
    * per doc per partition (map-side combine); the model join is a
    * 64-row broadcast. No vocabulary-sized state anywhere. */
  private def textClassifierScore(spark: SparkSession, dir: String): DataFrame = {
    val feats = hashedFeats(spark, dir)
    val model = spark.range(64).select(col("id").as("b"),
      ((col("id") * 37) % 101 - 50).as("w"))
    feats.join(broadcast(model), "b")
      .groupBy(col("doc_id"))
      .agg(sum(col("w")).as("sw"), count(lit(1)).as("n_features"))
      .select(col("doc_id"), col("n_features"),
        Parity.r6(lit(1.0) / (lit(1.0) + exp((-col("sw")).cast(DoubleType) /
          (col("n_features") * 100).cast(DoubleType)))).as("score"),
        when(col("sw") >= 0, 1L).otherwise(0L).as("label"))
      .orderBy(col("doc_id"))
  }

  /** Number of sequential-perceptron passes over the training sample,
    * and the sample cap. Mirrored as literals in the recursive oracle
    * SQL (clsFitRecSql) — change BOTH together. */
  private[operators] val ClsFitEpochs = 20
  private[operators] val ClsFitSampleCap = 500

  /** In-engine training for the hashed-feature linear classifier: the
    * classic SEQUENTIAL perceptron (one misclassified doc at a time,
    * unit rate) over a capped deterministic hash-sample, distilling
    * the fixture model's labels (teacher y = sign of the fixture
    * margin). Sequential matters: the earlier full-batch variant's
    * summed updates were dominated by the common doc-length direction
    * and 2-cycled between all-positive and all-negative models
    * (measured: student predicted +1 for every doc, 52% teacher
    * agreement = the base rate; the InvariantSpec holdout contract is
    * the tripwire for that regime). Per-doc updates adapt the margin
    * after every mistake — the form the perceptron convergence theorem
    * covers — and the same sample measures 96% agreement at sf0.001.
    *
    * Every quantity is an exact BIGINT (margins Σ count_b·w_b over
    * integer weights, updates ±count_b), so the whole epoch trajectory
    * is oracle-checkable: DuckDB re-derives the identical fold with ONE
    * recursive CTE whose working row carries the 64-weight vector as a
    * list, stepping doc-by-doc in the same (md5(doc_id), doc_id)
    * order (clsFitRecSql — validated to match this fold bit-for-bit).
    *
    * Scale: training cost is decoupled from corpus size by the SAMPLE
    * (≤ [[ClsFitSampleCap]] docs chosen by md5 order — content-stable,
    * corpus-order-free; the IVF-centroid recipe). The cluster reduces
    * the corpus to per-sample-doc (bucket, count) rows — one
    * map-side-combinable aggregate and a semi-join — and the driver
    * folds ≤ cap×64 longs, the same bounded-artifact contract as the
    * IVF centroids; weights persist per corpus CONTENT so scoring
    * reuses the trained model (train-once, apply-many). The APPLY side
    * (fit_score) stays fully distributed over every doc. */
  private[operators] def fitClassifier(
      spark: SparkSession, dir: String,
      epochs: Int = ClsFitEpochs): Seq[Array[Long]] = {
    // both tunables in the kind: a cap change must miss the cache too
    val kind = s"clsfit_e${epochs}_c${ClsFitSampleCap}_v1"
    val base = graft.Caches.once(spark, kind, dir, Seq("documents")) { out =>
      val cnt = hashedFeats(spark, dir)
        .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
      val lab = cnt
        .withColumn("wf", (col("b") * 37) % 101 - 50)
        .groupBy(col("doc_id")).agg(sum(col("c") * col("wf")).as("sw"))
        .select(col("doc_id"), when(col("sw") >= 0, 1L).otherwise(-1L).as("y"))
      val sampleIds = lab
        .select(col("doc_id"), md5(col("doc_id").cast(StringType)).as("hk"))
        .orderBy(col("hk"), col("doc_id")).limit(ClsFitSampleCap)
        .select(col("doc_id"), col("hk"))
      // ≤ cap×64 rows to the driver: the training sample, nothing more
      val rows = cnt.join(lab, "doc_id").join(sampleIds, "doc_id")
        .select(col("doc_id"), col("hk"), col("b"), col("c"), col("y"))
        .collect()
      val docs = rows.groupBy(r => (r.getString(1), r.getLong(0))).toSeq
        .sortBy(_._1) // (md5 hex, doc_id) — the oracle's ORDER BY
        .map { case (_, rs) =>
          val y = rs.head.getLong(4)
          val cv = Array.fill(64)(0L)
          rs.foreach(r => cv(r.getLong(2).toInt) = r.getLong(3))
          (y, cv)
        }
      val w = Array.fill(64)(0L)
      val steps = (1 to epochs).map { _ =>
        docs.foreach { case (y, cv) =>
          var mg = 0L
          var i = 0
          while (i < 64) { mg += w(i) * cv(i); i += 1 }
          if (y * mg <= 0L) {
            i = 0
            while (i < 64) { w(i) += y * cv(i); i += 1 }
          }
        }
        w.mkString(",")
      }
      graft.Caches.writeLines(spark, s"$out/weights.csv", steps)
    }
    graft.Caches.readLines(spark, s"$base/weights.csv").map(_.split(',').map(_.toLong))
  }

  /** The learned weight trajectory, (iter, bucket, weight) — every
    * epoch-end snapshot so the oracle checks the whole optimization
    * path, not just the endpoint. See [[fitClassifier]] for
    * semantics. */
  private def textClassifierFit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    fitClassifier(spark, dir).zipWithIndex.flatMap { case (ws, i) =>
      ws.zipWithIndex.map { case (wv, b) => (i + 1L, b.toLong, wv) }
    }.toDF("iter", "b", "w").orderBy(col("iter"), col("b"))
  }

  /** text_classifier_score consuming the TRAINED weights: per-doc
    * margin under the fit model, its label, the teacher (fixture)
    * label, and whether they agree — the student-vs-teacher audit a
    * distillation pipeline publishes. All-integer (margins and labels
    * threshold exact BIGINTs); the scoring join is the same explode →
    * bucket → 64-entry broadcast map → per-doc agg as the fixture
    * scorer. */
  private def textClassifierFitScore(spark: SparkSession, dir: String): DataFrame = {
    val w = fitClassifier(spark, dir).last
    val wlit = map(Array.tabulate(64)(b =>
      Seq(lit(b.toLong), lit(w(b)))).flatten.toIndexedSeq: _*)
    hashedFeats(spark, dir)
      .select(col("doc_id"), element_at(wlit, col("b")).as("wl"),
        ((col("b") * 37) % 101 - 50).as("wf"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_features"), sum(col("wl")).as("margin"),
        sum(col("wf")).as("sw"))
      .select(col("doc_id"), col("n_features"), col("margin"),
        when(col("margin") >= 0, 1L).otherwise(0L).as("label"),
        when(col("sw") >= 0, 1L).otherwise(0L).as("teacher"))
      .withColumn("agree", when(col("label") === col("teacher"), 1L).otherwise(0L))
      .orderBy(col("doc_id"))
  }

  /** Reliability diagram + ECE + Brier for the TRAINED student
    * classifier against its teacher labels — the calibration audit a
    * distillation pipeline publishes next to the agreement number
    * (fit_score): a student can agree 96% yet be badly over-confident,
    * and a curation threshold on its probabilities then lands in the
    * wrong place. Per-doc probability p = σ(margin/(100·n_features))
    * is quantized to 1e-6 BIGINTs at the doc level, so every bin
    * statistic is exact-integer: avg confidence = Σpq/(n·10⁶),
    * observed rate = pos/n, and BOTH corpus summaries reduce to exact
    * integer numerators — ECE = Σ_b|Σpq_b − 10⁶·pos_b| / (N·10⁶)
    * (the per-bin |confidence−accuracy| weighted sum, folded to ONE
    * exact sum), Brier = Σ(pq − 10⁶y)² / (N·10¹²) with the squares
    * summed as DECIMAL(38,0). No float accumulates anywhere; the only
    * libm call is the σ() the fixture scorer already proved
    * cross-engine under r6 quantization.
    *
    * Scale: the scoring pass is fit_score's (explode → 64-row
    * broadcast → per-doc combinable agg); binning adds one 10-row
    * hash-agg and windows over those 10 rows. */
  private def textClassifierCalibration(spark: SparkSession, dir: String): DataFrame = {
    val w = fitClassifier(spark, dir).last
    val wlit = map(Array.tabulate(64)(b =>
      Seq(lit(b.toLong), lit(w(b)))).flatten.toIndexedSeq: _*)
    val dec = DecimalType(38, 0)
    val scored = hashedFeats(spark, dir)
      .select(col("doc_id"), element_at(wlit, col("b")).as("wl"),
        ((col("b") * 37) % 101 - 50).as("wf"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nf"), sum(col("wl")).as("margin"),
        sum(col("wf")).as("sw"))
      .select(
        floor((lit(1.0) / (lit(1.0) + exp((-col("margin")).cast(DoubleType) /
          (col("nf") * 100).cast(DoubleType)))) * 1000000 + lit(0.5))
          .cast(LongType).as("pq"),
        when(col("sw") >= 0, 1L).otherwise(0L).as("y"))
    val binned = scored
      .withColumn("bin", least(floor(col("pq") / lit(100000.0)).cast(LongType), lit(9L)))
      .withColumn("dq", col("pq") - lit(1000000L) * col("y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("pq")).as("spq"),
        sum(col("y")).as("pos"),
        sum((col("dq") * col("dq")).cast(dec)).as("sdq2"))
    val all = Window.partitionBy(lit(1))
    binned
      .withColumn("ntot", sum(col("n")).over(all))
      .withColumn("ecenum", sum(abs(col("spq") - lit(1000000L) * col("pos"))).over(all))
      .withColumn("briernum", sum(col("sdq2")).over(all))
      .select(col("bin"), col("n"), col("pos"),
        (col("spq").cast(DoubleType) /
          (col("n") * lit(1000000L)).cast(DoubleType)).as("avg_conf"),
        (col("pos").cast(DoubleType) / col("n").cast(DoubleType)).as("pos_rate"),
        abs(col("spq").cast(DoubleType) /
            (col("n") * lit(1000000L)).cast(DoubleType) -
          col("pos").cast(DoubleType) / col("n").cast(DoubleType)).as("gap"),
        (col("ecenum").cast(DoubleType) /
          (col("ntot").cast(DoubleType) * lit(1000000.0))).as("ece"),
        (col("briernum").cast(DoubleType) /
          (col("ntot").cast(DoubleType) * lit(1000000000000.0))).as("brier"))
      .orderBy(col("bin"))
  }

  /** The greenlist membership bit for one adjacent-token pair — shared
    * by [[textWatermarkDetect]] and PipelineSpec's "screen" verb so the
    * declarative pipeline screen and the audit query key identically. */
  private[graft] def isGreenPair(b: Column): Column =
    conv(substring(md5(concat(lit("wm:"), b)), 1, 4), 16, 10)
      .cast(LongType) % 2 === 0

  /** Statistical watermark detection (Kirchenbauer-style greenlist
    * test) — the provenance screen a training-data pipeline runs to
    * keep synthetic text out of a human-text corpus: a watermarking
    * sampler biases each next token toward a pseudorandom "green"
    * half of the vocabulary keyed by the previous token, so a
    * watermarked doc shows a green-fraction far above the 1/2 a
    * human text produces. Per doc: green(prev,cur) = parity of
    * md5("wm:" ‖ prev ‖ " " ‖ cur), g of n adjacent pairs green,
    * one-proportion z = (2g − n)/√n, flag at z > 4 (≈3e−5 false-pos
    * per doc under H₀). All counting is exact integers; z is a fixed
    * three-op double sequence. InvariantSpec plants a greedily
    * green-sampled doc (z ≈ √n) beside natural docs to prove the
    * detector separates them.
    *
    * Scale: completely stateless per row — the pair walk is an array
    * fold (filter+size) inside codegen, no explode, no shuffle; the
    * only shuffle is the output sort. */
  private def textWatermarkDetect(spark: SparkSession, dir: String): DataFrame = {
    val bg = transform(sequence(lit(1), size(col("tk")) - 1),
      i => concat_ws(" ", slice(col("tk"), i, lit(2))))
    fanout(documents(spark, dir))
      .select(col("doc_id"), toks.as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"), bg.as("pairs"))
      .select(col("doc_id"),
        size(col("pairs")).cast(LongType).as("n_pairs"),
        size(filter(col("pairs"), isGreenPair _)).cast(LongType).as("greens"))
      .select(col("doc_id"), col("n_pairs"), col("greens"),
        Parity.r6((lit(2.0) * col("greens").cast(DoubleType) -
          col("n_pairs").cast(DoubleType)) /
          sqrt(col("n_pairs").cast(DoubleType))).as("z_green"),
        when((lit(2.0) * col("greens").cast(DoubleType) -
          col("n_pairs").cast(DoubleType)) /
          sqrt(col("n_pairs").cast(DoubleType)) > lit(4.0), 1L)
          .otherwise(0L).as("watermarked"))
      .orderBy(col("doc_id"))
  }

  /** Zipf's-law fit over the corpus term-frequency distribution: OLS
    * of ln(freq) on ln(rank) for the top-200 terms (slope ≈ −1 for
    * natural text; a flat or broken slope is a classic synthetic /
    * boilerplate corpus smell). The corpus reduces to term counts in
    * one map-side-combinable agg; the top-200 cut is a distributed
    * TakeOrdered (never a global sort), and the rank window + the
    * regr_* merge aggregates run on those 200 metadata rows. Rounding
    * per the agg_regression precedent (engine merge formulas differ in
    * ulps, never in rounded digits at this scale). */
  private def textZipf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = documents(spark, dir)
      .select(explode(toks).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("term")).limit(200)
    top
      .withColumn("rank",
        row_number().over(Window.orderBy(col("freq").desc, col("term"))))
      .select(log(col("rank").cast(DoubleType)).as("lx"),
        log(col("freq").cast(DoubleType)).as("ly"))
      .agg(
        Parity.r4(regr_slope(col("ly"), col("lx"))).as("slope"),
        Parity.r4(regr_intercept(col("ly"), col("lx"))).as("intercept"),
        Parity.r4(regr_r2(col("ly"), col("lx"))).as("r2"),
        count(lit(1)).as("n_terms"))
  }

  /** The DATASET CARD: per (lang, source) — doc and char counts, both
    * token billings (whitespace + fixture-BPE subwords), exact-dup doc
    * count (md5 collision anywhere in the corpus), and the
    * text_quality_filter keep-rate. This is the one-stop summary a
    * curation pipeline publishes next to a shipped dataset; it
    * deliberately COMPOSES the repo's existing primitives (subword
    * billing, dup hashing, the quality verdict) into a single grouped
    * pass so the card can never drift from the operators it reports
    * on.
    *
    * Scale: one doc-scan projection computes every per-doc field
    * (subword count inline via the codegen'd expression — no
    * distinct-words join); the dup set is a self-grouped md5 relation
    * joined back on hash (AQE picks broadcast when rare, shuffle when
    * not); the final rollup is one map-side-combinable hash agg on
    * (lang, source). */
  private def pipelineDatasetCard(spark: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to", "in")
    val d = graft.Tables.fanout(documents(spark, dir))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        toks.as("tk"), md5(col("text")).as("h"),
        subwordCount(toks).as("sw"))
    val dups = d.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
      .select(col("h"), lit(1L).as("dup"))
    val base = d.join(dups, Seq("h"), "left")
      .na.fill(0L, Seq("dup"))
      .withColumn("wsn", size(col("tk")).cast(LongType))
      .withColumn("keep",
        when(col("wsn") >= 20 &&
          size(array_distinct(col("tk"))).cast(DoubleType) / col("wsn") >= 0.3 &&
          size(filter(col("tk"), t => t.isin(stop: _*))).cast(DoubleType) /
            col("wsn") <= 0.5, 1L).otherwise(0L))
    base.groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("wsn")).as("ws_tokens"),
        sum(col("sw")).as("subword_tokens"),
        sum(col("dup")).as("dup_docs"),
        graft.Parity.r6(sum(col("keep")).cast(DoubleType) / count(lit(1)))
          .as("keep_rate"))
      .orderBy(col("lang"), col("source"))
  }

  /** Per-doc n-gram NOVELTY against everything ingested before it
    * (corpus order = doc_id): the share of a doc's distinct 3-grams
    * whose FIRST corpus occurrence is this doc. The curve's decay is
    * the diminishing-returns diagnostic behind "how much new text does
    * the next crawl batch actually add" (and a per-doc near-dup
    * smell: novelty ≈ 0 ⇒ the doc restates earlier content).
    * First-occurrence is one min-aggregate on the shingle relation
    * (map-side combinable), joined back shingle-keyed — the same
    * no-pairwise shape as every dedup op here. */
  private def textNgramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val sh = graft.Tables.fanout(documents(spark, dir))
      .select(col("doc_id"), toks.as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"), explode(array_distinct(
        transform(sequence(lit(1), size(col("tk")) - 2),
          i => concat_ws(" ", element_at(col("tk"), i),
            element_at(col("tk"), i + 1), element_at(col("tk"), i + 2)))))
        .as("s"))
    val first = sh.groupBy(col("s")).agg(min(col("doc_id")).as("first_doc"))
    sh.join(first, "s")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        graft.Parity.r6(col("n_novel") / col("n_grams")).as("novelty"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB mirror of [[fitClassifier]]'s sequential fold — the oracle
    * re-derivation of the perceptron trajectory: featurize + teacher
    * labels, then ONE recursive CTE whose working row is (step, w)
    * with w the 64-weight vector as a BIGINT list — step s processes
    * sample doc (s mod n)+1 in the same (md5(doc_id), doc_id) order,
    * updating w iff the doc is misclassified. All-BIGINT, so the chain
    * is bit-exact regardless of either engine's aggregation order. The
    * margin via list_inner_product is computed
    * in doubles but every value is an exact small integer (< 2^53), so
    * the <= 0 test is exact. MATERIALIZED hints stop DuckDB from
    * re-tokenizing the corpus on every recursive step. The 20 / 500
    * literals mirror [[ClsFitEpochs]] / [[ClsFitSampleCap]]. */
  private val clsFitRecSql: String =
    """WITH RECURSIVE tk AS MATERIALIZED (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
      |  FROM documents),
      | f AS MATERIALIZED (
      |  SELECT doc_id, unnest(t || list_transform(generate_series(1, len(t) - 1),
      |    i -> concat_ws(' ', t[i], t[i+1]))) AS feat
      |  FROM tk WHERE len(t) >= 2),
      | h AS MATERIALIZED (
      |  SELECT doc_id,
      |   CAST(('0x' || substr(md5('qc:' || feat), 1, 4)) AS BIGINT) % 64 AS b
      |  FROM f),
      | cnt AS MATERIALIZED (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c
      |  FROM h GROUP BY 1, 2),
      | model AS (SELECT range AS b, (range * 37) % 101 - 50 AS w FROM range(64)),
      | lab AS MATERIALIZED (SELECT doc_id,
      |   CASE WHEN CAST(sum(c * w) AS BIGINT) >= 0 THEN CAST(1 AS BIGINT)
      |        ELSE CAST(-1 AS BIGINT) END AS y
      |  FROM cnt JOIN model USING (b) GROUP BY doc_id),
      | dv AS MATERIALIZED (
      |  SELECT doc_id,
      |   list_transform(generate_series(0, 63),
      |     bb -> coalesce(list_sum(list_transform(
      |       list_filter(l, x -> x.b = bb), x -> x.c)), 0)) AS cvec
      |  FROM (SELECT doc_id, list(struct_pack(b := b, c := c)) AS l
      |        FROM cnt GROUP BY doc_id)),
      | samp AS MATERIALIZED (
      |  SELECT row_number() OVER (
      |    ORDER BY md5(CAST(dv.doc_id AS VARCHAR)), dv.doc_id) AS p,
      |   dv.cvec, lab.y
      |  FROM dv JOIN lab ON dv.doc_id = lab.doc_id
      |  QUALIFY p <= 500),
      | nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM samp),
      | st AS (
      |  SELECT CAST(0 AS BIGINT) AS step,
      |   list_transform(generate_series(0, 63), x -> CAST(0 AS BIGINT)) AS w
      |  UNION ALL
      |  SELECT st.step + 1,
      |   CASE WHEN s.y * list_inner_product(
      |       list_transform(st.w, x -> CAST(x AS DOUBLE)),
      |       list_transform(s.cvec, x -> CAST(x AS DOUBLE))) <= 0
      |    THEN list_transform(generate_series(1, 64),
      |      i -> st.w[i] + s.y * s.cvec[i])
      |    ELSE st.w END
      |  FROM st JOIN nn ON true JOIN samp s ON s.p = (st.step % nn.n) + 1
      |  WHERE st.step < 20 * nn.n)""".stripMargin

  /** Stylometric source similarity — cosine between per-source
    * FUNCTION-WORD rate vectors (the classic authorship/style signal:
    * content words say what a corpus is about, function-word rates say
    * how it is written). The curation use: finding which sources are
    * stylistic near-duplicates of each other before setting mixture
    * weights — a complement to embedding-level dedup that needs no
    * model. Rates are single divisions of exact BIGINT counts; dot
    * products and norms fold sequentially over the word-sorted ≤6-row
    * vectors (list_reduce ORDER BY mirror) so every cosine is
    * bit-identical cross-engine before rounding.
    *
    * Scale: one token-explode hash-agg per (source, word) — function
    * words only, so the relation is #sources×6 — plus a per-source
    * total count; everything downstream (norm folds, the source×source
    * pair join) runs on that metadata relation. */
  private def textStyleSimilarity(spark: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to", "in")
    val tk = documents(spark, dir)
      .select(col("source"), explode(toks).as("tok"))
    val tot = tk.groupBy(col("source")).agg(count(lit(1)).as("tot"))
    val rates = tk.filter(col("tok").isin(stop: _*))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("cnt"))
      .join(tot, Seq("source"))
      .select(col("source"), col("tok"),
        (col("cnt").cast("double") / col("tot").cast("double")).as("r"))
    val norms = rates.groupBy(col("source"))
      .agg(sort_array(collect_list(struct(col("tok"), col("r")))).as("ws"))
      .select(col("source"),
        sqrt(aggregate(transform(col("ws"), x => x.getField("r") * x.getField("r")),
          lit(0.0), (a, x) => a + x)).as("nrm"))
    val a = rates.select(col("source").as("src_a"), col("tok"),
      col("r").as("ra"))
    val b = rates.select(col("source").as("src_b"), col("tok"),
      col("r").as("rb"))
    val dots = a.join(b, Seq("tok"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared_words"),
        sort_array(collect_list(struct(col("tok"),
          (col("ra") * col("rb")).as("p")))).as("ps"))
      .select(col("src_a"), col("src_b"), col("n_shared_words"),
        aggregate(transform(col("ps"), x => x.getField("p")), lit(0.0),
          (acc, x) => acc + x).as("dot"))
    val na = norms.select(col("source").as("src_a"), col("nrm").as("na"))
    val nb = norms.select(col("source").as("src_b"), col("nrm").as("nb"))
    dots.join(broadcast(na), Seq("src_a")).join(broadcast(nb), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_shared_words"),
        when(col("na") > 0.0 && col("nb") > 0.0,
          Parity.r6(col("dot") / (col("na") * col("nb")))).as("style_cos"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** RAKE keyword extraction — the classic unsupervised keyphrase
    * scorer: candidate phrases are the maximal stopword-free token
    * runs, each word scores deg/freq over the whole corpus (deg =
    * Σ length of the phrases it appears in — words that live in long
    * collocations outrank equally-frequent loners), and a phrase
    * scores the sum of its words; top-3 phrases per document. The
    * keyword/topic tagger a curation pipeline runs where TF-IDF
    * ([[textTfidf]]) ranks single terms only.
    *
    * Scale: phrase segmentation is a per-document cumulative count
    * over the token relation (partition = doc, the standard text-op
    * parallelism here), phrase length a (doc, phrase)-partitioned
    * count; the corpus-wide word table is vocabulary-sized and
    * broadcasts back. Float parity: wscore is ONE division of exact
    * BIGINTs; the phrase sum folds sequentially in position order
    * (list_reduce ORDER BY mirror), so scores are bit-identical
    * before the output rounding; ranking ties break on phrase text
    * then segment id. */
  private def textRakeKeywords(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stop = Seq("the", "a", "of", "and", "to", "in")
    val tk = documents(spark, dir)
      .select(col("doc_id"), posexplode(toks).as(Seq("pos", "tok")))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val marked = tk
      .withColumn("grp",
        sum(when(col("tok").isin(stop: _*), 1L).otherwise(0L)).over(wDoc))
      .filter(!col("tok").isin(stop: _*))
    val wPhrase = Window.partitionBy(col("doc_id"), col("grp"))
    val m2 = marked.withColumn("plen", count(lit(1)).over(wPhrase))
    val wordScore = m2.groupBy(col("tok"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      .select(col("tok"),
        (col("deg").cast("double") / col("freq").cast("double")).as("wscore"))
    val ph = m2.join(broadcast(wordScore), Seq("tok"))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("plen")).as("n_words"),
        sort_array(collect_list(struct(col("pos"), col("tok"), col("wscore"))))
          .as("wl"))
      .select(col("doc_id"), col("grp"), col("n_words"),
        concat_ws(" ", transform(col("wl"), x => x.getField("tok"))).as("phrase"),
        aggregate(transform(col("wl"), x => x.getField("wscore")), lit(0.0),
          (acc, x) => acc + x).as("pscore"))
    val wTop = Window.partitionBy(col("doc_id"))
      .orderBy(col("pscore").desc, col("phrase"), col("grp"))
    ph.withColumn("rnk", row_number().over(wTop).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("phrase"), col("n_words"),
        Parity.r6(col("pscore")).as("score"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("text_style_similarity", Some(
      """WITH tk AS (
        |  SELECT source, unnest(list_filter(string_split(text, ' '),
        |    t -> t <> '')) AS tok
        |  FROM documents),
        | tot AS (SELECT source, CAST(count(*) AS BIGINT) AS tot FROM tk GROUP BY 1),
        | rates AS (
        |  SELECT c.source, c.tok,
        |   CAST(c.cnt AS DOUBLE) / CAST(t.tot AS DOUBLE) AS r
        |  FROM (
        |   SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt FROM tk
        |   WHERE list_contains(['the','a','of','and','to','in'], tok)
        |   GROUP BY 1, 2) c
        |  JOIN tot t ON c.source = t.source),
        | norms AS (
        |  SELECT source,
        |   sqrt(list_reduce(list(r * r ORDER BY tok), (acc, x) -> acc + x)) AS nrm
        |  FROM rates GROUP BY 1),
        | dots AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |   CAST(count(*) AS BIGINT) AS n_shared_words,
        |   list_reduce(list(a.r * b.r ORDER BY a.tok), (acc, x) -> acc + x) AS dot
        |  FROM rates a JOIN rates b ON a.tok = b.tok AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, n_shared_words,
        | CASE WHEN na.nrm > 0.0 AND nb.nrm > 0.0 THEN
        |  floor(dot / (na.nrm * nb.nrm) * 1000000 + 0.5) / 1000000 END AS style_cos
        |FROM dots
        | JOIN norms na ON dots.src_a = na.source
        | JOIN norms nb ON dots.src_b = nb.source
        |ORDER BY src_a, src_b""".stripMargin),
      textStyleSimilarity),

    QueryDef("text_rake_keywords", Some(
      """WITH tk0 AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
        |  FROM documents),
        | tk AS (
        |  SELECT doc_id, CAST(u.i AS BIGINT) AS pos, t[u.i] AS tok
        |  FROM tk0, unnest(generate_series(1, len(t))) AS u(i)),
        | g AS (
        |  SELECT doc_id, pos, tok,
        |   CAST(sum(CASE WHEN list_contains(['the','a','of','and','to','in'], tok)
        |     THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY pos
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS grp
        |  FROM tk),
        | m AS (
        |  SELECT * FROM g
        |  WHERE NOT list_contains(['the','a','of','and','to','in'], tok)),
        | m2 AS (
        |  SELECT doc_id, pos, tok, grp,
        |   CAST(count(*) OVER (PARTITION BY doc_id, grp) AS BIGINT) AS plen
        |  FROM m),
        | ws AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS freq,
        |   CAST(sum(plen) AS BIGINT) AS deg
        |  FROM m2 GROUP BY 1),
        | sc AS (
        |  SELECT tok, CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE) AS wscore
        |  FROM ws),
        | ph AS (
        |  SELECT m2.doc_id, m2.grp, min(m2.plen) AS n_words,
        |   string_agg(m2.tok, ' ' ORDER BY m2.pos) AS phrase,
        |   list_reduce(list(sc.wscore ORDER BY m2.pos), (a, v) -> a + v) AS pscore
        |  FROM m2 JOIN sc ON m2.tok = sc.tok
        |  GROUP BY 1, 2),
        | r AS (
        |  SELECT doc_id, phrase, n_words, pscore,
        |   CAST(row_number() OVER (PARTITION BY doc_id
        |     ORDER BY pscore DESC, phrase, grp) AS BIGINT) AS rnk
        |  FROM ph)
        |SELECT doc_id, rnk, phrase, n_words,
        | floor(pscore * 1000000 + 0.5) / 1000000 AS score
        |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin),
      textRakeKeywords),

    QueryDef("text_ngram_novelty", Some(
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
        |  FROM documents),
        | sh AS (SELECT DISTINCT doc_id, s FROM (
        |   SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 2),
        |     i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
        |   FROM tk WHERE len(t) >= 3)),
        | f AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY 1)
        |SELECT sh.doc_id,
        | CAST(count(*) AS BIGINT) AS n_grams,
        | CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_novel,
        | floor((CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
        |     AS BIGINT) / CAST(count(*) AS BIGINT)) * 1000000 + 0.5) / 1000000
        |   AS novelty
        |FROM sh JOIN f ON sh.s = f.s
        |GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin),
      textNgramNovelty),
    QueryDef("pipeline_dataset_card", Some(
      s"""$bpeSegSql,
        | g AS (SELECT e.doc_id, CAST(sum(wt.ntok) AS BIGINT) AS sw
        |   FROM e JOIN wt ON e.wd = wt.wd GROUP BY e.doc_id),
        | q AS (
        |  SELECT doc_id, lang, source, n_chars,
        |   list_filter(string_split(text, ' '), t -> t <> '') AS tk,
        |   md5(text) AS h
        |  FROM documents),
        | dup AS (SELECT h FROM q GROUP BY h HAVING count(*) > 1),
        | base AS (
        |  SELECT q.lang, q.source, q.n_chars,
        |   CAST(len(tk) AS BIGINT) AS wsn,
        |   coalesce(g.sw, 0) AS sw,
        |   CASE WHEN q.h IN (SELECT h FROM dup) THEN 1 ELSE 0 END AS is_dup,
        |   CASE WHEN CAST(len(tk) AS BIGINT) >= 20
        |     AND CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(len(tk) AS BIGINT)
        |       >= 0.3
        |     AND CAST(len(list_filter(tk,
        |         t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS DOUBLE)
        |       / CAST(len(tk) AS BIGINT) <= 0.5
        |    THEN 1 ELSE 0 END AS keep
        |  FROM q LEFT JOIN g ON q.doc_id = g.doc_id)
        |SELECT lang, source,
        | CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS total_chars,
        | CAST(sum(wsn) AS BIGINT) AS ws_tokens,
        | CAST(sum(sw) AS BIGINT) AS subword_tokens,
        | CAST(sum(is_dup) AS BIGINT) AS dup_docs,
        | floor(CAST(sum(keep) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000
        |   AS keep_rate
        |FROM base GROUP BY 1, 2 ORDER BY lang, source""".stripMargin),
      pipelineDatasetCard),
    QueryDef("text_zipf", Some(
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
        |  FROM documents),
        | tf AS (
        |  SELECT term, count(*) AS freq
        |  FROM (SELECT unnest(t) AS term FROM tk) GROUP BY 1),
        | top AS (SELECT term, freq FROM tf ORDER BY freq DESC, term LIMIT 200),
        | r AS (
        |  SELECT ln(CAST(row_number() OVER (ORDER BY freq DESC, term)
        |     AS DOUBLE)) AS lx,
        |   ln(CAST(freq AS DOUBLE)) AS ly
        |  FROM top)
        |SELECT floor(regr_slope(ly, lx) * 10000 + 0.5) / 10000 AS slope,
        | floor(regr_intercept(ly, lx) * 10000 + 0.5) / 10000 AS intercept,
        | floor(regr_r2(ly, lx) * 10000 + 0.5) / 10000 AS r2,
        | CAST(count(*) AS BIGINT) AS n_terms
        |FROM r""".stripMargin),
      textZipf),
    QueryDef("text_classifier_score", Some(
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
        |  FROM documents),
        | f AS (
        |  SELECT doc_id, unnest(t || list_transform(generate_series(1, len(t) - 1),
        |    i -> concat_ws(' ', t[i], t[i+1]))) AS feat
        |  FROM tk WHERE len(t) >= 2),
        | h AS (
        |  SELECT doc_id,
        |   CAST(('0x' || substr(md5('qc:' || feat), 1, 4)) AS BIGINT) % 64 AS b
        |  FROM f),
        | model AS (SELECT range AS b, (range * 37) % 101 - 50 AS w FROM range(64)),
        | s AS (
        |  SELECT doc_id, sum(w) AS sw, count(*) AS n_features
        |  FROM h JOIN model USING (b) GROUP BY doc_id)
        |SELECT doc_id, n_features,
        | floor(CAST(1 AS DOUBLE) / (1 + exp(CAST(-sw AS DOUBLE)
        |   / CAST(100 * n_features AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS score,
        | CASE WHEN sw >= 0 THEN CAST(1 AS BIGINT) ELSE 0 END AS label
        |FROM s ORDER BY doc_id""".stripMargin), textClassifierScore),

    QueryDef("text_classifier_fit", Some(
      s"""$clsFitRecSql
        |SELECT CAST(st.step // nn.n AS BIGINT) AS iter, b, w
        |FROM (SELECT step, unnest(w) AS w,
        |        unnest(generate_series(0, 63)) AS b
        |      FROM st) st
        | JOIN nn ON st.step % nn.n = 0 AND st.step > 0
        |ORDER BY iter, b""".stripMargin), textClassifierFit),

    QueryDef("text_classifier_fit_score", Some(
      s"""$clsFitRecSql,
        | wl AS (SELECT unnest(generate_series(0, 63)) AS b, unnest(w) AS w
        |  FROM st JOIN nn ON st.step = 20 * nn.n),
        | s AS (SELECT h.doc_id, CAST(count(*) AS BIGINT) AS n_features,
        |   CAST(sum(wl.w) AS BIGINT) AS margin,
        |   CAST(sum(model.w) AS BIGINT) AS sw
        |  FROM h JOIN wl ON h.b = wl.b JOIN model ON h.b = model.b
        |  GROUP BY h.doc_id)
        |SELECT doc_id, n_features, margin,
        | CASE WHEN margin >= 0 THEN CAST(1 AS BIGINT) ELSE 0 END AS label,
        | CASE WHEN sw >= 0 THEN CAST(1 AS BIGINT) ELSE 0 END AS teacher,
        | CASE WHEN (margin >= 0) = (sw >= 0) THEN CAST(1 AS BIGINT) ELSE 0 END
        |   AS agree
        |FROM s ORDER BY doc_id""".stripMargin), textClassifierFitScore),

    QueryDef("text_watermark_detect", Some(
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
        |  FROM documents),
        | p AS (
        |  SELECT doc_id, list_transform(generate_series(1, len(t) - 1),
        |    i -> concat_ws(' ', t[i], t[i+1])) AS pairs
        |  FROM tk WHERE len(t) >= 2),
        | g AS (
        |  SELECT doc_id, CAST(len(pairs) AS BIGINT) AS n_pairs,
        |   CAST(len(list_filter(pairs, b ->
        |     CAST(('0x' || substr(md5('wm:' || b), 1, 4)) AS BIGINT) % 2 = 0))
        |     AS BIGINT) AS greens
        |  FROM p)
        |SELECT doc_id, n_pairs, greens,
        | floor((2.0 * CAST(greens AS DOUBLE) - CAST(n_pairs AS DOUBLE))
        |   / sqrt(CAST(n_pairs AS DOUBLE)) * 1000000 + 0.5) / 1000000
        |   AS z_green,
        | CASE WHEN (2.0 * CAST(greens AS DOUBLE) - CAST(n_pairs AS DOUBLE))
        |   / sqrt(CAST(n_pairs AS DOUBLE)) > 4.0 THEN CAST(1 AS BIGINT)
        |   ELSE 0 END AS watermarked
        |FROM g ORDER BY doc_id""".stripMargin), textWatermarkDetect),

    QueryDef("text_classifier_calibration", Some(
      s"""$clsFitRecSql,
        | wl AS (SELECT unnest(generate_series(0, 63)) AS b, unnest(w) AS w
        |  FROM st JOIN nn ON st.step = 20 * nn.n),
        | s AS (SELECT h.doc_id, CAST(count(*) AS BIGINT) AS nf,
        |   CAST(sum(wl.w) AS BIGINT) AS margin,
        |   CAST(sum(model.w) AS BIGINT) AS sw
        |  FROM h JOIN wl ON h.b = wl.b JOIN model ON h.b = model.b
        |  GROUP BY h.doc_id),
        | pd AS (
        |  SELECT CAST(floor((1.0 / (1.0 + exp(CAST(-margin AS DOUBLE) /
        |     CAST(nf * 100 AS DOUBLE)))) * 1000000 + 0.5) AS BIGINT) AS pq,
        |   CASE WHEN sw >= 0 THEN CAST(1 AS BIGINT) ELSE 0 END AS y
        |  FROM s),
        | bb AS (
        |  SELECT least(CAST(floor(pq / 100000.0) AS BIGINT), 9) AS bin,
        |   pq, y, pq - 1000000 * y AS dq
        |  FROM pd),
        | g AS (
        |  SELECT bin, CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(pq) AS BIGINT) AS spq, CAST(sum(y) AS BIGINT) AS pos,
        |   sum(CAST(dq AS HUGEINT) * dq) AS sdq2
        |  FROM bb GROUP BY 1),
        | t AS (
        |  SELECT bin, n, spq, pos,
        |   CAST(sum(n) OVER () AS BIGINT) AS ntot,
        |   CAST(sum(abs(spq - 1000000 * pos)) OVER () AS BIGINT) AS ecenum,
        |   sum(sdq2) OVER () AS briernum
        |  FROM g)
        |SELECT bin, n, pos,
        | CAST(spq AS DOUBLE) / CAST(n * 1000000 AS DOUBLE) AS avg_conf,
        | CAST(pos AS DOUBLE) / CAST(n AS DOUBLE) AS pos_rate,
        | abs(CAST(spq AS DOUBLE) / CAST(n * 1000000 AS DOUBLE)
        |   - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)) AS gap,
        | CAST(ecenum AS DOUBLE) / (CAST(ntot AS DOUBLE) * 1000000.0) AS ece,
        | CAST(briernum AS DOUBLE) / (CAST(ntot AS DOUBLE) * 1000000000000.0)
        |   AS brier
        |FROM t ORDER BY bin""".stripMargin), textClassifierCalibration),

    QueryDef("text_bpe_tokenize", Some(
      s"""$bpeSegSql,
        | g AS (SELECT e.doc_id, string_agg(wt.toks, ' ' ORDER BY e.i) AS sub,
        |   CAST(sum(wt.ntok) AS BIGINT) AS subword_tokens
        |  FROM e JOIN wt ON e.wd = wt.wd GROUP BY e.doc_id)
        |SELECT d.doc_id, CAST(len(d.tk) AS BIGINT) AS ws_tokens,
        | coalesce(g.subword_tokens, 0) AS subword_tokens,
        | md5(coalesce(g.sub, '')) AS sub_md5
        |FROM d LEFT JOIN g ON d.doc_id = g.doc_id
        |ORDER BY d.doc_id""".stripMargin), textBpeTokenize),

    QueryDef("text_bpe_pair_stats", Some(
      s"""$bpeSegSql,
        | wf AS (SELECT wd, count(*) AS f FROM e GROUP BY wd),
        | wp AS (SELECT wd, string_split(toks, ' ') AS ps FROM wt),
        | pairs AS (
        |  SELECT wp.ps[CAST(i AS INT)] AS pair_left,
        |   wp.ps[CAST(i + 1 AS INT)] AS pair_right, wf.f
        |  FROM wp JOIN wf USING (wd),
        |   unnest(range(1, len(wp.ps))) AS r(i))
        |SELECT pair_left, pair_right,
        | CAST(sum(f) AS BIGINT) AS pair_count,
        | pair_left || pair_right AS merged
        |FROM pairs GROUP BY pair_left, pair_right
        |ORDER BY pair_count DESC, pair_left, pair_right
        |LIMIT 50""".stripMargin), textBpePairStats),

    QueryDef("text_bpe_fertility", Some(
      s"""$bpeSegSql,
        | per AS (
        |  SELECT e.doc_id, CAST(sum(wt.ntok) AS BIGINT) AS sw
        |  FROM e JOIN wt ON e.wd = wt.wd GROUP BY e.doc_id)
        |SELECT d.source, doc.lang,
        | CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(len(d.tk)) AS BIGINT) AS ws_tokens,
        | CAST(sum(coalesce(per.sw, 0)) AS BIGINT) AS subword_tokens,
        | CASE WHEN sum(len(d.tk)) > 0
        |  THEN CAST(sum(coalesce(per.sw, 0)) AS DOUBLE)
        |    / CAST(sum(len(d.tk)) AS DOUBLE) END AS fertility
        |FROM d JOIN documents doc ON d.doc_id = doc.doc_id
        |LEFT JOIN per ON d.doc_id = per.doc_id
        |GROUP BY d.source, doc.lang
        |ORDER BY d.source, doc.lang""".stripMargin), textBpeFertility),

    QueryDef("text_bpe_apply_merge", Some(
      s"""$bpeSegSql,
        | wf AS (SELECT wd, count(*) AS f FROM e GROUP BY wd),
        | wp AS (SELECT wd, string_split(toks, ' ') AS ps FROM wt),
        | pairs AS (
        |  SELECT wp.ps[CAST(i AS INT)] AS pl,
        |   wp.ps[CAST(i + 1 AS INT)] AS pr, wf.f
        |  FROM wp JOIN wf USING (wd),
        |   unnest(range(1, len(wp.ps))) AS r(i)),
        | top AS (SELECT pl || pr AS m FROM (
        |  SELECT pl, pr, sum(f) AS c FROM pairs GROUP BY pl, pr
        |  ORDER BY c DESC, pl, pr LIMIT 1)),
        | vocab2(piece) AS (
        |  SELECT piece FROM vocab UNION ALL SELECT m FROM top),
        | seg2(wd, pos, toks) AS (
        |  SELECT wd, 1, '' FROM uw
        |  UNION ALL
        |  SELECT wd, pos + m, toks || ' ' || substr(wd, pos, m)
        |  FROM (SELECT wd, pos, toks,
        |    coalesce((SELECT max(len(piece)) FROM vocab2 v
        |      WHERE substr(wd, pos, len(piece)) = v.piece), 1) AS m
        |   FROM seg2 WHERE pos <= len(wd)) s),
        | wt2 AS (
        |  SELECT wd, CAST(len(string_split(ltrim(toks), ' ')) AS BIGINT) AS ntok
        |  FROM seg2 WHERE pos > len(wd)),
        | bs AS (SELECT d.source, CAST(sum(wt.ntok) AS BIGINT) AS tokens_before
        |  FROM e JOIN d USING (doc_id) JOIN wt ON e.wd = wt.wd
        |  GROUP BY d.source),
        | a2 AS (SELECT d.source, CAST(sum(wt2.ntok) AS BIGINT) AS tokens_after
        |  FROM e JOIN d USING (doc_id) JOIN wt2 ON e.wd = wt2.wd
        |  GROUP BY d.source)
        |SELECT s.source, t.m AS merged,
        | coalesce(bs.tokens_before, 0) AS tokens_before,
        | coalesce(a2.tokens_after, 0) AS tokens_after
        |FROM (SELECT DISTINCT source FROM documents) s
        |LEFT JOIN bs USING (source) LEFT JOIN a2 USING (source)
        |CROSS JOIN top t
        |ORDER BY s.source""".stripMargin), textBpeApplyMerge),

    QueryDef("text_readability", Some(
      """SELECT doc_id,
        | CAST(greatest(1, len(list_filter(string_split(text, ' '), x -> x <> '')))
        |   AS BIGINT) AS n_words,
        | CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS BIGINT)
        |   AS n_sentences,
        | CAST(greatest(1, len(list_filter(string_split(text, ' '), x -> x <> '')))
        |     AS DOUBLE)
        |   / CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS DOUBLE)
        |   AS words_per_sentence,
        | CAST(greatest(1, len(regexp_extract_all(lower(text), '[aeiou]+')))
        |     AS DOUBLE)
        |   / CAST(greatest(1, len(list_filter(string_split(text, ' '), x -> x <> '')))
        |     AS DOUBLE) AS syllables_per_word,
        | 206.835
        |   - 1.015 * (CAST(greatest(1, len(list_filter(string_split(text, ' '),
        |       x -> x <> ''))) AS DOUBLE)
        |     / CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS DOUBLE))
        |   - 84.6 * (CAST(greatest(1, len(regexp_extract_all(lower(text), '[aeiou]+')))
        |       AS DOUBLE)
        |     / CAST(greatest(1, len(list_filter(string_split(text, ' '), x -> x <> '')))
        |       AS DOUBLE)) AS flesch
        |FROM documents ORDER BY doc_id""".stripMargin),
      textReadability),

    QueryDef("text_entropy", Some(
      """WITH cnt AS (
        |  SELECT source, t, count(*) AS c FROM (
        |    SELECT source,
        |     unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
        |    FROM documents)
        |  GROUP BY source, t),
        | agg AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
        |   count(*) AS vocab,
        |   sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS clogc
        |  FROM cnt GROUP BY source),
        | e AS (
        |  SELECT source, n_tokens, vocab,
        |   floor((ln(CAST(n_tokens AS DOUBLE)) - clogc / n_tokens) * 1000000 + 0.5)
        |     / 1000000 AS entropy
        |  FROM agg)
        |SELECT source, n_tokens, vocab, entropy,
        | floor(exp(entropy) * 100 + 0.5) / 100 AS perplexity
        |FROM e ORDER BY source""".stripMargin),
      textEntropy),

    QueryDef("pipeline_curate_corpus", Some(
      """WITH norm AS (
        |  SELECT doc_id, lang,
        |   trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |     ' +', ' ', 'g')) AS norm_text
        |  FROM documents),
        | scored AS (
        |  SELECT doc_id, lang, norm_text,
        |   list_filter(string_split(norm_text, ' '), t -> t <> '') AS tk
        |  FROM norm),
        | gated AS (
        |  SELECT doc_id, lang, norm_text, tk,
        |   CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS distinct_ratio,
        |   md5(array_to_string(list_sort(tk), ' ')) AS fp
        |  FROM scored
        |  WHERE len(tk) >= 20
        |    AND CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) >= 0.3),
        | deduped AS (
        |  SELECT * FROM (
        |   SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |   FROM gated) WHERE rn = 1),
        | redacted AS (
        |  SELECT doc_id, lang, distinct_ratio,
        |   regexp_replace(norm_text, '[0-9]+', '<num>', 'g') AS redacted
        |  FROM deduped)
        |SELECT lang, count(*) AS n_docs,
        | CAST(sum(len(list_filter(string_split(redacted, ' '), t -> t <> ''))) AS BIGINT)
        |   AS total_tokens,
        | floor(avg(distinct_ratio) * 10000 + 0.5) / 10000 AS avg_distinct_ratio
        |FROM redacted GROUP BY lang ORDER BY lang""".stripMargin), pipelineCurateCorpus),

    QueryDef("text_heavy_hitters", Some(
      """WITH w AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS word
        |  FROM documents)
        |SELECT word, count(*) AS cnt FROM w GROUP BY word
        |HAVING count(*) > (SELECT count(*) FROM w) / 41.0
        |ORDER BY cnt DESC, word""".stripMargin), textHeavyHitters),

    QueryDef("text_normalize", Some(
      """WITH n AS (SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |    ' +', ' ', 'g')) AS norm_text
        | FROM documents)
        |SELECT doc_id, norm_text,
        | CAST(length(norm_text) AS BIGINT) AS norm_chars,
        | md5(norm_text) AS norm_fp
        |FROM n""".stripMargin), textNormalize),

    QueryDef("text_pii_redact", Some(
      """WITH c AS (SELECT event_id,
        |  'reach user' || CAST(user_id AS VARCHAR) || '@example.com or 555-' ||
        |  lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0') || ' ref ' || props AS contact
        | FROM events)
        |SELECT event_id,
        | regexp_replace(regexp_replace(regexp_replace(contact,
        |   '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g'),
        |   '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
        |   '[0-9]+', '<NUM>', 'g') AS redacted,
        | CAST(len(regexp_extract_all(contact, '[a-z0-9.]+@[a-z0-9.]+')) AS BIGINT) AS n_emails,
        | CAST(len(regexp_extract_all(contact, '[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones
        |FROM c""".stripMargin), textPiiRedact),

    QueryDef("text_ngrams", Some(
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
        |  FROM documents),
        | bgs AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
        |    i -> concat_ws(' ', t[i], t[i+1]))) AS bg
        |  FROM tk WHERE len(t) >= 2)
        |SELECT bg, count(*) AS cnt, count(DISTINCT doc_id) AS doc_freq
        |FROM bgs GROUP BY bg
        |ORDER BY cnt DESC, bg LIMIT 50""".stripMargin), textNgrams),

    QueryDef("text_tokenize_tf", Some(
      """SELECT word, count(*) AS cnt FROM (
        | SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |WHERE word <> '' GROUP BY word
        |ORDER BY cnt DESC, word LIMIT 100""".stripMargin), textTokenizeTf),

    QueryDef("text_lang_stats", Some(
      """SELECT lang, source, count(*) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS total_chars,
        | avg(n_chars) AS avg_chars
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin),
      textLangStats),

    QueryDef("text_quality", Some(
      """SELECT doc_id,
        | CAST(length(text) AS BIGINT) AS n_chars_actual,
        | CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_words,
        | CAST(length(text) AS DOUBLE)
        |   / len(list_filter(string_split(text, ' '), t -> t <> '')) AS chars_per_word,
        | CAST(len(list_filter(string_split(text, ' '),
        |     t -> list_contains(['the','a','of','and','to','in'], t))) AS DOUBLE)
        |   / len(list_filter(string_split(text, ' '), t -> t <> '')) AS stopword_ratio,
        | CAST(len(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS DOUBLE)
        |   / len(list_filter(string_split(text, ' '), t -> t <> '')) AS distinct_ratio
        |FROM documents ORDER BY doc_id""".stripMargin), textQuality),

    QueryDef("text_token_count", Some(
      s"""$bpeSegSql,
        | g AS (SELECT e.doc_id,
        |   CAST(sum(wt.ntok) AS BIGINT) AS subword_tokens
        |  FROM e JOIN wt ON e.wd = wt.wd GROUP BY e.doc_id)
        |SELECT d.doc_id,
        | CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS BIGINT) AS ws_tokens,
        | CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS bpe_ish_tokens,
        | coalesce(g.subword_tokens, 0) AS subword_tokens
        |FROM d LEFT JOIN g ON d.doc_id = g.doc_id
        |ORDER BY d.doc_id""".stripMargin), textTokenCount),

    QueryDef("text_fingerprint", Some(
      """WITH f AS (SELECT doc_id,
        |  md5(array_to_string(list_sort(list_filter(string_split(lower(text), ' '),
        |    t -> t <> '')), ' ')) AS fp
        | FROM documents)
        |SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS dup_count
        |FROM f ORDER BY doc_id""".stripMargin), textFingerprint),

    QueryDef("text_quality_filter", Some(
      """WITH t AS (SELECT doc_id, lang,
        |  list_filter(string_split(text, ' '), x -> x <> '') AS tk FROM documents),
        | s AS (SELECT doc_id, lang,
        |  CAST(len(tk) AS BIGINT) AS n_words,
        |  CAST(len(list_filter(tk, x -> list_contains(['the','a','of','and','to','in'], x))) AS DOUBLE)
        |    / len(tk) AS stop_ratio,
        |  CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS distinct_ratio
        | FROM t)
        |SELECT doc_id, lang, n_words, stop_ratio, distinct_ratio,
        | CASE WHEN n_words < 20 THEN 'drop:too_short'
        |      WHEN distinct_ratio < 0.3 THEN 'drop:repetitive'
        |      WHEN stop_ratio > 0.5 THEN 'drop:boilerplate'
        |      ELSE 'keep' END AS verdict
        |FROM s ORDER BY doc_id""".stripMargin), textQualityFilter),

    QueryDef("text_tfidf", Some(
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
        |  FROM documents),
        | tf AS (
        |  SELECT doc_id, term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(t) AS term FROM tk) GROUP BY doc_id, term),
        | df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        | n AS (SELECT count(*) AS n_docs FROM tk WHERE len(t) > 0),
        | s AS (
        |  SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        |   floor(tf * ln(CAST(n_docs AS DOUBLE) / df) * 1000000 + 0.5) / 1000000 AS tfidf
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        | r AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, term) AS rk
        |  FROM s)
        |SELECT doc_id, term, tf, df, tfidf, rk
        |FROM r WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin), textTfidf),

    QueryDef("text_repetition", Some(
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
        |  FROM documents),
        | wc AS (
        |  SELECT doc_id, w, count(*) AS cnt
        |  FROM (SELECT doc_id, unnest(t) AS w FROM tk) GROUP BY doc_id, w),
        | ws AS (SELECT doc_id, sum(cnt) AS n_words, max(cnt) AS top_w
        |  FROM wc GROUP BY doc_id),
        | bc AS (
        |  SELECT doc_id, bg, count(*) AS cnt
        |  FROM (SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
        |          i -> concat_ws(' ', t[i], t[i+1]))) AS bg
        |        FROM tk WHERE len(t) >= 2)
        |  GROUP BY doc_id, bg),
        | bs AS (SELECT doc_id, sum(cnt) AS n_bg, count(*) AS d_bg, max(cnt) AS top_bg
        |  FROM bc GROUP BY doc_id)
        |SELECT doc_id,
        | CAST(top_w AS DOUBLE) / n_words AS top_word_frac,
        | CAST(n_bg - d_bg AS DOUBLE) / n_bg AS dup_bigram_frac,
        | CAST(top_bg AS DOUBLE) / n_bg AS top_bigram_frac
        |FROM ws JOIN bs USING (doc_id) ORDER BY doc_id""".stripMargin),
      textRepetition),

    QueryDef("text_lm_score", Some(
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
        |  FROM documents),
        | bgs AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
        |    i -> concat_ws(' ', t[i], t[i+1]))) AS bg
        |  FROM tk WHERE len(t) >= 2),
        | counts AS (SELECT bg, count(*) AS cnt FROM bgs GROUP BY bg),
        | tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM counts)
        |SELECT doc_id,
        | floor(avg(ln(CAST(cnt AS DOUBLE) / total)) * 1000000 + 0.5) / 1000000 AS lm_score,
        | count(*) AS n_bigrams
        |FROM bgs JOIN counts USING (bg) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin), textLmScore),

    // predicted_lang = FIRST argmax in fold order (en,fr,es,de,zh): the
    // CASE chain tests from the last language down — language L wins
    // iff strictly greater than every earlier language's score, which
    // is exactly the Spark fold's "replace only when strictly greater".
    QueryDef("text_langid", Some(
      """WITH w AS (
        |  SELECT doc_id, lang,
        |   unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS word
        |  FROM documents),
        | s AS (
        |  SELECT doc_id, lang,
        |   CAST(sum(CASE WHEN word IN ('the','a','of','and','to','data','value')
        |     THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS score_en,
        |   CAST(sum(CASE WHEN word IN ('le','la','de','et','un')
        |     THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS score_fr,
        |   CAST(sum(CASE WHEN word IN ('el','la','de','y','un')
        |     THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS score_es,
        |   CAST(sum(CASE WHEN word IN ('der','die','das','und','ein')
        |     THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS score_de,
        |   CAST(sum(CASE WHEN word IN ('de','shi','le')
        |     THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS score_zh
        |  FROM w GROUP BY doc_id, lang)
        |SELECT doc_id, lang AS labeled_lang,
        | CASE WHEN score_zh > greatest(score_en, score_fr, score_es, score_de) THEN 'zh'
        |      WHEN score_de > greatest(score_en, score_fr, score_es) THEN 'de'
        |      WHEN score_es > greatest(score_en, score_fr) THEN 'es'
        |      WHEN score_fr > score_en THEN 'fr'
        |      ELSE 'en' END AS predicted_lang,
        | greatest(score_en, score_fr, score_es, score_de, score_zh) AS score
        |FROM s ORDER BY doc_id""".stripMargin), textLangId),

    QueryDef("text_line_dedup", Some(
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |blocks AS (SELECT doc_id, i AS pos,
        |    array_to_string(ts[i*10+1 : least((i+1)*10, len(ts))], ' ') AS blk
        |  FROM toks, unnest(range(0, CAST(ceil(len(ts)/10.0) AS BIGINT))) AS u(i)),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY md5(blk)
        |    ORDER BY doc_id, pos) AS rk FROM blocks),
        |kept AS (SELECT doc_id, pos, blk FROM ranked WHERE rk = 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        | string_agg(blk, ' ' ORDER BY pos) AS kept_text
        |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin), textLineDedup),

    QueryDef("text_sentence_dedup", Some(
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(text, '[.!?]+') AS ps FROM documents),
        | s AS (
        |  SELECT doc_id, i AS pos, trim(lower(ps[i+1])) AS ns
        |  FROM t, unnest(range(0, len(ps))) AS u(i)),
        | f AS (SELECT * FROM s WHERE ns <> ''),
        | r AS (
        |  SELECT doc_id, pos, ns,
        |   row_number() OVER (PARTITION BY md5(ns) ORDER BY doc_id, pos) AS rk
        |  FROM f)
        |SELECT doc_id,
        | CAST(count(*) AS BIGINT) AS n_sentences,
        | CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        | floor(CAST(count(*) - sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |   / CAST(count(*) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS removed_frac
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin), textSentenceDedup),

    QueryDef("text_curriculum_order", Some(
      """WITH s AS (
        |  SELECT doc_id,
        |   CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)
        |     AS n_words,
        |   floor(CAST(length(text) AS DOUBLE)
        |     / CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS DOUBLE)
        |     * 100 + 0.5) / 100 AS cpw
        |  FROM documents
        |  WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) > 0),
        | v AS (SELECT cpw, count(*) AS c FROM s GROUP BY cpw),
        | w AS (SELECT cpw, sum(c) OVER (ORDER BY cpw
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM v),
        | n AS (SELECT count(*) AS n FROM s),
        | b AS (SELECT
        |   min(CASE WHEN cum * 4 >= n THEN cpw END) AS q1,
        |   min(CASE WHEN cum * 2 >= n THEN cpw END) AS q2,
        |   min(CASE WHEN cum * 4 >= 3 * n THEN cpw END) AS q3
        |  FROM w, n)
        |SELECT doc_id, n_words, cpw AS chars_per_word,
        | CAST(CASE WHEN cpw <= q1 THEN 1 WHEN cpw <= q2 THEN 2
        |      WHEN cpw <= q3 THEN 3 ELSE 4 END AS BIGINT) AS phase
        |FROM s, b ORDER BY doc_id""".stripMargin), textCurriculumOrder),

    QueryDef("text_winnowing", Some(
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |  FROM documents),
        | g AS (
        |  SELECT doc_id, i AS pos, md5(array_to_string(tk[i+1:i+5], ' ')) AS h
        |  FROM t, unnest(range(0, len(tk) - 4)) AS u(i)
        |  WHERE len(tk) >= 5),
        | w AS (
        |  SELECT doc_id, pos,
        |   min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
        |   count(*) OVER (PARTITION BY doc_id) AS n_kgrams
        |  FROM g)
        |SELECT doc_id, CAST(n_kgrams AS BIGINT) AS n_kgrams,
        | CAST(count(DISTINCT wmin) AS BIGINT) AS n_fingerprints,
        | floor(CAST(count(DISTINCT wmin) AS DOUBLE) / CAST(n_kgrams AS DOUBLE)
        |   * 1000000 + 0.5) / 1000000 AS fp_density
        |FROM w WHERE pos <= n_kgrams - 4
        |GROUP BY doc_id, n_kgrams ORDER BY doc_id""".stripMargin), textWinnowing),

    QueryDef("text_winnowing_matches", Some(
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |  FROM documents),
        | g AS (
        |  SELECT doc_id, i AS pos, md5(array_to_string(tk[i+1:i+5], ' ')) AS h
        |  FROM t, unnest(range(0, len(tk) - 4)) AS u(i)
        |  WHERE len(tk) >= 5),
        | w AS (
        |  SELECT doc_id, pos,
        |   min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
        |   count(*) OVER (PARTITION BY doc_id) AS nk
        |  FROM g),
        | fp AS (SELECT DISTINCT doc_id, wmin FROM w WHERE pos <= nk - 4),
        | dfq AS (SELECT wmin, count(*) AS df FROM fp GROUP BY wmin),
        | kept AS (SELECT fp.doc_id, fp.wmin FROM fp JOIN dfq USING (wmin)
        |          WHERE df <= 50),
        | sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp
        |        FROM kept GROUP BY doc_id),
        | pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |   CAST(count(*) AS BIGINT) AS n_shared
        |  FROM kept a JOIN kept b ON a.wmin = b.wmin AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT pr.doc_a, pr.doc_b, pr.n_shared, sa.n_fp AS fp_a, sb.n_fp AS fp_b,
        | floor(CAST(pr.n_shared AS DOUBLE)
        |   / CAST(sa.n_fp + sb.n_fp - pr.n_shared AS DOUBLE) * 1000000 + 0.5)
        |   / 1000000 AS jaccard_fp
        |FROM pr JOIN sz sa ON sa.doc_id = pr.doc_a
        | JOIN sz sb ON sb.doc_id = pr.doc_b
        |ORDER BY n_shared DESC, doc_a, doc_b LIMIT 100""".stripMargin),
      textWinnowingMatches),

    QueryDef("dedup_winnowing_incremental", Some(
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |  FROM documents),
        | g AS (
        |  SELECT doc_id, i AS pos, md5(array_to_string(tk[i+1:i+5], ' ')) AS h
        |  FROM t, unnest(range(0, len(tk) - 4)) AS u(i)
        |  WHERE len(tk) >= 5),
        | w AS (
        |  SELECT doc_id, pos,
        |   min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
        |   count(*) OVER (PARTITION BY doc_id) AS nk
        |  FROM g),
        | fp AS (SELECT DISTINCT doc_id, wmin FROM w WHERE pos <= nk - 4),
        | hist AS (SELECT * FROM fp WHERE doc_id % 5 <> 4),
        | batch AS (SELECT * FROM fp WHERE doc_id % 5 = 4),
        | vh AS (SELECT h.doc_id AS doc_a, n.doc_id AS doc_b,
        |   CAST(count(*) AS BIGINT) AS n_shared, 'history' AS origin
        |  FROM batch n JOIN hist h ON n.wmin = h.wmin GROUP BY 1, 2),
        | vb AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |   CAST(count(*) AS BIGINT) AS n_shared, 'batch' AS origin
        |  FROM batch a JOIN batch b
        |    ON a.wmin = b.wmin AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_shared, origin FROM
        | (SELECT * FROM vh UNION ALL SELECT * FROM vb)
        |ORDER BY origin, doc_a, doc_b""".stripMargin),
      dedupWinnowingIncremental),

    QueryDef("dedup_winnowing_verified", Some(
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |  FROM documents),
        | g AS (
        |  SELECT doc_id, i AS pos, md5(array_to_string(tk[i+1:i+5], ' ')) AS h
        |  FROM t, unnest(range(0, len(tk) - 4)) AS u(i)
        |  WHERE len(tk) >= 5),
        | w AS (
        |  SELECT doc_id, pos, h,
        |   min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
        |   count(*) OVER (PARTITION BY doc_id) AS nk
        |  FROM g),
        | fp AS (SELECT DISTINCT doc_id, wmin FROM w WHERE pos <= nk - 4),
        | dfq AS (SELECT wmin, count(*) AS df FROM fp GROUP BY wmin),
        | kept AS (SELECT fp.doc_id, fp.wmin FROM fp JOIN dfq USING (wmin)
        |          WHERE df <= 50),
        | pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |   CAST(count(*) AS BIGINT) AS n_shared
        |  FROM kept a JOIN kept b ON a.wmin = b.wmin AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        | cand AS (SELECT doc_a, doc_b, n_shared FROM pr
        |  ORDER BY n_shared DESC, doc_a, doc_b LIMIT 100),
        | gr AS (SELECT DISTINCT doc_id, h FROM w WHERE pos <= nk - 4),
        | szg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_g
        |         FROM gr GROUP BY doc_id),
        | iv AS (SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS i
        |  FROM cand c JOIN gr ga ON ga.doc_id = c.doc_a
        |   JOIN gr gb ON gb.doc_id = c.doc_b AND ga.h = gb.h
        |  GROUP BY 1, 2)
        |SELECT c.doc_a, c.doc_b, c.n_shared,
        | floor(CAST(coalesce(iv.i, 0) AS DOUBLE)
        |   / CAST(sa.n_g + sb.n_g - coalesce(iv.i, 0) AS DOUBLE)
        |   * 1000000 + 0.5) / 1000000 AS true_jaccard,
        | coalesce(iv.i, 0) * 2 >= sa.n_g + sb.n_g - coalesce(iv.i, 0) AS is_dup
        |FROM cand c
        | LEFT JOIN iv ON iv.doc_a = c.doc_a AND iv.doc_b = c.doc_b
        | JOIN szg sa ON sa.doc_id = c.doc_a
        | JOIN szg sb ON sb.doc_id = c.doc_b
        |ORDER BY c.doc_a, c.doc_b""".stripMargin), textWinnowingVerified)
  )

  /** Curriculum-learning phase assignment: quantized difficulty
    * (mean word length, r2-bucketed) → exact quartile boundaries →
    * phase 1..4, easiest first — the "order training data easy→hard"
    * prep step. The r2 QUANTIZATION is the scale lever: boundaries
    * come from a cumulative window over DISTINCT buckets (≤ a few
    * thousand rows regardless of corpus size — raw length/words
    * ratios would be corpus-cardinality), then 3 boundary values
    * broadcast and every doc assigned by comparison. No global sort
    * of the corpus anywhere; ties share a bucket so assignment is
    * reproducible under any partitioning. Boundary rule: smallest
    * bucket with 4·cum ≥ q·N (all-integer, exact). */
  private def textCurriculumOrder(spark: SparkSession, dir: String): DataFrame = {
    val nw = size(toks)
    val s = documents(spark, dir)
      .select(col("doc_id"), nw.cast(LongType).as("n_words"),
        Parity.r2(length(col("text")).cast(DoubleType) /
          nw.cast(DoubleType)).as("cpw"))
      .filter(col("n_words") > 0)
    val wcum = Window.orderBy(col("cpw"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cums = s.groupBy(col("cpw")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(wcum))
    val n = s.agg(count(lit(1)).as("n"))
    val b = cums.crossJoin(broadcast(n)).agg(
      min(when(col("cum") * 4 >= col("n"), col("cpw"))).as("q1"),
      min(when(col("cum") * 2 >= col("n"), col("cpw"))).as("q2"),
      min(when(col("cum") * 4 >= col("n") * 3, col("cpw"))).as("q3"))
    s.crossJoin(broadcast(b))
      .select(col("doc_id"), col("n_words"), col("cpw").as("chars_per_word"),
        when(col("cpw") <= col("q1"), 1L).when(col("cpw") <= col("q2"), 2L)
          .when(col("cpw") <= col("q3"), 3L).otherwise(4L).as("phase"))
      .orderBy(col("doc_id"))
  }

  private val winnowK = 5
  private val winnowW = 4

  /** Per-(doc, position) winnowing selection: every k-gram md5 plus
    * the minimum hash (`wmin`) of the w-window starting at that
    * position, restricted to FULL windows (the last w−1 are partial —
    * the classic scheme only selects from complete windows).
    * `n_kgrams` is counted before the cut so it stays the true
    * inventory size. Shared by the per-doc manifest and the cross-doc
    * match join. */
  private def winnowSelections(spark: SparkSession, dir: String): DataFrame =
    winnowSelectionsOf(fanout(documents(spark, dir)))

  /** The distinct winnowing fingerprint set (doc_id, wmin) of the full
    * corpus — exposed for the incremental-index invariant test. */
  private[graft] def winnowFingerprints(spark: SparkSession, dir: String): DataFrame =
    winnowSelections(spark, dir).select(col("doc_id"), col("wmin")).distinct()

  private def winnowSelectionsOf(docs: DataFrame): DataFrame = {
    val win = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, winnowW - 1)
    docs
      .select(col("doc_id"), toks.as("t"))
      .filter(size(col("t")) >= winnowK)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("t")) - winnowK),
          i => md5(concat_ws(" ", slice(col("t"), i + 1, lit(winnowK)))))))
      .withColumnRenamed("col", "h")
      .withColumn("wmin", min(col("h")).over(win))
      .withColumn("n_kgrams", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .filter(col("pos") <= col("n_kgrams") - winnowW)
  }

  /** WINNOWING fingerprints (Schleimer–Wilkerson–Aiken, the MOSS
    * algorithm): hash every k-gram (k=5), then keep the MINIMUM hash
    * of each w-length window (w=4) of consecutive k-gram positions —
    * the classic guarantee is that any shared token run of length
    * ≥ w+k−1 between two documents shares at least one fingerprint,
    * while storage drops to ~2/(w+1) of the k-gram count. This is the
    * position-robust fingerprint selection plagiarism/overlap
    * detection uses where full k-gram inventories (dedup_span_ngrams)
    * are too big to keep. md5 hashing keeps the selection
    * bit-reproducible, so the per-doc manifest is oracle-checked.
    *
    * Scale: explode is linear in corpus tokens; the window min is a
    * doc-partitioned frame (ROWS w−1 FOLLOWING) on the same doc-keyed
    * shuffle as the position sort; fingerprints then hash-agg per doc
    * map-side. Cross-doc matching joins fingerprint sets exactly like
    * the span/shingle indexes — never pairwise text. */
  private def textWinnowing(spark: SparkSession, dir: String): DataFrame =
    winnowSelections(spark, dir)
      .groupBy(col("doc_id"))
      .agg(first(col("n_kgrams")).as("n_kgrams"),
        countDistinct(col("wmin")).as("n_fingerprints"))
      .select(col("doc_id"), col("n_kgrams"),
        col("n_fingerprints"),
        Parity.r6(col("n_fingerprints").cast("double") /
          col("n_kgrams").cast("double")).as("fp_density"))
      .orderBy(col("doc_id"))

  /** Cross-document overlap candidates from the winnowing index: join
    * documents on SHARED fingerprints and score each pair by shared
    * count and fingerprint-set Jaccard. The winnowing theorem makes
    * this a guaranteed detector — any shared token run of length
    * ≥ w+k−1 (= 8 tokens) puts at least one identical fingerprint in
    * both documents' sets, so true overlaps of that length can never
    * be missed (asserted as a planted-fixture contract in
    * InvariantSpec). This is MOSS's candidate-generation stage.
    *
    * Scale: a fingerprint-keyed equi-join (Σ bucket², never n²
    * text comparison); boilerplate hubs are capped by dropping
    * fingerprints present in > 50 documents (same stop-shingle
    * pattern as the n-gram inverted index), so no bucket exceeds
    * 50 docs regardless of corpus size. */
  private def textWinnowingMatches(spark: SparkSession, dir: String): DataFrame = {
    // materialize the fingerprint index once — it feeds four plan
    // branches (df-cap, both join sides, per-doc sizes), and without
    // the checkpoint each would re-run the explode + window selection
    // over the full corpus (at lake scale this index is the artifact
    // you PERSIST, like the IVF centroid store)
    val fp = winnowSelections(spark, dir)
      .select(col("doc_id"), col("wmin")).distinct()
      .localCheckpoint()
    winnowMatchesFrom(fp)
  }

  /** The MOSS candidate join over a materialized (doc_id, wmin)
    * fingerprint index — factored out (round 18) so
    * [[textWinnowingVerified]] can feed it from the SAME winnowing
    * pass its verify stage uses instead of deriving the index twice. */
  private def winnowMatchesFrom(fp: DataFrame): DataFrame = {
    val maxDf = 50
    val df = fp.groupBy(col("wmin")).agg(count(lit(1)).as("df"))
    val kept = fp.join(df.filter(col("df") <= maxDf), "wmin")
      .select(col("doc_id"), col("wmin"))
    val sizes = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
    kept.as("a").join(kept.as("b"),
        col("a.wmin") === col("b.wmin") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_fp").as("fp_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_fp").as("fp_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        col("fp_a"), col("fp_b"),
        Parity.r6(col("n_shared").cast("double") /
          (col("fp_a") + col("fp_b") - col("n_shared")).cast("double"))
          .as("jaccard_fp"))
      .orderBy(col("n_shared").desc, col("doc_a"), col("doc_b"))
      .limit(100)
  }

  /** Winnowing pipeline completed detect→VERIFY (the shape
    * dedup_minhash_verified gives MinHash): the fingerprint join
    * proposes candidates, then the TRUE 5-gram Jaccard is computed
    * for candidate pairs ONLY — |G_a∩G_b| / |G_a∪G_b| over distinct
    * k-gram md5 sets — and pairs at J ≥ 0.5 are flagged duplicates.
    * Verification cost is bounded by the candidate count (top-100
    * broadcast), never the corpus: the exact-overlap join touches
    * only rows of the ≤ 200 docs named in candidates. */
  private def textWinnowingVerified(spark: SparkSession, dir: String): DataFrame = {
    // ONE winnowing pass (round 18): the candidate stage and the
    // verify stage both consume winnowSelections — previously the
    // candidate side materialized its (doc_id, wmin) index inside
    // textWinnowingMatches while the verify side re-ran the whole
    // explode + window selection over the corpus for its (doc_id, h)
    // k-gram sets. Materialize the selection ONCE with both columns
    // and derive each side from it: same rows to both stages
    // (bit-identical output), one corpus pass instead of two — at lake
    // scale this is the single winnowing index you persist.
    val sel = winnowSelections(spark, dir)
      .select(col("doc_id"), col("h"), col("wmin"))
      .localCheckpoint()
    val fp = sel.select(col("doc_id"), col("wmin")).distinct()
      .localCheckpoint()
    val cand = winnowMatchesFrom(fp)
      .select(col("doc_a"), col("doc_b"), col("n_shared"))
      .localCheckpoint()
    val grams = sel.select(col("doc_id"), col("h")).distinct()
    val docIds = cand.select(col("doc_a").as("doc_id"))
      .unionByName(cand.select(col("doc_b").as("doc_id"))).distinct()
    // ≤200 candidate docs' gram sets, consumed by three plan branches
    // (sizes + both intersection legs) — materialize instead of
    // re-running the distinct over `sel` three times
    val g = grams.join(broadcast(docIds), "doc_id").localCheckpoint()
    val sizes = g.groupBy(col("doc_id")).agg(count(lit(1)).as("n_g"))
    val inter = broadcast(cand)
      .join(g.as("ga"), col("ga.doc_id") === col("doc_a"))
      .join(g.as("gb"),
        col("gb.doc_id") === col("doc_b") && col("ga.h") === col("gb.h"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("i"))
    cand
      .join(inter, Seq("doc_a", "doc_b"), "left").na.fill(0L, Seq("i"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_g").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_g").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        Parity.r6(col("i").cast("double") /
          (col("na") + col("nb") - col("i")).cast("double")).as("true_jaccard"),
        (col("i") * 2 >= col("na") + col("nb") - col("i")).as("is_dup"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** CCNet-style SENTENCE-level dedup signal: split each document on
    * sentence boundaries ([.!?]+ runs), normalize (lower + trim), and
    * keep-first corpus-wide per distinct normalized sentence (first =
    * lowest (doc_id, position)). Emits per-doc retention stats and the
    * REMOVED FRACTION — the duplicated-boilerplate quality feature
    * CCNet thresholds on (a doc that is mostly corpus-duplicated
    * sentences is boilerplate even when no whole-doc copy exists).
    * Complements [[textLineDedup]]: variable-length normalized units
    * for the quality signal vs fixed token blocks for reassembly.
    *
    * Scale: explode is linear in corpus sentences; keep-first is a
    * row_number window partitioned by the sentence md5 (parallelism =
    * #distinct sentences, partition size = one sentence's duplicate
    * count); the per-doc rollup is one map-side-combinable hash-agg. */
  private def textSentenceDedup(spark: SparkSession, dir: String): DataFrame = {
    val firstWin = Window.partitionBy(md5(col("ns")))
      .orderBy(col("doc_id"), col("pos"))
    documents(spark, dir)
      .select(col("doc_id"), posexplode(split(col("text"), "[.!?]+")))
      .select(col("doc_id"), col("pos"), trim(lower(col("col"))).as("ns"))
      .filter(col("ns") =!= "")
      .withColumn("rk", row_number().over(firstWin))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sentences"),
        sum(when(col("rk") === 1, 1L).otherwise(0L)).as("n_kept"))
      .select(col("doc_id"), col("n_sentences"), col("n_kept"),
        Parity.r6((col("n_sentences") - col("n_kept")).cast("double") /
          col("n_sentences").cast("double")).as("removed_frac"))
      .orderBy(col("doc_id"))
  }

  /** C4-style global line deduplication: split each document into
    * fixed 10-token lines, keep only the FIRST occurrence of every
    * distinct line corpus-wide (first = lowest (doc_id, position)),
    * and reassemble surviving documents in original line order — the
    * boilerplate/header/license-block removal pass that whole-doc
    * dedup cannot do.
    *
    * Scale: explode is linear in corpus tokens; the keep-first winner
    * is a row_number window PARTITIONED BY line hash — each partition
    * is one line's duplicate set, so parallelism is #distinct lines
    * and no partition exceeds a line's duplication count; reassembly
    * shuffles once on doc_id with an in-group sort (array_sort on
    * (pos, line) structs, spillable via the preceding hash agg). */
  private def textLineDedup(spark: SparkSession, dir: String): DataFrame = {
    val ts = split(col("text"), " ")
    val nblk = ceil(size(col("ts")) / lit(10.0)).cast("int")
    val firstWin = Window.partitionBy(md5(col("blk")))
      .orderBy(col("doc_id"), col("pos"))
    documents(spark, dir)
      .select(col("doc_id"), ts.as("ts"))
      .select(col("doc_id"), col("ts"),
        explode(sequence(lit(0), nblk - 1)).as("pos"))
      .select(col("doc_id"), col("pos"),
        concat_ws(" ", slice(col("ts"), col("pos") * 10 + 1, lit(10))).as("blk"))
      .withColumn("rk", row_number().over(firstWin))
      .filter(col("rk") === 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("blk")))),
            s => s.getField("blk"))).as("kept_text"))
      .orderBy(col("doc_id"))
  }
}
