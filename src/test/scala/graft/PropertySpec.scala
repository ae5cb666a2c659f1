package graft

import graft.etl.{KeyMap, Upsert}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based invariants (SURVEY.md §5.2 item 3): mex minimality,
  * bijectivity, upsert idempotence, Parity rounding bounds. Uses raw
  * ScalaCheck generators with fixed seeds (the scalatest bridge isn't
  * in the offline dep set); Spark jobs per case are real, so case
  * counts are kept small.
  */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def cases[A](g: Gen[A], n: Int = 8): Seq[A] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  // random key sets plus the shapes the mex arithmetic special-cases:
  // empty, no key 0, and no gaps at all (0 until n)
  private val keySetGen: Gen[Set[Long]] = Gen.oneOf(
    Gen.containerOf[Set, Long](Gen.choose(0L, 12L)),
    Gen.const(Set.empty[Long]),
    Gen.containerOf[Set, Long](Gen.choose(1L, 12L)),
    Gen.choose(1L, 8L).map(n => (0L until n).toSet))

  test("property: lowestFreeKey is the true mex of any key set") {
    cases(keySetGen).foreach { keys =>
      val dim = keys.toSeq.map(k => (k, s"v$k")).toDF("k", "v")
      val km = KeyMap.fromDim(dim, "k", "v")
      val mex = Iterator.from(0).map(_.toLong).find(!keys.contains(_)).get
      assert(km.lowestFreeKey() == mex, s"keys=$keys")
    }
  }

  test("property: transact preserves existing keys, stays bijective, adds only novel values") {
    // up to 8 new values against at most 13 keys: often more novel
    // values than gaps, so assignment runs on past the max key
    val gen = for {
      keys <- keySetGen
      vals <- Gen.choose(0, 8).flatMap(Gen.listOfN(_,
        Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff", "v1", "v2", "v3")))
    } yield (keys, vals)
    val cs = cases(gen, n = 12)
    // the fixed seeds must reach every key-set shape
    assert(cs.exists(_._1.isEmpty) && cs.exists(c => c._1.nonEmpty && !c._1(0L)) &&
      cs.exists(c => c._1.nonEmpty && c._1.max == c._1.size - 1))
    cs.foreach { case (keys, newValues) =>
      val dim = keys.toSeq.map(k => (k, s"v$k")).toDF("k", "v")
      val out = KeyMap.fromDim(dim, "k", "v").transact(newValues.toDF("value")).dim
        .as[(Long, String)].collect()
      // plain-Scala mex reference: novel values, in value order, take
      // the free keys in key order
      val existing = keys.map(k => s"v$k" -> k).toMap
      val novel = newValues.distinct.filterNot(existing.contains).sorted
      val free = Iterator.from(0).map(_.toLong).filterNot(keys)
      val expected = existing ++ novel.iterator.zip(free)
      assert(out.length == expected.size, s"row count: keys=$keys new=$newValues")
      assert(out.map(_.swap).toMap == expected, s"keys=$keys new=$newValues")
    }
  }

  test("property: upsert merge is idempotent, key-complete, existing-wins") {
    val gen = for {
      a <- Gen.listOf(Gen.choose(0L, 9L))
      b <- Gen.listOf(Gen.choose(5L, 14L))
    } yield (a.distinct, b.distinct)
    cases(gen).foreach { case (a, b) =>
      val existing = a.map(k => (k, s"old$k")).toDF("k", "v")
      val incoming = b.map(k => (k, s"new$k")).toDF("k", "v")
      val merged = Upsert.merge(existing, incoming, Seq("k"))
      assert(merged.count() == (a.toSet ++ b.toSet).size)
      assert(Upsert.merge(merged, incoming, Seq("k")).count() == merged.count())
      val vals = merged.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      a.toSet.intersect(b.toSet).foreach(k => assert(vals(k) == s"old$k"))
    }
  }

  test("property: Parity r2 formula is within half a cent and idempotent") {
    cases(Gen.choose(-1e6, 1e6), n = 200).foreach { x =>
      val r = math.floor(x * 100 + 0.5) / 100
      assert(math.abs(r - x) <= 0.005 + 1e-9)
      assert(math.floor(r * 100 + 0.5) / 100 == r)
    }
  }

  test("property: frequency-ordered prefix filtering never loses a pair with J >= t") {
    // pure model of dedup_jaccard_prefix's candidate bound (Bayardo /
    // Xiao PPJoin prefix): keeping the n − ceil(t·n) + 1 rarest-first
    // elements of each set must leave a shared element for EVERY pair
    // whose true Jaccard reaches t — over random universes, with the
    // same ceil arithmetic as the operator. Catches any off-by-one in
    // the bound that the oracle (which mirrors the same filter both
    // sides) could never see.
    val t = 0.5
    val gen = Gen.listOfN(8,
      Gen.containerOf[Set, Int](Gen.choose(0, 25)).suchThat(_.nonEmpty))
    cases(gen, n = 24).foreach { docs =>
      val freq = docs.flatten.groupBy(identity).view.mapValues(_.size).toMap
      def prefix(s: Set[Int]): Set[Int] = {
        val keep = s.size - math.ceil(t * s.size).toInt + 1
        s.toSeq.sortBy(tok => (freq(tok), tok)).take(keep).toSet
      }
      def rank(s: Set[Int]): Map[Int, Int] =
        s.toSeq.sortBy(tok => (freq(tok), tok)).zipWithIndex
          .map { case (tok, i) => tok -> (i + 1) }.toMap
      for (i <- docs.indices; j <- docs.indices if i < j) {
        val (a, b) = (docs(i), docs(j))
        val jac = (a & b).size.toDouble / (a | b).size
        if (jac >= t) {
          assert(prefix(a).intersect(prefix(b)).nonEmpty,
            s"prefix filter lost a true pair: $a vs $b (J=$jac)")
          // the operator's FULL candidate condition (prefix match +
          // length filter + positional filter) must also keep the pair
          val (ra, rb) = (rank(a), rank(b))
          val survives = prefix(a).intersect(prefix(b)).exists { w =>
            b.size >= math.ceil(t * a.size) &&
              a.size >= math.ceil(t * b.size) &&
              1 + math.min(a.size - ra(w), b.size - rb(w)) >=
                math.ceil(t / (1.0 + t) * (a.size + b.size))
          }
          assert(survives, s"positional/length filter lost: $a vs $b (J=$jac)")
        }
      }
    }
  }

  test("property: containment prefix + positional filters never lose a pair with C >= t") {
    // pure model of dedup_containment's candidate bound: the SUBSET
    // side keeps its |A| − ceil(t·|A|) + 1 rarest-first elements, the
    // superset side is fully indexed, and the length (|B| ≥ ceil(t·|A|))
    // and positional (1 + min(|A|−rn_a, |B|−rn_b) ≥ ceil(t·|A|))
    // prunes apply inside the join — every DIRECTED pair with true
    // containment |A∩B|/|A| ≥ t must survive the full condition.
    val t = 0.8
    val gen = Gen.listOfN(8,
      Gen.containerOf[Set, Int](Gen.choose(0, 25)).suchThat(_.nonEmpty))
    cases(gen, n = 24).foreach { docs =>
      val freq = docs.flatten.groupBy(identity).view.mapValues(_.size).toMap
      def ordered(s: Set[Int]): Seq[Int] = s.toSeq.sortBy(tok => (freq(tok), tok))
      def rank(s: Set[Int]): Map[Int, Int] =
        ordered(s).zipWithIndex.map { case (tok, i) => tok -> (i + 1) }.toMap
      for (i <- docs.indices; j <- docs.indices if i != j) {
        val (a, b) = (docs(i), docs(j))
        val cont = (a & b).size.toDouble / a.size
        if (cont >= t) {
          val keep = a.size - math.ceil(t * a.size).toInt + 1
          val prefA = ordered(a).take(keep).toSet
          val (ra, rb) = (rank(a), rank(b))
          val survives = prefA.intersect(b).exists { w =>
            b.size >= math.ceil(t * a.size) &&
              1 + math.min(a.size - ra(w), b.size - rb(w)) >=
                math.ceil(t * a.size)
          }
          assert(survives, s"containment filter lost: $a in $b (C=$cont)")
        }
      }
    }
  }

  test("property: t-digest quantiles are monotone, clamped, and rank-bounded") {
    // pure-JVM property (no Spark job per case): arbitrary positive
    // data, arbitrary insertion order, arbitrary split into partial
    // digests — the quantile function must stay inside [min, max],
    // be monotone in q, and land within 2% rank error of the exact
    // sorted answer for mid/tail quantiles
    val gen = for {
      n <- Gen.choose(200, 3000)
      scale <- Gen.choose(1.0, 1e6)
      skew <- Gen.choose(1.0, 3.0)
      parts <- Gen.choose(1, 7)
    } yield (n, scale, skew, parts)
    cases(gen, n = 12).foreach { case (n, scale, skew, parts) =>
      val xs = (1 to n).map(i => scale * math.pow(i.toDouble / n, skew))
      val shuffled = xs.sortBy(x => (x * 2654435761.0) % 997)
      val chunks = shuffled.grouped(math.max(1, n / parts)).toSeq
      val digests = chunks.map { c =>
        val b = new graft.functions.TDigestBuffer(200.0); c.foreach(b.add); b
      }
      val merged = digests.reduceLeft { (a, b) => a.mergeWith(b); a }
      val sorted = xs.sorted
      val qs = Seq(0.05, 0.25, 0.5, 0.75, 0.95, 0.99)
      val ests = qs.map(merged.quantile)
      // monotone in q
      ests.sliding(2).foreach { case Seq(a, b) => assert(a <= b + 1e-9) }
      // clamped to the exact extrema
      assert(merged.quantile(0.0) >= sorted.head - 1e-9)
      assert(merged.quantile(1.0) <= sorted.last + 1e-9)
      // rank error <= 2% for every probed quantile
      qs.zip(ests).foreach { case (q, e) =>
        val rank = sorted.count(_ <= e).toDouble / n
        assert(math.abs(rank - q) <= 0.02,
          s"n=$n scale=$scale skew=$skew parts=$parts q=$q rank=$rank")
      }
    }
  }

  test("property: kmv merge lemma — bottom-k of sketches equals bottom-k of the union") {
    // the identity agg_kmv_setops rests on: merging two bottom-k
    // sketches reproduces the union's bottom-k EXACTLY (any of the
    // union's k smallest has h ≤ h_k(A∪B) ≤ h_k(A side it came from),
    // so it survives into that side's sketch); and for every merged-
    // sketch element, true set membership ⟺ sketch membership (same
    // argument), which is what lets the Jaccard count read the flags.
    // Pure-Scala mirror of the operator's md5-48bit hash — no Spark
    // job per case, so the case count can be high.
    def h(x: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val d = md.digest(s"kmv:$x".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.take(12), 16).toDouble / 281474976710656.0
    }
    def bottomK(s: Set[Long], k: Int): Seq[Long] =
      s.toSeq.sortBy(x => (h(x), x)).take(k)
    val gen = for {
      a <- Gen.containerOf[Set, Long](Gen.choose(0L, 500L))
      b <- Gen.containerOf[Set, Long](Gen.choose(250L, 750L))
      k <- Gen.oneOf(4, 8, 16)
    } yield (a, b, k)
    cases(gen, n = 24).foreach { case (a, b, k) =>
      val ka = bottomK(a, k)
      val kb = bottomK(b, k)
      val merged = bottomK((ka ++ kb).toSet, k)
      assert(merged == bottomK(a ++ b, k), s"merge lemma broken: k=$k a=$a b=$b")
      merged.foreach { x =>
        assert(a.contains(x) == ka.contains(x), s"A-membership drifts for $x")
        assert(b.contains(x) == kb.contains(x), s"B-membership drifts for $x")
      }
    }
  }

  test("property: BPE segmentation is a lossless partition of every word") {
    // Detokenization contract: greedy longest-match never drops,
    // duplicates, or reorders characters — joining the pieces must
    // reproduce the word exactly, for vocab-dense words, random
    // letters, and out-of-vocab unicode alike.
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.unsafe.types.UTF8String
    val expr = graft.functions.BpeSubwords(
      Literal.create(null, org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType)),
      graft.operators.TextOps.bpeVocab, Nil)
    val piece = Gen.oneOf(graft.operators.TextOps.bpeVocab)
    val letters = Gen.listOf(Gen.alphaLowerChar).map(_.mkString)
    val word = for {
      ps <- Gen.listOfN(3, piece)
      pad <- letters
      uni <- Gen.oneOf("", "é", "中", "𝄞") // incl. a surrogate pair
    } yield ps.mkString + pad + uni
    cases(Gen.listOfN(5, word), n = 24).foreach { words =>
      val in = new GenericArrayData(
        words.map(w => UTF8String.fromString(w)).toArray[Any])
      val out = expr.segment(in)
      val pieces = (0 until out.numElements()).map(out.getUTF8String(_).toString)
      assert(pieces.mkString == words.mkString,
        s"roundtrip broke: $words -> $pieces")
      assert(pieces.forall(_.nonEmpty), s"empty piece in $pieces")
    }
  }

  test("BPE pieces concatenate back to the corpus text (char conservation)") {
    import org.apache.spark.sql.functions._
    val sf = TestSpark.sf
    val toks = filter(split(col("text"), " "), t => t =!= "")
    val bad = Tables.documents(spark, sf)
      .select(
        concat_ws("", call_function("bpe_subwords", toks)).as("detok"),
        concat_ws("", toks).as("orig"))
      .filter(col("detok") =!= col("orig")).count()
    assert(bad == 0, s"$bad documents fail BPE char conservation")
  }
}
