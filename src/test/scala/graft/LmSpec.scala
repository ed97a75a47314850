package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.functions.minhashExprs
import graft.operators.LanguageModel

/** Bigram language-model scoring: hand-computed tiny-corpus values, the
  * degenerate-document contract, the quality-signal ordering property, and
  * the word-grams kernel's tokenization/edge behavior. */
class LmSpec extends SparkSuite {
  import spark.implicits._

  private def round9(x: Double): Double =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("word-grams kernel: normalization, order, frequency, edges") {
    val df = Seq(
      (1L, "The cat, the CAT!"),
      (2L, "Héllo world"),  // é is a separator under ASCII normalization
      (3L, "one"),
      (4L, ""),
      (5L, "  a   b  ")
    ).toDF("id", "text")
    val got = df.select(col("id"),
        minhashExprs.wordGrams(col("text"), 2).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(1L) === Seq("the cat", "cat the", "the cat")) // dup preserved
    assert(got(2L) === Seq("h llo", "llo world"))
    assert(got(3L) === Seq.empty) // < n tokens: empty, no whole-doc gram
    assert(got(4L) === Seq.empty)
    assert(got(5L) === Seq("a b"))
    val tri = df.where(col("id") === 1)
      .select(minhashExprs.wordGrams(col("text"), 3))
      .collect().head.getSeq[String](0)
    assert(tri === Seq("the cat the", "cat the cat"))
  }

  test("bigram LM matches hand-computed smoothed probabilities") {
    // corpus: d1 "aa bb aa bb", d2 "aa bb", d3 "zz", d4 ""
    // bigrams: d1 {aa bb:2, bb aa:1}, d2 {aa bb:1}
    // model:   c(aa bb)=3, c(bb aa)=1; contexts c(aa.)=3, c(bb.)=1
    // successor vocab V = |{bb, aa}| = 2; alpha = 0.5
    val docs = Seq((1L, "aa bb aa bb"), (2L, "aa bb"), (3L, "zz"), (4L, ""))
      .toDF("doc_id", "text")
    val lpAaBb = round9(math.log((3 + 0.5) / (3 + 0.5 * 2))) // P(bb|aa)
    val lpBbAa = round9(math.log((1 + 0.5) / (1 + 0.5 * 2))) // P(aa|bb)
    val d1Avg = (2 * lpAaBb + 1 * lpBbAa) / 3
    val d2Avg = lpAaBb
    val got = LanguageModel.bigramLmScore(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(got.toSeq === Seq(
      Row(1L, 3L, round6(d1Avg), round6(math.exp(-d1Avg))),
      Row(2L, 1L, round6(d2Avg), round6(math.exp(-d2Avg))),
      Row(3L, 0L, 0.0, 1.0),
      Row(4L, 0L, 0.0, 1.0)))
  }

  test("common-phrase documents score above rare-bigram documents") {
    val common = (0 until 8).map(i => (i.toLong, "the cat sat on the mat"))
    val rare = Seq((100L, "qx wz vb nm kj hg"))
    val docs = (common ++ rare).toDF("doc_id", "text")
    val scores = LanguageModel.bigramLmScore(docs, "doc_id", "text")
      .select("doc_id", "avg_logprob")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores(0L) > scores(100L),
      s"common ${scores(0L)} should beat rare ${scores(100L)}")
    // ppl = exp(-avg): strictly positive, and 1.0 only for empty docs
    val ppl = LanguageModel.bigramLmScore(docs, "doc_id", "text")
      .agg(min("ppl")).collect().head.getDouble(0)
    assert(ppl > 0)
  }

  test("held-out scoring: unseen grams smoothed, self-pair reduces to lmScore") {
    // train "aa bb aa cc": model c(aa bb)=1, c(bb aa)=1, c(aa cc)=1;
    // contexts c(aa.)=2, c(bb.)=1; successor vocab V = |{bb, aa, cc}| = 3
    val train = Seq((1L, "aa bb aa cc")).toDF("doc_id", "text")
    val score = Seq((10L, "aa bb"), (11L, "zz qq"), (12L, "")).toDF("doc_id", "text")
    val got = LanguageModel.bigramLmScoreHeldout(train, score, "doc_id", "text")
      .orderBy("doc_id").collect()
    val lpSeen = round9(math.log((1 + 0.5) / (2 + 0.5 * 3)))   // P(bb|aa)
    val lpUnseen = round9(math.log(0.5 / (0 + 0.5 * 3)))        // ln(1/V)
    assert(got.toSeq === Seq(
      Row(10L, 1L, round6(lpSeen), round6(math.exp(-lpSeen))),
      Row(11L, 1L, round6(lpUnseen), round6(math.exp(-lpUnseen))),
      Row(12L, 0L, 0.0, 1.0)))
    // train == score must reduce exactly to the self-scoring operator
    val docs = table("documents").limit(80)
    val self = LanguageModel.bigramLmScore(docs, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val held = LanguageModel.bigramLmScoreHeldout(docs, docs, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    assert(held === self)
  }

  test("ppl buckets: head/middle/tail ordered and near-thirds") {
    val docs = table("documents")
    val b = LanguageModel.pplBuckets(docs, "doc_id", "text")
    val byBucket = b.groupBy("bucket")
      .agg(count(lit(1)).as("n"), min("ppl").as("lo"), max("ppl").as("hi"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(byBucket.keySet === Set("head", "middle", "tail"))
    assert(byBucket("head")._3 <= byBucket("middle")._2)
    assert(byBucket("middle")._3 <= byBucket("tail")._2)
    val n = docs.count()
    byBucket.values.foreach { case (cnt, _, _) =>
      assert(cnt >= n / 5 && cnt <= n, s"degenerate bucket size $cnt of $n")
    }
    assert(byBucket.values.map(_._1).sum === n)
  }

  test("every document keeps exactly one row; alpha must be positive") {
    val docs = table("documents").limit(50)
    val out = LanguageModel.bigramLmScore(docs, "doc_id", "text")
    assert(out.count() === docs.count())
    assert(out.select("doc_id").distinct().count() === docs.count())
    intercept[IllegalArgumentException] {
      LanguageModel.bigramLmScore(docs, "doc_id", "text", alpha = 0.0)
    }
  }

  test("stupid backoff: all three branches hand-computed") {
    // train: "a b c a b d", "a b c"
    //   trigrams: {a b c: 2, b c a: 1, c a b: 1, a b d: 1}
    //   bigrams:  {a b: 3, b c: 2, c a: 1, b d: 1}
    //   unigrams: {a: 3, b: 3, c: 2, d: 1}; N = 9, V = 4
    val train = Seq((1L, "a b c a b d"), (2L, "a b c")).toDF("doc_id", "text")
    val score = Seq(
      (10L, "a b c"),   // seen trigram:   S = c(abc)/c(ab) = 2/3
      (11L, "x b c"),   // bigram backoff: S = 0.4 * c(bc)/c(b) = 0.4*2/3
      (12L, "a b z"),   // unigram base, OOV w3: 0.16*(0+0.5)/(9+0.5*4)
      (13L, "c a d"),   // unigram base, in-vocab w3: 0.16*(1+0.5)/11
      (14L, "a b"),     // < 3 tokens: degenerate row
      (15L, "a b c a")  // two trigrams: abc (2/3) and bca (1/2)
    ).toDF("doc_id", "text")
    val lpAbc = round9(math.log(2.0 / 3))
    val lpXbc = round9(math.log(0.4 * 2.0 / 3))
    val lpAbz = round9(math.log(0.16 * (0 + 0.5) / (9 + 0.5 * 4)))
    val lpCad = round9(math.log(0.16 * (1 + 0.5) / (9 + 0.5 * 4)))
    val lpBca = round9(math.log(1.0 / 2))
    // mirror the engine: the per-doc avg rounds to 6 for output, but ppl
    // is exp of the UNROUNDED quantized-sum average
    def avgRaw(lps: Seq[Double]): Double =
      lps.map(lp => math.round(lp * 1e9)).sum.toDouble / 1e9 / lps.size
    def row(id: Long, lps: Double*): Row =
      Row(id, lps.size.toLong, round6(avgRaw(lps)),
        round6(math.exp(-avgRaw(lps))))
    val got = LanguageModel.stupidBackoffScore(
        train, score, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(got.toSeq === Seq(
      row(10L, lpAbc), row(11L, lpXbc), row(12L, lpAbz), row(13L, lpCad),
      Row(14L, 0L, 0.0, 1.0), row(15L, lpAbc, lpBca)))
  }

  test("stupid backoff: self-scoring stays on the trigram branch; params validated") {
    // scoring the training corpus under itself: every doc trigram is in the
    // model, so scores are pure relative frequencies — all finite, and a
    // doc of repeated text scores ln(1)=0 exactly when its trigram count
    // equals its context count
    val docs = Seq((1L, "p q r p q r p q r"), (2L, "u v w x")).toDF("doc_id", "text")
    val got = LanguageModel.stupidBackoffScore(docs, docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(got.forall(r => !r.getDouble(2).isNaN && !r.getDouble(2).isInfinite))
    assert(got.map(_.getLong(1)).toSeq === Seq(7L, 2L))
    intercept[IllegalArgumentException] {
      LanguageModel.stupidBackoffScore(docs, docs, "doc_id", "text", lambda = 1.5)
    }
    intercept[IllegalArgumentException] {
      LanguageModel.stupidBackoffScore(docs, docs, "doc_id", "text", alpha = 0.0)
    }
  }

  test("domainWeights: hard domains upweighted, weights sum to 1") {
    // train teaches the 'easy' domain's bigrams; the 'hard' domain's val
    // text is all-unseen -> higher NLL -> larger softmax weight
    val train = Seq(
      (1L, "easy", "alpha beta gamma delta"),
      (2L, "easy", "alpha beta gamma delta"),
      (3L, "easy", "beta gamma delta alpha"),
      (4L, "hard", "omega psi chi phi")).toDF("id", "dom", "text")
    val valDf = Seq(
      (10L, "easy", "alpha beta gamma"),
      (11L, "easy", "beta gamma delta"),
      (12L, "hard", "zz qq ww vv"),
      (13L, "hard", "qq ww zz vv")).toDF("id", "dom", "text")
    val got = LanguageModel.domainWeights(train, valDf, "id", "dom", "text",
        temperature = 5.0, smoothing = 0.1)
      .collect().map(r =>
        r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(got("easy")._1 === 2L && got("hard")._1 === 2L)
    assert(got("hard")._2 > got("easy")._2, s"hard domain must score worse: $got")
    assert(got("hard")._3 > got("easy")._3, s"hard domain must be upweighted: $got")
    val total = got.values.map(_._3).sum
    assert(math.abs(total - 1.0) < 1e-6, s"weights must sum to ~1, got $total")
  }

  test("domainWeights: smoothing=1 is exactly uniform; determinism") {
    val train = Seq((1L, "a", "x y z"), (2L, "b", "p q r")).toDF("id", "dom", "text")
    val valDf = Seq((10L, "a", "x y"), (11L, "b", "unseen words here"))
      .toDF("id", "dom", "text")
    def run(s: Double) = LanguageModel.domainWeights(
      train, valDf, "id", "dom", "text", smoothing = s)
      .orderBy("dom").collect().map(r => (r.getString(0), r.getDouble(3))).toSeq
    val uniform = run(1.0)
    assert(uniform.forall(_._2 === 0.5), s"smoothing=1 must be uniform: $uniform")
    assert(run(0.1) === run(0.1), "two runs must be bit-identical")
    intercept[IllegalArgumentException] {
      LanguageModel.domainWeights(train, valDf, "id", "dom", "text",
        temperature = 0.0)
    }
    intercept[IllegalArgumentException] {
      LanguageModel.domainWeights(train, valDf, "id", "dom", "text",
        smoothing = 1.5)
    }
  }

  test("domainWeights: high temperature × wide NLL gap does not overflow") {
    // With min-subtraction softmax, temperature·excess here exceeds
    // ln(Long.Max/1e9) ≈ 22.9, so the 1e-9-quantized exp saturated the
    // Long cast and the summed denominator wrapped — weights went
    // negative. Max-subtraction keeps every exponent ≤ 0; pin weights in
    // [0,1], summing to 1, hard domain still on top.
    val train = Seq(
      (1L, "easy", "alpha beta gamma delta alpha beta gamma delta"),
      (2L, "easy", "alpha beta gamma delta"),
      (3L, "hard", "omega psi chi phi mu nu xi rho sigma tau ups eps"))
      .toDF("id", "dom", "text")
    val valDf = Seq(
      (10L, "easy", "alpha beta gamma delta"),
      (11L, "hard", "zz qq ww vv kk jj hh gg ff dd ss aa"))
      .toDF("id", "dom", "text")
    val got = LanguageModel.domainWeights(train, valDf, "id", "dom", "text",
        temperature = 20.0, smoothing = 0.1)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(got.values.forall(w => w >= 0.0 && w <= 1.0),
      s"weights must stay in [0,1] at extreme temperature: $got")
    val total = got.values.sum
    assert(math.abs(total - 1.0) < 1e-6, s"weights must sum to ~1, got $got")
    assert(got("hard") > got("easy"), s"hard domain must dominate: $got")
  }

  test("bigram scores over the corpus are log-probabilities: no document averages above 0") {
    val out = LanguageModel.bigramLmScore(table("documents"), "doc_id", "text")
    assert(out.where(col("avg_logprob") > 0).count() === 0L)
  }
}
