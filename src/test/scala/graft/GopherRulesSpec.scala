package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Gopher rule filter (Rae et al. '21 A1.1): each rule trips on a
  * hand-crafted violator and nothing else; a clean document passes all. */
class GopherRulesSpec extends SparkSuite {
  import spark.implicits._

  // 60 words, mean len in [3,10], stopwords present, alphabetic, no
  // bullets/ellipses/symbols
  private val clean = (("the cat and the dog have been with that crew " * 6)
    .trim)

  private def rules(docs: (Long, String)*) =
    TextFunctions.gopherRules(docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap

  test("clean document passes every rule") {
    val r = rules(1L -> clean)(1L)
    assert(r.getAs[Long]("word_count") === 60L)
    assert(r.getAs[Boolean]("keep"))
  }

  test("word-count bounds: short doc and inflated doc both drop") {
    val m = rules(1L -> "the cat sat with that be of and", // 8 words < 50
      2L -> clean)
    assert(!m(1L).getAs[Boolean]("keep"))
    assert(m(2L).getAs[Boolean]("keep"))
  }

  test("mean word length: digit-soup long words trip the [3,10] band") {
    val longWords = (("the of " + "aaaaaaaaaaaaaaaaaaaaaaaa " * 58).trim)
    val r = rules(1L -> longWords)(1L)
    assert(r.getAs[Double]("mean_word_len") > 10.0)
    assert(!r.getAs[Boolean]("keep"))
  }

  test("symbol ratio: hashes and ellipses per word exceed 0.1") {
    val hashy = clean + " " + ("# " * 10).trim // 70 words, 10 '#'
    val r = rules(1L -> hashy)(1L)
    assert(r.getAs[Double]("symbol_ratio") > 0.1)
    assert(!r.getAs[Boolean]("keep"))
    // '...' occurrences count non-overlapping, '......' = 2
    val dots = rules(2L -> (clean + " word...... more..."))(2L)
    // 62 words, 3 non-overlapping '...' -> 3/62
    assert(dots.getAs[Double]("symbol_ratio") === 0.048387)
  }

  test("bullet ratio: >90% bulleted lines drop; ellipsis lines cap at 30%") {
    val bullets = (1 to 10).map(i => s"- ${clean}").mkString("\n")
    val rb = rules(1L -> bullets)(1L)
    assert(rb.getAs[Double]("bullet_ratio") === 1.0)
    assert(!rb.getAs[Boolean]("keep"))
    val ell = (Seq(clean + " ...", clean + " …") ++ Seq(clean)).mkString("\n")
    val re = rules(2L -> ell)(2L)
    assert(re.getAs[Double]("ellipsis_ratio") === 0.666667)
    assert(!re.getAs[Boolean]("keep"))
    // blank lines are excluded from the line base
    val blanky = rules(3L -> (clean + "\n\n  \n" + clean))(3L)
    assert(blanky.getAs[Double]("bullet_ratio") === 0.0)
    assert(blanky.getAs[Boolean]("keep"))
  }

  test("alpha fraction: number-soup drops below 0.8") {
    val nums = (("the of 12 34 " * 15).trim) // half the words are digits
    val r = rules(1L -> nums)(1L)
    assert(r.getAs[Double]("alpha_frac") === 0.5)
    assert(!r.getAs[Boolean]("keep"))
  }

  test("stopword rule: a doc without 2 of the 8 Gopher words drops") {
    val noStops = (("lorem ipsum dolor sit amet " * 12).trim)
    val r = rules(1L -> noStops)(1L)
    assert(r.getAs[Long]("stop_hits") === 0L)
    assert(!r.getAs[Boolean]("keep"))
    // exactly two distinct hits (repeats don't inflate) passes the rule
    val twoStops = (("the cat runs with speed " * 12).trim)
    val r2 = rules(2L -> twoStops)(2L)
    assert(r2.getAs[Long]("stop_hits") === 2L)
    assert(r2.getAs[Boolean]("keep"))
  }

  test("empty and whitespace-only text zero out safely") {
    val m = rules(1L -> "", 2L -> "   \n  ")
    for (id <- Seq(1L, 2L)) {
      assert(m(id).getAs[Long]("word_count") === 0L)
      assert(m(id).getAs[Double]("mean_word_len") === 0.0)
      assert(!m(id).getAs[Boolean]("keep"))
    }
  }

  test("keep equals the conjunction of the emitted signals on every corpus row") {
    val g = TextFunctions.gopherRules(table("documents"), "doc_id", "text").cache()
    val inconsistent = g.where(col("keep") =!= (
      col("word_count") >= 50 && col("word_count") <= 100000 &&
        col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
        col("symbol_ratio") <= 0.1 && col("bullet_ratio") <= 0.9 &&
        col("ellipsis_ratio") <= 0.3 && col("alpha_frac") >= 0.8 &&
        col("stop_hits") >= 2L)).count()
    val n = g.count()
    val passWc = g.where(col("word_count") >= 50).count()
    g.unpersist()
    assert(inconsistent === 0L)
    assert(passWc > 0 && passWc < n, s"word-count rule passes $passWc of $n")
  }
}
