package graft

import org.apache.spark.sql.functions._

import graft.operators.Search

/** Okapi BM25 retrieval: hand-computed scores on a 3-doc corpus, the
  * distinct-query-term convention, ranking/tie order, the k bound, and a
  * plan-shape guard (no Window nodes — ranking is BoundedTopK). */
class SearchSpec extends SparkSuite {
  import spark.implicits._

  // corpus: dl = 4, 4, 2; avgdl = 10/3
  private val corpus = Seq(
    (1L, "apple banana apple cherry"),
    (2L, "banana banana durian fig"),
    (3L, "cherry fig")).toDF("doc_id", "text")

  private def bm25(qs: (Long, String)*) =
    Search.bm25TopK(corpus, qs.toDF("qid", "qtext"),
      "doc_id", "text", "qid", "qtext", k = 10)

  test("a non-integral id column fails, naming the column, instead of dropping uncastable ids") {
    val strIds = Seq(("abc", "apple banana"), ("2", "banana fig")).toDF("sid", "text")
    val e = intercept[IllegalArgumentException] {
      Search.bm25TopK(strIds, Seq(1L -> "apple").toDF("qid", "qtext"),
        "sid", "text", "qid", "qtext", k = 10)
    }
    assert(e.getMessage.contains("'sid'") && e.getMessage.contains("string"), e.getMessage)
  }

  test("hand-computed single-term score") {
    // 'apple': df=1, N=3 -> idf = ln(1 + 2.5/1.5) = ln(8/3) = 0.980829253
    // doc 1: tf=2, dl=4 -> 0.980829253 * 2*2.2 / (2 + 1.2*(0.25+0.75*4/(10.0/3)))
    //      = 4.315648713 / (2 + 1.38) = 1.276819146
    val got = bm25(1L -> "apple").collect()
    assert(got.length === 1)
    val r = got.head
    assert(r.getAs[Long]("doc_id") === 1L)
    assert(math.abs(r.getAs[Double]("score") - 1.276819) < 1e-6)
    assert(r.getAs[Long]("rank") === 1L)
  }

  test("repeated query terms don't double-count; multi-term sums") {
    val once = bm25(1L -> "apple cherry").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    val twice = bm25(1L -> "apple apple cherry").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    assert(once === twice)
    // doc 1 matches both terms, docs 3 matches cherry only
    assert(once.keySet === Set(1L, 3L))
    assert(once(1L) > once(3L))
  }

  test("docs sharing no query term never appear; unknown terms score empty") {
    val got = bm25(1L -> "durian").collect()
    assert(got.map(_.getAs[Long]("doc_id")).toSet === Set(2L))
    assert(bm25(2L -> "zzz unseen").collect().isEmpty)
  }

  test("k bounds the result and ranking is (score desc, doc_id asc)") {
    val two = Search.bm25TopK(corpus, Seq(1L -> "fig").toDF("qid", "qtext"),
      "doc_id", "text", "qid", "qtext", k = 1).collect()
    assert(two.length === 1)
    // fig: doc 3 (dl=2) beats doc 2 (dl=4) on length normalization
    assert(two.head.getAs[Long]("doc_id") === 3L)
    val ranks = bm25(1L -> "fig").collect()
      .sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("doc_id")).toSeq
    assert(ranks === Seq(3L, 2L))
  }

  test("plan shape: no Window nodes (ranking is BoundedTopK)") {
    val plan = bm25(1L -> "apple banana").queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"unexpected Window in plan:\n$plan")
  }

  test("a 12k-term vocabulary: the df table is semi-joined to the query terms below its broadcast; " +
      "ranking, ties and absent terms hold") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    // doc i: "shared anchor t{12i} .. t{12i+11}", 12 unique terms per doc,
    // plus a family of 10 identical docs whose two terms occur nowhere else
    val docs = spark.range(0, 1000).select(col("id").as("doc_id"),
      concat(lit("shared anchor "), array_join(transform(sequence(lit(0L), lit(11L)),
        j => concat(lit("t"), col("id") * 12L + j)), " ")).as("text"))
      .unionByName((5000L until 5010L).map(_ -> "zzqalpha zzqbeta corpus sentinel words")
        .toDF("doc_id", "text"))
    val out = Search.bm25TopK(docs, Seq(
      1L -> "shared anchor",           // every doc but the family: k fills
      2L -> "t60 anchor",              // t60 is unique to doc 5
      3L -> "absent0 absent1 absent2", // no posting at all
      4L -> "zzqalpha zzqbeta"         // the family ties: doc_id order
    ).toDF("qid", "qtext"), "doc_id", "text", "qid", "qtext", k = 10)
    val rows = out.collect().map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"), r.getAs[Long]("rank")))
    def ranked(q: Long) = rows.filter(_._1 == q).sortBy(_._3).map(_._2).toSeq
    assert(ranked(1L).length === 10)
    assert(ranked(2L).head === 5L, "the unique-term doc must rank first")
    assert(ranked(3L).isEmpty, "absent terms retrieve nothing")
    assert(ranked(4L) === (5000L until 5010L))
    object plans extends AdaptiveSparkPlanHelper
    val semiBelowBroadcast = plans.collect(out.queryExecution.executedPlan) {
      case b: BroadcastExchangeExec => b }
      .exists(b => plans.collect(b.child) { case j: BaseJoinExec if j.joinType == LeftSemi => j }.nonEmpty)
    assert(semiBelowBroadcast, out.queryExecution.executedPlan.toString)
  }

  test("rrfFuse: doc in both lists sums both reciprocal ranks") {
    val a = Seq((1L, 10L, 1L), (1L, 20L, 2L)).toDF("query_id", "doc_id", "rank")
    val b = Seq((1L, 20L, 1L), (1L, 30L, 2L)).toDF("query_id", "doc_id", "rank")
    val got = Search.rrfFuse(Seq(a, b)).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("rrf"), r.getAs[Long]("rank"))).toMap
    // doc 20: round(1e9/62) + round(1e9/61) = 32522475 -> 0.032522
    assert(got(20L) === (0.032522, 1L))
    assert(got(10L) === (0.016393, 2L))
    assert(got(30L) === (0.016129, 3L))
  }

  test("rrfFuse: k bound and doc_id tie-break") {
    // same single list twice -> all rrf doubled, ties impossible here;
    // two docs at the same rank in different queries stay independent
    val a = Seq((1L, 10L, 1L), (2L, 10L, 1L)).toDF("query_id", "doc_id", "rank")
    val b = Seq((1L, 11L, 1L), (2L, 12L, 1L)).toDF("query_id", "doc_id", "rank")
    val got = Search.rrfFuse(Seq(a, b), k = 1).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("doc_id")).toMap
    // per query both docs tie at 1/61 -> lower doc_id wins rank 1
    assert(got === Map(1L -> 10L, 2L -> 10L))
  }
}
