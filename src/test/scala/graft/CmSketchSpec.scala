package graft

import org.apache.spark.sql.functions._

import graft.operators.CorpusOps

/** Count-Min sketch: independently-hashed hand parity, the est ≥ true
  * guarantee under forced collisions, partition-layout invariance, and
  * bounds validation. */
class CmSketchSpec extends SparkSuite {
  import spark.implicits._

  /** Reference slot computation, independent of the Spark expression. */
  private def slot(seed: Long, row: Int, tok: String, width: Int): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$seed:$row:$tok".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 8), 16) % width
  }

  test("hand parity: sketch counts and estimates match reference hashing") {
    val docs = Seq(
      (1L, "alpha beta alpha"),
      (2L, "beta gamma"),
      (3L, "alpha")).toDF("doc_id", "text")
    val depth = 2; val width = 4; val seed = 7L
    val toks = Seq("alpha", "alpha", "alpha", "beta", "beta", "gamma")
    val expectedSketch = (for {
      r <- 0 until depth; t <- toks
    } yield (r, slot(seed, r, t, width))).groupBy(identity)
      .map { case ((r, s), xs) => (r, s, xs.size.toLong) }.toSet
    val gotSketch = CorpusOps.cmSketch(docs, "text", depth, width, seed)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotSketch === expectedSketch)

    val queries = Seq("alpha", "beta", "gamma", "absent").toDF("token")
    val got = CorpusOps.cmEstimate(
        CorpusOps.cmSketch(docs, "text", depth, width, seed),
        queries, "token", depth, width, seed)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val counts = toks.groupBy(identity).map { case (t, xs) => t -> xs.size }
    def expectedEst(t: String): Long =
      (0 until depth).map { r =>
        val s = slot(seed, r, t, width)
        toks.count(tok => slot(seed, r, tok, width) == s).toLong
      }.min
    for (t <- Seq("alpha", "beta", "gamma", "absent")) {
      assert(got(t) === expectedEst(t), s"estimate for '$t'")
      assert(got(t) >= counts.getOrElse(t, 0).toLong,
        s"CM must never underestimate '$t'")
    }
  }

  test("est >= true on a collision-heavy sketch; exact when private slots") {
    // 40 distinct tokens into width 8 -> guaranteed collisions; the
    // guarantee est >= true must hold for every token
    val docs = (0 until 40).map(i =>
      (i.toLong, (0 to i % 5).map(_ => s"tok$i").mkString(" ")))
      .toDF("doc_id", "text")
    val sketch = CorpusOps.cmSketch(docs, "text", depth = 3, width = 8)
    val exact = docs.select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("tc"))
    val joined = CorpusOps.cmEstimate(sketch, exact.select(col("token")),
        "token", depth = 3, width = 8)
      .join(exact, "token").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(joined.length === 40)
    joined.foreach { case (t, est, tc) =>
      assert(est >= tc, s"underestimate for $t: $est < $tc") }
    // and with a wide sketch, any token holding a private slot in some row
    // estimates exactly
    val wide = CorpusOps.cmEstimate(
        CorpusOps.cmSketch(docs, "text", depth = 3, width = 4096),
        exact.select(col("token")), "token", depth = 3, width = 4096)
      .join(exact, "token").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val exactHits = wide.count { case (_, est, tc) => est == tc }
    assert(exactHits >= 38,
      s"at width 4096 nearly all of 40 tokens should estimate exactly, " +
        s"got $exactHits")
  }

  test("sketch is partition-layout invariant") {
    val docs = (0 until 200).map(i =>
      (i.toLong, s"w${i % 17} w${i % 5} common")).toDF("doc_id", "text")
    def sk(p: Int) = CorpusOps.cmSketch(docs.repartition(p), "text")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(sk(1) === sk(7))
  }

  test("validation bounds") {
    val docs = Seq((1L, "a")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      CorpusOps.cmSketch(docs, "text", depth = 0)
    }
    intercept[IllegalArgumentException] {
      CorpusOps.cmSketch(docs, "text", width = 1)
    }
    intercept[IllegalArgumentException] {
      CorpusOps.cmEstimate(CorpusOps.cmSketch(docs, "text"),
        docs.select(col("text").as("token")), "token", depth = 17)
    }
  }

  test("over the corpus: at most depth x width cells, and the top terms never underestimate") {
    val docs = table("documents")
    val sk = CorpusOps.cmSketch(docs, "text", depth = 4, width = 1024).cache()
    assert(sk.count() <= 4L * 1024L)
    val exact = docs.select(explode(graft.functions.minhashExprs.wordGrams(
        graft.functions.TextFunctions.normalized(col("text")), 1)).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("tc")).orderBy(col("tc").desc).limit(5)
    val joined = CorpusOps.cmEstimate(sk, exact.select(col("token")), "token", depth = 4, width = 1024)
      .join(exact, "token").collect()
    sk.unpersist()
    assert(joined.length === 5)
    joined.foreach(r => assert(r.getLong(1) >= r.getLong(2), s"underestimate for ${r.getString(0)}"))
  }
}
