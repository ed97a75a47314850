package graft

import org.apache.spark.sql.functions._

import graft.functions.exprs
import graft.operators.{CorpusOps, Sampling}

/** Edge cases for the corpus-preparation operators that the DuckDB oracles
  * (which run on the organic documents table) cannot reach: empty/boundary
  * inputs, quota saturation, zero-rate strata, non-ASCII entropy. */
class CorpusOpsSpec extends SparkSuite {
  import spark.implicits._

  test("chunkPlan: boundaries — empty, exact window, window+1") {
    val df = Seq(
      (1L, "   "),                                  // whitespace-only: no chunks
      (2L, (1 to 4).map(i => s"t$i").mkString(" ")), // tokens == window: 1 chunk
      (3L, (1 to 5).map(i => s"t$i").mkString(" "))  // window+1: 2 chunks
    ).toDF("id", "text")
    val out = CorpusOps.chunkPlan(df, "id", "text", window = 4)
      .orderBy("id", "chunk_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out === Array(
      (2L, 0L, 4L, "t1 t2 t3 t4"),
      (3L, 0L, 4L, "t1 t2 t3 t4"),
      (3L, 1L, 1L, "t5")))
  }

  test("chunkPlan: chunk tokens re-concatenate to the full token stream") {
    val text = (1 to 23).map(i => s"w$i").mkString(" ")
    val out = CorpusOps.chunkPlan(Seq((7L, text)).toDF("id", "text"), "id",
        "text", window = 5)
      .orderBy("chunk_idx").collect().map(_.getString(3))
    assert(out.length === 5)
    assert(out.mkString(" ") === text)
  }

  test("quotaPerGroup: caps big groups, keeps small ones whole, dense ranks") {
    val df = (1L to 30L).map(i => (i, if (i <= 25) "big" else "small"))
      .toDF("id", "grp")
    val out = Sampling.quotaPerGroup(df, "id", "grp", quota = 10)
    val byGrp = out.groupBy("grp").agg(count(lit(1)).as("n"),
        max(col("priority")).as("mx"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byGrp("big") === ((10L, 10L)), "big group capped at quota")
    assert(byGrp("small") === ((5L, 5L)), "small group kept whole")
    // determinism: same input, same kept set
    val a = out.select("id").as[Long].collect().toSet
    val b = Sampling.quotaPerGroup(df, "id", "grp", quota = 10)
      .select("id").as[Long].collect().toSet
    assert(a === b)
  }

  test("stratifiedHashSample: rate 0 empties a stratum, default keeps all") {
    val df = (1L to 100L).map(i => (i, if (i % 2 == 0) "drop" else "keep"))
      .toDF("id", "s")
    val out = Sampling.stratifiedHashSample(df, "id", "s",
      Map("drop" -> 0.0))
    val langs = out.select("s").distinct().as[String].collect().toSet
    assert(langs === Set("keep"))
    assert(out.count() === 50L)
  }

  test("charEntropy: closed-form values, unicode, empties") {
    val df = Seq(
      (1L, ""),            // empty -> 0
      (2L, "aaaa"),        // single symbol -> 0
      (3L, "ab"),          // two equiprobable -> ln 2
      (4L, "aabb"),        // still ln 2
      (5L, "中中文")        // CJK code points: p=(2/3,1/3)
    ).toDF("id", "text")
      .select(col("id"), exprs.charEntropy(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(df(1L) === 0.0)
    assert(df(2L) === 0.0)
    assert(math.abs(df(3L) - math.log(2)) < 1e-12)
    assert(math.abs(df(4L) - math.log(2)) < 1e-12)
    val expect5 = -(2.0 / 3 * math.log(2.0 / 3) + 1.0 / 3 * math.log(1.0 / 3))
    assert(math.abs(df(5L) - expect5) < 1e-12)
  }

  test("packSequences: budget respected, oversize isolated, layout-stable") {
    val docs = (1L to 200L).map(i => (i, (i % 37) + 1)).toDF("id", "toks")
      .union(Seq((500L, 999L)).toDF("id", "toks"))   // oversize doc
    val out = CorpusOps.packSequences(docs, "id", "toks", budget = 64,
        numGroups = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(out.length === 201, "every doc packed exactly once")
    // no multi-doc pack exceeds the budget; the oversize doc sits alone
    val packs = out.groupBy(t => (t._3, t._4)).values
    packs.foreach { members =>
      val total = members.map(_._2).sum
      assert(total <= 64 || members.length == 1,
        s"over-budget multi-doc pack: $members")
    }
    val oversize = out.find(_._1 == 500L).get
    assert(packs.find(_.exists(_._1 == 500L)).get.length === 1,
      s"oversize doc must be alone, got pack ${oversize}")
    // determinism across cluster layouts: different shuffle-partition count
    // must yield the identical assignment
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val out2 = CorpusOps.packSequences(docs, "id", "toks", budget = 64,
          numGroups = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      assert(out.sortBy(_._1) === out2.sortBy(_._1))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("packSequences: non-integral id type is rejected up front") {
    // regression (ADVICE r5): the silent long cast nulled non-numeric string
    // ids deep in the job and collapsed "007"/"7" onto one long
    val df = Seq(("a", 5L), ("b", 6L)).toDF("id", "toks")
    val e = intercept[IllegalArgumentException] {
      CorpusOps.packSequences(df, "id", "toks", budget = 64)
    }
    assert(e.getMessage.contains("integral id column"))
  }

  test("quotaPerGroup: two-stage pre-reduce matches single-window ranks under any layout") {
    // the salted stage-1 cap uses the physical partition id — the OUTPUT
    // must still be layout-independent (same kept ids AND same priorities)
    val df = (1L to 300L).map(i => (i, s"g${i % 3}")).toDF("id", "grp")
    def run(parts: Int) = Sampling.quotaPerGroup(
        df.repartition(parts), "id", "grp", quota = 7)
      .select("id", "grp", "priority")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val single = {
      // reference: the plain one-window formulation
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("grp"))
        .orderBy(Sampling.hashBucket(col("id")).asc, col("id").asc)
      df.withColumn("priority", row_number().over(w).cast("long"))
        .where(col("priority") <= 7)
        .select("id", "grp", "priority")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    }
    for (parts <- Seq(1, 5, 32)) assert(run(parts) === single, s"parts=$parts")
  }

  test("tfIdfTopTerms: hand-computed scores on a 2-doc corpus") {
    val df = Seq((1L, "apple apple banana"), (2L, "banana cherry")).toDF("id", "text")
    val out = CorpusOps.tfIdfTopTerms(df, "id", "text", k = 2)
      .orderBy("id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    // N=2; df(apple)=1, df(banana)=2, df(cherry)=1
    // idf(apple)=ln(3/2)+1, idf(banana)=ln(3/3)+1=1, idf(cherry)=ln(3/2)+1
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val apple = r6(2 * (math.log(1.5) + 1))
    val single = r6(math.log(1.5) + 1)
    assert(out === Array(
      (1L, 1L, "apple", apple), (1L, 2L, "banana", 1.0),
      (2L, 1L, "cherry", single), (2L, 2L, "banana", 1.0)))
  }

  test("trainOrder: dense per-shard positions, determinism, seed sensitivity") {
    import spark.implicits._
    import graft.operators.Sampling
    val docs = (1L to 400L).map(i =>
      (i, if (i % 2 == 0) "web" else "books")).toDF("doc_id", "src")
    val out = Sampling.trainOrder(docs, "doc_id", shards = 8, seed = 42L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every doc exactly once; shard in [0,8); per-shard pos dense 1..n
    assert(out.length === 400)
    assert(out.map(_._1).distinct.length === 400)
    assert(out.forall(t => t._2 >= 0 && t._2 < 8))
    out.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (1L to rows.length).toSeq)
    }
    // pure function of (seed, id): re-run identical, other seed differs
    val again = Sampling.trainOrder(docs, "doc_id", shards = 8, seed = 42L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
    val other = Sampling.trainOrder(docs, "doc_id", shards = 8, seed = 7L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.sortBy(_._1).toSeq !== other.sortBy(_._1).toSeq)
    // interleave: the md5 order ignores data attributes, so every shard
    // mixes both sources (a pure shard has probability ~2^-50 here)
    val bySrc = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out.groupBy(_._2).foreach { case (sh, rows) =>
      val srcs = rows.map(t => bySrc(t._1)).distinct
      assert(srcs.length === 2, s"shard $sh is source-pure: $srcs")
    }
    intercept[IllegalArgumentException] {
      Sampling.trainOrder(docs, "doc_id", shards = 0, seed = 1L)
    }
  }

  test("gramNovelty: min-id first-owner attribution, hand-computed") {
    import spark.implicits._
    import graft.operators.CorpusOps
    val docs = Seq(
      (1L, "a b c d"),   // {a b c, b c d} — both first here: 1.0
      (2L, "a b c x"),   // {a b c (first=1), b c x (first=2)}: 1/2
      (3L, "a b"),       // no trigrams: (0, 0, 0.0)
      (4L, "a b c d"),   // exact copy of doc 1: both grams owned by 1: 0.0
      (5L, "a b c a b c")// {a b c, b c a, c a b} — distinct: abc owned by 1
    ).toDF("doc_id", "text")
    val got = CorpusOps.gramNovelty(docs, "doc_id", "text", n = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === Seq(
      (1L, 2L, 2L, 1.0),
      (2L, 2L, 1L, 0.5),
      (3L, 0L, 0L, 0.0),
      (4L, 2L, 0L, 0.0),
      (5L, 3L, 2L, BigDecimal(2.0 / 3).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)))
    intercept[IllegalArgumentException] {
      CorpusOps.gramNovelty(docs, "doc_id", "text", n = 0)
    }
  }

  test("zipfFit: hand-computed 3-point fit, Zipfian slope, degenerate corpus") {
    import spark.implicits._
    import graft.operators.CorpusOps
    def r9(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // corpus "a a a b b c": freqs 3,2,1, one token each -> midranks 1,2,3
    val fix = Seq((1L, "a a a b b c")).toDF("doc_id", "text")
    val pts = Seq((1.0, 3.0), (2.0, 2.0), (3.0, 1.0)).map { case (mr, f) =>
      (r9(math.log(mr)), r9(math.log(f)))
    }
    // replicate the 1e-6 quantized exact sums and the closed form
    val (sxq, syq, sxyq, sxxq) = pts.foldLeft((0L, 0L, 0L, 0L)) {
      case ((a, b, c2, d), (x, y)) =>
        (a + math.round(x * 1e6), b + math.round(y * 1e6),
          c2 + math.round(x * y * 1e6), d + math.round(x * x * 1e6))
    }
    val (w, sx, sy, sxy, sxx) =
      (3.0, sxq / 1e6, syq / 1e6, sxyq / 1e6, sxxq / 1e6)
    val slope = (w * sxy - sx * sy) / (w * sxx - sx * sx)
    val icept = (sy - slope * sx) / w
    val got = CorpusOps.zipfFit(fix, "text").collect().head
    assert((got.getLong(0), got.getLong(1)) === ((3L, 6L)))
    assert(got.getDouble(2) === r6(slope))
    assert(got.getDouble(3) === r6(icept))
    // planted power law: token i repeated floor(200/i) times -> slope ~ -1
    val zipf = Seq((1L, (1 to 50).flatMap(i =>
      Seq.fill(200 / i)(s"tok$i")).mkString(" "))).toDF("doc_id", "text")
    val s2 = CorpusOps.zipfFit(zipf, "text").collect().head.getDouble(2)
    assert(s2 < -0.8 && s2 > -1.2, s"planted Zipf corpus slope $s2")
    // degenerate: one distinct frequency -> no defined slope
    val flat = CorpusOps.zipfFit(
      Seq((1L, "x y z")).toDF("doc_id", "text"), "text").collect().head
    assert(flat.getDouble(2) === 0.0 && flat.getDouble(3) === 0.0)
  }

  test("weightedSample: weight monotonicity — raising w never evicts") {
    val base = (0L until 30L).map(i => (i, 1.0)).toDF("id", "w")
    def kept(df: org.apache.spark.sql.DataFrame): Set[Long] =
      Sampling.weightedSample(df, "id", "w", n = 10)
        .collect().map(_.getLong(0)).toSet
    val k0 = kept(base)
    assert(k0.size === 10)
    // doubling a kept row's weight keeps it (ln(u)/w moves strictly up)
    val aKept = k0.head
    val boosted = base.withColumn("w",
      when(col("id") === aKept, 2.0).otherwise(col("w")))
    assert(kept(boosted).contains(aKept))
    // inflating an unkept row's weight enough pulls it in
    val anUnkept = ((0L until 30L).toSet -- k0).head
    val inflated = base.withColumn("w",
      when(col("id") === anUnkept, 1e9).otherwise(col("w")))
    assert(kept(inflated).contains(anUnkept),
      s"w=1e9 must pull $anUnkept into the sample (skey -> ~0)")
  }

  test("weightedSample: draw tracks weights statistically; determinism") {
    // 1000 light (w=1) + 1000 heavy (w=10) rows, n=200: heavy rows should
    // dominate roughly 10:1 (expected heavy share ~ 182/200)
    val df = ((0L until 1000L).map(i => (i, 1.0)) ++
      (1000L until 2000L).map(i => (i, 10.0))).toDF("id", "w")
    val got = Sampling.weightedSample(df, "id", "w", n = 200)
      .collect().map(_.getLong(0))
    assert(got.length === 200)
    val heavy = got.count(_ >= 1000L)
    assert(heavy > 140 && heavy < 200,
      s"heavy rows should dominate ~10:1, got $heavy/200")
    val again = Sampling.weightedSample(df, "id", "w", n = 200)
      .collect().map(_.getLong(0))
    assert(got.toSeq === again.toSeq, "two runs must be identical")
    // seed changes the draw
    val other = Sampling.weightedSample(df, "id", "w", n = 200, seed = 7L)
      .collect().map(_.getLong(0))
    assert(got.toSeq !== other.toSeq)
  }

  test("packStats: fill bounded, oversize isolated, totals consistent") {
    val df = ((1L to 30L).map(i => (i, (i % 7) * 10 + 5)) :+ (99L, 120L))
      .toDF("id", "nt")
    val packed = CorpusOps.packSequences(df, "id", "nt",
      budget = 50, numGroups = 4)
    val stats = CorpusOps.packStats(packed, budget = 50).collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getDouble(4)))
    // token conservation through the rollup
    assert(stats.map(_._2).sum === df.agg(sum(col("nt")))
      .collect().head.getLong(0))
    // a pack over budget (fill > 1) must be a single oversize doc
    stats.filter(_._3 > 1.0).foreach { case (n, t, f) =>
      assert(n === 1L, s"over-budget pack with $n docs (tokens $t fill $f)")
    }
    // multi-doc packs respect the budget
    stats.filter(_._1 > 1).foreach { case (_, t, f) =>
      assert(t <= 50L && f <= 1.0)
    }
    intercept[IllegalArgumentException] {
      CorpusOps.packStats(packed, budget = 0)
    }
  }

  test("qualityBudgetFill: two-phase cumsum == single-order formulation") {
    // ties in score (only 3 distinct values) force the within-score
    // md5-bucket offsets to do real work; layouts must not matter
    def md5hex(id: Long): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rows = (0L until 300L).map(i =>
      (i, (i % 7 + 1), BigDecimal((i % 3).toDouble / 4)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    val expectedOrder = rows.sortBy { case (id, _, s) => (-s, md5hex(id), id) }
    val budget = 400L
    var cum = 0L
    val expected = expectedOrder.flatMap { case (id, t, s) =>
      cum += t
      if (cum <= budget) Some((id, cum)) else None
    }.toMap
    for (parts <- Seq(1, 7)) {
      val df = rows.toDF("id", "toks", "score").repartition(parts)
      val got = Sampling.qualityBudgetFill(df, "id", "toks", "score", budget)
        .select("id", "cum_tokens")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected, s"layout $parts diverges from single-order")
    }
  }

  test("qualityBudgetFill: kept set is a prefix of the quality order") {
    val rows = (0L until 50L).map(i => (i, 5L, (i % 10).toDouble / 10))
    val df = rows.toDF("id", "toks", "score")
    val kept = Sampling.qualityBudgetFill(df, "id", "toks", "score", 100L)
      .select("id").collect().map(_.getLong(0)).toSet
    // 100 tokens at 5 each = 20 docs; the 15 docs with the two top scores
    // (0.9, 0.8 — 5 docs each = 10) plus 10 of the 0.7 class... verify the
    // dominance property directly: every kept doc's score >= every
    // dropped doc's score unless the budget boundary sits inside a class
    val scoreOf = rows.map(r => r._1 -> r._3).toMap
    val keptMin = kept.map(scoreOf).min
    val droppedAbove = rows.filter(r => !kept(r._1) && r._3 > keptMin)
    assert(droppedAbove.isEmpty,
      s"dropped higher-quality docs than kept: $droppedAbove")
    assert(kept.size === 20)
    // budget 0 -> empty; budget >= total -> everything
    assert(Sampling.qualityBudgetFill(df, "id", "toks", "score", 0L)
      .count() === 0L)
    assert(Sampling.qualityBudgetFill(df, "id", "toks", "score", 9999L)
      .count() === 50L)
  }

  test("qualityBudgetFill: distinct-score guard trips on unrounded keys") {
    val df = (0L until 40L).map(i => (i, 1L, i.toDouble / 997.0))
      .toDF("id", "toks", "score")
    val ex = intercept[IllegalArgumentException] {
      Sampling.qualityBudgetFill(df, "id", "toks", "score", 10L,
        maxDistinctScores = 16L)
    }
    assert(ex.getMessage.contains("distinct values"))
    // at the cap it runs
    assert(Sampling.qualityBudgetFill(df, "id", "toks", "score", 10L,
      maxDistinctScores = 40L).count() === 10L)
  }

  test("sourceOverlap: hand-computed Jaccard matrix, ordering, guard") {
    val df = Seq(
      (1L, "A", "alpha beta gamma"),
      (2L, "A", "beta delta"),          // A vocab: {alpha,beta,gamma,delta}
      (3L, "B", "beta gamma epsilon"),  // B vocab: {beta,gamma,epsilon}
      (4L, "C", "zeta")                 // C vocab: {zeta} — disjoint
    ).toDF("doc_id", "source", "text")
    val got = graft.operators.CorpusOps
      .sourceOverlap(df, "source", "text")
      .collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // A∩B = {beta,gamma} (2), union 5 -> 0.4; disjoint pairs 0.0
    assert(got(("A", "B")) === ((4L, 3L, 2L, 0.4)))
    assert(got(("A", "C")) === ((4L, 1L, 0L, 0.0)))
    assert(got(("B", "C")) === ((3L, 1L, 0L, 0.0)))
    assert(got.size === 3, "each unordered pair exactly once")
    val e = intercept[IllegalArgumentException] {
      graft.operators.CorpusOps.sourceOverlap(
        (1L to 20L).map(i => (i, s"s$i", "x")).toDF("doc_id", "source", "text"),
        "source", "text", maxGroups = 5)
    }
    assert(e.getMessage.contains("overlap matrix is G"))
  }

  test("minhashIndex: cross pairs match the union-self-join ground truth; " +
      "the standing index serves multiple increments") {
    import graft.operators.Dedup
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    def plant(lo: Long, hi: Long, shift: Long) = corpus
      .where(col("doc_id") >= lo && col("doc_id") < hi)
      .select((col("doc_id") + shift).as("doc_id"),
        concat(col("text"), lit(" graft planted near duplicate suffix"))
          .as("text"))
    val idx = Dedup.minhashIndex(corpus, "doc_id", "text")
    def pairsOf(inc: org.apache.spark.sql.DataFrame) = idx
      .pairsAgainst(inc, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // ground truth: minhashPairs over corpus ∪ increment, restricted to
    // the cross orientation (corpus id < 1e6 <= increment id)
    def truthOf(inc: org.apache.spark.sql.DataFrame) = Dedup
      .minhashPairs(corpus.union(inc), "doc_id", "text")
      .where(col("id_a") < 1000000L && col("id_b") >= 1000000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inc1 = plant(0L, 20L, 1000000L)
    val got1 = pairsOf(inc1)
    assert(got1 === truthOf(inc1), "increment 1 cross pairs diverge")
    assert(got1.exists(_._1 < 20L), "plants must hit their originals")
    // SECOND increment against the SAME index handle (train-once reuse)
    val inc2 = plant(20L, 40L, 2000000L)
    val got2 = pairsOf(inc2)
    assert(got2 === truthOf(inc2), "increment 2 cross pairs diverge")
    idx.unpersist()
    Dedup.unpersistAll()
  }

  test("keepBest: argmax per component, ties break to min id, null scores " +
      "lose, singletons kept, string ids rejected") {
    import graft.operators.Dedup
    val df = Seq(
      (1L, 0.2), (2L, 0.9),            // component {1,2,3}: 2 wins on score
      (3L, 0.9),                       //   (2 < 3 tie -> min id 2)
      (10L, 0.5),                      // singleton
      (20L, Double.NaN), (21L, 0.1)    // NaN treated as a real double by
    ).toDF("id", "score")              //   Spark ordering (NaN > any) —
      .withColumn("score",             //   use null instead for "no score"
        when(col("id") === 20L, lit(null).cast("double"))
          .otherwise(col("score")))
    val pairs = Seq((1L, 2L), (2L, 3L), (20L, 21L)).toDF("id_a", "id_b")
    val kept = Dedup.keepBest(df, "id", "score", pairs)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 10L, 21L),
      s"expected argmax keepers + singleton, got $kept")
    val e = intercept[IllegalArgumentException] {
      Dedup.keepBest(Seq(("a", 1.0)).toDF("id", "score"), "id", "score",
        pairs)
    }
    assert(e.getMessage.contains("integral id"))
  }

  test("sourceOverlap: token-empty group keeps its pairs at n=0/jaccard 0; " +
      "tokenDfCap drops ubiquitous tokens from shared AND sizes") {
    // group E normalizes to zero tokens (punctuation only) — before the
    // r12 ADVICE fix the inner size join silently dropped all its pairs
    val df = Seq(
      (1L, "A", "alpha beta"),
      (2L, "B", "beta gamma"),
      (3L, "E", "!!! ...")
    ).toDF("doc_id", "source", "text")
    val got = graft.operators.CorpusOps
      .sourceOverlap(df, "source", "text")
      .collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(got.size === 3, "all three unordered pairs, including E's")
    assert(got(("A", "E")) === ((2L, 0L, 0L, 0.0)))
    assert(got(("B", "E")) === ((2L, 0L, 0L, 0.0)))
    assert(got(("A", "B")) === ((2L, 2L, 1L, 0.333333)))
    // tokenDfCap=1: 'beta' (df 2) leaves the vocabulary entirely — sizes
    // shrink with it, so the distinctive-Jaccard stays internally
    // consistent (A={alpha}, B={gamma}, shared 0)
    val capped = graft.operators.CorpusOps
      .sourceOverlap(df, "source", "text", tokenDfCap = 1)
      .collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(capped(("A", "B")) === ((1L, 1L, 0L, 0.0)))
    assert(capped.size === 3)
  }

  test("sourceOverlapSketch: exact-regime equality to the exact matrix; " +
      "estimate regime within the 1/sqrt(k) envelope; empty group kept") {
    val df = Seq(
      (1L, "A", "alpha beta gamma"),
      (2L, "A", "beta delta"),
      (3L, "B", "beta gamma epsilon"),
      (4L, "E", "!!! ...")            // token-empty group
    ).toDF("doc_id", "source", "text")
    val exact = graft.operators.CorpusOps
      .sourceOverlap(df, "source", "text").collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2).toDouble, r.getLong(3).toDouble, r.getDouble(5)))).toMap
    val sk = graft.operators.CorpusOps
      .sourceOverlapSketch(df, "source", "text", k = 64).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(sk.keySet === exact.keySet, "same pair frame incl. E's pairs")
    sk.foreach { case (pair, got) =>
      assert(got === exact(pair), s"exact regime must be exact at $pair")
    }
    // estimate regime: two groups of 2000 mostly-overlapping synthetic
    // tokens (true J = 1500/2500 = 0.6) at k = 256 — measured error, not
    // an oracle; the min-wise estimator's std dev is ~sqrt(J(1-J)/k) ≈
    // 0.031, assert within 4 sigma
    val big = (1 to 2000).map(i => (i.toLong, "X", s"tok$i"))
      .++((501 to 2500).map(i => (i.toLong + 10000, "Y", s"tok$i")))
      .toDF("doc_id", "source", "text")
    val est = graft.operators.CorpusOps
      .sourceOverlapSketch(big, "source", "text", k = 256)
      .collect().head
    info(f"estimate regime: est_a=${est.getDouble(2)}%.1f " +
      f"est_b=${est.getDouble(3)}%.1f j=${est.getDouble(4)}%.4f (true 0.6)")
    assert(math.abs(est.getDouble(4) - 0.6) < 0.125,
      s"Jaccard estimate off: ${est.getDouble(4)}")
    assert(math.abs(est.getDouble(2) - 2000) / 2000 < 0.15 &&
      math.abs(est.getDouble(3) - 2000) / 2000 < 0.15,
      s"size estimates off: ${est.getDouble(2)}, ${est.getDouble(3)}")
  }

  test("snapshotNovelty: hand-computed fractions; cross-group text is " +
      "not novel; gram-empty group reports 0") {
    val before = Seq(
      (1L, "A", "a b c d"),          // before grams: {a b, b c, c d}
      (2L, "B", "x y z")             //               {x y, y z}
    ).toDF("doc_id", "source", "text")
    val after = Seq(
      ("A", "a b c q"),              // {a b, b c, c q}: 1 of 3 novel
      ("B", "x y z"),                // all old: 0 of 2
      ("C", "a b new"),              // {a b (old, from GROUP A!), b new}:
                                     //   1 of 2 — cross-group is not novel
      ("E", "!")                     // gram-empty
    ).toDF("source", "text")
    val got = graft.operators.CorpusOps
      .snapshotNovelty(before, after, "source", "text", n = 2)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got("A") === ((3L, 1L, 0.333333)))
    assert(got("B") === ((2L, 0L, 0.0)))
    assert(got("C") === ((2L, 1L, 0.5)))
    assert(got("E") === ((0L, 0L, 0.0)))
    assert(got.size === 4)
  }

  test("distributionDrift: hand-computed JS/L1; identical snapshot is 0; " +
      "vanished group is ln2/2") {
    // group A before: tokens {x:2, y:2} (T=4); after: {x:1, y:3} (T=4)
    //   p = (.5, .5), q = (.25, .75), m = (.375, .625)
    //   JS = .5*(.5 ln(.5/.375) + .5 ln(.5/.625))
    //      + .5*(.25 ln(.25/.375) + .75 ln(.75/.625)) ≈ 0.033822
    //   L1 = |.5-.25| + |.5-.75| = 0.5
    val before = Seq(("A", "x x y y"), ("B", "w w")).toDF("source", "text")
    val after = Seq(("A", "x y y y")).toDF("source", "text")
    val got = graft.operators.CorpusOps
      .distributionDrift(before, after, "source", "text")
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    val (nbA, naA, jsA, l1A) = got("A")
    assert((nbA, naA) === ((4L, 4L)))
    assert(math.abs(jsA - 0.033822) < 1e-5, s"JS(A) = $jsA")
    assert(l1A === 0.5)
    // group B vanished: q is the ZERO MEASURE (no after distribution
    // exists), so its KL and L1 legs contribute nothing ⇒ JS = ln2/2, L1 = 1
    val (nbB, naB, jsB, l1B) = got("B")
    assert((nbB, naB) === ((2L, 0L)))
    assert(math.abs(jsB - math.log(2.0) / 2) < 1e-5, s"JS(B) = $jsB")
    assert(l1B === 1.0)
    // identical snapshots drift 0 exactly
    val same = graft.operators.CorpusOps
      .distributionDrift(before, before, "source", "text")
      .collect().map(r => (r.getDouble(3), r.getDouble(4)))
    assert(same.forall(_ == ((0.0, 0.0))), same.mkString(","))
  }

  test("corpusDiff: all four statuses; normalization-only churn is " +
      "unchanged") {
    val before = Seq(
      (1L, "alpha beta gamma"),   // unchanged (modulo punctuation)
      (2L, "delta epsilon"),      // modified (real word added)
      (3L, "zeta eta")            // removed
    ).toDF("doc_id", "text")
    val after = Seq(
      (1L, "Alpha, beta; GAMMA!"), // same normalized fingerprint
      (2L, "delta epsilon theta"),
      (4L, "brand new doc")        // added
    ).toDF("doc_id", "text")
    val got = graft.operators.CorpusOps
      .corpusDiff(before, after, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "unchanged", 2L -> "modified",
      3L -> "removed", 4L -> "added"))
  }

  test("round-12 ops: empty/degenerate inputs yield empty outputs, not " +
      "errors") {
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.operators.CorpusOps
      .corpusDiff(emptyDocs, emptyDocs, "doc_id", "text").count() === 0L)
    // diff against an empty "after": everything removed
    val one = Seq((1L, "only doc here")).toDF("doc_id", "text")
    assert(graft.operators.CorpusOps
      .corpusDiff(one, emptyDocs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "removed")))
    val emptyVecs = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(graft.operators.Similarity
      .nnDescent(emptyVecs, "vec_id", "embedding", k = 3).count() === 0L)
    // a budget too small for even one fractional row still succeeds:
    // quota 0 groups emit nothing
    val tiny = Seq((1L, "A"), (2L, "A")).toDF("doc_id", "lang")
    val m = Sampling.epochManifest(tiny, "doc_id", "lang",
      budget = 1L, maxEpochs = 1.0)
    assert(m.count() === 1L, "budget 1 = one fractional-row epoch")
  }

  test("qualityBudgetFill: NULL scores are rejected, not silently dropped") {
    // the offset frames re-join on scoreCol equi-keys, so a NULL score
    // row would never match and vanish from the output — the guard must
    // fail fast instead (same single probe action as the cardinality
    // check)
    val df = Seq[(Long, Long, java.lang.Double)](
      (1L, 5L, 0.9), (2L, 5L, null), (3L, 5L, 0.4))
      .toDF("id", "toks", "score")
    val ex = intercept[IllegalArgumentException] {
      Sampling.qualityBudgetFill(df, "id", "toks", "score", 100L)
    }
    assert(ex.getMessage.contains("NULL"))
  }

  test("weightedSample: plan is TakeOrdered (no global sort), guards work") {
    val df = (0L until 50L).map(i => (i, 1.0)).toDF("id", "w")
    val plan = Sampling.weightedSample(df, "id", "w", n = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"selection must be a bounded top-n, got plan:\n$plan")
    // n >= corpus keeps everything
    assert(Sampling.weightedSample(df, "id", "w", n = 500).count() === 50L)
    // non-positive weight raises at runtime
    val bad = Seq((1L, 0.0)).toDF("id", "w")
    val ex = intercept[Exception] {
      Sampling.weightedSample(bad, "id", "w", n = 1).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
    assert(msgs(ex).exists(m => m != null && m.contains("weight must be > 0")))
    intercept[IllegalArgumentException] {
      Sampling.weightedSample(df, "id", "w", n = 0)
    }
  }

  test("trainOrder: 5,000 docs into 64 shards, each doc once, no shard above twice the mean") {
    val t = Sampling.trainOrder(spark.range(5000).select(col("id").as("doc_id")), "doc_id",
      shards = 64, seed = 42L)
    val sizes = t.groupBy(col("shard")).count().collect().map(_.getLong(1))
    assert(sizes.sum === 5000L && t.select("doc_id").distinct().count() === 5000L)
    assert(sizes.max < 5000 / 64 * 2, s"worst shard ${sizes.max}")
  }
}
