package graft

import org.apache.spark.sql.functions._

import graft.functions.exprs

/** KMV distinct-count sketch: exact regime, error regime, layout
  * independence, and the min-wise Jaccard estimator. */
class KmvSpec extends SparkSuite {
  import spark.implicits._

  test("exact regime (distinct <= k): estimate equals countDistinct exactly") {
    val df = spark.range(0, 10000L)
      .select((col("id") % 3).as("g"), (col("id") % 1234L).as("v"))
    val got = df.groupBy($"g")
      .agg(exprs.kmvEstimate(exprs.kmvSketch($"v", 4096), 4096)
        .cast("long").as("est"))
      .as[(Long, Long)].collect().toMap
    val truth = df.groupBy($"g").agg(countDistinct($"v").as("d"))
      .as[(Long, Long)].collect().toMap
    assert(got === truth)
  }

  test("error regime (distinct >> k): relative error within the KMV bound") {
    // 200k distinct values, k = 1024: theoretical std error ≈ 1/sqrt(k-2)
    // ≈ 3.1%; the xxhash stream is deterministic so the observed error is a
    // fixed number — assert a generous 4-sigma envelope
    val n = 200000L
    val k = 1024
    val est = spark.range(0, n)
      .agg(exprs.kmvEstimate(exprs.kmvSketch(col("id"), k), k).as("est"))
      .as[Double].first()
    val relErr = math.abs(est - n) / n.toDouble
    assert(relErr < 4.0 / math.sqrt(k - 2.0),
      s"estimate $est for $n distinct: rel err $relErr")
  }

  test("sketch is a set function: layout- and duplication-independent") {
    val base = spark.range(0, 5000L).select((col("id") % 777L).as("v"))
    def sketchOf(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.agg(exprs.kmvSketch(col("v"), 256).as("s"))
        .as[Seq[Long]].first()
    val a = sketchOf(base.repartition(1))
    val b = sketchOf(base.repartition(32))
    val c = sketchOf(base.union(base).union(base))   // duplication: no-op
    assert(a === b, "partition layout must not change the sketch")
    assert(a === c, "duplicate rows must not change the sketch")
    assert(a === a.sorted, "sketch is emitted ascending")
    assert(a.size === 256)
  }

  test("kmvJaccard: exact when |union| <= k, close for overlapping big sets") {
    // small sets, k covers the union: estimator is EXACT Jaccard
    val df = Seq(
      ("a", Seq(1L, 2L, 3L, 4L)),
      ("b", Seq(3L, 4L, 5L, 6L))).toDF("s", "vs")
      .select($"s", explode($"vs").as("v"))
    val sk = df.groupBy($"s")
      .agg(exprs.kmvSketch($"v", 64).as("sk"))
    val j = sk.where($"s" === "a").crossJoin(
        sk.where($"s" === "b").select($"sk".as("sk2")))
      .select(exprs.kmvJaccard($"sk", $"sk2", 64).as("j"))
      .as[Double].first()
    assert(j === 2.0 / 6.0, "4∪4 with 2 shared: J = 1/3 exactly")

    // big overlapping ranges, k = 512 << |union| = 30k: estimate near 1/3
    val big = spark.range(0, 20000L).select(lit("x").as("s"), col("id").as("v"))
      .union(spark.range(10000L, 30000L).select(lit("y").as("s"), col("id").as("v")))
    val sk2 = big.groupBy($"s").agg(exprs.kmvSketch($"v", 512).as("sk"))
    val jBig = sk2.where($"s" === "x").crossJoin(
        sk2.where($"s" === "y").select($"sk".as("sk2")))
      .select(exprs.kmvJaccard($"sk", $"sk2", 512).as("j"))
      .as[Double].first()
    assert(math.abs(jBig - 1.0 / 3.0) < 0.08,
      s"10k-shared/30k-union resemblance: got $jBig, want ≈ 0.333")
  }

  test("sourceOverlapSketch over 16 groups sharing 400 common tokens: same pairs as the exact " +
      "matrix, mean |J_est - J| < 0.05 in the estimate regime") {
    // each group: 10 docs of 100 distinctive tokens drawn from a 10k pool
    // with a group-keyed stride (pairs overlap partially) plus 40 common
    // tokens in every group; union per pair ~2,400 >> k = 256
    val docs = spark.range(160).map { i =>
      val (g, d) = ((i / 10).toInt, (i % 10).toInt)
      val distinctive = (0 until 100).map(j => s"t${(g * 131 + d * 100 + j * 7) % 10000}")
      (s"s$g", (distinctive ++ (0 until 40).map(j => s"c${d * 40 + j}")).mkString(" "))
    }.toDF("source", "text")
    val exact = graft.operators.CorpusOps.sourceOverlap(docs, "source", "text", maxGroups = 16)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(5)).toMap
    val sk = graft.operators.CorpusOps.sourceOverlapSketch(docs, "source", "text", k = 256,
        maxGroups = 16)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(4)).toMap
    assert(sk.keySet === exact.keySet && exact.size === 120)
    val meanErr = exact.map { case (p, j) => math.abs(sk(p) - j) }.sum / exact.size
    assert(meanErr < 0.05, s"mean sketch error $meanErr")
  }

  test("nulls are ignored; empty group yields estimate 0") {
    val df = Seq(Some(1L), None, Some(2L), None, Some(1L)).toDF("v")
    val est = df.agg(
      exprs.kmvEstimate(exprs.kmvSketch($"v", 16), 16).as("e"))
      .as[Double].first()
    assert(est === 2.0)
    val empty = spark.range(0).select(col("id").as("v"))
      .agg(exprs.kmvEstimate(exprs.kmvSketch($"v", 16), 16).as("e"))
      .as[Double].first()
    assert(empty === 0.0)
  }
}
