package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Random-projection (JL ±1) dimensionality reduction: hand-computed
  * projection values, sign-matrix determinism/balance, distance
  * preservation on planted near-duplicates, dimension-mismatch fail-fast,
  * and composition with brute-force ANN on the projected space. */
class RandomProjectSpec extends SparkSuite {
  import spark.implicits._

  test("hand-computed 2->1 projection under the md5 sign matrix") {
    val sgn = Similarity.signMatrix(1, 2, seed = 42L)(0)
    val df = Seq((1L, Seq(1.5f, -2.0f))).toDF("id", "v")
    val got = Similarity.randomProject(df, "v", "p", inDim = 2, outDim = 1,
        seed = 42L)
      .select(col("p").getItem(0)).collect()(0).getDouble(0)
    // quantized contributions: round(1.5*s0*1e9) + round(-2.0*s1*1e9)
    val q = math.round(1.5 * sgn(0) * 1e9) + math.round(-2.0 * sgn(1) * 1e9)
    assert(got === q.toDouble / 1e9 / math.sqrt(1.0))
  }

  test("sign matrix is deterministic and roughly balanced") {
    val a = Similarity.signMatrix(16, 64, 42L)
    val b = Similarity.signMatrix(16, 64, 42L)
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
    val c = Similarity.signMatrix(16, 64, 43L)
    assert(a.map(_.toSeq).toSeq !== c.map(_.toSeq).toSeq,
      "different seeds must give different matrices")
    val flat = a.flatten
    val plus = flat.count(_ == 1)
    assert(flat.forall(s => s == 1 || s == -1))
    // md5 parity over 1024 entries: expect ~512 ± a loose 5-sigma band
    assert(plus > 400 && plus < 624, s"sign balance off: +1 count $plus")
  }

  test("projection preserves pairwise distance within the JL band") {
    // deterministic pseudo-random 64-dim vectors; JL with k=16 is coarse,
    // so pin a LOOSE band on the distance ratio distribution rather than
    // per-pair tightness: most ratios should land within [0.4, 1.6], and
    // the mean ratio near 1
    val n = 60
    def vec(i: Int): Seq[Float] = {
      val r = new scala.util.Random(i * 7919L + 17L)
      (0 until 64).map(_ => r.nextGaussian().toFloat)
    }
    val df = (0 until n).map(i => (i.toLong, vec(i))).toDF("id", "v")
    val proj = Similarity.randomProject(df, "v", "p", 64, 16, 42L)
      .select(col("id"), col("p")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val orig = (0 until n).map(i => i.toLong -> vec(i).map(_.toDouble).toArray).toMap
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val ratios = for {
      i <- 0 until n; j <- (i + 1) until n
      o = d2(orig(i.toLong), orig(j.toLong)) if o > 1e-9
    } yield d2(proj(i.toLong), proj(j.toLong)) / o
    val within = ratios.count(r => r > 0.4 && r < 1.6).toDouble / ratios.size
    assert(within > 0.85,
      f"only ${within * 100}%.1f%% of distance ratios inside [0.4, 1.6]")
    val mean = ratios.sum / ratios.size
    assert(mean > 0.8 && mean < 1.25, s"mean distance ratio $mean far from 1")
  }

  test("planted near-duplicates stay nearest under projection") {
    // pairs at cosine ~0.999 must remain each other's nearest neighbor in
    // the projected space among 50 well-separated distractors
    def base(i: Int): Seq[Float] =
      (0 until 64).map(d => math.cos(i * 37 + d * 13).toFloat)
    val rows =
      (0 until 50).map(i => (i.toLong, base(i))) ++
        (0 until 5).map(i => (1000L + i,
          base(i).zipWithIndex.map { case (x, d) =>
            x + 0.01f * math.sin(d + i).toFloat }))
    val df = rows.toDF("id", "v")
    val proj = Similarity.randomProject(df, "v", "p", 64, 16, 42L)
      .select(col("id"), col("p")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    for (i <- 0 until 5) {
      val q = proj(1000L + i)
      val nn = proj.filter(_._1 != 1000L + i)
        .minBy { case (_, v) => d2(q, v) }._1
      assert(nn === i.toLong,
        s"plant ${1000 + i} nearest to $nn in projected space, expected $i")
    }
  }

  test("knn_rp twin: measured top-5 agreement vs the 64-dim truth") {
    // the bench-only knn_rp entry searches the 16-dim projection. On THIS
    // corpus the exact top-5 sit at near-equidistant cosines (uniformish
    // synthetic vectors — all pairwise similarities concentrate), so fine
    // rank preservation is information-theoretically out of reach for ANY
    // d/4 projection: measured 7/50 at k=16 and 8/50 at k=32. What RP
    // guarantees — and what the planted-near-dup test above pins at full
    // recall — is that WELL-SEPARATED neighbors survive. Here we pin the
    // agreement far above chance (random top-5 overlap would be
    // ~5·5/499 ≈ 0.05 per query ⇒ ~0.5/50 total) and document the rest,
    // the MG-tail "document rather than over-assert" convention.
    val e = graft.queries.Queries.t(spark, sf(), "embeddings")
    def top5(frame: org.apache.spark.sql.DataFrame, vc: String) =
      graft.operators.Similarity.bruteForceTopK(
          frame.where(col("vec_id") < 10), frame, "vec_id", vc, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (k, v) => (k, v.map(_._2).toSet) }
    val truth = top5(e, "embedding")
    val proj = graft.operators.Similarity
      .randomProject(e, "embedding", "proj", 64, 16)
      .select(col("vec_id"),
        expr("transform(proj, x -> cast(x as float))").as("pvec"))
    val got = top5(proj, "pvec")
    val overlaps = truth.keys.toSeq.sorted
      .map(q => (truth(q) & got.getOrElse(q, Set.empty)).size)
    info(s"per-query top-5 overlap: ${overlaps.mkString(",")} " +
      s"(total ${overlaps.sum}/50)")
    assert(overlaps.sum >= 4,
      s"projected agreement ${overlaps.sum}/50 not even above chance")
  }

  test("nnDescent: measured recall vs the exact graph; descent improves " +
      "on the LSH seed; deterministic; quadratic guard") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def edgeSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = edgeSet(Similarity.knnGraph(e, "vec_id", "embedding", k = 5))
    val seed0 = edgeSet(Similarity.nnDescent(e, "vec_id", "embedding",
      k = 5, iterations = 0))
    val desc = Similarity.nnDescent(e, "vec_id", "embedding", k = 5)
    val got = edgeSet(desc)
    val rSeed = (seed0 & exact).size.toDouble / exact.size
    val rDesc = (got & exact).size.toDouble / exact.size
    info(f"edge recall vs exact (500 nodes, k=5): " +
      f"LSH seed $rSeed%.3f -> default descent $rDesc%.3f")
    // the local join must add real recall over the seed, not just shuffle
    assert(rDesc > rSeed, f"descent did not improve: $rSeed%.3f -> $rDesc%.3f")
    // measured floor (0.959 at the default expand=3/it=4 on this corpus —
    // near-random vectors, the LOW-locality hard case; BASELINE.md r12) with
    // slack for future corpus rewrites — a recall measurement, not an oracle
    assert(rDesc >= 0.85, f"descent recall regressed badly: $rDesc%.3f")
    // determinism: the identical graph on a rerun, rank-for-rank
    val rerun = Similarity.nnDescent(e, "vec_id", "embedding", k = 5)
    assert(desc.orderBy("query_id", "rank").collect().toSeq ===
      rerun.orderBy("query_id", "rank").collect().toSeq)
    // the exact graph fails loudly past its node cap — BEFORE broadcasting
    intercept[IllegalArgumentException] {
      Similarity.knnGraph(e, "vec_id", "embedding", k = 5, maxNodes = 100)
    }
  }

  test("nnDescent: delta early stop at round r is IDENTICAL to an " +
      "explicit iterations=r run") {
    // the stop criterion (changed lists < delta*|edges| after a round)
    // must be a pure shortcut, never a different graph: measure the
    // actual round-1->2 change fraction, pick delta just above it, and
    // pin the early-stopped 4-iteration run to the explicit 2-iteration
    // graph row-for-row
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def run(it: Int, d: Double) = Similarity
      .nnDescent(e, "vec_id", "embedding", k = 5, iterations = it, delta = d)
      .select("query_id", "neighbor_id", "cosine", "rank")
    def edges(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // delta = 0.999 stops after the first check unless a round changes
    // over 99.9% of the internal lists — descent from a NONEMPTY LSH seed
    // always retains more than 0.1% (the seed's own true edges survive
    // every merge), so the early-stopped 4-iteration run must equal the
    // explicit 1-iteration graph row-for-row
    val one = run(1, 0.0).orderBy("query_id", "rank").collect().toSeq
    val early = run(4, 0.999).orderBy("query_id", "rank").collect().toSeq
    assert(early === one,
      "delta=0.999 must stop after round 1 and reproduce the explicit " +
        "1-iteration graph exactly")
    // sanity: the paper's delta=0.001 does NOT fire on this corpus
    // (round-4 lists still move ~4% at contract scale, BASELINE.md r12), so it
    // equals the full 4-round run here. The library DEFAULT is 0.0
    // (early termination is opt-in — r13 advice: a nonzero default would
    // silently change output for corpora that quiesce before the cap).
    val full = run(4, 0.0).orderBy("query_id", "rank").collect().toSeq
    val dflt = run(4, 0.001).orderBy("query_id", "rank").collect().toSeq
    assert(dflt === full, "delta=0.001 changed the 500-node graph")
    val g1 = edges(run(1, 0.0)); val g0 = edges(run(0, 0.0))
    assert(g0.nonEmpty && g1.nonEmpty)
  }

  test("nnDescent: sampled recall floor at the sf0.1 corpus scale " +
      "(default knobs AND the rho=0.7 production knob)") {
    // r12 verdict item 5: the 500-node floor above can stay green while a
    // seeding/local-join regression silently degrades the CORPUS-scale
    // graph (the bench twin's number lived only in BASELINE.md). Gate it:
    // build the full default-knob graph on the sf0.1 embeddings, then
    // measure edge recall for a 100-query deterministic sample against
    // brute-force truth (sample recall ≈ full recall — edges are i.i.d.
    // per query). Measured 0.921 at 20k nodes and ≥0.95 at 2k; floor 0.85
    // leaves corpus-rewrite slack below every measurement.
    // r13 verdict item 1: the rho=0.7 graph (knn_graph_nnd_rho bench twin
    // — the measured production knob, 19% cheaper) is gated against the
    // SAME truth set at the same floor, so the cheap knob cannot quietly
    // trade away recall (BASELINE.md r14: identical at 20k nodes).
    val e = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val sample = e.where(col("vec_id") % 20 === 0)
    val nQ = sample.count()
    assert(nQ >= 50, s"fixture drifted: only $nQ sampled queries")
    val truth = Similarity
      .bruteForceTopK(sample, e, "vec_id", "embedding")
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val qids = truth.map(_._1)
    for ((label, rho) <- Seq("defaults" -> 1.0, "rho=0.7" -> 0.7)) {
      val graph = Similarity.nnDescent(e, "vec_id", "embedding", rho = rho)
      val got = graph.where(col("query_id") % 20 === 0)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
        .filter(p => qids(p._1))
      val recall = (got & truth).size.toDouble / truth.size
      info(f"sampled recall at ${e.count()} nodes, k=10 $label: " +
        f"$recall%.3f (${(got & truth).size}/${truth.size} edges over " +
        f"$nQ queries)")
      assert(recall >= 0.85,
        f"corpus-scale NN-descent recall regressed ($label): $recall%.3f < 0.85")
    }
  }

  test("nnDescentAuto: measured scale thresholds pinned; identical to the " +
      "default-knob graph on a gate-scale corpus") {
    // the seed-bucket policy is measurement-derived (BASELINE.md r15
    // sweeps): coarse buckets at 2k nodes (fine ones go singleton
    // and starve seed-graph connectivity), fine at 20k (the seed is the
    // biggest wall chunk and four rounds recover the recall) — pin the
    // decision function so a silent threshold edit can't ship unmeasured
    assert(Similarity.nnDescentPlanesFor(2000L) == 8)
    assert(Similarity.nnDescentPlanesFor(9999L) == 8)
    assert(Similarity.nnDescentPlanesFor(10000L) == 12)
    assert(Similarity.nnDescentPlanesFor(20000L) == 12)
    // density-derived above the measured anchors (~5 nodes/bucket,
    // BASELINE.md r15 sf10 sweep: 200k nodes, 16 planes, recall 0.986):
    // planes = clamp(ceil(log2(n/5)), 12, 20)
    assert(Similarity.nnDescentPlanesFor(100000L) == 15)
    assert(Similarity.nnDescentPlanesFor(200000L) == 16)
    assert(Similarity.nnDescentPlanesFor(10000000L) == 20)
    // below the threshold the facade must be plan-identical to defaults —
    // same edges, same ranks (the sf1 bench twin shows the 3-round win)
    val e = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    assert(e.count() < 10000L, "fixture drifted past the auto threshold — " +
      "re-measure iterations-to-recall before trusting this equality")
    def edgeSet(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val auto = edgeSet(Similarity.nnDescentAuto(e, "vec_id", "embedding", k = 5))
    val dflt = edgeSet(Similarity.nnDescent(e, "vec_id", "embedding", k = 5))
    assert(auto == dflt, "auto facade diverged from defaults at gate scale")
  }

  test("nnDescentAuto: sampled recall floor in the fine-seed (12-plane) " +
      "regime, on an above-threshold corpus of the testdata family") {
    // the 12-plane seed only engages at >=10k nodes and no testdata corpus
    // is that large, so gate the regime on a 12k-node corpus built the way
    // MakeSfN builds sf1: the sf0.1 embeddings plus five e-rotated copies
    // (per-component deterministic noise at ~1.05x component RMS — copies
    // are decisively NOT near-dups of their base). Floor 0.85 = the same
    // corpus-scale convention as the defaults/rho gates above. The
    // adversarial boundary is recorded, not gated: on 12k pure-Gaussian
    // vectors NO config reaches 0.85 (defaults 0.768, auto 0.704 — the
    // corpus family is the limit there, see BASELINE.md r15).
    val base = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val copies = (0 until 6).map { i =>
      val shifted = base.withColumn("vec_id", col("vec_id") + lit(i * 2000L))
      if (i == 0) shifted
      else {
        val rms = sqrt(aggregate(col("embedding"), lit(0.0d),
          (acc, x) => acc + x.cast("double") * x.cast("double"))
          / greatest(size(col("embedding")).cast("double"), lit(1.0d)))
        shifted.withColumn("embedding",
          transform(col("embedding"), (x, j) =>
            (x.cast("double") + lit(1.05d) * rms *
              ((pmod(xxhash64(col("vec_id"), j), lit(2000001L))
                .cast("double") / lit(1000000.0d)) - lit(1.0d)))
              .cast("float")))
      }
    }.reduce(_ unionByName _)
    val e = copies.localCheckpoint(true)
    val n = e.count()
    assert(n >= 10000L && Similarity.nnDescentPlanesFor(n) == 12,
      s"fixture drifted below the fine-seed threshold: $n nodes")
    val sample = e.where(col("vec_id") % 120 === 0)
    val truth = Similarity
      .bruteForceTopK(sample, e, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val qids = truth.map(_._1)
    val got = Similarity.nnDescentAuto(e, "vec_id", "embedding", k = 5)
      .where(col("query_id") % 120 === 0)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
      .filter(p => qids(p._1))
    val recall = (got & truth).size.toDouble / truth.size
    info(f"fine-seed regime sampled recall at $n nodes: $recall%.3f " +
      f"(${(got & truth).size}/${truth.size})")
    assert(recall >= 0.85,
      f"fine-seed NN-descent recall regressed: $recall%.3f < 0.85")
  }

  test("kernel == HOF twin bit-for-bit on random vectors") {
    val rnd = new scala.util.Random(99L)
    val rows = (0 until 40).map { i =>
      (i.toLong, Seq.fill(64)(rnd.nextGaussian().toFloat))
    }
    val df = rows.toDF("id", "v")
    def grab(frame: org.apache.spark.sql.DataFrame) =
      frame.select(col("id"), col("p")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
    val kernel = grab(Similarity.randomProject(df, "v", "p", 64, 16, 5L))
    val hof = grab(Similarity.randomProjectHof(df, "v", "p", 64, 16, 5L))
    assert(kernel === hof, "fused kernel must equal the HOF formulation")
  }

  test("standardize: hand-computed z-scores, zero-variance dims, moments") {
    // dim0: values (0, 2) -> mu 1, sigma 1; dim1: (10, 30) -> mu 20,
    // sigma 10; dim2 constant -> sigma 0 -> z = 0
    val df = Seq(
      (1L, Seq(0.0f, 10.0f, 7.0f)),
      (2L, Seq(2.0f, 30.0f, 7.0f))).toDF("id", "v")
    val got = Similarity.standardize(df, "id", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(got((1L, 0L)) === -1.0 && got((2L, 0L)) === 1.0)
    assert(got((1L, 1L)) === -1.0 && got((2L, 1L)) === 1.0)
    assert(got((1L, 2L)) === 0.0 && got((2L, 2L)) === 0.0)

    // on scaled random data every dimension comes out ~N(0,1)
    val rnd = new scala.util.Random(3L)
    val big = (0 until 500).map(i => (i.toLong,
      Seq(rnd.nextGaussian().toFloat * 100f,
        (rnd.nextGaussian() * 0.01 + 5).toFloat))).toDF("id", "v")
    val z = Similarity.standardize(big, "id", "v")
      .groupBy(col("dim"))
      .agg(avg(col("z")).as("m"), stddev_pop(col("z")).as("s"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    z.foreach { case (d, m, s) =>
      assert(math.abs(m) < 1e-3, s"dim $d mean $m not ~0")
      assert(math.abs(s - 1.0) < 1e-3, s"dim $d std $s not ~1")
    }
  }

  test("dimension mismatch raises; validation") {
    val bad = Seq((1L, Seq(1.0f, 2.0f, 3.0f))).toDF("id", "v")
    val ex = intercept[Exception] {
      Similarity.randomProject(bad, "v", "p", inDim = 64, outDim = 16)
        .collect()
    }
    assert(ex.getMessage.contains("expected 64-dim") ||
      Option(ex.getCause).exists(_.getMessage.contains("expected 64-dim")))
    intercept[IllegalArgumentException] {
      Similarity.randomProject(bad, "v", "p", inDim = 3, outDim = 4)
    }
    intercept[IllegalArgumentException] {
      Similarity.randomProject(bad, "v", "p", inDim = 0, outDim = 0)
    }
    // per-dim bounds alone admit a 65536×1024 = 2^26-entry sign matrix —
    // a multi-GB driver-side plan literal; the PRODUCT guard must reject
    // it before any driver work happens
    intercept[IllegalArgumentException] {
      Similarity.randomProject(bad, "v", "p", inDim = 65536, outDim = 1024)
    }
  }
}
