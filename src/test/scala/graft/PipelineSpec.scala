package graft

import org.apache.spark.sql.functions._

import graft.functions.{exprs, TextFunctions}
import graft.operators.{Dedup, Similarity}
import graft.queries.PipelineQueries

/** Specs for the training-data pipeline operators (dedup / similarity /
  * text). */
class PipelineSpec extends SparkSuite {
  import spark.implicits._

  test("tokenCount: whitespace tokens, blank-safe") {
    val df = Seq("a b  c", "", "   ", "one").toDF("text")
      .select(TextFunctions.tokenCount(col("text")).as("n"))
    assert(df.as[Long].collect().toSeq === Seq(3L, 0L, 0L, 1L))
  }

  test("fingerprint64 expression: deterministic, normalization-insensitive") {
    val df = Seq("Hello, World!", "hello world", "other").toDF("text")
      .select(TextFunctions.fingerprint64(col("text")).as("fp"))
    val fps = df.as[Long].collect()
    assert(fps(0) === fps(1), "case/punct variants must collide")
    assert(fps(0) !== fps(2))
  }

  test("simhash64: near texts differ in few bits, far texts in many") {
    val near = Seq(
      ("a", "the quick brown fox jumps over the lazy dog again and again"),
      ("b", "the quick brown fox jumps over the lazy dog again and once"))
      .toDF("id", "text")
    val sh = Dedup.simhash(near, "id", "text").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val hamming = java.lang.Long.bitCount(sh("a") ^ sh("b"))
    assert(hamming <= 12, s"near-dup hamming=$hamming")
  }

  test("cosine similarity expression: exact values + zero-norm guard") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (Array(1.0f, 1.0f), Array(0.0f, 0.0f)))
      .toDF("a", "b")
      .select(exprs.cosineSimilarity(col("a"), col("b")).as("c"))
    val got = df.as[Double].collect()
    assert(math.abs(got(0) - 1.0) < 1e-12)
    assert(math.abs(got(1)) < 1e-12)
    assert(got(2) === 0.0)
  }

  test("minhash LSH finds planted near-duplicates") {
    val pairs = PipelineQueries.dedupMinhash(spark, sf())
      .where(col("id_b") === col("id_a") + PipelineQueries.PlantShift)
    assert(pairs.count() >= 15, "at least 15/20 planted pairs recovered")
    val j = pairs.agg(min("jaccard")).as[Double].first()
    assert(j >= 0.7)
  }

  test("jaccard: exact set semantics") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
      .select(Dedup.jaccard(col("x"), col("y")).as("j"))
    assert(math.abs(df.as[Double].first() - 0.5) < 1e-12)
  }

  test("embedding LSH near-dup recovers planted jittered vectors") {
    val pairs = PipelineQueries.dedupEmbedding(spark, sf())
      .where(col("id_b") === col("id_a") + PipelineQueries.PlantShift)
    assert(pairs.count() >= 10, "bucket-local search recovers most plants")
    assert(pairs.agg(min("cosine")).as[Double].first() >= 0.98)
  }

  test("hyperplane bucket kernel ≡ HOF formulation, bit for bit") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    for ((planes, seed, dim) <- Seq((8, 7L, 64), (12, 99L, 64), (6, 7L, 32))) {
      val cmp = e.select(
        Similarity.lshBucket(col("embedding"), planes, seed, dim).as("k"),
        Similarity.lshBucketHof(col("embedding"), planes, seed, dim).as("h"))
        .where(col("k") =!= col("h"))
      assert(cmp.count() === 0L, s"planes=$planes seed=$seed dim=$dim")
    }
  }

  test("brute-force knn: self excluded, ranks dense, cosine descending") {
    val r = PipelineQueries.knnBruteforce(spark, sf()).collect()
    assert(r.length === 50)
    assert(!r.exists(row => row.getLong(0) == row.getLong(1)))
    r.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getLong(3))
      assert(sorted.map(_.getLong(3)).toSeq === Seq(1L, 2L, 3L, 4L, 5L))
      val cosines = sorted.map(_.getDouble(2)).toSeq
      assert(cosines === cosines.sorted.reverse, "cosine must be non-increasing")
    }
  }

  test("lsh knn: bucket-local results are a subset ranking with real sims") {
    val exact = PipelineQueries.knnBruteforce(spark, sf())
      .select("query_id", "neighbor_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val approx = PipelineQueries.knnLsh(spark, sf()).collect()
    assert(approx.nonEmpty)
    // every approx cosine is a true cosine (verification is exact)
    approx.foreach { r =>
      val c = r.getDouble(2)
      assert(c <= 1.0 && c >= -1.0)
    }
    assert(exact.nonEmpty)
  }

  test("language id: identifies clearly-English and CJK text") {
    val df = Seq(
      ("en", "the cat and the dog are in the house with a ball"),
      ("zh", "中文文本处理引擎"),
      ("und", "zzz qqq www")).toDF("expected", "text")
      .select(col("expected"), TextFunctions.languageId(col("text")).as("got"))
    df.collect().foreach { r =>
      assert(r.getString(1) === r.getString(0), s"for expected=${r.getString(0)}")
    }
  }

  test("clusters: chained pairs form one component, min id labels it") {
    val ids = (1L to 7L).toDF("id")
    // components: {1,2,3,4} via chain, {5,6}, {7} singleton
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L)).toDF("id_a", "id_b")
    val labeled = Dedup.clusters(ids, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labeled === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  test("clusters: string ids converge (type-agnostic convergence check)") {
    // regression: convergence used sum(cluster_id).getLong, which threw
    // ClassCastException for non-integral ids
    val ids = Seq("a", "b", "c", "d", "e").toDF("id")
    val pairs = Seq(("a", "b"), ("b", "c"), ("d", "e")).toDF("id_a", "id_b")
    val expect = Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "d", "e" -> "d")
    // both paths must handle string ids: driver union-find (default) and
    // the distributed loop (forced)
    for (limit <- Seq(5000000L, 0L)) {
      val labeled = Dedup.clusters(ids, pairs, driverEdgeLimit = limit)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(labeled === expect, s"driverEdgeLimit=$limit")
    }
  }

  test("clusters: 200-node chain converges in O(log n) rounds (pointer doubling)") {
    // plain one-hop min propagation needs ~199 rounds here; the
    // label-of-label shortcut must finish well inside maxIter=15
    val n = 200L
    val ids = (0L until n).toDF("id")
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // driverEdgeLimit=0 forces the distributed loop — the convergence-rate
    // property under test lives there, not in the driver union-find
    val labeled = Dedup.clusters(ids, pairs, maxIter = 15, driverEdgeLimit = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(labeled.length === n.toInt)
    assert(labeled.forall(_._2 === 0L), "every node labeled with component min")
  }

  test("clusters: supplementary-plane string ids pick the same representative on both paths") {
    // regression (ADVICE r5): Ordering.String is UTF-16 code-unit order, so
    // "😀" (surrogate pair D83D DE00) sorted BELOW "�" on the driver
    // while Spark's least() (UTF-8 byte order: F0… > EF…) puts it above —
    // the component representative depended on which path ran
    val ids = Seq("�", "😀", "zz").toDF("id")
    val pairs = Seq(("�", "😀")).toDF("id_a", "id_b")
    def asMap(limit: Long) = Dedup.clusters(ids, pairs, driverEdgeLimit = limit)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val viaDriver = asMap(5000000L)
    val viaLoop = asMap(0L)
    assert(viaDriver === viaLoop)
    assert(viaDriver("😀") === "�",
      "code-point min must label the component")
  }

  test("hyperplane bucket kernel ≡ HOF on vectors containing NaN") {
    // regression (ADVICE r5): Spark SQL's `NaN >= 0` is TRUE (NaN sorts
    // greatest) while Java's is false — a NaN dot product bucketed
    // differently in the kernel until the NaN branch matched Spark
    val vecs = Seq(
      (1L, Array(Float.NaN, 1f, -2f, 3f)),
      (2L, Array(0.5f, Float.NaN, 0.25f, -1f)),
      (3L, Array(1f, 2f, 3f, 4f))).toDF("id", "embedding")
    val cmp = vecs.select(
      Similarity.lshBucket(col("embedding"), 8, 7L, 4).as("k"),
      Similarity.lshBucketHof(col("embedding"), 8, 7L, 4).as("h"))
      .where(col("k") =!= col("h"))
    assert(cmp.count() === 0L)
  }

  test("simhashPortable: closed-form identities (single token, multiplicity, ties)") {
    // single-token doc: every hash bit's majority is the bit itself, so the
    // simhash IS the 60-bit md5-prefix hash; repetition must not change it
    val df = Seq(
      (1L, "alpha"),
      (2L, "alpha alpha alpha"),
      (3L, "Alpha!"),       // normalization: same token
      (4L, "   ")           // token-empty: dropped from the frame
    ).toDF("id", "text")
    val out = Dedup.simhashPortable(df, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = spark.sql(
      "SELECT CAST(conv(substring(md5('alpha'), 1, 15), 16, 10) AS BIGINT)")
      .first().getLong(0)
    assert(out === Map(1L -> expected, 2L -> expected, 3L -> expected))
    assert(expected > 0L && expected < (1L << 60))
  }

  test("dedup_simhash query: portable pipeline finds the planted near-dups") {
    val out = PipelineQueries.dedupSimhash(spark, sf()).collect()
    val plants = out.filter(r => r.getLong(1) == r.getLong(0) + PipelineQueries.PlantShift)
    assert(plants.nonEmpty, "some plants must sit within 3 bits")
    assert(out.forall(_.getLong(2) <= 3L))
  }

  test("clusters: driver union-find ≡ distributed loop on a random graph") {
    val rnd = new scala.util.Random(42)
    val n = 500
    val ids = (0L until n.toLong).toDF("id")
    // ~400 random edges (self-loops and duplicate/reversed pairs included on
    // purpose — both paths must canonicalize identically), plus a foreign
    // endpoint that must neither be labeled nor bridge components
    val es = Seq.fill(400)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)) ++
      Seq((3L, 9999L), (9999L, 7L))
    val pairs = es.toDF("id_a", "id_b")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaDriver = asMap(Dedup.clusters(ids, pairs))
    val viaLoop = asMap(Dedup.clusters(ids, pairs, driverEdgeLimit = 0))
    assert(viaDriver.size === n)
    assert(viaDriver === viaLoop)
    assert(!viaDriver.contains(9999L), "foreign endpoint must not be labeled")
    // 3 and 7 must NOT share a component via the foreign bridge node alone
    // (unless the random edges happen to connect them — check via loop parity
    // only, which the equality above already guarantees)
  }

  test("clusters: chains, reversed-edge stars and untouched singletons label exactly on both paths") {
    // 3 chains of 40 (diameter 39: the pointer-doubling case), 30 stars of
    // hub + 9 leaves with every other edge written leaf-first, 50 ids with
    // no edge; each labels to its chain base, its hub or itself
    val chains = for (c <- 0L until 3L; i <- 0L until 39L)
      yield (c * 1000L + i, c * 1000L + i + 1)
    val stars = for (s <- 0L until 30L; j <- 1L to 9L; hub = 100000L + s * 16L)
      yield if (j % 2 == 0) (hub, hub + j) else (hub + j, hub)
    val expected =
      (for (c <- 0L until 3L; i <- 0L until 40L) yield (c * 1000L + i) -> c * 1000L) ++
      (for (s <- 0L until 30L; j <- 0L to 9L; hub = 100000L + s * 16L) yield (hub + j) -> hub) ++
      (200000L until 200050L).map(i => i -> i)
    val ids = expected.map(_._1).toDF("id")
    val pairs = (chains ++ stars).toDF("id_a", "id_b")
    for (limit <- Seq(5000000L, 0L)) {
      val labeled = Dedup.clusters(ids, pairs, maxIter = 20, driverEdgeLimit = limit)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labeled === expected.toMap, s"driverEdgeLimit=$limit")
    }
  }

  test("clusters: reliable checkpoints when a checkpoint dir is set") {
    val prev = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(tmpDir("graft_ckpt"))
    try {
      val ids = (1L to 6L).toDF("id")
      val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
      // force the loop path: reliable checkpointing is a loop-only concern
      val labeled = Dedup.clusters(ids, pairs, driverEdgeLimit = 0).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labeled === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
        4L -> 4L, 5L -> 4L, 6L -> 6L))
    } finally {
      // restore the shared session's state so later suites keep exercising
      // the localCheckpoint path (SparkContext has a setter but no clearer
      // — the bridge reaches the private[spark] var)
      prev match {
        case Some(dir) => spark.sparkContext.setCheckpointDir(dir)
        case None =>
          org.apache.spark.sql.GraftSqlBridge.clearCheckpointDir(spark.sparkContext)
      }
    }
  }

  test("keepList keeps one representative per near-dup component") {
    val docs = PipelineQueries.docsWithPlants(spark, sf())
    val pairs = PipelineQueries.dedupMinhash(spark, sf())
    val kept = Dedup.keepList(docs, "doc_id", pairs)
    val keptIds = kept.select("doc_id").as[Long].collect().toSet
    assert(kept.count() < docs.count(), "near-dups were dropped")
    // no planted copy survives (its component always contains the lower
    // original id); originals may be dropped too if they organically
    // cluster under an even lower id
    val foundPlanted = pairs
      .where(col("id_b") === col("id_a") + PipelineQueries.PlantShift)
      .select("id_a").as[Long].collect()
    assert(foundPlanted.nonEmpty)
    foundPlanted.foreach { id =>
      assert(!keptIds.contains(id + PipelineQueries.PlantShift), s"copy of $id dropped")
    }
    // exactly one representative per component: kept == set of cluster ids
    val labeled = Dedup.clusters(docs.select(col("doc_id").as("id")), pairs)
    val reps = labeled.select("cluster_id").distinct().as[Long].collect().toSet
    assert(keptIds === reps)
  }

  test("leakSafeSplit: duplicate clusters never straddle the train/eval " +
      "boundary; per-id split would") {
    import graft.operators.Sampling
    val docs = table("documents").select(col("doc_id"), col("text"))
    val plants = docs.where(col("doc_id") < 20)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val uni = docs.union(plants)
    val got = Sampling.leakSafeSplit(uni, "doc_id", "text")
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // the leakage guarantee: every exact-copy pair shares its split
    (0L until 20L).foreach { i =>
      assert(got(i) === got(i + 1000000L),
        s"duplicate pair ($i, ${i + 1000000L}) split apart: " +
          s"${got(i)} vs ${got(i + 1000000L)}")
    }
    // contrast: the per-id split DOES leak on this corpus (if it didn't,
    // this test would be vacuous — fixture self-check)
    val perId = Sampling.hashSplit(uni, "doc_id")
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert((0L until 20L).exists(i => perId(i) != perId(i + 1000000L)),
      "fixture drifted: per-id split no longer separates any planted pair")
    // distribution still ~80/10/10 over clusters
    val frac = got.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(frac("train").toDouble / got.size > 0.7 &&
      frac("train").toDouble / got.size < 0.9, s"split skewed: $frac")
  }

  test("hashSplit: id-pure assignment is stable across layouts and repeatable") {
    import graft.operators.Sampling
    val docs = table("documents").select("doc_id")
    val a = Sampling.hashSplit(docs, "doc_id").select("doc_id", "split")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // repartitioned input must produce the IDENTICAL assignment (the whole
    // point vs randomSplit) and fractions should be near 80/10/10
    val b = Sampling.hashSplit(docs.repartition(13), "doc_id")
      .select("doc_id", "split")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a === b)
    val frac = a.values.groupBy(identity).view.mapValues(_.size.toDouble / a.size).toMap
    assert(math.abs(frac("train") - 0.8) < 0.1)
    // deterministic sample is a subset-consistent filter
    val s = Sampling.hashSample(docs, "doc_id", 0.5).count()
    assert(s > 0 && s < docs.count())
  }

  test("split output columns refuse to clobber same-named input columns") {
    import graft.operators.Sampling
    import spark.implicits._
    val withSplit = Seq((1L, "x", "old")).toDF("doc_id", "text", "split")
    val e1 = intercept[IllegalArgumentException] {
      Sampling.hashSplit(withSplit, "doc_id")
    }
    assert(e1.getMessage.contains("'split'"))
    val withCluster = Seq((1L, "x", "old")).toDF("doc_id", "text", "cluster")
    val e2 = intercept[IllegalArgumentException] {
      Sampling.leakSafeSplit(withCluster, "doc_id", "text")
    }
    assert(e2.getMessage.contains("'cluster'"))
    val withBucket = Seq((1L, "x", 3)).toDF("doc_id", "text", "bucket")
    val e3 = intercept[IllegalArgumentException] {
      Sampling.hashSplit(withBucket, "doc_id")
    }
    assert(e3.getMessage.contains("'bucket'"))
  }

  test("decontamination flags every original whose plant is in the benchmark") {
    val docs = PipelineQueries.docsWithPlants(spark, sf())
    val hits = Dedup.crossNgramOverlap(
        corpus = docs.where(col("doc_id") < PipelineQueries.PlantShift),
        benchmark = docs.where(col("doc_id") >= PipelineQueries.PlantShift),
        "doc_id", "text", w = 3, minShared = 5)
      .collect()
    // each plant shares nearly all shingles with its original
    val selfHits = hits.filter(r =>
      r.getLong(1) == r.getLong(0) + PipelineQueries.PlantShift)
    assert(selfHits.length === 20)
    assert(selfHits.forall(_.getLong(2) >= 5L))
  }

  test("dedup_ngram banding recall on planted J>=0.6 pairs stays pinned (sf0.01)") {
    // ngramJaccardPairs (now the dedup_ngram_lsh BENCH TWIN — the contract
    // entry graduated to the exact prefix-filtered join) has recall < 1 BY
    // MEASURED DESIGN in its 4×8 banding. This pins the round-6
    // measurement — 19 planted pairs with trigram J >= 0.6, banding
    // catches 14 — so a silent recall regression (or a fixture drift
    // changing the truth set) fails loudly.
    val docs = PipelineQueries.docsWithPlants(spark, sf("sf0.01"))
    val sh = docs.select(col("doc_id"),
      graft.functions.minhashExprs.charShingleSet(col("text"), 3).as("sh"))
    val truth = sh.where(col("doc_id") < 20)
      .select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      .join(sh.where(col("doc_id") >= PipelineQueries.PlantShift)
        .select((col("doc_id") - PipelineQueries.PlantShift).as("id_a"),
          col("sh").as("sh_b")), "id_a")
      .select(col("id_a"), Dedup.jaccard(col("sh_a"), col("sh_b")).as("j"))
      .where(col("j") >= 0.6)
      .select("id_a").as[Long].collect().toSet
    assert(truth.size === 19,
      s"fixture drift: planted J>=0.6 truth set changed (${truth.size})")
    val found = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.6)
      .where(col("id_b") === col("id_a") + PipelineQueries.PlantShift)
      .select("id_a").as[Long].collect().toSet
    val caught = truth.intersect(found)
    assert(caught.size >= 14,
      s"banding recall regressed: caught ${caught.size}/19 planted pairs")
  }

  test("ngramJaccardClusters: anchor-edge components match full pair-path components (sf0.01)") {
    // the cluster-form contract (O(n) output at any duplicate multiplicity)
    // must produce the SAME components as rolling up the full pair list on
    // the planted corpus, and must never falsely merge anywhere: its edge
    // set is a subset of the pair path's (same banding, same exact
    // verification), so each of its components sits inside a pair-path
    // component by construction — what this pins is that anchor pruning
    // did not SPLIT anything the full path connects on real data.
    val docs = PipelineQueries.docsWithPlants(spark, sf("sf0.01"))
    val got = Dedup.ngramJaccardClusters(docs, "doc_id", "text",
        n = 3, threshold = 0.6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairPath = Dedup.clusters(
        docs.select(col("doc_id").as("id")),
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.6))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet === pairPath.keySet, "every doc must be labeled")
    assert(got === pairPath,
      "anchor-pruned components diverged from full pair-path components")
  }

  test("verification-shape routing: bucket-local ≡ broadcast shape, " +
      "pairs + clusters (sf0.01)") {
    // the r18 measured two-step routing (side-bytes broadcast gate, then
    // predicted exchange volume — Dedup.useBucketLocal) picks between the
    // candidate-distinct/classic shape and the bucket-local join shape;
    // verification is symmetric + deterministic, so the two must return
    // IDENTICAL rows — pinned here by forcing each branch explicitly
    // (bound = MaxValue ⇒ classic, ≤0 ⇒ bucket-local) on the planted
    // corpus
    val docs = PipelineQueries.docsWithPlants(spark, sf("sf0.01"))
    import graft.functions.minhashExprs
    val withSig = Dedup.track(docs.select(col("doc_id").as("id"),
        minhashExprs.charShingleSet(col("text"), 3).as("sh"))
      .withColumn("sig", minhashExprs.minhashSig(col("sh"), 32))
      .cache())
    def pairsWith(bound: Long) =
      Dedup.verifiedPairsImpl(withSig, bands = 4, rows = 8, threshold = 0.6,
          numHashes = 32, bucketCap = 1000, tag = s"shape_$bound",
          sideBroadcastBound = bound)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
    assert(pairsWith(Long.MaxValue) === pairsWith(0L),
      "pair verification shapes diverged")
    def clustersWith(bound: Long) =
      Dedup.ngramJaccardClusters(docs, "doc_id", "text", n = 3,
          threshold = 0.6, sideBroadcastBound = bound)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clustersWith(Long.MaxValue) === clustersWith(0L),
      "cluster verification shapes diverged")
  }

  test("semantic_dedup_auto entry: memoized-fit path == direct facade (sf0.01)") {
    // the r17 fit-sharing entry (plantedKmeansFit memo +
    // semanticDedupPairsWith) must stay value-identical to running the
    // facade end-to-end — kmeansFit is deterministic, so serving its
    // centroid table from the memo cannot change a single pair
    val dir = sf("sf0.01")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val entry = rows(PipelineQueries.semanticDedupAutoQ(spark, dir))
    val direct = rows(graft.operators.Clustering.semanticDedupAuto(
        PipelineQueries.embeddingsWithPlants(spark, dir),
        "vec_id", "embedding", tau = 0.95, cellTarget = 1000)
      .orderBy(col("kept_id"), col("dropped_id")))
    assert(entry === direct,
      "memoized-fit semantic_dedup_auto diverged from the direct facade")
    // second call must serve the memo (identical values again)
    assert(rows(PipelineQueries.semanticDedupAutoQ(spark, dir)) === entry)
  }

  test("dedup_ngram_clusters entry: exact-branch labels == pair rollup (sf0.01)") {
    // the contract entry routes the auto facade's EXACT branch at this
    // measured size: its labels must equal rolling up the exact pair join
    // through clusters() — the same composition the DuckDB oracle replays
    // as brute force + recursive min-label
    val dir = sf("sf0.01")
    val slice = PipelineQueries.docsWithPlants(spark, dir)
      .where(col("doc_id") < 500 || col("doc_id") >= 1000000L)
    val entry = PipelineQueries.dedupNgramClusters(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rollup = Dedup.clusters(
        slice.select(col("doc_id").as("id")),
        Dedup.ngramJaccardJoin(slice, "doc_id", "text", n = 3, threshold = 0.6))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(entry === rollup)
    assert(entry.size === slice.count(), "every doc in the slice is labeled")
  }

  test("hybrid_search_ann: selective-probe fusion recall vs brute twin pinned (sf0.01)") {
    // the ANN-backed hybrid entry serves the vector leg from the IVF index
    // at nprobe 4/16 — approximate BY DESIGN (a true neighbor in an
    // unprobed cell is missed). Pin the measured fused-top-10 overlap
    // against the brute-force hybrid so a silent recall regression fails
    // loudly, the dedup_ngram_lsh discipline.
    val dir = sf("sf0.01")
    def fusedSets(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val brute = fusedSets(PipelineQueries.hybridSearchQ(spark, dir))
    val ann = fusedSets(PipelineQueries.hybridSearchAnnQ(spark, dir))
    assert(ann.keySet === brute.keySet, "every query must produce a fusion")
    // measured at 4/16 probing on this fixture: overlaps (5, 9, 8, 7),
    // 29/40 in aggregate — pin the floor so regressions fail loudly
    val overlaps = brute.keySet.toSeq.sorted
      .map(q => ann(q).intersect(brute(q)).size)
    assert(overlaps.forall(_ >= 5) && overlaps.sum >= 29,
      s"fused top-10 recall regressed: per-query overlap $overlaps / 10")
    // rank-1 fusion agreement (the lexical leg is identical; the vector
    // leg's unprobed-cell misses can reshuffle a close fusion): measured 3
    // of 4 queries agree on this fixture — pin that floor
    val b1 = PipelineQueries.hybridSearchQ(spark, dir)
      .where(col("rank") === 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a1 = PipelineQueries.hybridSearchAnnQ(spark, dir)
      .where(col("rank") === 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val agree = b1.count { case (q, d) => a1.get(q).contains(d) }
    assert(agree >= 3, s"rank-1 fusion agreement regressed: $agree/4")
  }

  test("ngramJaccardJoin: prefix-filtered join equals brute force exactly") {
    // completeness certificate for the graduated dedup_ngram contract
    // entry: the prefix filter may generate extra candidates but can never
    // MISS a qualifying pair (pigeonhole on the canonical-order prefix), so
    // after exact verification the output must equal all-pairs brute force
    // row-for-row — including every planted pair, at two thresholds
    val docs = PipelineQueries.docsWithPlants(spark, sf())
    val sh = docs.select(col("doc_id"),
      graft.functions.minhashExprs.charShingleSet(col("text"), 3).as("sh"))
    val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    Seq(0.5, 0.6).foreach { t =>
      val brute = a.crossJoin(b).where(col("id_a") < col("id_b"))
        .withColumn("inter", graft.functions.minhashExprs
          .sortedIntersectCount(col("sh_a"), col("sh_b")))
        .withColumn("unn", size(col("sh_a")) + size(col("sh_b")) - col("inter"))
        .where(col("unn") > 0 && col("inter").cast("double") / col("unn") >= t)
        .select(col("id_a"), col("id_b"),
          round(col("inter").cast("double") / col("unn"), 6).as("jaccard"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sorted.toSeq
      val got = Dedup.ngramJaccardJoin(docs, "doc_id", "text", n = 3, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sorted.toSeq
      assert(got === brute, s"t=$t: prefix join diverged from brute force")
      assert(got.nonEmpty, s"t=$t: planted pairs must appear")
    }
  }

  test("decontaminate facade: measured sizes pick exact vs bloom, same output") {
    val docs = PipelineQueries.docsWithPlants(spark, sf())
    val corpus = docs.where(col("doc_id") < PipelineQueries.PlantShift)
    val bench = docs.where(col("doc_id") >= PipelineQueries.PlantShift) // 20
    // corpus (hundreds of docs) ≥ 8× the 20-doc benchmark → bloom branch
    assert(Dedup.preferBloom(corpus, bench, 8.0),
      "corpus ≫ benchmark must choose the bloom prefilter")
    // corpus ≈ benchmark → the bloom build would dominate: exact branch
    assert(!Dedup.preferBloom(corpus, corpus, 8.0),
      "corpus ≈ benchmark must choose the plain exact join")
    // branch choice is a pure cost decision — facade output ≡ exact
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getLong(2))
    val viaFacade = Dedup.decontaminate(corpus, bench, "doc_id", "text",
      w = 3, minShared = 5).collect().map(key).sorted.toSeq
    val exact = Dedup.crossNgramOverlap(corpus, bench, "doc_id", "text",
      w = 3, minShared = 5).collect().map(key).sorted.toSeq
    assert(viaFacade === exact)
    assert(viaFacade.nonEmpty)
  }

  test("decontaminate facade memoizes its branch decision per plan pair") {
    val docs = PipelineQueries.docsWithPlants(spark, sf())
    val corpus = docs.where(col("doc_id") < PipelineQueries.PlantShift)
    val bench = docs.where(col("doc_id") >= PipelineQueries.PlantShift)
    Dedup.clearDecisionCache()
    Dedup.decontaminate(corpus, bench, "doc_id", "text")
    assert(Dedup.decisionCacheSize === 1, "first call records the decision")
    // a re-built but plan-identical frame pair must HIT the memo (the
    // per-batch pipeline shape) — same canonicalized plans, no second probe
    val corpus2 = docs.where(col("doc_id") < PipelineQueries.PlantShift)
    Dedup.decontaminate(corpus2, bench, "doc_id", "text")
    assert(Dedup.decisionCacheSize === 1, "plan-identical call must not re-probe")
    // a different ratio is a different decision key
    Dedup.decontaminate(corpus, bench, "doc_id", "text", bloomRatio = 2.0)
    assert(Dedup.decisionCacheSize === 2)
    Dedup.clearDecisionCache()
    assert(Dedup.decisionCacheSize === 0)
  }

  test("ngramJaccard facade: measured rows route exact vs LSH; LSH ⊆ exact") {
    val docs = PipelineQueries.docsWithPlants(spark, sf())
    // the bounded slice fits the default budget → exact branch; a tiny
    // forced budget must route away from the exact join (the 100-TB guard)
    assert(Dedup.fitsExactNgram(docs, 100000L))
    assert(!Dedup.fitsExactNgram(docs, 5L),
      "a corpus above the row budget must route to the LSH branch")
    Dedup.clearDecisionCache()
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val viaFacade = Dedup.ngramJaccard(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(key).sorted.toSeq
    assert(Dedup.ngramRouteCacheSize === 1, "first call records the route")
    val exact = Dedup.ngramJaccardJoin(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(key).sorted.toSeq
    assert(viaFacade === exact,
      "below the budget the facade must BE the exact join")
    // forced-LSH branch on the same slice: banding recall < 1 by design,
    // so its output is a SUBSET of the exact join's — with identical
    // jaccard values on every shared pair (both verify with the same
    // sorted-intersect kernel; the facade is a pure cost decision)
    val lsh = Dedup.ngramJaccard(docs, "doc_id", "text", threshold = 0.5,
      exactRowLimit = 5L).collect().map(key).toSeq
    assert(Dedup.ngramRouteCacheSize === 2, "a different budget re-probes")
    assert(lsh.nonEmpty, "planted near-dups must survive the LSH branch")
    val exactSet = exact.toSet
    assert(lsh.forall(exactSet.contains),
      "every LSH pair (id_a, id_b, jaccard) must appear in the exact output")
    // a plan-identical repeat call hits the memo — no second probe
    Dedup.ngramJaccard(docs, "doc_id", "text", threshold = 0.5)
    assert(Dedup.ngramRouteCacheSize === 2, "repeat call must not re-probe")
    Dedup.clearDecisionCache()
    assert(Dedup.ngramRouteCacheSize === 0)
  }

  test("corpus_pipeline_full: decon completeness, budget prefix, pack bound") {
    import graft.operators.Sampling
    val out = PipelineQueries.corpusPipelineFullQ(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.nonEmpty)
    val outIds = out.map(_._1).toSet
    // stage-5 soundness: the benchmark is built from docs 0..19, so any of
    // them surviving the cleaning stages MUST have been decontaminated away
    assert(outIds.forall(_ >= 20L),
      s"benchmark-contaminated docs leaked: ${outIds.filter(_ < 20L)}")
    // independent recompute of the chain with the NON-facade exact overlap
    // (the facade takes the bloom branch here; both are provably identical,
    // so this doubles as a routing check), compared as SETS
    val norm = table("documents").select(col("doc_id"),
      exprs.nfcNormalize(col("text")).as("text"))
    val bench = table("documents").where(col("doc_id") < 20)
      .select((col("doc_id") + PipelineQueries.PlantShift).as("doc_id"),
        concat(col("text"), lit(" graft planted near duplicate suffix"))
          .as("text"))
    val bad = Dedup.crossNgramOverlap(norm, bench, "doc_id", "text",
      w = 3, minShared = 5).select("doc_id").distinct()
    val deconed = norm.join(bad, Seq("doc_id"), "left_anti")
    val clean = Dedup.stripBoilerplate(deconed, "doc_id", "text", 8, 4, 25)
    val surv = clean.join(
        Dedup.exactTextGroups(clean, "doc_id", "text")
          .select(col("keeper_id").as("doc_id")), "doc_id")
      .where(TextFunctions.qualityScore(col("text")) >= 0.3)
    val expected = Sampling.tokenBudgetSample(
        surv.select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("n_tokens")),
        "doc_id", "n_tokens", budget = 2000L)
      .select("doc_id").as[Long].collect().toSet
    assert(outIds === expected,
      "output docs must be exactly the in-budget decontaminated survivors")
    // stage-6 shape: running total respects the budget and covers each doc
    assert(out.forall { case (_, n, cum, _, _) => cum <= 2000L && cum >= n })
    // stage-7 bound: every pack fits the 256-token budget unless it is a
    // single oversized doc
    out.groupBy(t => (t._4, t._5)).foreach { case ((grp, pack), rows) =>
      val tot = rows.map(_._2).sum
      assert(tot <= 256L || rows.size == 1,
        s"pack ($grp,$pack) holds $tot tokens across ${rows.size} docs")
    }
    // grp is the md5 bucket % 16 of the doc id (layout-independent layout key)
    val grpOk = spark.createDataset(out.map(t => (t._1, t._4)).toSeq)
      .toDF("doc_id", "grp")
      .where(Sampling.hashBucket(col("doc_id")) % 16 =!= col("grp"))
    assert(grpOk.count() === 0L)
    Dedup.unpersistAll()
  }

  test("clearIndexCaches releases trained-index storage; next call retrains") {
    PipelineQueries.knnIvf(spark, sf()).count()   // memoize + materialize cache
    val before = spark.sparkContext.getPersistentRDDs.size
    assert(before > 0, "the trained IVF index must hold a persisted corpus")
    PipelineQueries.clearIndexCaches()
    assert(spark.sparkContext.getPersistentRDDs.size < before,
      "clearIndexCaches must actually release persisted index storage")
    assert(PipelineQueries.knnIvf(spark, sf()).count() > 0,
      "a cleared cache retrains transparently")
  }

  test("temperatureMix: rarest stratum kept whole, α=1 identity, α=0 equalizes") {
    val docs = spark.range(0, 1100).select(col("id"),
      when(col("id") < 1000, "en").otherwise("sw").as("lang"))
    val mixed = graft.operators.Sampling
      .temperatureMix(docs, "id", "lang", alpha = 0.5)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(mixed("sw") === 100L, "rate-1 stratum keeps every row")
    // expected en rate = sqrt(100/1000) ≈ 0.316 → cut floor(256·r) = 80
    assert(mixed("en") > 200L && mixed("en") < 450L,
      s"en downsampled toward sqrt share, got ${mixed("en")}")
    val identity = graft.operators.Sampling
      .temperatureMix(docs, "id", "lang", alpha = 1.0).count()
    assert(identity === 1100L, "α=1 keeps the corpus as-is")
    val equalized = graft.operators.Sampling
      .temperatureMix(docs, "id", "lang", alpha = 0.0)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(equalized("sw") === 100L &&
      math.abs(equalized("en") - 100L) < 40L,
      s"α=0 equalizes expected stratum sizes, got $equalized")
  }

  test("temperatureMix: stratum-cardinality guard trips before the driver collect") {
    val docs = spark.range(0, 500).select(col("id"),
      concat(lit("s"), col("id")).as("lang"))   // 500 distinct strata
    val e = intercept[IllegalArgumentException] {
      graft.operators.Sampling
        .temperatureMix(docs, "id", "lang", alpha = 0.5, maxStrata = 100)
    }
    assert(e.getMessage.contains("maxStrata"))
    // exactly-at-cap cardinality still works
    assert(graft.operators.Sampling
      .temperatureMix(docs, "id", "lang", alpha = 1.0, maxStrata = 500)
      .count() === 500L)
  }

  test("temperatureMix: NULL strata neither set c_min nor downsample; kept whole") {
    // 1000 en, 100 sw, 10 null-stratum rows: if nulls were counted they
    // would become c_min=10 and deflate sw's rate below 1
    val docs = spark.range(0, 1110).select(col("id"),
      when(col("id") < 1000, "en")
        .when(col("id") < 1100, "sw")
        .otherwise(lit(null).cast("string")).as("lang"))
    val mixed = graft.operators.Sampling
      .temperatureMix(docs, "id", "lang", alpha = 0.5)
      .groupBy("lang").count()
      .as[(Option[String], Long)].collect()
      .map { case (k, n) => k.getOrElse("<null>") -> n }.toMap
    assert(mixed("sw") === 100L,
      "sw stays the rarest REAL stratum and keeps every row")
    assert(mixed("<null>") === 10L,
      "null-stratum rows keep defaultRate 1 (excluded from rate keys)")
    assert(mixed("en") > 200L && mixed("en") < 450L,
      s"en still downsamples toward sqrt(100/1000), got ${mixed("en")}")
  }

  test("stratifiedHashSample: non-string strata match their string-keyed rates") {
    val df = spark.range(0, 200).select(col("id"), (col("id") % 2).as("grp"))
    val out = graft.operators.Sampling
      .stratifiedHashSample(df, "id", "grp", Map("1" -> 0.0))
      .select("grp").distinct().as[Long].collect().toSet
    assert(out === Set(0L), "integer stratum 1 must match rate key \"1\"")
  }

  test("tokenBudgetSample: hash-order prefix, whole docs, layout-independent") {
    val docs = spark.range(0, 200).select(col("id"),
      (col("id") % 7 + 1).as("n"))
    val kept = graft.operators.Sampling
      .tokenBudgetSample(docs, "id", "n", budget = 100L)
    val total = kept.agg(sum("n")).as[Long].first()
    assert(total <= 100L, "inclusive budget never exceeded")
    // the next doc in hash order would cross the budget (prefix is maximal)
    val keptIds = kept.select("id").as[Long].collect().toSet
    val nextTotal = docs
      .withColumn("pr", md5(col("id").cast("string")))
      .where(!col("id").isin(keptIds.toSeq: _*))
      .orderBy("pr", "id").limit(1)
      .select("n").as[Long].first()
    assert(total + nextTotal > 100L, "no further whole doc fits")
    // monotone in the budget; layout-independent
    val kept2 = graft.operators.Sampling
      .tokenBudgetSample(docs.repartition(13), "id", "n", budget = 50L)
      .select("id").as[Long].collect().toSet
    assert(kept2.subsetOf(keptIds), "smaller budget keeps a prefix subset")
  }

  test("decontamination with bloom prefilter ≡ exact decontamination") {
    val exact = PipelineQueries.decontamination(spark, sf())
    val bloomed = PipelineQueries.decontaminationBloom(spark, sf())
    assert(bloomed.exceptAll(exact).isEmpty && exact.exceptAll(bloomed).isEmpty,
      "prefilter must be lossless: exact join output byte-identical")
  }

  test("dedupKeepMin removes exact duplicates keeping min id") {
    val df = Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("id", "k")
    val out = Dedup.dedupKeepMin(df, "id", Seq("k"))
      .select("id").orderBy("id").as[Long].collect()
    assert(out.toSeq === Seq(1L, 3L))
  }

  test("dedupLines: first corpus occurrence wins, docs reassemble in order") {
    val docs = Seq(
      (1L, "alpha\nshared line\nbeta"),
      (2L, "shared line\ngamma\n\n  \nalpha"),
      (3L, "shared line"),
      (4L, "delta\ndelta")).toDF("id", "text")
    val out = Dedup.dedupLines(docs, "id", "text")
      .orderBy("id").as[(Long, String, Long)].collect()
    assert(out(0) === ((1L, "alpha\nshared line\nbeta", 3L)),
      "doc 1 holds every first occurrence byte-intact")
    assert(out(1) === ((2L, "gamma", 1L)),
      "repeats of doc-1 lines and blank lines drop, order preserved")
    assert(out(2) === ((3L, "", 0L)),
      "a fully-deduplicated doc stays present with empty text")
    assert(out(3) === ((4L, "delta", 1L)),
      "a within-document repeat is a duplicate too")
  }

  test("dedupLines: 2k-doc identical-line corpus collapses to one survivor set") {
    // every line of every doc is the same 3-line boilerplate — the maximal
    // hot key for the first-occurrence aggregate; the partial-agg design
    // must both stay correct and keep each reducer's input collapsed
    val n = 2000
    val blob = spark.range(n).select(col("id"),
      lit("header line\nsame body in every document\nfooter line").as("text"))
    val out = Dedup.dedupLines(blob, "id", "text")
    assert(out.count() === n.toLong, "one row per input doc")
    val kept = out.where(col("n_lines_kept") > 0)
      .select("id", "clean_text", "n_lines_kept")
      .as[(Long, String, Long)].collect().toSeq
    assert(kept === Seq(
      (0L, "header line\nsame body in every document\nfooter line", 3L)),
      "doc 0 keeps the whole boilerplate, every other doc is emptied")
  }

  test("line_dedup query: boilerplate survives once, copyright once per source") {
    val out = PipelineQueries.lineDedup(spark, sf())
    assert(out.where(
      col("clean_text").contains("subscribe to our newsletter")).count() === 1L,
      "the all-docs boilerplate line survives exactly once")
    val nSources = table("documents").select(countDistinct("source"))
      .as[Long].first()
    assert(out.where(col("clean_text").contains("copyright 2026")).count()
      === nSources, "the per-source footer survives once per source")
  }

  test("redactPii: email/ip/phone replaced, clean text untouched") {
    import graft.functions.TextFunctions
    val df = Seq(
      (1L, "mail me at jane.doe+x@sub.example.org today"),
      (2L, "server 192.168.1.254 and 10.0.0.1 are up"),
      (3L, "call +1-555-123-4567 or 555-1234567 now"),
      (4L, "no pii here, just 3 words and v1.2 punctuation!"),
      (5L, "")).toDF("id", "t")
    val out = df.select($"id", TextFunctions.redactPii($"t").as("r"))
      .orderBy("id").as[(Long, String)].collect().toMap
    assert(out(1L) === "mail me at [EMAIL] today")
    assert(out(2L) === "server [IP] and [IP] are up")
    assert(out(3L) === "call [PHONE] or [PHONE] now")
    assert(out(4L) === "no pii here, just 3 words and v1.2 punctuation!",
      "version numbers / small digits are not dotted-quads or phones")
    assert(out(5L) === "")
  }

  test("repetitionProfile: degenerate, short, and empty docs") {
    import graft.functions.TextFunctions
    val df = Seq(
      (1L, "spam spam spam spam"),           // 1 type / 4 tokens, bigram "spam spam" x3 of 3
      (2L, "a b a b"),                       // bigrams: "a b" x2, "b a" x1
      (3L, "one"),                           // single token: no bigrams by definition
      (4L, ""),                              // empty: all zeros
      (5L, "all words here are unique")).toDF("doc_id", "text")
    val out = TextFunctions.repetitionProfile(df, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Double, Double, Double)].collect()
    assert(out(0) === ((1L, 4L, 0.25, 1.0, 1.0)))
    assert(out(1) === ((2L, 4L, 0.5, 0.5, round6(2.0 / 3))))
    assert(out(2) === ((3L, 1L, 1.0, 1.0, 0.0)))
    assert(out(3) === ((4L, 0L, 0.0, 0.0, 0.0)))
    assert(out(4) === ((5L, 5L, 1.0, 0.2, 0.25)))
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("int8RoundtripError: constant vectors are exact, errors bounded by scale/2") {
    import graft.operators.Similarity
    val df = Seq(
      (1L, Array(3.5f, 3.5f, 3.5f)),             // constant: scale 0, exact
      (2L, Array(0f, 255f)),                      // endpoints are code-exact
      (3L, Array(0f, 1f, 2f, 100f))               // generic: err <= scale/2
    ).toDF("vec_id", "embedding")
    val out = Similarity.int8RoundtripError(df, "vec_id", "embedding")
      .orderBy("vec_id").as[(Long, Double, Double)].collect()
    assert(out(0) === ((1L, 0.0, 0.0)))
    assert(out(1) === ((2L, 0.0, 0.0)))
    val scale3 = 100.0 / 255.0
    assert(out(2)._3 <= scale3 / 2 + 1e-9,
      "max reconstruction error bounded by half a quantization step")
    assert(out(2)._2 > 0.0, "generic vector has nonzero mean error")
  }

  test("corpus_pipeline_v2: stage contracts hold through the composition") {
    val out = graft.queries.PipelineQueries
      .corpusPipelineV2Q(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(out.nonEmpty, "the composition must keep documents")
    // budget contract: running totals within 3000 and strictly positive
    assert(out.forall(r => r._4 > 0 && r._4 <= 3000L))
    // C4 page rules upstream: no kept doc can be a lorem (id%7==0) or
    // brace (id%11==0) page — those were dropped in stage 1
    assert(out.forall(r => r._1 % 7 != 0 && r._1 % 11 != 0),
      "page-rule-dropped docs leaked through the composition")
    // training order: pos is dense 1..n within each shard, shards in [0,4)
    assert(out.forall(r => r._5 >= 0 && r._5 < 4))
    out.groupBy(_._5).foreach { case (s, rows) =>
      assert(rows.map(_._6).sorted.toSeq === (1L to rows.length).toSeq,
        s"shard $s positions not dense") }
    // dedup keep-min: kept ids are each the min of their duplicate class
    // within the kept set trivially; spot the quality ordering instead:
    // every kept doc's quality >= any dropped-but-cleaned doc unless the
    // budget boundary sits inside a score class (prefix property)
    val minKept = out.map(_._2).min
    assert(minKept >= 0.0 && out.map(_._2).max <= 1.0)
  }
}
