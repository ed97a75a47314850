package graft

import org.apache.spark.sql.functions._

import graft.operators.Clustering

/** Relational Lloyd's k-means + SemDeDup: hand-checkable geometry, Lloyd
  * improvement, determinism across layouts, empty-cell survival, and the
  * within-cluster-only dedup contract. */
class ClusteringSpec extends SparkSuite {
  import spark.implicits._

  private def vec(xs: Double*): Seq[Float] =
    xs.map(_.toFloat) ++ Seq.fill(62)(0.0f)

  test("two well-separated blobs: every point lands with its blob") {
    // ids 0,1 seed the two init centroids; blob A near (0,0), B near (10,10)
    val rows = Seq(
      0L -> vec(0.0, 0.0), 1L -> vec(10.0, 10.0),
      2L -> vec(0.5, 0.2), 3L -> vec(0.1, 0.7), 4L -> vec(0.9, 0.9),
      5L -> vec(10.5, 9.8), 6L -> vec(9.2, 10.3), 7L -> vec(10.1, 10.9))
    val df = rows.toDF("id", "v")
    val a = Clustering.kmeansAssign(df, "id", "v", k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val blobA = Set(0L, 2L, 3L, 4L).map(a)
    val blobB = Set(1L, 5L, 6L, 7L).map(a)
    assert(blobA.size === 1 && blobB.size === 1 && blobA != blobB)
  }

  test("a Lloyd iteration never increases total within-cluster distance") {
    val e = table("embeddings")
    def cost(iters: Int): Double =
      Clustering.kmeansAssign(e, "vec_id", "embedding", k = 8, iters = iters)
        .agg(sum("dist2")).collect().head.getDouble(0)
    val c0 = cost(0); val c1 = cost(1); val c3 = cost(3)
    assert(c1 <= c0 + 1e-6, s"iter 1 cost $c1 above init cost $c0")
    assert(c3 <= c1 + 1e-6, s"iter 3 cost $c3 above iter-1 cost $c1")
  }

  test("assignment is deterministic across partition layouts") {
    val e = table("embeddings")
    def run(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int)] =
      Clustering.kmeansAssign(df, "vec_id", "embedding", k = 4, iters = 2)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toSeq.sorted
    assert(run(e) === run(e.repartition(13)))
  }

  test("empty cell keeps its centroid; k > n rejected") {
    // duplicate of id 0 at id 2: init cells 0 and 1 are the same point as
    // seen from id 2, tie-break sends everything to cell 0 if ids 0,1 dup
    val df = Seq(0L -> vec(1.0, 1.0), 1L -> vec(1.0, 1.0),
      2L -> vec(1.2, 1.0)).toDF("id", "v")
    val cents = Clustering.kmeansFit(df, "id", "v", k = 2, iters = 2)
    assert(cents.size === 2)
    // cell 1 got no members (all ties go to cell 0) — centroid unchanged
    assert(cents(1)._2.take(2) === Seq(1.0, 1.0))
    intercept[IllegalArgumentException] {
      Clustering.kmeansFit(df, "id", "v", k = 5, iters = 1)
    }
  }

  test("semantic dedup pairs stay within one cell and above tau") {
    val e = table("embeddings")
    val pairs = Clustering.semanticDedupPairs(
      e, "vec_id", "embedding", k = 4, iters = 1, tau = 0.4)
    val rows = pairs.collect()
    assert(rows.forall(_.getDouble(3) >= 0.4))
    assert(rows.forall(r => r.getLong(1) < r.getLong(2)))
    // cross-check cell co-membership against the assignment
    val cellOf = Clustering.kmeansAssign(e, "vec_id", "embedding", 4, 1)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { r =>
      assert(cellOf(r.getLong(1)) === r.getInt(0))
      assert(cellOf(r.getLong(2)) === r.getInt(0))
    }
  }

  test("semanticDedupAuto: measured-k facade == explicit k; k tracks n") {
    val e = table("embeddings")
    val n = e.count()
    // cellTarget 50 over this corpus: k = ceil(n/50)
    val expectK = ((n + 49) / 50).toInt
    val auto = Clustering.semanticDedupAuto(e, "vec_id", "embedding",
        tau = 0.4, cellTarget = 50)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    val explicit = Clustering.semanticDedupPairs(e, "vec_id", "embedding",
        k = expectK, iters = 1, tau = 0.4)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(auto === explicit)
    // cellTarget >= n degenerates to one cell == brute force within corpus
    val one = Clustering.semanticDedupAuto(e, "vec_id", "embedding",
      tau = 0.4, cellTarget = n.toInt + 1)
    assert(one.select(col("cell")).distinct().collect()
      .map(_.getInt(0)).toSeq === Seq(0))
    // kMax caps the growth
    val capped = Clustering.semanticDedupAuto(e, "vec_id", "embedding",
      tau = 0.99, cellTarget = 1, kMax = 2)
    assert(capped.select(col("cell")).distinct().count() <= 2)
  }

  test("embedding outliers: planted anomalies flagged, tight blob is not") {
    // an extreme vector captures its own centroid under Lloyd updates
    // (self-distance ~0) — the tiny-cell rule must catch it anyway
    val rows =
      (0L until 40L).map(i => i -> vec(i % 2 * 0.1, i % 3 * 0.1)) :+
        (99L -> vec(500.0, 500.0))
    val df = rows.toDF("id", "v")
    val out = Clustering.embeddingOutliers(df, "id", "v", k = 2, iters = 1)
      .collect()
    val flagged = out.map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(flagged.contains(99L), "planted outlier missed")
    assert(flagged(99L) === "tiny_cell",
      "an isolated extreme owns its centroid; only the cell-size rule sees it")
    // 'far' rows (if any) really are beyond their cutoff
    out.filter(_.getString(4) == "far")
      .foreach(r => assert(r.getDouble(2) > r.getDouble(3)))
    // a tight single blob flags nothing: constant distance profile makes
    // p90 == p50 == cutoff and the far comparison is strict; all members
    // share one big cell so the tiny-cell rule is silent too
    val tight = (0L until 30L).map(i => i -> vec(1.0, 1.0)).toDF("id", "v")
    assert(Clustering.embeddingOutliers(tight, "id", "v", k = 2, iters = 1)
      .count() === 0)
    // the contract query's guarantee: the x1000 extreme always surfaces
    val contract = graft.queries.PipelineQueries
      .embeddingOutliers(spark, sf()).collect()
    assert(contract.map(_.getLong(0)).contains(3000000L),
      "x1000 planted extreme must be flagged under any arrangement")
  }

  test("planted near-duplicates are caught whenever they co-cluster") {
    val e = graft.queries.PipelineQueries.embeddingsWithPlants(spark, sf())
    val pairs = Clustering.semanticDedupPairs(
        e, "vec_id", "embedding", k = 8, iters = 1, tau = 0.95)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    // SemDeDup's actual guarantee: a pair above tau is found IFF both
    // sides share a cell (clustering may legitimately split a boundary
    // pair — that is the recall/cost trade the algorithm makes). Assert
    // exactly that, not corpus luck: every co-clustered plant must be in
    // the output, and a split plant must not be.
    val cellOf = Clustering.kmeansAssign(e, "vec_id", "embedding", 8, 1)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    var coClustered = 0
    (0L until 20L).foreach { i =>
      val expected = cellOf(i) == cellOf(i + 1000000L)
      if (expected) coClustered += 1
      assert(pairs.contains((i, i + 1000000L)) === expected,
        s"pair $i <-> ${i + 1000000}: co-clustered=$expected, " +
          s"found=${pairs.contains((i, i + 1000000L))}")
    }
    // the plants are ~0.994 cosine to their originals — near-identical
    // vectors land in the same cell for all but boundary cases, so the
    // guarantee must be doing real work here, not passing vacuously
    assert(coClustered >= 15, s"only $coClustered/20 plants co-clustered")
  }

  test("diverse sample caps the dominant cluster, keeps the tail whole") {
    // 40 rows in a tight blob at (0,0), 5 rows near (10,10): with quota 8
    // the dominant cell must be capped at 8 while the small cell survives
    // in full — the anti-mode-collapse contract
    val rows =
      Seq(0L -> vec(0.0, 0.0), 1L -> vec(10.0, 10.0)) ++
        (2L until 40L).map(i => i -> vec(0.01 * i, 0.02 * i % 0.5)) ++
        (100L until 104L).map(i => i -> vec(10.0 + 0.01 * i % 0.3, 9.8))
    val df = rows.toDF("id", "v")
    val kept = Clustering.diverseSample(df, "id", "v", k = 2, quota = 8,
        iters = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(3)))
    val byCell = kept.groupBy(_._2)
    assert(byCell.size === 2)
    assert(byCell.values.forall(_.length <= 8), "quota must cap every cell")
    val cellOfSmall = kept.find(_._1 >= 100L).map(_._2)
    assert(cellOfSmall.isDefined, "small blob must survive")
    assert(byCell(cellOfSmall.get).length === 5,
      "the under-quota cell must keep all 5 members")
    assert(kept.forall(_._3 <= 8), "priority must be <= quota")
    // deterministic: same input, same kept set
    val again = Clustering.diverseSample(df, "id", "v", k = 2, quota = 8,
      iters = 2).collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(3)))
    assert(kept.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
  }

  test("argminCell kernel == relational crossJoin + min(struct) assignment") {
    // the fused assignment kernel must be VALUE-identical to the relational
    // form it replaced (round-9 BigDecimal.valueOf/HALF_UP distances
    // compared, ties to the lower cell) — the whole oracle-equivalence
    // argument for the kmeans family rests on this pin. Centroids come
    // from a real fit so the distances exercise the rounding path, plus a
    // duplicate-centroid pair to force the tie-break.
    val e = table("embeddings")
    val cents = Clustering.kmeansFit(e, "vec_id", "embedding", k = 6, iters = 1)
    val tieCents = cents ++ Seq((6, cents.head._2), (7, cents(1)._2))
    val v = e.select(col("vec_id").as("__id"), col("embedding").as("__v"))
    val kernel = v.select(col("__id"),
        graft.functions.exprs.argminCell(col("__v"), tieCents).as("m"))
      .select(col("__id"), col("m.cell"), col("m.d"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).sorted
    val cdf = tieCents.toDF("cell", "cvec")
    val relational = v.crossJoin(broadcast(cdf))
      .withColumn("d",
        round(graft.functions.exprs.squaredDistance(col("__v"), col("cvec")), 9))
      .groupBy(col("__id"))
      .agg(min(struct(col("d"), col("cell"))).as("m"))
      .select(col("__id"), col("m.cell"), col("m.d"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).sorted
    assert(kernel.length === relational.length)
    assert(kernel === relational)
    // the duplicated centroids must never win a tie against their originals
    assert(kernel.forall(_._2 < 6), "tie-break must keep the lower cell id")
  }

  test("argminCell magnitude envelope: kernel == relational at huge distances") {
    // beyond d² ≈ 4e6 a double ulp crosses the 1e-9 rounding grid and the
    // skip fast path's proof breaks — the kernel must detect that regime
    // (bestD > 1e6 ⇒ always round) and stay value-identical to the
    // relational min(struct) form. ×1e5-scaled centroids put every
    // distance around 1e8–1e10, squarely past the envelope.
    val e = table("embeddings").limit(200)
    val cents = Clustering.kmeansFit(e, "vec_id", "embedding", k = 4, iters = 1)
    val bigCents = cents.map { case (c, v) => (c, v.map(_ * 1e5 + 1e4)) } ++
      Seq((4, cents.head._2.map(_ * 1e5 + 1e4))) // forced far-tie candidate
    val v = e.select(col("vec_id").as("__id"), col("embedding").as("__v"))
    val kernel = v.select(col("__id"),
        graft.functions.exprs.argminCell(col("__v"), bigCents).as("m"))
      .select(col("__id"), col("m.cell"), col("m.d"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).sorted
    val cdf = bigCents.toDF("cell", "cvec")
    val relational = v.crossJoin(broadcast(cdf))
      .withColumn("d",
        round(graft.functions.exprs.squaredDistance(col("__v"), col("cvec")), 9))
      .groupBy(col("__id"))
      .agg(min(struct(col("d"), col("cell"))).as("m"))
      .select(col("__id"), col("m.cell"), col("m.d"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).sorted
    assert(kernel === relational,
      "kernel diverged from relational argmin at large magnitudes")
    assert(kernel.forall(_._2 < 4), "far-tie must keep the lower cell id")
  }

  test("ArgminCell equals/hashCode compare array contents, not references") {
    // case-class equality over Array params is reference identity, which
    // silently disables plan canonicalization / CSE for identical kernels
    import graft.functions.ArgminCell
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val child = BoundReference(0, ArrayType(FloatType), nullable = true)
    def mk() = ArgminCell(child, Array(0, 1),
      Array(Array(1.0, 2.0), Array(3.0, 4.0)))
    assert(mk() === mk(), "content-equal kernels must compare equal")
    assert(mk().hashCode === mk().hashCode)
    assert(mk().semanticEquals(mk()), "semanticEquals must see content equality")
    val other = ArgminCell(child, Array(0, 1),
      Array(Array(1.0, 2.0), Array(3.0, 5.0)))
    assert(mk() !== other, "different centroid tables must not compare equal")
  }

  test("identical vectors co-cluster: 10 copies of 50 vectors give exactly C(10,2) pairs each at tau = 1.0") {
    // copies carry bit-identical distances, so the same argmin cell: every
    // 10-copy family pairs completely, and nothing else reaches tau = 1.0
    val base = table("embeddings").where(col("vec_id") < 50)
    val copies = (0 until 10).map(i => base.withColumn("vec_id", col("vec_id") + i * 1000000L))
      .reduce(_ unionByName _)
    val pairs = Clustering.semanticDedupPairs(copies, "vec_id", "embedding", k = 8, iters = 1, tau = 1.0)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(pairs.length === 45 * 50)
    assert(pairs.forall { case (a, b) => a % 1000000L == b % 1000000L })
  }
}
