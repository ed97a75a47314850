package graft

import org.apache.spark.sql.functions._

import graft.operators.Graphs

/** PageRank: hand-computed single-iteration values, the uniform-ring fixed
  * point, multigraph (parallel-edge) weighting, dangling-mass conservation,
  * determinism, and input validation. */
class GraphsSpec extends SparkSuite {
  import spark.implicits._

  private def round9(x: Double): Double =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("hand-computed two-node chain, one iteration") {
    // A -> B, B dangling; N = 2, r0 = 0.5 each.
    // contrib(B) = 0.5/1; dangling = rank(B) = 0.5
    // r(A) = 0.15/2 + 0.85*(0 + 0.5/2); r(B) = 0.15/2 + 0.85*(0.5 + 0.25)
    val e = Seq(("A", "B")).toDF("src", "dst")
    val got = Graphs.pageRank(e, "src", "dst", damping = 0.85, iters = 1)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val base = (1.0 - 0.85) / 2.0
    val rA = round9(base + 0.85 * (0.0 / 1e9 + 5e8 / 1e9 / 2.0))
    val rB = round9(base + 0.85 * (5e8 / 1e9 + 5e8 / 1e9 / 2.0))
    assert(got === Map("A" -> rA, "B" -> rB))
  }

  test("uniform ring is a fixed point at exactly 1/N") {
    // 5-cycle: every node has out-degree 1 and receives exactly one
    // contribution of r/1 — rank stays 0.2 through every iteration
    val e = (0 until 5).map(i => (i.toLong, ((i + 1) % 5).toLong))
      .toDF("src", "dst")
    val got = Graphs.pageRank(e, "src", "dst", damping = 0.85, iters = 7)
      .collect().map(r => r.getDouble(1))
    assert(got.length === 5)
    assert(got.forall(_ === 0.2))
  }

  test("parallel edges weight the link; mass is conserved") {
    // A -> B twice, A -> C once: B must outrank C; total mass stays ~1
    val e = Seq(("A", "B"), ("A", "B"), ("A", "C")).toDF("src", "dst")
    val got = Graphs.pageRank(e, "src", "dst", damping = 0.85, iters = 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got("B") > got("C"), s"parallel edges must weight B above C: $got")
    assert(got("C") > 0.0)
    assert(math.abs(got.values.sum - 1.0) < 1e-5,
      s"dangling redistribution must conserve mass, got sum ${got.values.sum}")
  }

  test("hub dominance: star center outranks leaves") {
    val e = (1L to 20L).map(i => (i, 0L)).toDF("src", "dst")
    val got = Graphs.pageRank(e, "src", "dst", damping = 0.85, iters = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val leaves = got.filter(_._1 != 0L).values
    assert(got(0L) > leaves.max * 5,
      s"star center must dominate: center ${got(0L)} vs max leaf ${leaves.max}")
    assert(leaves.toSet.size === 1, "symmetric leaves must tie exactly")
  }

  test("star of 1,000 leaves: hub and leaf ranks equal the scalar replay of the quantized recurrence") {
    // every edge lands on one reduce key and the hub is dangling; leaves
    // are symmetric, so the (hub, leaf) pair replays on the driver with the
    // same 1e-9 contribution grid and round-9 output
    val nLeaves = 1000L
    val e = spark.range(nLeaves).select((col("id") + 1L).as("src"), lit(0L).as("dst"))
    val got = Graphs.pageRank(e, "src", "dst", damping = 0.85, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val nD = (nLeaves + 1).toDouble
    val base = (1.0 - 0.85) / nD
    var (rh, rl) = (round9(1.0 / nD), round9(1.0 / nD))
    for (_ <- 1 to 5) {
      val cq = nLeaves * math.round(rl * 1e9) // each leaf's one out-edge
      val dq = math.round(rh * 1e9)           // the hub's dangling mass
      val nh = round9(base + 0.85 * (cq / 1e9 + dq / 1e9 / nD))
      rl = round9(base + 0.85 * (dq / 1e9 / nD))
      rh = nh
    }
    assert(got.size === nLeaves + 1)
    assert(got(0L) === rh, s"hub ${got(0L)} != replayed $rh")
    assert((got - 0L).values.toSet === Set(rl), s"leaves != replayed $rl")
  }

  test("determinism and validation") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("src", "dst")
    def run() = Graphs.pageRank(e, "src", "dst", iters = 4)
      .orderBy("node").collect().toSeq
    val a = run()
    assert(a === run(), "two runs must be bit-identical")
    intercept[IllegalArgumentException] {
      Graphs.pageRank(e, "src", "dst", damping = 0.0)
    }
    intercept[IllegalArgumentException] {
      Graphs.pageRank(e, "src", "dst", damping = 1.0)
    }
    intercept[IllegalArgumentException] {
      Graphs.pageRank(e, "src", "dst", iters = 0)
    }
    intercept[IllegalArgumentException] {
      Graphs.pageRank(e, "src", "src")
    }
    intercept[IllegalArgumentException] {
      Graphs.pageRank(e.limit(0), "src", "dst")
    }
  }
}
