package graft

import org.apache.spark.sql.functions._

import graft.functions.exprs
import graft.multimodal.Multimodal
import graft.operators.{Similarity, SkewAnalyzer}

/** Driver-contract guards + cross-module integration. */
class ContractSpec extends SparkSuite {
  import spark.implicits._

  test("every SparkEntry query returns rows at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf()).count()
      assert(n > 0, s"query $name returned no rows")
    }
  }

  test("every oracleSql key has a matching query") {
    val qs = SparkEntry.queries.keySet
    val orphanOracles = SparkEntry.oracleSql.keySet -- qs
    assert(orphanOracles.isEmpty, s"oracles without queries: $orphanOracles")
  }

  test("bench-only twins run and never shadow contract queries") {
    val overlap = SparkEntry.benchQueries.keySet
      .intersect(SparkEntry.queries.keySet)
    assert(overlap.isEmpty, s"bench twins shadowing contract entries: $overlap")
    SparkEntry.benchQueries.foreach { case (name, fn) =>
      // executes without throwing; row count itself is the twin's business
      assert(fn(spark, sf()).count() >= 0L, s"bench query $name failed")
    }
  }

  test("no contract query nests a HOF inside a HOF lambda over unbounded input") {
    // The r8 bench-killer: Catalyst higher-order functions are interpreted
    // (CodegenFallback) with NO common-subexpression elimination across
    // lambda scopes, so a HOF whose lambda re-evaluates another HOF turns
    // O(m) work into O(m²) — 888 s for repeated_spans at sf0.1. A nested
    // HOF is fine when the OUTER iteration is a literal (e.g. the 16-entry
    // PQ sub-codebook in Similarity.PqCodebook.encode — constant factor);
    // it is a scale bug when the outer input is data-derived. This walks
    // every contract + bench plan and fails on the unbounded shape.
    import org.apache.spark.sql.catalyst.expressions.{Expression, HigherOrderFunction}
    def violations(root: Expression): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      root.foreach {
        case h: HigherOrderFunction =>
          val unboundedInput = !h.arguments.forall(_.foldable)
          val lambdaHasHof = h.functions.exists(
            _.find(_.isInstanceOf[HigherOrderFunction]).isDefined)
          if (unboundedInput && lambdaHasHof) out += h.prettyName
        case _ => ()
      }
      out.toSeq
    }
    // negative control: the detector must fire on the known-bad shape
    // (the retired O(m²) HOF formulation of winnowing)
    val badPlan = Seq("some text").toDF("text")
      .select(graft.functions.TextFunctions.winnowFingerprintsHof(col("text"), 8, 4))
      .queryExecution.analyzed
    assert(badPlan.flatMap(p => p.expressions.flatMap(violations)).nonEmpty,
      "detector failed to flag the known-quadratic HOF twin")
    (SparkEntry.queries ++ SparkEntry.benchQueries).foreach { case (name, fn) =>
      val plan = fn(spark, sf()).queryExecution.analyzed
      val bad = plan.flatMap(p => p.expressions.flatMap(violations)).distinct
      assert(bad.isEmpty, s"$name: quadratic-risk nested HOF over unbounded input: $bad")
    }
  }

  test("demo/ holds only the kept tools: a new one-off main fails here, named") {
    // a check that a one-off main would hold belongs in a spec; these are
    // the tools the docs run (verify recipe, bench fixtures, plan audits)
    // and RetryProbe, whose speculation leg needs its own SparkContext
    val kept = Set("FourthDecadeProbe", "HealthDemo", "MakeSf1", "PlanAudit", "PlanDump",
      "PopulateSampleDelta", "QueryJobProbe", "RetryProbe", "VerifyOne")
    val dir = new java.io.File("src/main/scala/graft/demo")
    assert(dir.isDirectory, s"${dir.getAbsolutePath} is not a directory")
    val extra = dir.listFiles().map(_.getName).filter(_.endsWith(".scala"))
      .map(_.stripSuffix(".scala")).filterNot(kept).sorted
    assert(extra.isEmpty, s"demo/ files outside the kept tools: ${extra.mkString(", ")}")
  }

  test("A4 parity: python tuple-key format") {
    val df = Seq(("Mon", "Dinner", 1)).toDF("day", "time", "x")
    val single = df.select(SkewAnalyzer.pythonTupleKey(Seq("day"))).first().getString(0)
    val multi = df.select(SkewAnalyzer.pythonTupleKey(Seq("day", "time"))).first().getString(0)
    assert(single === "Mon")
    assert(multi === "('Mon', 'Dinner')")
  }

  test("integration: multimodal features feed similarity search") {
    val media = Multimodal.syntheticMedia(spark, 100)
    val feats = Multimodal.decodeFeatures(media, batchSize = 32)
      .toDF()
      .select(col("media_id"), col("feature"))
    val q = feats.where(col("media_id") < 3)
    val knn = Similarity.bruteForceTopK(q, feats, "media_id", "feature", k = 3)
      .collect()
    assert(knn.length === 9)
    assert(knn.forall(r => r.getDouble(2) <= 1.0 + 1e-9))
  }
}
