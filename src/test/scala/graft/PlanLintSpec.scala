package graft

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Plan lint over the ENTIRE contract: every query's static physical plan
  * must be free of the scale anti-patterns the per-round audits check by
  * hand — so a future edit that sneaks in an accidental cross join or an
  * unpartitioned window fails CI instead of surfacing as a 100-TB
  * incident. Static plans (pre-AQE) at sf0.001: construction-time driver
  * probes (guards, totals, index training) run at the smallest fixture.
  *
  * Allow-lists are NAMED and justified inline — additions require the
  * same justification, which is the point. */
class PlanLintSpec extends SparkSuite {

  // BroadcastNestedLoopJoin is legitimate ONLY where a deliberately
  // broadcast-small side meets a non-equi condition:
  //  - brute-force / filtered / graph ANN: the query side is
  //    broadcast-small by contract (bruteForceTopK's documented shape)
  //  - the G²-guarded pair frames of the overlap matrices
  //  - one-row scalar attach (corpus stats cross-joined as literals)
  private val bnljAllowed: Set[String] = Set(
    // broadcast-small query side, non-equi scoring condition
    "knn_bruteforce", "knn_graph", "knn_ivf", "knn_ivfpq", "knn_rp",
    "hybrid_search", "hybrid_search_ann", "hybrid_search_ann_full",
    // (r16: the kmeans family — semantic_dedup{,_auto}, kmeans_assign,
    // diverse_sample, embedding_outliers — left this list when the
    // ArgminCell kernel replaced their centroid crossJoins; the lint's
    // stale-allowance check is what flagged the removals)
    // G²-guarded pair frames of the overlap matrices
    "source_overlap", "source_overlap_kmv",
    // one-row scalar attach (corpus size / vocab size / thresholds /
    // water-fill level / priors cross-joined as a broadcast literal row —
    // the r12-audited class)
    "tfidf_topterms", "bm25_search", "zipf_fit", "dsir_select",
    "domain_weights", "lm_heldout", "ppl_buckets", "health_score_sql",
    "lm_backoff", "lm_score", "nb_classify", "ngram_exact",
    "unimax_sample")

  // unpartitioned windows are allowed ONLY over provably bounded frames:
  // quality_budget's offset window runs over the guarded DISTINCT-SCORE
  // frame (maxDistinctScores require). It is the ONLY such window in the
  // whole contract — keep it that way.
  private val globalWindowAllowed: Set[String] = Set("quality_budget")

  private def nodes(p: SparkPlan): Seq[SparkPlan] =
    (p +: p.children.flatMap(nodes)) ++ p.subqueries.flatMap(nodes)

  test("no contract plan contains a CartesianProduct; BNLJ and global " +
      "windows only where allow-listed; no stale allowances") {
    val dir = "/root/testdata/sf0.001"
    val all = SparkEntry.queries ++ SparkEntry.benchQueries
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    val bnljSeen = scala.collection.mutable.Set.empty[String]
    val gwSeen = scala.collection.mutable.Set.empty[String]
    all.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, dir).queryExecution.sparkPlan
        val ns = nodes(plan)
        if (ns.exists(_.isInstanceOf[CartesianProductExec]))
          failures += s"$name: CartesianProduct"
        if (ns.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec])) {
          bnljSeen += name
          if (!bnljAllowed(name))
            failures += s"$name: BroadcastNestedLoopJoin (not allow-listed)"
        }
        if (ns.exists {
              case w: WindowExec => w.partitionSpec.isEmpty
              case _ => false
            }) {
          gwSeen += name
          if (!globalWindowAllowed(name))
            failures += s"$name: unpartitioned Window (not allow-listed)"
        }
      } catch {
        case e: Throwable =>
          failures += s"$name: plan construction failed: ${e.getMessage}"
      } finally {
        graft.operators.Dedup.unpersistAll()
      }
    }
    // allowances must stay EARNED: an allow-listed entry whose plan no
    // longer exercises the exemption is a stale hole in the fence
    (bnljAllowed -- bnljSeen).toSeq.sorted.foreach(n =>
      failures += s"$n: stale BNLJ allowance (plan has none — remove it)")
    (globalWindowAllowed -- gwSeen).toSeq.sorted.foreach(n =>
      failures += s"$n: stale global-window allowance (remove it)")
    assert(failures.isEmpty,
      s"\nplan lint violations:\n  ${failures.mkString("\n  ")}")
  }

  // ------------------------------------------------- literal/collect class

  // leaf-element count of a literal value: nested maps/arrays/structs are
  // walked with their Catalyst types, so typedLit(Map[g -> Map[tok -> c]])
  // counts group×vocab entries, not groups
  private def leafCount(v: Any, t: DataType): Long = (v, t) match {
    case (null, _) => 0L
    case (m: MapData, mt: MapType) =>
      (0 until m.numElements()).map { i =>
        leafCount(m.keyArray().get(i, mt.keyType), mt.keyType) +
          leafCount(m.valueArray().get(i, mt.valueType), mt.valueType)
      }.sum
    case (a: ArrayData, at: ArrayType) =>
      (0 until a.numElements()).map(i =>
        leafCount(a.get(i, at.elementType), at.elementType)).sum
    case (r: org.apache.spark.sql.catalyst.InternalRow, st: StructType) =>
      st.fields.zipWithIndex.map { case (f, i) =>
        leafCount(r.get(i, f.dataType), f.dataType) }.sum
    case _ => 1L
  }

  test("no contract plan carries an oversized literal or driver-collected " +
      "local relation (the collect/literal anti-pattern class)") {
    // r13 verdict item 7: the join/window fence above cannot see a
    // construction-time driver collect that rides back into the plan as a
    // giant typedLit / LocalRelation — the exact shape of driftMonitor's
    // reference profile, whose maxRefEntries guard is probe-bounded
    // (BASELINE.md r14). At the contract fixture every
    // legitimate literal is a bounded model/profile (quota maps, k-means
    // centroids, PQ codebooks, sketch summaries — measured ≤ ~20k leaf
    // elements); the threshold sits above them with headroom and far
    // below anything vocabulary- or corpus-proportional.
    val maxLiteralLeaves = 65536L
    val maxLocalRows = 65536L
    val dir = "/root/testdata/sf0.001"
    val all = SparkEntry.queries ++ SparkEntry.benchQueries
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    var worst = ("", 0L)
    all.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, dir).queryExecution.sparkPlan
        nodes(plan).foreach {
          case l: LocalTableScanExec =>
            if (l.rows.length > maxLocalRows)
              failures += s"$name: LocalTableScan of ${l.rows.length} rows"
          case n =>
            n.expressions.foreach(_.foreach {
              case lit: Literal =>
                val c = leafCount(lit.value, lit.dataType)
                if (c > worst._2) worst = (name, c)
                if (c > maxLiteralLeaves)
                  failures += s"$name: literal with $c leaf elements"
              case _ =>
            })
        }
      } catch {
        case e: Throwable =>
          failures += s"$name: plan construction failed: ${e.getMessage}"
      } finally {
        graft.operators.Dedup.unpersistAll()
      }
    }
    info(s"largest contract literal: ${worst._2} leaf elements (${worst._1})")
    assert(failures.isEmpty,
      s"\nliteral/collect lint violations:\n  ${failures.mkString("\n  ")}")
  }

  test("driftMonitor's reference guard stays at the probe-measured bound") {
    // ties the lint to the measured limit: if the default maxRefEntries is
    // ever raised past the safe bound recorded in BASELINE.md r14 (256k), the
    // oversized reference must be REJECTED by the guard — this fails
    // instead if someone silently loosens the default
    import org.apache.spark.sql.functions._
    val over = spark.range((256L << 10) + 1).select(
      lit("G").as("source"),
      concat(lit("tok"), org.apache.spark.sql.functions.col("id")).as("text"))
    val cur = spark.range(2).select(lit("G").as("source"),
      lit("tok1 tok2").as("text"))
    val e = intercept[IllegalArgumentException] {
      graft.streaming.DriftStreams
        .driftMonitor(cur, over, "source", "text").collect()
    }
    assert(e.getMessage.contains("reference profile exceeds"),
      s"guard fired with the wrong message: ${e.getMessage}")
  }

  // ------------------------------------------------- Delta file scans

  test("every Delta data and change-feed scan is a ManifestFileIndex; opening a JSON, " +
      "single or multi-part checkpoint log plans no scan and runs no job") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import graft.deltalog.{DeltaFixtureWriter, DeltaLog, ManifestFileIndex}
    import graft.operators.Maintenance
    // the names of the files each Delta scan opens; any other leaf fails
    def scanned(what: String, df: DataFrame): Set[String] = {
      val leaves = df.queryExecution.analyzed.collectLeaves()
        .filterNot(_.isInstanceOf[LocalRelation])
      assert(leaves.nonEmpty, what)
      leaves.flatMap {
        case l: LogicalRelation => l.relation match {
          case HadoopFsRelation(index: ManifestFileIndex, _, _, _, _, _) =>
            index.inputFiles.map(f => new org.apache.hadoop.fs.Path(f).getName)
          case other => fail(s"$what: a scan of $other")
        }
        case other => fail(s"$what: a ${other.nodeName} leaf")
      }.toSet
    }
    // opening the log runs no job, and its frames are local relations
    def opened(what: String, path: String) = {
      val (snap, jobs) = jobsOf {
        val s = DeltaLog.snapshot(spark, path)
        (s.version, s.tableSchema, s.manifest.length, s.historyRows.length)
        s
      }
      assert(jobs.isEmpty, s"$what: ${jobs.mkString("\n")}")
      Seq(snap.activeFiles, snap.history).foreach(df =>
        assert(df.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation]), what))
      snap
    }
    val path = tmpDir("lint_delta")
    val df = spark.range(12).selectExpr("id", "cast(id % 3 as string) as k")
    DeltaFixtureWriter.write(df, path, "overwrite", Seq("k"))
    DeltaFixtureWriter.write(df.limit(4), path, "append", Seq("k"))
    val json = opened("JSON log", path)
    val v = Maintenance.checkpoint(spark, path)
    DeltaFixtureWriter.delete(spark, path, "id = 1")
    val snap = DeltaLog.snapshot(spark, path)
    assert(snap.version === v + 1 && json.version === v)
    assert(scanned("data", snap.data) === snap.manifest.map(_.getString(0).split('/').last).toSet)
    assert(scanned("changes", DeltaLog.changes(spark, path, 0L, v + 1)).nonEmpty)

    // the checkpoint stands alone once the commits it covers are cleaned
    val log = java.nio.file.Paths.get(path, "_delta_log")
    (0L to v).foreach(i => java.nio.file.Files.delete(log.resolve(f"$i%020d.json")))
    assert(opened("single checkpoint log", path).manifest.toSeq === snap.manifest.toSeq)

    // the checkpoint as two parts (each a copy: replay is per-path
    // last-add-wins, so duplicated rows at one version are harmless)
    val single = log.resolve(f"$v%020d.checkpoint.parquet")
    val parts = (1 to 2).map(i => f"$v%020d.checkpoint.$i%010d.0000000002.parquet")
    parts.foreach(p => java.nio.file.Files.copy(single, log.resolve(p)))
    java.nio.file.Files.delete(single)
    // the Hadoop checksum of the old _last_checkpoint would reject the rewrite
    java.nio.file.Files.deleteIfExists(log.resolve("._last_checkpoint.crc"))
    java.nio.file.Files.write(log.resolve("_last_checkpoint"),
      s"""{"version":$v,"parts":2}""".getBytes("UTF-8"))
    assert(opened("multi-part checkpoint log", path).manifest.toSeq === snap.manifest.toSeq)
  }
}
