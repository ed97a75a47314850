package graft

import org.apache.spark.sql.SparkSession

/** Canonical session setup for the engine — one place that encodes the
  * cluster-scale execution defaults every operator in this library is
  * designed against, instead of each caller rediscovering them:
  *
  *  - **AQE on, with partition coalescing and skew-join splitting**: the
  *    dedup/ANN self-joins and the Delta storage and CDF joins are written to
  *    declare their shuffles and let runtime re-planning right-size them —
  *    a label-propagation round over a million-edge graph and one over a
  *    thousand-edge tail both get sensible partition counts from the SAME
  *    program. Skew splitting is the second line of defense behind the
  *    explicit LSH bucket caps ([[graft.operators.ScaleOps.capBuckets]])
  *    and salting helpers ([[graft.operators.ScaleOps]]).
  *  - **shuffle.partitions ≈ 2× total cores** as the pre-AQE upper bound
  *    (AQE coalesces DOWN from it; it cannot split an under-partitioned
  *    non-skewed stage, so err high).
  *  - **128 MiB scan splits** (`files.maxPartitionBytes` default kept
  *    explicit): the parquet-scan granularity the partition-math in
  *    SURVEY.md assumes.
  *  - **32 MiB broadcast threshold**: dimension tables (nation, region,
  *    probe/query sides of the kNN joins) broadcast; fact-fact joins never
  *    accidentally do.
  *
  * Use [[local]] for tests/benchmarks on one JVM and [[tuned]] to apply the
  * same policy to a cluster builder (`master`/deploy conf supplied by the
  * environment). Both register the engine's SQL functions
  * ([[GraftFunctions]]) so `spark.sql("SELECT minhash_sig(...)")` works
  * out of the box.
  */
object GraftSession {

  /** The engine's recommended execution conf. `totalCores` is executors ×
    * cores-per-executor on a cluster; `shufflePartitions` defaults to 2×
    * that (the pre-AQE bound — pass the core count itself for single-JVM
    * runs, where shuffle fan-out past the core count only adds task
    * overhead). */
  def scaleConf(totalCores: Int, shufflePartitions: Int = 0): Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.shuffle.partitions" ->
      math.max(1, if (shufflePartitions > 0) shufflePartitions else totalCores * 2).toString,
    "spark.sql.files.maxPartitionBytes" -> (128L * 1024 * 1024).toString,
    "spark.sql.autoBroadcastJoinThreshold" -> (32L * 1024 * 1024).toString,
    // generated-class cache: the default 100 entries thrashes once a
    // session runs more than a few dozen distinct plans (this library's
    // contract surface alone is ~58 queries x several codegen stages
    // each), silently re-paying janino compilation per re-run — measured
    // as a steady +0.5 s on whichever plan-twin ran first in each bench
    // round while its sibling free-rode on the still-warm entry. Compiled
    // classes are small; 10x the cache is noise against executor heap.
    "spark.sql.codegen.cache.maxEntries" -> "1000",
    // ObjectHashAggregateExec (every TypedImperativeAggregate: BoundedTopK,
    // KLL/KMV/MG/CM sketches — and also collect_list/collect_set) falls
    // back to SORT-BASED aggregation after a default of 128 (!) distinct
    // groups per task — fine for its intended few-group percentile use,
    // pathological for this library's top-k-per-query shape (tens of
    // thousands of query groups per task), where the fallback silently
    // SORTS the full candidate stream that the O(k)-bounded heaps exist to
    // avoid buffering. Measured: the r17 NN-descent dedup-in-aggregate
    // rewrite ran 89 s at sf1 under the sort fallback vs ~56 s
    // hash-aggregated.
    //
    // KNOWN TRADE-OFF (r17 ADVICE): the conf is session-global and Spark
    // offers no per-aggregate scoping (execution-time SQLConf belongs to
    // the executing session, so a lazily-composed subtree cannot pin its
    // own value), so the raised threshold also governs the library's
    // three collect_list reassembly sites (Dedup.dedupLines, applySpans,
    // ngramJaccardJoin's prefix ordering), whose per-group state is one
    // document's worth of rows — bounded by the data, not by a constant
    // k. For those sites the hash path's real exposure is ~one shuffle
    // partition's data resident as UNSPILLABLE JVM objects (each input
    // row lands in exactly one group's list, so total map state tracks
    // partition bytes ×3-4 object inflation, almost independent of the
    // group-count threshold), where the 128-group default fell back to
    // spillable one-group-at-a-time sort aggregation almost immediately.
    // Measured green to sf10 at 8 GiB; a deployment with multi-GB shuffle
    // partitions of multi-MB documents should dial the threshold DOWN by
    // setting this same conf on the builder after `tuned`/`localBuilder`,
    // or with `spark.conf.set` (re-accepting the sort fallback's wall
    // cost, which for the reassembly sites is the scale-safe shape),
    // rather than fork the session policy. The default stays 2^20 because
    // the bounded-agg paths need it: NND's map-side partial aggregates
    // see up to ~n distinct node groups per task (~500k at sf10), which a
    // smaller 2^17 would silently flip back to the measured-1.6×-slower
    // sort fallback.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" ->
      (1 << 20).toString)

  /** Apply the scale policy to an externally-configured builder (cluster
    * master, memory, dynamic allocation etc. stay the caller's business). */
  def tuned(builder: SparkSession.Builder, totalCores: Int): SparkSession.Builder =
    scaleConf(totalCores).foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }

  /** Policy-applied local builder — callers may layer further conf (UTC
    * timezone, UI off, ...) before `getOrCreate()`. Shuffle partitions are
    * pinned to the core count, not 2× (single JVM: fan-out past the cores
    * only adds task overhead). */
  def localBuilder(cores: Int, appName: String = "graft"): SparkSession.Builder =
    scaleConf(cores, shufflePartitions = cores)
      .foldLeft(SparkSession.builder()
        .master(s"local[$cores]")
        .appName(appName)) { case (b, (k, v)) => b.config(k, v) }

  /** Single-JVM session with the same policy — what Bench/Verify use. */
  def local(cores: Int, appName: String = "graft"): SparkSession = {
    val spark = localBuilder(cores, appName).getOrCreate()
    GraftFunctions.register(spark)
    spark
  }
}
