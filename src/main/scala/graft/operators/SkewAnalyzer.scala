package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.health.SkewMetrics

/** Partition-skew analytics (delta_python_analyzer.py:33-88,
  * delta_spark_analyzer.py:38-81).
  *
  * Works over ANY DataFrame + grouping columns (plain parquet or a replayed
  * Delta snapshot): the per-partition counts are one hash aggregation whose
  * input scan Catalyst prunes to the grouping columns only. Everything
  * derived from the counts — both skew methods, the record count, the
  * extremes and the per-partition dict — is [[stats]], plain Scala over the
  * (low-cardinality) counts held on the driver, whether collected from that
  * aggregation or summed from the Delta log's per-file `numRecords`. Unlike
  * the reference — which materializes the whole table into pandas twice,
  * once per skew method (delta_python_analyzer.py:47,192-193) — the counts
  * are computed once and both metrics are derived from them.
  */
object SkewAnalyzer {

  /** A1: per-partition record counts — `GROUP BY <cols> COUNT(*)`. */
  def partitionCounts(df: DataFrame, cols: Seq[String]): DataFrame =
    df.groupBy(cols.map(col): _*).agg(count(lit(1)).as("count"))

  /** A4: counts keyed by stringified partition tuple. The reference's key
    * format is Python `str(v)` for one column and `str(tuple)` for several
    * (delta_python_analyzer.py:51-57); we keep a clean `/`-joined key and
    * provide [[pythonTupleKey]] only for parity tests. */
  def recordsPerPartition(df: DataFrame, cols: Seq[String]): DataFrame =
    keyedCounts(partitionCounts(df, cols), cols)

  /** A [[partitionCounts]]-shaped frame as (partition, count), the key
    * `/`-joined as in [[recordsPerPartition]]. */
  def keyedCounts(counts: DataFrame, cols: Seq[String]): DataFrame =
    counts.select(concat_ws("/", cols.map(col): _*).as("partition"), col("count"))

  /** Python `str(('Mon', 'Dinner'))`-style key, for 1:1 parity with
    * test_delta_analyzer_metrics.py:146-148. */
  def pythonTupleKey(cols: Seq[String]): Column =
    if (cols.size == 1) col(cols.head).cast("string")
    else concat(lit("("),
      concat_ws(", ", cols.map(c => concat(lit("'"), col(c), lit("'"))): _*),
      lit(")"))

  /** Driver-held counts per partition-value tuple (e.g.
    * [[graft.deltalog.DeltaSnapshot.partitionCounts]]) as (key, count)
    * pairs, each key the tuple's values `/`-joined with nulls skipped — the
    * string `concat_ws` renders in [[keyedCounts]]. Distinct tuples that
    * render to one key stay distinct pairs. */
  def keyed(counts: Map[Seq[String], Long]): Seq[(String, Long)] =
    counts.toSeq.map { case (values, n) => values.filter(_ != null).mkString("/") -> n }

  /** A2+A3: a one-row frame (partition_cnt, skewness_max, skewness_average)
    * — [[stats]] over the collected counts of a [[partitionCounts]] frame. */
  def skewnessStats(counts: DataFrame): DataFrame = {
    val (_, sk) = stats(counts.select(col("count")).collect().toSeq.map(r => "" -> r.getLong(0)))
    counts.sparkSession.createDataFrame(Seq((sk.partitionCount, sk.skewnessMax, sk.skewnessAverage)))
      .toDF("partition_cnt", "skewness_max", "skewness_average")
  }

  /** Spark's string order: UTF-8 bytes, unsigned. `String.compareTo` orders
    * UTF-16 units, which differs for characters outside the BMP. */
  private val sparkStringOrder: Ordering[String] = (a, b) =>
    java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8))

  /** The one skew and record-count computation (A2-A4, A7), over (partition
    * key, count) pairs, one per partition. Returns the record count (the
    * sum of the counts) and the skew bundle without partition columns or
    * verdict: partitionCount, both skew methods, the lightest and heaviest
    * partitions, and the `topN` heaviest as the per-partition dict.
    *
    * skewness_max     = (max(c) - min(c)) / max(c)     [0 if <=1 part or max=0]
    * skewness_average = avg(|c - mean|) / mean          [0 if <=1 part or mean=0]
    *                  = sum(|n*c - s|) / (n*s)          (n partitions, s rows)
    *
    * The second form sums integers exactly, so the result does not depend
    * on the order of the pairs: counts from a data scan and the same counts
    * from the Delta log yield the same double. Ties between equal counts
    * break on the key in [[sparkStringOrder]], as Spark's
    * `ORDER BY count, partition` would. The dict is BOUNDED: the reference
    * materializes every partition key (delta_python_analyzer.py:51-57),
    * which a high-cardinality partition column (timestamps, ids) turns into
    * a huge driver map — here it keeps only the `topN` heaviest partitions,
    * while the true cardinality and both exact extremes are carried
    * separately. */
  def stats(counts: Seq[(String, Long)], topN: Int = 1000): (Long, SkewMetrics) = {
    val n = counts.size.toLong
    val s = counts.iterator.map(_._2).sum
    val byWeight = Ordering.by[(String, Long), Long](_._2).orElseBy(_._1)(sparkStringOrder)
    val mn = counts.minOption(byWeight)
    val mx = counts.maxOption(byWeight)
    val maxCount = mx.fold(0L)(_._2)
    val skewMax =
      if (n <= 1 || maxCount == 0) 0.0 else (maxCount - mn.get._2).toDouble / maxCount
    val skewAvg =
      if (n <= 1 || s == 0) 0.0
      else counts.iterator.map(c => (BigInt(n) * c._2 - s).abs).sum.toDouble / (n.toDouble * s.toDouble)
    val top = counts.sorted(Ordering.by[(String, Long), Long](_._2).reverse
      .orElseBy(_._1)(sparkStringOrder)).take(topN).toMap
    (s, SkewMetrics(skewnessMax = skewMax, skewnessAverage = skewAvg, partitionCount = n,
      recordsPerPartition = top, minPartition = mn, maxPartition = mx))
  }

  /** A16: distribution stats feeding the skew gauge
    * (skew_analysis.py:139-149). */
  def distributionStats(counts: DataFrame): DataFrame =
    counts.agg(
      max(col("count")).as("max_count"),
      min(col("count")).as("min_count"),
      avg(col("count")).as("mean_count"),
      coalesce(stddev_pop(col("count")), lit(0.0)).as("stddev_count"))

  /** Full skew bundle for a table, collected to the typed record the health
    * calculus consumes: [[partitionCounts]] then [[measure]]. An empty
    * `partitionCols` reports no skew and reads nothing. */
  def analyze(df: DataFrame, partitionCols: Seq[String], threshold: Double,
              topN: Int = 1000): SkewMetrics =
    if (partitionCols.isEmpty) SkewMetrics()
    else measure(df, partitionCols, threshold, topN)._2

  /** Record count and skew bundle from ONE scan of `df`: its keyed
    * [[partitionCounts]] are collected once and fed to [[measureCounts]]. */
  def measure(df: DataFrame, partitionCols: Seq[String], threshold: Double,
              topN: Int = 1000): (Long, SkewMetrics) =
    measureCounts(keyedCounts(partitionCounts(df, partitionCols), partitionCols).collect().toSeq
      .map(r => r.getString(0) -> r.getLong(1)), partitionCols, threshold, topN)

  /** Record count and skew bundle from driver-held (partition key, count)
    * pairs: [[stats]], with the partition columns and the `threshold`
    * verdict attached. Without partition columns the pairs are at most one
    * global count and only the record count is taken from them. */
  def measureCounts(counts: Seq[(String, Long)], partitionCols: Seq[String], threshold: Double,
                    topN: Int = 1000): (Long, SkewMetrics) = {
    val (recordCount, sk) = stats(counts, topN)
    (recordCount,
      if (partitionCols.isEmpty) SkewMetrics()
      else sk.copy(partitionColumns = partitionCols, isSkewed = sk.skewnessMax > threshold))
  }
}
