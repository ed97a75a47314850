package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.health.SkewMetrics

/** Partition-skew analytics (delta_python_analyzer.py:33-88,
  * delta_spark_analyzer.py:38-81) re-expressed as declarative Spark plans.
  *
  * Works over ANY DataFrame + grouping columns (plain parquet or a replayed
  * Delta snapshot): the per-partition counts are one hash aggregation whose
  * input scan Catalyst prunes to the grouping columns only; the skewness
  * reductions run over the (low-cardinality) counts frame. Unlike the
  * reference — which materializes the whole table into pandas twice, once per
  * skew method (delta_python_analyzer.py:47,192-193) — the counts are
  * computed once and both metrics are derived from the same frame in a
  * single plan with no driver-side loops.
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

  /** A2+A3 in one pure plan: returns a one-row frame
    * (partition_cnt, skewness_max, skewness_average) — [[countsStats]]
    * projected to its skew columns. */
  def skewnessStats(counts: DataFrame): DataFrame =
    countsStats(counts, Seq.empty)
      .select(col("partition_cnt"), col("skewness_max"), col("skewness_average"))

  /** The one stats aggregate over a [[partitionCounts]] frame, as a one-row
    * frame: partition_cnt, skewness_max, skewness_average, record_count
    * (A7, the sum of the counts) and the lightest/heaviest partition as
    * (partition, count) structs `mn`/`mx`, ties broken by the `/`-joined
    * partition key.
    *
    * skewness_max     = (max(c) - min(c)) / max(c)     [0 if <=1 part or max=0]
    * skewness_average = avg(|c - mean|) / mean          [0 if mean = 0]
    *                  = sum(|n*c - s|) / (n*s)          (n partitions, s rows)
    *
    * The second form sums integers, exactly (as decimal(38,0)), so the
    * result does not depend on the order in which rows reach the sum: a
    * counts frame from a data scan and the same counts from the Delta log
    * yield the same double, whatever the shuffle partitioning. The totals
    * are attached via a broadcast cross-join of a one-row aggregate rather
    * than an empty-frame window (`Window.partitionBy()` would funnel
    * everything through a single task) — the whole thing stays distributed
    * and collect-free regardless of partition-count cardinality.
    */
  def countsStats(counts: DataFrame, partitionCols: Seq[String]): DataFrame = {
    val totals = counts.agg(count(lit(1)).as("n"), sum(col("count")).as("s"))
    val key = concat_ws("/", partitionCols.map(col): _*)
    val byWeight = struct(col("count"), key)
    counts.crossJoin(broadcast(totals))
      .agg(
        count(lit(1)).as("partition_cnt"),
        coalesce(sum(col("count")), lit(0L)).as("record_count"),
        max(col("count")).as("max_count"),
        min(col("count")).as("min_count"),
        sum(abs(col("count").cast(DecimalType(38, 0)) * col("n") - col("s"))).as("abs_dev_sum"),
        min_by(struct(key.as("partition"), col("count")), byWeight).as("mn"),
        max_by(struct(key.as("partition"), col("count")), byWeight).as("mx"))
      .select(
        col("partition_cnt"),
        when(col("partition_cnt") <= 1 || col("max_count") === 0, lit(0.0))
          .otherwise((col("max_count") - col("min_count")) / col("max_count"))
          .as("skewness_max"),
        when(col("partition_cnt") <= 1 || col("record_count") === 0, lit(0.0))
          .otherwise(col("abs_dev_sum").cast("double") /
            (col("partition_cnt").cast("double") * col("record_count").cast("double")))
          .as("skewness_average"),
        col("record_count"), col("mn"), col("mx"))
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

  /** Record count and skew bundle from ONE scan of `df`: its
    * [[partitionCounts]] frame is cached, read by [[measureCounts]], then
    * released. */
  def measure(df: DataFrame, partitionCols: Seq[String], threshold: Double,
              topN: Int = 1000): (Long, SkewMetrics) = {
    val counts = partitionCounts(df, partitionCols).cache()
    try measureCounts(counts, partitionCols, threshold, topN)
    finally { counts.unpersist(); () }
  }

  /** Record count and skew bundle from a [[partitionCounts]]-shaped frame
    * (the health analysis passes the log-derived
    * [[graft.deltalog.DeltaSnapshot.partitionCounts]]): read by the
    * [[countsStats]] aggregate and the top-N collect. Without partition
    * columns the counts frame is a single global row and only the record
    * count is taken from it. Only the (small) counts/stats rows ever reach
    * the driver, and the per-partition dict is BOUNDED: the reference
    * materializes every partition key (delta_python_analyzer.py:51-57),
    * which a high-cardinality partition column (timestamps, ids) turns into
    * a driver OOM at 100× — here the map keeps only the `topN` heaviest
    * partitions, while the true cardinality and both exact extremes are
    * computed distributively and carried separately. */
  def measureCounts(counts: DataFrame, partitionCols: Seq[String], threshold: Double,
                    topN: Int = 1000): (Long, SkewMetrics) = {
    val stats = countsStats(counts, partitionCols).first()
    val recordCount = stats.getAs[Long]("record_count")
    if (partitionCols.isEmpty) (recordCount, SkewMetrics())
    else {
      val skewMax = stats.getAs[Double]("skewness_max")
      val records = keyedCounts(counts, partitionCols)
        .orderBy(col("count").desc, col("partition").asc).limit(topN)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      def kv(field: String): Option[(String, Long)] =
        Option(stats.getAs[org.apache.spark.sql.Row](field))
          .map(r => r.getString(0) -> r.getLong(1))
      (recordCount, SkewMetrics(
        partitionColumns = partitionCols,
        skewnessMax = skewMax,
        skewnessAverage = stats.getAs[Double]("skewness_average"),
        isSkewed = skewMax > threshold,
        partitionCount = stats.getAs[Long]("partition_cnt"),
        recordsPerPartition = records,
        minPartition = kv("mn"),
        maxPartition = kv("mx")))
    }
  }
}
