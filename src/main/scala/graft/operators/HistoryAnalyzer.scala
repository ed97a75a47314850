package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** History analytics over the commit log (delta_python_analyzer.py:167-189,
  * delta_spark_analyzer.py:118-136, visualization/notebook/delta_operations.py).
  * All single-pass conditional aggregations / projections over the (small)
  * history frame. */
object HistoryAnalyzer {

  /** A5+A6: one-row frame (number_of_writes, number_of_deletes,
    * number_of_optimizes, number_of_merges, version_count). version_count is
    * max(version) — NOT the number of commits (delta_python_analyzer.py:189). */
  def opCounts(history: DataFrame): DataFrame =
    history.agg(
      coalesce(sum(when(col("operation") === "WRITE", 1L)), lit(0L)).as("number_of_writes"),
      coalesce(sum(when(col("operation") === "DELETE", 1L)), lit(0L)).as("number_of_deletes"),
      coalesce(sum(when(col("operation") === "OPTIMIZE", 1L)), lit(0L)).as("number_of_optimizes"),
      coalesce(sum(when(col("operation") === "MERGE", 1L)), lit(0L)).as("number_of_merges"),
      coalesce(max(col("version")), lit(0L)).as("version_count"))

  /** A17: per-version file deltas from operationMetrics with defaulting map
    * access (delta_operations.py:59-63). */
  def perVersionFileDeltas(history: DataFrame): DataFrame =
    history.select(
      col("version"),
      coalesce(element_at(col("operationMetrics"), "num_added_files").cast("long"), lit(0L))
        .as("num_files_added"),
      coalesce(element_at(col("operationMetrics"), "num_removed_files").cast("long"), lit(0L))
        .as("num_files_removed"),
      coalesce(element_at(col("operationMetrics"), "num_added_rows").cast("long"), lit(0L))
        .as("num_rows_added"),
      coalesce(element_at(col("operationMetrics"), "num_removed_rows").cast("long"), lit(0L))
        .as("num_rows_removed"))
      .orderBy(col("version"))

  /** Enriched history projection for dashboards (delta_operations.py:42-63):
    * timestamp as proper TimestampType (epoch millis in the log), params
    * filtered to the displayed whitelist (P6). */
  def enriched(history: DataFrame): DataFrame =
    history.select(
      col("version"),
      timestamp_millis(col("timestamp")).as("timestamp"),
      col("operation"),
      map_filter(col("operationParameters"),
        (k, _) => k.isin("predicate", "partitionBy", "dataChange", "description"))
        .as("parameters"),
      col("operationMetrics"))
      .orderBy(col("timestamp"))
}
