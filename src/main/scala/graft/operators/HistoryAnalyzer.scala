package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** History analytics over the commit log (delta_python_analyzer.py:167-189,
  * delta_spark_analyzer.py:118-136, visualization/notebook/delta_operations.py).
  * The op counts are plain Scala over the history rows; the rest are
  * projections over the (small) history frame. */
object HistoryAnalyzer {

  /** A5+A6 of one history: the WRITE, DELETE, OPTIMIZE and MERGE commit
    * counts, and versionCount = max(version), 0 without commits — NOT the
    * number of commits (delta_python_analyzer.py:189). */
  final case class OpCounts(writes: Long, deletes: Long, optimizes: Long,
                            merges: Long, versionCount: Long)

  /** The one op-count computation, over history rows with `version` and
    * `operation` fields (the rows
    * [[graft.deltalog.DeltaSnapshot.historyRows]] holds on the driver). */
  def counts(history: Seq[Row]): OpCounts = {
    val ops = history.flatMap(r => Option(r.getAs[String]("operation")))
      .groupMapReduce(identity)(_ => 1L)(_ + _).withDefaultValue(0L)
    val maxVersion = history.flatMap(r => Option(r.getAs[java.lang.Long]("version")))
      .map(_.longValue).maxOption.getOrElse(0L)
    OpCounts(ops("WRITE"), ops("DELETE"), ops("OPTIMIZE"), ops("MERGE"), maxVersion)
  }

  /** A5+A6: one-row frame (number_of_writes, number_of_deletes,
    * number_of_optimizes, number_of_merges, version_count) — [[counts]]
    * over the collected `history`. */
  def opCounts(history: DataFrame): DataFrame = {
    val c = counts(history.select("version", "operation").collect().toSeq)
    history.sparkSession
      .createDataFrame(Seq((c.writes, c.deletes, c.optimizes, c.merges, c.versionCount)))
      .toDF("number_of_writes", "number_of_deletes", "number_of_optimizes",
        "number_of_merges", "version_count")
  }

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
