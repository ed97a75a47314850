package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.deltalog.DeltaLog

/** Storage-health analytics (delta_python_analyzer.py:90-133,224-275):
  * folder listing, manifest aggregates, small-file and orphan-file detection.
  *
  * The folder listing (S6) is the Delta layer's one driver-side walk,
  * [[graft.deltalog.DeltaLog.dataFiles]]; the resulting frame is a local
  * relation, and every subsequent operation (aggregation, anti-join) is a
  * Spark plan. The orphan check (J1) is a left-anti join on the file path,
  * mirroring the reference's Python set difference over `os.path.basename`
  * (delta_python_analyzer.py:125-126,264-266) without ever building
  * driver-side sets.
  */
object StorageAnalyzer {

  /** S6: recursive `*.parquet` listing of the table dir, `_delta_log`
    * excluded → DataFrame(path, size), paths fully qualified. */
  def folderFiles(spark: SparkSession, tablePath: String): DataFrame = {
    import spark.implicits._
    val root = DeltaLog.qualifiedPath(spark, tablePath).stripSuffix("/") + "/"
    DeltaLog.dataFiles(spark, tablePath).toSeq
      .map { case (p, size) => (root + p, size) }
      .toDF("path", "size")
  }

  /** J1: files on disk not referenced by the manifest — a left-anti join
    * on the scheme-stripped, AUTHORITY-KEEPING full path
    * ([[DeltaLog.pathKey]]): both frames are caller-supplied,
    * so equal paths on different buckets/namenodes must not silently match.
    * (The reference differences basename *sets*, delta_python_analyzer.py:
    * 125-126,264-266; full paths are strictly safer since Spark-written
    * tables repeat basenames across partition directories.)
    *
    * No broadcast hint on the manifest side: a 100-TB Delta table's active
    * manifest runs to millions of files, and a FORCED broadcast of it is
    * the same unbounded-table hazard as the round-11 BM25/customer fixes —
    * AQE broadcasts at runtime whenever the measured manifest fits (every
    * test sf), and degrades to a manifest-sized shuffle join, never an
    * OOM, when it doesn't. */
  def orphanFiles(folder: DataFrame, manifest: DataFrame): DataFrame = {
    val f = folder.select(
      DeltaLog.pathKey(col("path")).as("file_key"), col("size"))
    val m = manifest.select(
      DeltaLog.pathKey(col("path")).as("file_key"))
    f.join(m, Seq("file_key"), "left_anti")
  }

  /** One-pass manifest + folder storage aggregate. Returns a one-row frame:
    * (table_size_bytes, folder_size_bytes, data_file_count, total_file_count,
    *  orphan_files_count, avg_file_size_bytes, small_files_count).
    *
    * `smallFileThresholdBytes = None` → use the manifest's average file size
    * as the threshold (delta_python_analyzer.py:238-241), which needs a
    * second (tiny) aggregation pass over the manifest, matching the
    * reference's two-pass math.
    */
  def storageStats(folder: DataFrame, manifest: DataFrame,
                   smallFileThresholdBytes: Option[Double]): DataFrame = {
    val mAgg = manifest.agg(
      coalesce(sum(col("size")), lit(0L)).as("table_size_bytes"),
      count(lit(1)).as("data_file_count"),
      coalesce(avg(col("size")), lit(0.0)).as("avg_file_size"))
    val thrCol = smallFileThresholdBytes match {
      case Some(t) => lit(t)
      case None => col("avg_file_size")
    }
    val mSmall = manifest
      .crossJoin(broadcast(mAgg.select(col("avg_file_size"))))
      .agg(coalesce(sum(when(col("size") < thrCol, 1L).otherwise(0L)), lit(0L))
        .as("small_files_count"))
    val fAgg = folder.agg(
      coalesce(sum(col("size")), lit(0L)).as("folder_size_bytes"),
      count(lit(1)).as("total_file_count"))
    val orphans = orphanFiles(folder, manifest)
      .agg(count(lit(1)).as("orphan_files_count"))
    mAgg.crossJoin(mSmall).crossJoin(fAgg).crossJoin(orphans)
      .select(
        col("table_size_bytes"), col("folder_size_bytes"),
        col("data_file_count"), col("total_file_count"),
        col("orphan_files_count"),
        col("avg_file_size").cast("long").as("avg_file_size_bytes"),
        col("small_files_count"))
  }

  /** A14: fixed-bin histogram of file sizes in MB (file_distribution.py:46-54
    * uses 20 client-side bins; we emit the binned frame). */
  def sizeHistogram(files: DataFrame, bins: Int = 20): DataFrame = {
    val mb = files.select((col("size") / lit(1024.0 * 1024.0)).as("size_mb"))
    val range = mb.agg(min(col("size_mb")).as("mn"), max(col("size_mb")).as("mx"))
    mb.crossJoin(broadcast(range))
      .select(
        least(
          floor((col("size_mb") - col("mn")) /
            greatest((col("mx") - col("mn")) / bins, lit(1e-12))),
          lit(bins - 1L)).as("bin"),
        col("size_mb"))
      .groupBy(col("bin")).agg(count(lit(1)).as("count"))
      .orderBy(col("bin"))
  }
}
