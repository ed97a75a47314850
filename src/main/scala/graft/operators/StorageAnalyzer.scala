package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.deltalog.DeltaLog

/** Storage-health analytics (delta_python_analyzer.py:90-133,224-275):
  * folder listing, one folder ⋈ manifest storage aggregate, small-file and
  * orphan-file detection.
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
  def folderFiles(spark: SparkSession, tablePath: String): DataFrame =
    folderFiles(spark, tablePath, DeltaLog.dataFiles(spark, tablePath))

  /** [[folderFiles]] over a listing the caller already holds. */
  def folderFiles(spark: SparkSession, tablePath: String,
                  listing: Map[String, Long]): DataFrame = {
    import spark.implicits._
    val root = DeltaLog.qualifiedPath(spark, tablePath).stripSuffix("/") + "/"
    listing.toSeq
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

  /** Storage aggregate in one pass: the folder listing FULL-OUTER-joined
    * with the manifest on [[DeltaLog.pathKey]] (each side lists a file once),
    * then one aggregate. Returns a one-row frame:
    * (table_size_bytes, folder_size_bytes, data_file_count, total_file_count,
    *  orphan_files_count, avg_file_size_bytes, small_files_count).
    * Manifest-side columns count manifest rows, folder-side columns count
    * listed files, and an orphan is a listed file with no manifest row (the
    * [[orphanFiles]] anti-join, counted in the same pass).
    *
    * `smallFileThresholdBytes = None` → use the manifest's average file size
    * as the threshold (delta_python_analyzer.py:238-241), a scalar subquery
    * over the same joined frame, matching the reference's two-pass math.
    */
  def storageStats(folder: DataFrame, manifest: DataFrame,
                   smallFileThresholdBytes: Option[Double]): DataFrame = {
    val joined = folder
      .select(DeltaLog.pathKey(col("path")).as("file_key"),
        col("size").as("folder_size"), lit(1L).as("listed"))
      .join(manifest.select(DeltaLog.pathKey(col("path")).as("file_key"),
        col("size").as("table_size"), lit(1L).as("active")),
        Seq("file_key"), "full_outer")
    val avgSize = coalesce(avg(col("table_size")), lit(0.0))
    val thr = smallFileThresholdBytes.map(lit)
      .getOrElse(joined.agg(avgSize).scalar())
    joined.agg(
      coalesce(sum(col("table_size")), lit(0L)).as("table_size_bytes"),
      coalesce(sum(col("folder_size")), lit(0L)).as("folder_size_bytes"),
      count(col("active")).as("data_file_count"),
      count(col("listed")).as("total_file_count"),
      count(when(col("active").isNull, col("listed"))).as("orphan_files_count"),
      avgSize.cast("long").as("avg_file_size_bytes"),
      count(when(col("active").isNotNull && col("table_size") < thr, 1L))
        .as("small_files_count"))
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
