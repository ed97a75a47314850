package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.deltalog.DeltaLog

/** Storage-health analytics (delta_python_analyzer.py:90-133,224-275):
  * folder listing, the storage numbers, small-file and orphan-file
  * detection.
  *
  * The folder listing (S6) is the Delta layer's one driver-side walk,
  * [[graft.deltalog.DeltaLog.dataFiles]], and the active manifest is held on
  * the driver too, both keyed by the table-relative path `add.path` spells.
  * [[storage]] is plain Scala over the two maps: the orphan check (J1) is
  * the reference's Python set difference (delta_python_analyzer.py:
  * 125-126,264-266) on full relative paths rather than basenames, since
  * Spark-written tables repeat basenames across partition directories.
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

  /** The storage pass (A8-A13, J1) over a folder `listing` and the active
    * `manifest`, each path → size: the seven storage numbers, the orphan
    * paths (listed, not active) and the active paths missing from the
    * listing, both sorted. Manifest-side numbers count every active file,
    * listed or not; folder-side numbers count listed files.
    *
    * `smallFileThresholdBytes = None` → the manifest's mean file size is the
    * threshold (delta_python_analyzer.py:238-241), compared as a double;
    * `avgFileSizeBytes` is that mean truncated. */
  def storage(listing: collection.Map[String, Long], manifest: collection.Map[String, Long],
              smallFileThresholdBytes: Option[Double]): StorageStats = {
    val tableSize = manifest.values.sum
    val mean = if (manifest.isEmpty) 0.0 else tableSize.toDouble / manifest.size
    val thr = smallFileThresholdBytes.getOrElse(mean)
    StorageStats(
      tableSizeBytes = tableSize,
      folderSizeBytes = listing.values.sum,
      dataFileCount = manifest.size,
      totalFileCount = listing.size,
      avgFileSizeBytes = mean.toLong,
      smallFilesCount = manifest.values.count(_ < thr),
      orphans = listing.keys.filterNot(manifest.contains).toSeq.sorted,
      missing = manifest.keys.filterNot(listing.contains).toSeq.sorted)
  }

  /** [[storage]] over two (path, size) frames — local relations in every
    * caller, so collecting them runs no job — as a one-row frame:
    * (table_size_bytes, folder_size_bytes, data_file_count,
    *  total_file_count, orphan_files_count, avg_file_size_bytes,
    *  small_files_count). */
  def storageStats(folder: DataFrame, manifest: DataFrame,
                   smallFileThresholdBytes: Option[Double]): DataFrame = {
    import folder.sparkSession.implicits._
    def sizes(df: DataFrame) =
      df.select(col("path"), col("size")).as[(String, Long)].collect().toMap
    val s = storage(sizes(folder), sizes(manifest), smallFileThresholdBytes)
    Seq((s.tableSizeBytes, s.folderSizeBytes, s.dataFileCount, s.totalFileCount,
      s.orphanFilesCount, s.avgFileSizeBytes, s.smallFilesCount))
      .toDF("table_size_bytes", "folder_size_bytes", "data_file_count",
        "total_file_count", "orphan_files_count", "avg_file_size_bytes",
        "small_files_count")
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

/** The result of [[StorageAnalyzer.storage]]. */
final case class StorageStats(tableSizeBytes: Long, folderSizeBytes: Long,
                              dataFileCount: Long, totalFileCount: Long,
                              avgFileSizeBytes: Long, smallFilesCount: Long,
                              orphans: Seq[String], missing: Seq[String]) {
  def orphanFilesCount: Long = orphans.size.toLong
}
