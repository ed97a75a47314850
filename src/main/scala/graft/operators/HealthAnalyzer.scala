package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.deltalog.DeltaLog
import graft.health._

/** End-to-end table health analysis — the re-architected E1 entry point
  * (SURVEY.md §3): one log snapshot, whose fold over the log, read on the
  * driver, leaves the manifest and the commit history there, then three
  * passes that each derive their facts from one source — the history rows
  * counted by [[HistoryAnalyzer.counts]], the manifest's per-file
  * `numRecords` summed per partition and folded into the record count and
  * skew by [[SkewAnalyzer.stats]], and the folder listing set against the
  * manifest (storage) — feeding the pure-Scala health calculus. No Spark
  * job runs, and no data file is opened: a file whose log stats lack a row
  * count is counted from its parquet footer.
  *
  * Implements the *Python* backend's measured semantics (the honest fork of
  * H6-H10 — delta_python_analyzer.py:224-275) since our log layer has full
  * per-file data; the Spark backend's guess-heuristics
  * (delta_spark_analyzer.py:161-187) are available via `sparkHeuristics`.
  */
object HealthAnalyzer {

  def analyzeTable(spark: SparkSession, tablePath: String,
                   thresholds: Thresholds = Thresholds()): DeltaAnalyzerMetrics = {
    analyzeSnapshot(DeltaLog.snapshot(spark, tablePath), thresholds)
  }

  /** S1 with catalog dispatch: accepts EITHER a filesystem path or a
    * catalog table name, mirroring the reference's sniff
    * (delta_spark_analyzer.py:26-35 treats a leading "/" or URI scheme as a
    * path, anything else as a `DeltaTable.forName` name; delta_analyzer.py:
    * 64-90 threads both through). A name is resolved to its registered
    * storage location and analyzed by path. */
  def analyzeTarget(spark: SparkSession, tableNameOrPath: String,
                    thresholds: Thresholds = Thresholds()): DeltaAnalyzerMetrics =
    analyzeTable(spark, resolveTarget(spark, tableNameOrPath), thresholds)

  /** Path-vs-name sniff + catalog resolution. Paths pass through verbatim;
    * names are looked up in the session catalog via `DESCRIBE FORMATTED`
    * (public SQL — works against any catalog implementation, unlike the
    * private CatalogTable API). */
  def resolveTarget(spark: SparkSession, tableNameOrPath: String): String =
    if (looksLikePath(tableNameOrPath)) tableNameOrPath
    else tableLocation(spark, tableNameOrPath)

  /** The reference's path heuristic generalized: anything containing a
    * slash (a catalog identifier never can), or absolute/relative-dotted/
    * scheme-qualified strings, are paths; bare identifiers (incl.
    * `db.table`) are catalog names. */
  private[graft] def looksLikePath(s: String): Boolean =
    s.contains("/") || s.startsWith(".") ||
      s.matches("^[a-zA-Z][a-zA-Z0-9+.\\-]*:/.*")

  private def tableLocation(spark: SparkSession, name: String): String = {
    // backtick-quote each dot-separated part so a non-identifier string
    // surfaces as "table not found" instead of a SQL parse error (or worse,
    // smuggled SQL through the analyzer entry point)
    val quoted = name.split('.').toSeq.map { part =>
      require(part.nonEmpty,
        s"'$name' is not a valid table identifier (empty name part)")
      "`" + part.replace("`", "``") + "`"
    }.mkString(".")
    val rows = spark.sql(s"DESCRIBE FORMATTED $quoted").collect()
    rows.find(r => Option(r.getString(0)).exists(_.trim.equalsIgnoreCase("Location")))
      .map(_.getString(1).trim)
      .filter(_.nonEmpty)
      .getOrElse(throw new IllegalArgumentException(
        s"catalog table '$name' reports no storage location — only " +
          "path-backed (external) tables can be health-analyzed"))
  }

  /** Analysis over an already-open snapshot — callers that need the
    * snapshot for other frames (e.g. Dashboard) share one log replay. */
  def analyzeSnapshot(snap: graft.deltalog.DeltaSnapshot,
                      thresholds: Thresholds = Thresholds()): DeltaAnalyzerMetrics = {
    val spark = snap.spark
    val tablePath = snap.tablePath
    // history pass (A5/A6)
    val ops = HistoryAnalyzer.counts(snap.historyRows.toSeq)
    // storage pass (A8-A13, J1): one folder listing against the manifest,
    // which also checks that every active file exists — with counts taken
    // from the log, no data scan is left to notice one gone
    val StorageStats(tableSize, folderSize, dataFiles, totalFiles, avgFileSize, smallFiles,
        orphanPaths, missing) = StorageAnalyzer.storage(DeltaLog.dataFiles(spark, tablePath),
      snap.activeSizes, thresholds.smallFileSizeMb.map(_ * 1024 * 1024))
    if (missing.nonEmpty) throw new java.io.FileNotFoundException(
      s"$tablePath: ${missing.length} active file(s) named by the log are " +
        s"missing from disk, e.g. ${missing.take(3).mkString(", ")}")
    val orphans = orphanPaths.size.toLong
    // counts pass (A1-A4, A7): the log-derived per-partition counts feed
    // the same stats function the contract queries use, which yields the
    // record count and both skew methods, unlike the reference's double
    // materialization (delta_python_analyzer.py:192-193)
    val (recordCount, skew) = SkewAnalyzer.measureCounts(SkewAnalyzer.keyed(snap.partitionCounts),
      snap.partitionColumns, thresholds.skewThreshold)

    // H6/H7/H8: measured ratio semantics (delta_python_analyzer.py:231-243)
    val sizeRatio = if (folderSize > 0) tableSize.toDouble / folderSize else 1.0
    val needsVacuum = sizeRatio < thresholds.vacuumSizeRatioThreshold
    val fileRatio = if (totalFiles > 0) dataFiles.toDouble / totalFiles else 1.0
    val hasOrphans = fileRatio < thresholds.orphanFileRatioThreshold
    val needsOptimize =
      dataFiles > 0 && smallFiles > dataFiles * thresholds.smallFileRatioThreshold

    val m = DeltaAnalyzerMetrics(
      versionCount = snap.version,
      partitionCount = skew.partitionCount,
      recordCount = recordCount,
      isSkewed = skew.isSkewed,
      skewnessMax = skew.skewnessMax,
      skewnessAverage = skew.skewnessAverage,
      numberOfWrites = ops.writes,
      numberOfDeletes = ops.deletes,
      numberOfOptimizes = ops.optimizes,
      isCompacted = ops.optimizes > 0,
      tableSizeBytes = tableSize,
      folderSizeBytes = folderSize,
      needsVacuum = needsVacuum,
      hasOrphanFiles = hasOrphans,
      needsOptimize = needsOptimize,
      smallFilesCount = if (dataFiles > 0) smallFiles else 0L,
      avgFileSizeBytes = if (dataFiles > 0) avgFileSize else 0L,
      partitionSkewness =
        if (snap.partitionColumns.nonEmpty) Some(skew.skewnessMax) else None,
      dataFileCount = dataFiles,
      orphanFilesCount = orphans,
      // H9 preserved as-written (delta_python_analyzer.py:268)
      filesNeedingVacuum = if (needsVacuum) orphans else 0L,
      fileSizeEfficiency =
        if (dataFiles > 0 && avgFileSize > 0)
          Some(math.min(1.0, avgFileSize.toDouble / (128.0 * 1024 * 1024)))
        else None,
      storageEfficiency =
        if (folderSize > 0) Some(tableSize.toDouble / folderSize) else None,
      tablePath = tablePath,
      totalFileCount = totalFiles,
      skewMetrics =
        if (snap.partitionColumns.nonEmpty) Some(skew) else None)
    m.withHealthScore
  }

  /** The Spark backend's heuristic fork (delta_spark_analyzer.py:161-187),
    * exposed for drop-in parity with `environment="databricks"` behavior. */
  def sparkHeuristics(m: DeltaAnalyzerMetrics): DeltaAnalyzerMetrics = {
    val needsVacuum =
      m.numberOfWrites > 10 * m.numberOfOptimizes && m.numberOfWrites > 0
    val avgMb = m.avgFileSizeBytes / (1024.0 * 1024.0)
    val smallFrac =
      if (avgMb < 1) 0.8 else if (avgMb < 10) 0.3 else 0.1
    m.copy(
      needsVacuum = needsVacuum,
      hasOrphanFiles = needsVacuum,
      filesNeedingVacuum = (0.1 * m.dataFileCount).toLong,
      smallFilesCount = (smallFrac * m.dataFileCount).toLong,
      needsOptimize = smallFrac >= 0.3,
      storageEfficiency = Some(0.95),
      fileSizeEfficiency =
        Some(math.min(1.0, m.avgFileSizeBytes / (128.0 * 1024 * 1024.0))))
  }

  def healthResult(m: DeltaAnalyzerMetrics): HealthResult = {
    val scored = if (m.healthScore.isDefined) m else m.withHealthScore
    HealthResult(scored.healthScore.get.toInt,
      scored.healthStatus.get, scored)
  }

  /** H12: maintenance recommendations (health_dashboard.py:81-93) as a
    * DataFrame. */
  def recommendations(spark: SparkSession, m: DeltaAnalyzerMetrics): DataFrame = {
    import spark.implicits._
    val recs = Seq.newBuilder[(String, String)]
    if (m.needsVacuum)
      recs += (("RUN VACUUM", "Table has files eligible for cleanup"))
    if (m.needsOptimize || m.smallFilesCount > 10)
      recs += (("RUN OPTIMIZE", s"${m.smallFilesCount} small files detected"))
    if (m.isSkewed)
      recs += (("REBALANCE PARTITIONS", f"Partition skew ${m.skewnessMax}%.2f exceeds threshold"))
    if (m.hasOrphanFiles)
      recs += (("CLEAN ORPHAN FILES", s"${m.orphanFilesCount} orphan files found"))
    recs.result().toDF("action", "reason")
  }
}
