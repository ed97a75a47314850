package graft

import org.apache.spark.sql.functions._

import graft.deltalog.{DeltaFixtureWriter, DeltaLog}
import graft.health.DeltaAnalyzerMetrics
import graft.operators.HealthAnalyzer

/** `analyzeTable` reads no data rows: the record count, the partition
  * counts and the skew statistics all come from the log's per-file
  * `numRecords`, and the log is read on the driver, so no task reads a
  * row — well within the older bounds of reading each file at most once
  * and only the active ones. */
class AnalyzeReadOnceSpec extends SparkSuite {
  import spark.implicits._

  private def parquetFiles(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) f.listFiles().toSeq.flatMap(parquetFiles)
    else if (f.getName.endsWith(".parquet")) Seq(f)
    else Seq.empty

  private def footerRows(files: Seq[java.io.File]): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    files.map { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toURI), conf))
      try reader.getRecordCount finally reader.close()
    }.sum
  }

  // log side: an allowance of one read of each commit line (the snapshot
  // reads the log on the driver, where no task counts its rows)
  private def logLines(path: String): Long =
    new java.io.File(path, "_delta_log").listFiles().toSeq
      .filter(_.getName.endsWith(".json"))
      .map { f =>
        val src = scala.io.Source.fromFile(f)
        try src.getLines().count(_.trim.nonEmpty).toLong finally src.close()
      }.sum

  private val cachedBatchAllowance = 0L

  private val df = spark.range(20000).select(
    (col("id") % 4).cast("string").as("k"),
    col("id").as("v"),
    (col("id") * 7 % 1000).as("w"))

  /** An overwrite, an append and a delete that rewrites every file, so
    * the dead files on disk hold more rows than the active ones. */
  private def buildTable(path: String): Unit = {
    DeltaFixtureWriter.write(df, path, "overwrite", Seq("k"))
    DeltaFixtureWriter.write(df.where(col("v") < 4000), path, "append", Seq("k"))
    DeltaFixtureWriter.delete(spark, path, "w < 100")
  }

  /** One warm `analyzeTable` with its task input records. */
  private def analyzeCountingRows(path: String): (DeltaAnalyzerMetrics, Long) = {
    HealthAnalyzer.analyzeTable(spark, path) // warm-up: same plans, no first-use effects
    val (m, rows) = rowsReadOf(HealthAnalyzer.analyzeTable(spark, path))
    assert(m.recordCount === df.where(col("w") >= 100).count() +
      df.where(col("v") < 4000 && col("w") >= 100).count())
    (m, rows)
  }

  test("analyzeTable scans each parquet file on disk at most once") {
    val path = tmpDir("readonce")
    buildTable(path)
    val diskRows = footerRows(parquetFiles(new java.io.File(path)))
    val log = logLines(path)
    assert(diskRows > 10 * (log + cachedBatchAllowance),
      "the fixture's data must dwarf its log so a second scan shows")
    val (_, read) = analyzeCountingRows(path)
    assert(read <= diskRows + log + cachedBatchAllowance,
      s"input records $read > $diskRows parquet rows on disk + $log log " +
        s"lines + $cachedBatchAllowance cached batches: a data file was scanned twice")
  }

  test("analyzeTable reads only the active files' rows") {
    val path = tmpDir("readlive")
    buildTable(path)
    val snap = DeltaLog.snapshot(spark, path)
    val active = try snap.activeFiles.select("path").as[String].collect().toSeq
    finally snap.unpersist()
    val liveRows = footerRows(active.map(p => new java.io.File(path, p)))
    val deadRows = footerRows(parquetFiles(new java.io.File(path))) - liveRows
    val log = logLines(path)
    assert(deadRows > log + cachedBatchAllowance,
      "the dead files must hold enough rows that reading them shows")
    val (_, read) = analyzeCountingRows(path)
    assert(read <= liveRows + log + cachedBatchAllowance,
      s"input records $read > $liveRows active-file rows + $log log lines + " +
        s"$cachedBatchAllowance cached batches: a removed file was read")
  }

  test("analyzeTable reads no data rows when every add carries numRecords") {
    val path = tmpDir("readnone")
    buildTable(path)
    val (_, read) = analyzeCountingRows(path)
    assert(read === 0L, s"input records $read: a Spark task read a data file or the log")
    val adds = new java.io.File(path, "_delta_log").listFiles().toSeq
      .filter(_.getName.endsWith(".json"))
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f)
        try src.getLines().filter(_.startsWith("{\"add\"")).toList finally src.close()
      }
    assert(adds.nonEmpty && adds.forall(_.contains("numRecords")), adds.mkString("\n"))
  }
}
