package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

import graft.deltalog.DeltaFixtureWriter
import graft.operators.HealthAnalyzer

/** `analyzeTable` reads every data file at most once: the record count,
  * the partition counts and the skew statistics all come from one scan. */
class AnalyzeReadOnceSpec extends SparkSuite {

  private final class InputRows extends SparkListener {
    val rows = new AtomicLong
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach(m => rows.addAndGet(m.inputMetrics.recordsRead))
  }

  private def parquetFiles(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) f.listFiles().toSeq.flatMap(parquetFiles)
    else if (f.getName.endsWith(".parquet")) Seq(f)
    else Seq.empty

  test("analyzeTable scans each parquet file on disk at most once") {
    val path = tmpDir("readonce")
    val df = spark.range(20000).select(
      (col("id") % 4).cast("string").as("k"),
      col("id").as("v"),
      (col("id") * 7 % 1000).as("w"))
    DeltaFixtureWriter.write(df, path, "overwrite", Seq("k"))
    DeltaFixtureWriter.write(df.where(col("v") < 4000), path, "append", Seq("k"))
    DeltaFixtureWriter.delete(spark, path, "w < 100")

    val conf = spark.sparkContext.hadoopConfiguration
    val diskRows = parquetFiles(new java.io.File(path)).map { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toURI), conf))
      try reader.getRecordCount finally reader.close()
    }.sum
    // log side: each commit line is parsed once into the cached action
    // frame; a read of an in-memory cached frame counts one input record
    // per cached batch, a few per job
    val logLines = new java.io.File(path, "_delta_log").listFiles().toSeq
      .filter(_.getName.endsWith(".json"))
      .map { f =>
        val src = scala.io.Source.fromFile(f)
        try src.getLines().count(_.trim.nonEmpty).toLong finally src.close()
      }.sum
    val cachedBatchAllowance = 200L
    assert(diskRows > 10 * (logLines + cachedBatchAllowance),
      "the fixture's data must dwarf its log so a second scan shows")

    HealthAnalyzer.analyzeTable(spark, path) // warm-up: same plans, no first-use effects
    val listener = new InputRows
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val m =
      try {
        val r = HealthAnalyzer.analyzeTable(spark, path)
        org.apache.spark.TestListenerBus.drain(sc)
        r
      } finally sc.removeSparkListener(listener)
    assert(m.recordCount === df.where(col("w") >= 100).count() +
      df.where(col("v") < 4000 && col("w") >= 100).count())
    val read = listener.rows.get()
    assert(read <= diskRows + logLines + cachedBatchAllowance,
      s"input records $read > $diskRows parquet rows on disk + $logLines log " +
        s"lines + $cachedBatchAllowance cached batches: a data file was scanned twice")
  }
}
