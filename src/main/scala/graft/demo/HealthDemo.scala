package graft.demo

import org.apache.spark.sql.SparkSession
import graft.deltalog.{DeltaFixtureWriter, DeltaLog}
import graft.operators.HealthAnalyzer

/** End-to-end demo/driver: builds a mutated Delta-log table on disk, replays
  * it, and prints the full health analysis. Mirrors the reference's
  * demos/populate_sample_delta.py + analyze flow. Run:
  * `sbt "runMain graft.demo.HealthDemo [tableDir]"`. */
object HealthDemo {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("graft-health-demo")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val path = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft_demo_tbl").toString)

    val rows = (Seq.fill(80)("Mon") ++ Seq.fill(10)("Tue") ++ Seq.fill(10)("Wed"))
      .zip(Seq.fill(80)("Dinner") ++ Seq.fill(20)("Lunch")).zipWithIndex
      .map { case ((d, t), i) => (10.0 + i % 40, 1.0 + i % 9, d, t, i % 4 + 1) }
    val df = rows.toDF("total_bill", "tip", "day", "time", "size")

    DeltaFixtureWriter.write(df, path, "overwrite", Seq("day", "time"))
    DeltaFixtureWriter.write(df.limit(10), path, "append", Seq("day", "time"))
    DeltaFixtureWriter.write(df.limit(10), path, "append", Seq("day", "time"))
    DeltaFixtureWriter.delete(spark, path, "total_bill > 40")
    DeltaFixtureWriter.compact(spark, path)

    println("=== log files ===")
    new java.io.File(path + "/_delta_log").listFiles.map(_.getName).sorted
      .foreach(println)

    val snap = DeltaLog.snapshot(spark, path)
    println("=== history ===")
    snap.history.orderBy("version").show(false)
    println("=== active files ===")
    snap.activeFiles.orderBy("path").show(60, false)
    println(s"=== replayed row count = ${snap.data.count()}")

    println("=== health analysis ===")
    val m = HealthAnalyzer.analyzeTable(spark, path)
    println(m)
    println(f"score=${m.healthScore.get}%.2f status=${m.healthStatus.get}")
    println("=== recommendations ===")
    HealthAnalyzer.recommendations(spark, m).show(false)

    println("=== dashboard frames (E3) ===")
    val frames = graft.operators.Dashboard.frames(spark, path)
    frames.partitionCountsTopN.show(5, false)
    frames.perVersionFileDeltas.show(false)

    println("=== trend + report formatting ===")
    val now = java.sql.Timestamp.valueOf("2026-08-12 00:00:00")
    val earlier = java.sql.Timestamp.valueOf("2026-08-11 00:00:00")
    graft.operators.Reporting.trend(Seq((now, m), (earlier, m.copy(recordCount = 90))), spark)
      .select("date", "record_count", "partition_skewness", "writes")
      .show(false)
    graft.operators.Reporting.metricsToDF(spark, Seq(m))
      .select(
        graft.operators.Reporting.humanBytes(org.apache.spark.sql.functions.col("tableSizeBytes")).as("table_size"),
        graft.operators.Reporting.humanBytes(org.apache.spark.sql.functions.col("folderSizeBytes")).as("folder_size"))
      .show(false)
    println("=== csv source ===")
    val csvDir = java.nio.file.Files.createTempDirectory("graft_csv").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(csvDir, "tips.csv"),
      "total_bill,tip,day,size\n16.99,1.01,Sun,2\n10.34,1.66,Mon,3\n")
    val csv = graft.sources.Sources.readCsv(spark, s"$csvDir/tips.csv")
    csv.show(false)
    println("csv schema: " + csv.schema.simpleString)

    println("=== probe: missing path ===")
    try { HealthAnalyzer.analyzeTable(spark, "/tmp/does_not_exist_xyz"); println("NO ERROR") }
    catch { case e: Exception =>
      println(s"caught: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(140)}") }

    println("=== probe: non-delta parquet dir ===")
    val plain = java.nio.file.Files.createTempDirectory("graft_plain_tbl").toString
    df.write.mode("overwrite").parquet(plain)
    try { HealthAnalyzer.analyzeTable(spark, plain); println("NO ERROR") }
    catch { case e: Exception =>
      println(s"caught: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(140)}") }

    println("=== maintenance cycle: checkpoint + time travel + optimize + vacuum ===")
    println("records@v0 = " + DeltaLog.snapshotAt(spark, path, 0).data.count())
    val ckptV = graft.operators.Maintenance.checkpoint(spark, path)
    println(s"checkpoint at v$ckptV")
    graft.operators.Maintenance.optimize(spark, path)
    val deleted = graft.operators.Maintenance.vacuum(spark, path, retainMs = 0L)
    println(s"vacuumed ${deleted.count()} files")
    val after = HealthAnalyzer.analyzeTable(spark, path)
    println(f"post-maintenance: score=${after.healthScore.get}%.2f orphans=${after.orphanFilesCount} " +
      s"files=${after.dataFileCount}/${after.totalFileCount} records=${after.recordCount}")

    println("=== probe: double compact ===")
    DeltaFixtureWriter.compact(spark, path)
    val m2 = HealthAnalyzer.analyzeTable(spark, path)
    println(s"after 2nd compact: records=${m2.recordCount} optimizes=${m2.numberOfOptimizes} " +
      s"version=${m2.versionCount} activeFiles=${m2.dataFileCount} orphans=${m2.orphanFilesCount}")

    spark.stop()
  }
}
