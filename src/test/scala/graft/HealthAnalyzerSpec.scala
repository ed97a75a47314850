package graft

import org.apache.spark.sql.functions._

import graft.deltalog.{DeltaFixtureWriter, DeltaLog}
import graft.health.{DeltaAnalyzerMetrics, Thresholds}
import graft.operators.{HealthAnalyzer, SkewAnalyzer}

/** 1:1 port of the reference's pytest suite
  * (test/test_delta_analyzer_metrics.py, test/test_delta_analyzer_load.py) —
  * same data distributions, same threshold assertions. */
class HealthAnalyzerSpec extends SparkSuite {

  test("skewed table: skewness and op-count bounds (test_delta_analyzer_metrics.py:33-41)") {
    val path = tmpDir("skewed")
    TestFixtures.buildSkewedTable(spark, path)
    val m = HealthAnalyzer.analyzeTable(spark, path)
    assert(m.numberOfWrites >= 4)
    assert(m.numberOfDeletes >= 1)
    assert(m.skewnessMax > 0.7, s"skewness_max=${m.skewnessMax}")
    assert(m.skewnessAverage > 0.2, s"skewness_average=${m.skewnessAverage}")
    assert(m.isSkewed)
  }

  test("balanced table: skewness < 0.01 (test_delta_analyzer_metrics.py:43-61)") {
    val path = tmpDir("balanced")
    TestFixtures.buildBalancedTable(spark, path)
    val m = HealthAnalyzer.analyzeTable(spark, path)
    assert(m.skewnessMax < 0.01, s"skewness_max=${m.skewnessMax}")
    assert(m.skewnessAverage < 0.01, s"skewness_average=${m.skewnessAverage}")
  }

  test("fresh table has no orphans at threshold 0.5 (test_delta_analyzer_metrics.py:63-82)") {
    val path = tmpDir("noorphan")
    TestFixtures.buildBalancedTable(spark, path)
    val m = HealthAnalyzer.analyzeTable(spark, path,
      Thresholds(orphanFileRatioThreshold = 0.5))
    assert(!m.hasOrphanFiles, s"ratio=${m.dataFileCount}/${m.totalFileCount}")
    assert(m.orphanFilesCount === 0)
  }

  test("churned table has orphans at threshold 0.8 (test_delta_analyzer_metrics.py:84-108)") {
    val path = tmpDir("orphan")
    TestFixtures.buildOrphanTable(spark, path)
    val m = HealthAnalyzer.analyzeTable(spark, path,
      Thresholds(orphanFileRatioThreshold = 0.8))
    assert(m.hasOrphanFiles,
      s"data=${m.dataFileCount} total=${m.totalFileCount} orphans=${m.orphanFilesCount}")
    assert(m.orphanFilesCount > 0)
    assert(m.needsVacuum, "churn should leave dead bytes > 30% of folder")
  }

  test("skew metrics bundle: keys, partition columns, argmax partition (test_delta_analyzer_metrics.py:110-150)") {
    val path = tmpDir("skewdict")
    val df = TestFixtures.tips(spark,
      Seq("Mon" -> 80, "Tue" -> 10, "Wed" -> 10),
      Seq("Dinner" -> 80, "Lunch" -> 20))
    graft.deltalog.DeltaFixtureWriter.write(df, path, "overwrite", Seq("day", "time"))
    val m = HealthAnalyzer.analyzeTable(spark, path)
    val sk = m.skewMetrics.get
    assert(sk.partitionColumns === Seq("day", "time"))
    assert(m.skewnessMax === sk.skewnessMax)
    assert(m.partitionSkewness === Some(sk.skewnessMax))
    assert(sk.recordsPerPartition.nonEmpty)
    val (maxKey, maxCount) = sk.recordsPerPartition.maxBy(_._2)
    assert(maxKey === "Mon/Dinner")
    assert(maxCount >= 70)
    assert(sk.maxPartition === Some(maxKey -> maxCount))
    assert(sk.partitionCount === sk.recordsPerPartition.size.toLong,
      "cap not hit here: dict covers all partitions")
  }

  test("skew analyze: high-cardinality partition column is capped on the driver") {
    import org.apache.spark.sql.functions.{col, format_string, lit}
    // 5000 distinct keys, one hot key — the dict must stay bounded while
    // cardinality and exact extremes stay true
    val df = spark.range(5000).select(format_string("k%04d", col("id")).as("k"))
      .union(spark.range(99).select(lit("k0007").as("k")))
    val sk = graft.operators.SkewAnalyzer.analyze(df.toDF(), Seq("k"),
      threshold = 0.1, topN = 100)
    assert(sk.partitionCount === 5000L)
    assert(sk.recordsPerPartition.size === 100)
    assert(sk.maxPartition === Some("k0007" -> 100L))
    assert(sk.minPartition.get._2 === 1L)
    // the top-N map is by weight: the hot key is in it
    assert(sk.recordsPerPartition("k0007") === 100L)
    assert(sk.isSkewed)
  }

  test("S1 catalog dispatch: analyze by registered table name == by path") {
    val path = tmpDir("catalogtbl")
    val df = TestFixtures.tips(spark,
      Seq("Mon" -> 40, "Tue" -> 20), Seq("Dinner" -> 40, "Lunch" -> 20))
    graft.deltalog.DeltaFixtureWriter.write(df, path, "overwrite", Seq("day"))
    val name = "graft_s1_catalog_tbl"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    // external path-backed registration — only the catalog LOCATION is
    // consulted; the analyzer reads the delta log underneath, not the
    // parquet-source table
    spark.catalog.createTable(name, path)
    try {
      assert(graft.operators.HealthAnalyzer.resolveTarget(spark, path) === path)
      val byName = graft.operators.HealthAnalyzer.analyzeTarget(spark, name)
      val byPath = graft.operators.HealthAnalyzer.analyzeTable(spark, path)
      // identical metrics; only the recorded tablePath spelling (catalog
      // locations come back scheme-qualified) may differ
      assert(byName.copy(tablePath = "") === byPath.copy(tablePath = ""))
      assert(new org.apache.hadoop.fs.Path(byName.tablePath).toUri.getPath === path)
      // facade sniff: same result through DeltaAnalyzer.analyze
      val viaFacade = graft.DeltaAnalyzer.analyze(spark, name)
      assert(viaFacade.copy(tablePath = "") === byPath.copy(tablePath = ""))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $name")
      ()
    }
  }

  /** Every count and storage field of the record, computed without the
    * analyzer: a `java.io` walk of the table directory for the folder side,
    * the collected active manifest for the table side, and parquet footer
    * row counts of the active files for `recordCount` and `partitionCount`. */
  private def independentCounts(path: String, thresholds: Thresholds): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) {
        if (f.getName == "_delta_log") Seq.empty
        else f.listFiles().toSeq.flatMap(walk)
      } else if (f.getName.endsWith(".parquet")) Seq(f)
      else Seq.empty
    val onDisk = walk(new java.io.File(path))
    val snap = DeltaLog.snapshot(spark, path)
    val active = try snap.activeFiles.select("path", "size", "partitionValues")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getMap[String, String](2).toMap))
      .toSeq
    finally snap.unpersist()
    val conf = spark.sparkContext.hadoopConfiguration
    def footerRows(rel: String): Long = {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(new java.io.File(path, rel).toURI), conf))
      try reader.getRecordCount finally reader.close()
    }
    val rows = active.map { case (p, _, pv) => (pv, footerRows(p)) }
    val sizes = active.map(_._2)
    val avg = if (sizes.isEmpty) 0.0 else sizes.sum.toDouble / sizes.size
    val thr = thresholds.smallFileSizeMb.map(_ * 1024 * 1024).getOrElse(avg)
    val partitioned = active.exists(_._3.nonEmpty)
    Map(
      "recordCount" -> rows.map(_._2).sum,
      "tableSizeBytes" -> sizes.sum,
      "folderSizeBytes" -> onDisk.map(_.length).sum,
      "dataFileCount" -> active.size.toLong,
      "totalFileCount" -> onDisk.size.toLong,
      "orphanFilesCount" -> (onDisk.size - active.size).toLong,
      "avgFileSizeBytes" -> avg.toLong,
      "smallFilesCount" -> sizes.count(_ < thr).toLong,
      "partitionCount" ->
        (if (partitioned) rows.filter(_._2 > 0).map(_._1).distinct.size.toLong else 0L))
  }

  private def reportedCounts(m: DeltaAnalyzerMetrics): Map[String, Long] = Map(
    "recordCount" -> m.recordCount,
    "tableSizeBytes" -> m.tableSizeBytes,
    "folderSizeBytes" -> m.folderSizeBytes,
    "dataFileCount" -> m.dataFileCount,
    "totalFileCount" -> m.totalFileCount,
    "orphanFilesCount" -> m.orphanFilesCount,
    "avgFileSizeBytes" -> m.avgFileSizeBytes,
    "smallFilesCount" -> m.smallFilesCount,
    "partitionCount" -> m.partitionCount)

  private def assertCountsPinned(path: String, thresholds: Thresholds = Thresholds()): DeltaAnalyzerMetrics = {
    val m = HealthAnalyzer.analyzeTable(spark, path, thresholds)
    assert(reportedCounts(m) === independentCounts(path, thresholds))
    m
  }

  /** An overwrite, an append and a delete: the delete leaves the files it
    * rewrote on disk as dead files. */
  private def buildChurnedTable(path: String, partitionBy: Seq[String]): Unit = {
    val df = TestFixtures.tips(spark,
      Seq("Mon" -> 50, "Tue" -> 30, "Wed" -> 20),
      Seq("Dinner" -> 60, "Lunch" -> 40))
    DeltaFixtureWriter.write(df, path, "overwrite", partitionBy)
    DeltaFixtureWriter.write(df.where(col("size") === 2), path, "append", partitionBy)
    DeltaFixtureWriter.delete(spark, path, "total_bill > 40")
  }

  test("counts and storage fields == an independent walk, footers and manifest: partitioned, with dead files") {
    val path = tmpDir("pin_part")
    buildChurnedTable(path, Seq("day"))
    val m = assertCountsPinned(path)
    assert(m.orphanFilesCount > 0, "the delete must leave dead files on disk")
    assert(m.partitionCount === 3L)
    assert(m.partitionSkewness === Some(m.skewnessMax))
    assert(m.skewMetrics.map(_.partitionCount) === Some(3L))
  }

  test("counts and storage fields pinned: unpartitioned table") {
    val path = tmpDir("pin_flat")
    buildChurnedTable(path, Seq.empty)
    val m = assertCountsPinned(path)
    assert(m.recordCount > 0)
    assert(m.partitionCount === 0L)
    assert(m.skewMetrics === None)
    assert(m.partitionSkewness === None)
  }

  test("counts and storage fields pinned: average-size small-file threshold") {
    val path = tmpDir("pin_avg")
    buildChurnedTable(path, Seq("day", "time"))
    val m = assertCountsPinned(path, Thresholds(smallFileSizeMb = None))
    assert(m.smallFilesCount < m.dataFileCount,
      "the average is not below every file, so some files must not be small")
  }

  test("counts and storage fields pinned: fully-deleted table") {
    val path = tmpDir("pin_empty")
    buildChurnedTable(path, Seq("day"))
    DeltaFixtureWriter.delete(spark, path, "total_bill > 0")
    val m = assertCountsPinned(path)
    assert(m.recordCount === 0L)
    assert(m.dataFileCount === 0L)
    assert(m.totalFileCount > 0L)
    assert(m.partitionCount === 0L)
  }

  test("orphan parquet files of random bytes or a foreign schema are counted, never read") {
    val path = tmpDir("pin_garbage")
    buildChurnedTable(path, Seq("day"))
    val before = HealthAnalyzer.analyzeTable(spark, path)
    val garbage = new java.io.File(path, "day=Mon/part-99998-garbage.c000.snappy.parquet")
    val bytes = new Array[Byte](4096)
    new scala.util.Random(7).nextBytes(bytes)
    java.nio.file.Files.write(garbage.toPath, bytes)
    // a foreign file whose total_bill is a string: a read under the table
    // schema fails on it
    val tmp = tmpDir("foreign")
    spark.range(5).select(col("id").cast("string").as("total_bill"), col("id").as("other"))
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      new java.io.File(path, "day=Tue/part-99999-foreign.c000.snappy.parquet").toPath)

    val m = assertCountsPinned(path)
    assert(m.orphanFilesCount === before.orphanFilesCount + 2)
    assert(m.recordCount === before.recordCount)
    assert(m.dataFileCount === before.dataFileCount)
  }

  test("an active file missing from disk fails the analysis, naming the file") {
    val path = tmpDir("missing_active")
    buildChurnedTable(path, Seq("day"))
    val snap = DeltaLog.snapshot(spark, path)
    val victim = try snap.activeFiles.select("path").collect().map(_.getString(0)).min
    finally snap.unpersist()
    assert(new java.io.File(path, victim).delete())
    val e = intercept[Exception](HealthAnalyzer.analyzeTable(spark, path))
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    val name = victim.split('/').last
    assert(messages.exists(_.contains(name)), messages.mkString("\n"))
  }

  /** The three sources of the record count and skew agree field for
    * field, `tablePath` aside: the log's `numRecords`, parquet footers (a
    * copy without stats) and a forced data scan
    * (`SkewAnalyzer.measure(snap.data, …)`). */
  private def assertCountSourcesAgree(path: String): DeltaAnalyzerMetrics = {
    val fromStats = HealthAnalyzer.analyzeTable(spark, path)
    val fromFooters = HealthAnalyzer.analyzeTable(spark, copyWithoutStats(path))
    val snap = DeltaLog.snapshot(spark, path)
    val (recordCount, skew) = try SkewAnalyzer.measure(snap.data,
      snap.partitionColumns, Thresholds().skewThreshold) finally snap.unpersist()
    val partitioned = snap.partitionColumns.nonEmpty
    val fromScan = fromStats.copy(recordCount = recordCount,
      partitionCount = skew.partitionCount, isSkewed = skew.isSkewed,
      skewnessMax = skew.skewnessMax, skewnessAverage = skew.skewnessAverage,
      partitionSkewness = Option.when(partitioned)(skew.skewnessMax),
      skewMetrics = Option.when(partitioned)(skew)).withHealthScore
    assert(fromFooters.copy(tablePath = "") === fromStats.copy(tablePath = ""),
      "the record from footers differs from the record from stats")
    assert(fromScan === fromStats, "the record from a data scan differs from the record from stats")
    fromStats
  }

  test("record from stats == from footers == from a data scan: escaped partition values") {
    val path = tmpDir("exact_escaped")
    val days = Seq("Mon Tue", "a:b", "50%", "Mon")
    def rows(ids: Range) = spark.createDataFrame(ids.map(i => (i.toLong, i * 1.5, days(i % 4))))
      .toDF("id", "v", "day").coalesce(1)
    DeltaFixtureWriter.write(rows(0 until 40), path, "overwrite", Seq("day"))
    DeltaFixtureWriter.write(rows(40 until 50), path, "append", Seq("day"))
    DeltaFixtureWriter.delete(spark, path, "id % 3 = 0")
    val m = assertCountSourcesAgree(path)
    assert(m.partitionCount === 4L)
    assert(m.recordCount === (0 until 50).count(_ % 3 != 0).toLong)
  }

  test("record from stats == from footers == from a data scan: zero-row files") {
    val path = tmpDir("exact_zero")
    buildChurnedTable(path, Seq("day"))
    // one zero-row file in a partition that has rows, one alone in a new
    // partition, which the counts must not report
    val empty = tmpDir("zero_rows")
    spark.range(0).select(lit(1.0).as("total_bill"), lit(1.0).as("tip"),
      lit("Dinner").as("time"), lit(1).as("size"))
      .coalesce(1).write.mode("overwrite").parquet(empty)
    val part = new java.io.File(empty).listFiles().find(_.getName.endsWith(".parquet")).get
    val adds = Seq("day=Mon", "day=Thu").map { dir =>
      val rel = s"$dir/part-99990-zero.c000.snappy.parquet"
      val to = new java.io.File(path, rel)
      to.getParentFile.mkdirs()
      java.nio.file.Files.copy(part.toPath, to.toPath)
      rel -> to.length()
    }
    val snap = DeltaLog.snapshot(spark, path)
    val v = try snap.version finally snap.unpersist()
    DeltaFixtureWriter.writeCommitStream(path, v + 1, "WRITE", Seq("mode" -> "Append"),
      adds.iterator, Iterator.empty, Seq("day"))
    val m = assertCountSourcesAgree(path)
    assert(m.partitionCount === 3L, "a partition of zero-row files is not a partition")
    assert(m.skewMetrics.get.recordsPerPartition.keySet === Set("Mon", "Tue", "Wed"))
  }

  test("record from stats == from footers == from a data scan: checkpointed, pre-checkpoint JSONs deleted") {
    val path = tmpDir("exact_ckpt")
    buildChurnedTable(path, Seq("day", "time"))
    val v = graft.operators.Maintenance.checkpoint(spark, path)
    (0L to v).foreach(i => java.nio.file.Files.delete(
      java.nio.file.Paths.get(path, "_delta_log", f"$i%020d.json")))
    DeltaFixtureWriter.write(TestFixtures.tips(spark, Seq("Wed" -> 6), Seq("Lunch" -> 6)),
      path, "append", Seq("day", "time"))
    val m = assertCountSourcesAgree(path)
    assert(m.recordCount > 0)
  }

  test("record from stats == from footers == from a data scan: more partitions than the top-N map") {
    val path = tmpDir("exact_highcard")
    val keys = spark.range(1050).select(format_string("k%04d", col("id")).as("k"), col("id"))
    val hot = spark.range(40).select(lit("k0007").as("k"), col("id"))
    DeltaFixtureWriter.write(keys.union(hot).coalesce(1), path, "overwrite", Seq("k"))
    val m = assertCountSourcesAgree(path)
    val sk = m.skewMetrics.get
    assert(sk.partitionCount === 1050L)
    assert(sk.recordsPerPartition.size === 1000)
    assert(sk.maxPartition === Some("k0007" -> 41L))
  }

  test("record from stats == from footers == from a data scan: hand-written legacy log without stats") {
    val path = tmpDir("exact_legacy")
    val df = TestFixtures.tips(spark, Seq("Mon" -> 30, "Tue" -> 20, "Wed" -> 10),
      Seq("Dinner" -> 40, "Lunch" -> 20))
    df.repartition(2).write.mode("append").partitionBy("day").parquet(path)
    val files = DeltaLog.dataFiles(spark, path).toSeq.sorted
    val schema = df.schema.json.replace("\\", "\\\\").replace("\"", "\\\"")
    def add(rel: String, size: Long, stats: String) = {
      val day = rel.split('/').head.stripPrefix("day=")
      s"""{"add":{"path":"$rel","partitionValues":{"day":"$day"},"size":$size,"modificationTime":1,"dataChange":true$stats}}"""
    }
    // empty stats, no stats field, and stats without numRecords
    val stats = Seq(""","stats":""""", "", ""","stats":"{\"minValues\":{}}"""")
    val commit0 = Seq(
      """{"commitInfo":{"timestamp":1,"operation":"WRITE","operationParameters":{"mode":"Overwrite"}}}""",
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"legacy","format":{"provider":"parquet","options":{}},"schemaString":"$schema","partitionColumns":["day"],"configuration":{},"createdTime":1}}""") ++
      files.zipWithIndex.map { case ((rel, size), i) => add(rel, size, stats(i % 3)) }
    val removed = files.head._1
    val commit1 = Seq(
      """{"commitInfo":{"timestamp":2,"operation":"DELETE","operationParameters":{"predicate":"[]"}}}""",
      s"""{"remove":{"path":"$removed","deletionTimestamp":2,"dataChange":true}}""")
    val log = new java.io.File(path, "_delta_log")
    log.mkdirs()
    Seq(commit0, commit1).zipWithIndex.foreach { case (lines, v) =>
      java.nio.file.Files.write(new java.io.File(log, f"$v%020d.json").toPath,
        lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    val m = assertCountSourcesAgree(path)
    assert(m.partitionCount === 3L)
    assert(m.dataFileCount === files.size - 1L)
  }

  test("smoke: complex table loads and reports version_count > 0 (test_delta_analyzer_load.py:6-11)") {
    val path = tmpDir("complex")
    TestFixtures.buildSkewedTable(spark, path)
    val m = HealthAnalyzer.analyzeTable(spark, path)
    assert(m.versionCount > 0)
    assert(m.tablePath === path)
    assert(m.recordCount > 0)
    assert(m.healthScore.isDefined)
    assert(m.healthStatus.isDefined)
  }
}
