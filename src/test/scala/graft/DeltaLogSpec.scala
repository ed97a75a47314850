package graft

import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

import graft.deltalog.{DeltaFixtureWriter, DeltaLog}

/** Log-layer unit tests: commit writing, replay, history, snapshot data. */
class DeltaLogSpec extends SparkSuite {
  import spark.implicits._

  test("overwrite + append replay yields active files and full history") {
    val path = tmpDir("dlog")
    val df = TestFixtures.tips(spark, Seq("Mon" -> 10, "Tue" -> 10),
      Seq("Dinner" -> 10, "Lunch" -> 10))
    DeltaFixtureWriter.write(df, path, "overwrite", Seq("day", "time"))
    DeltaFixtureWriter.write(df.limit(5), path, "append", Seq("day", "time"))

    val snap = DeltaLog.snapshot(spark, path)
    assert(snap.version === 1L)
    assert(snap.partitionColumns === Seq("day", "time"))
    val hist = snap.history.orderBy("version").collect()
    assert(hist.length === 2)
    assert(hist.forall(_.getAs[String]("operation") == "WRITE"))
    // all files active (no removes yet)
    val nFiles = snap.activeFiles.count()
    assert(nFiles > 0)
    assert(snap.data.count() === 25)
    snap.unpersist()
  }

  test("logical overwrite removes prior files from the snapshot, not disk") {
    val path = tmpDir("dlog")
    val df = TestFixtures.tips(spark, Seq("Mon" -> 20), Seq("Dinner" -> 20))
    DeltaFixtureWriter.write(df, path, "overwrite", Seq("day", "time"))
    val snap0 = DeltaLog.snapshot(spark, path)
    val gen0 = snap0.activeFiles.select("path").as[String].collect().toSet
    snap0.unpersist()

    DeltaFixtureWriter.write(df.limit(7), path, "overwrite", Seq("day", "time"))
    val snap = DeltaLog.snapshot(spark, path)
    val gen1 = snap.activeFiles.select("path").as[String].collect().toSet
    assert(gen0.intersect(gen1).isEmpty, "old generation must be logically removed")
    assert(snap.data.count() === 7)
    // old files still on disk → orphan-detectable
    val onDisk = graft.operators.StorageAnalyzer.folderFiles(spark, path).count()
    assert(onDisk > gen1.size)
    snap.unpersist()
  }

  test("delete rewrites only matching files; data matches predicate filter") {
    val path = tmpDir("dlog")
    val df = TestFixtures.tips(spark, Seq("Mon" -> 30, "Tue" -> 30),
      Seq("Dinner" -> 30, "Lunch" -> 30))
    DeltaFixtureWriter.write(df, path, "overwrite", Seq("day", "time"))
    val expected = df.where("total_bill <= 40").count()
    DeltaFixtureWriter.delete(spark, path, "total_bill > 40")
    val snap = DeltaLog.snapshot(spark, path)
    assert(snap.data.count() === expected)
    assert(snap.history.where($"operation" === "DELETE").count() === 1)
    val params = snap.history.where($"operation" === "DELETE")
      .select(element_at($"operationParameters", "predicate")).as[String].first()
    assert(params === "total_bill > 40")
    snap.unpersist()
  }

  test("compact bin-packs to one active file per partition, count unchanged") {
    val path = tmpDir("dlog")
    val df = TestFixtures.tips(spark, Seq("Mon" -> 40, "Tue" -> 20),
      Seq("Dinner" -> 40, "Lunch" -> 20))
    DeltaFixtureWriter.write(df, path, "overwrite", Seq("day", "time"))
    (1 to 3).foreach { _ =>
      DeltaFixtureWriter.write(df.limit(5), path, "append", Seq("day", "time"))
    }
    val before = DeltaLog.snapshot(spark, path)
    val nBefore = before.data.count()
    before.unpersist()
    DeltaFixtureWriter.compact(spark, path)
    val snap = DeltaLog.snapshot(spark, path)
    assert(snap.data.count() === nBefore)
    val perPartition = snap.activeFiles
      .groupBy(element_at($"partitionValues", "day"), element_at($"partitionValues", "time"))
      .count().select(max("count")).as[Long].first()
    assert(perPartition === 1L, "compaction should leave one file per partition")
    assert(snap.history.where($"operation" === "OPTIMIZE").count() === 1)
    snap.unpersist()
  }

  test("activeSizes and partitionColumns: size, files, partitioning") {
    val path = tmpDir("dlog")
    val df = TestFixtures.tips(spark, Seq("Mon" -> 10), Seq("Dinner" -> 10))
    DeltaFixtureWriter.write(df, path, "overwrite", Seq("day", "time"))
    val snap = DeltaLog.snapshot(spark, path)
    assert(snap.activeSizes.size.toLong === snap.activeFiles.count())
    assert(snap.activeSizes.values.sum > 0)
    assert(snap.partitionColumns === Seq("day", "time"))
    snap.unpersist()
  }

  test("metaData.schemaString is the schema authority for the data scan") {
    val path = tmpDir("dlog")
    val df = TestFixtures.tips(spark, Seq("Mon" -> 5), Seq("Dinner" -> 5))
    DeltaFixtureWriter.write(df, path, "overwrite", Seq("day", "time"))
    val snap = DeltaLog.snapshot(spark, path)
    val full = snap.tableSchema.getOrElse(fail("schemaString not persisted/parsed"))
    assert(full.fieldNames.toSet === df.columns.toSet,
      "schemaString carries the FULL schema incl. partition columns")
    assert(snap.data.columns.toSet === df.columns.toSet)
    snap.unpersist()
  }

  test("schema-evolving append: new column visible, old files read as null") {
    val path = tmpDir("dlog")
    val df = TestFixtures.tips(spark, Seq("Mon" -> 4), Seq("Dinner" -> 4))
    DeltaFixtureWriter.write(df, path, "overwrite", Seq("day", "time"))
    // append WITH an extra column — a new metaData action must make it the
    // live schema even though the old physical files lack the column
    val evolved = TestFixtures.tips(spark, Seq("Tue" -> 3), Seq("Lunch" -> 3))
      .withColumn("source", lit("v2"))
    DeltaFixtureWriter.write(evolved, path, "append", Seq("day", "time"))
    val snap = DeltaLog.snapshot(spark, path)
    assert(snap.tableSchema.exists(_.fieldNames.contains("source")),
      "evolved schemaString is the latest metaData")
    val data = snap.data
    assert(data.columns.contains("source"))
    assert(data.count() === 7)
    assert(data.where(col("source").isNull).count() === 4,
      "pre-evolution rows surface the added column as null")
    assert(data.where(col("source") === "v2").count() === 3)
    snap.unpersist()
  }

  test("legacy stub schemaString falls back to deterministic footer pick") {
    val path = tmpDir("dlog")
    val df = TestFixtures.tips(spark, Seq("Mon" -> 6), Seq("Dinner" -> 6))
    DeltaFixtureWriter.write(df, path, "overwrite", Seq("day", "time"))
    // simulate a legacy log: rewrite commit 0's metaData schemaString to the
    // old stub "{}" so tableSchema cannot parse
    val lp = java.nio.file.Paths.get(path, "_delta_log", f"${0L}%020d.json")
    val rewritten = new String(java.nio.file.Files.readAllBytes(lp),
      java.nio.charset.StandardCharsets.UTF_8)
      .replaceAll("\"schemaString\":\"\\{.*?\\}\"", "\"schemaString\":\"{}\"")
    java.nio.file.Files.write(lp, rewritten.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val snap = DeltaLog.snapshot(spark, path)
    assert(snap.tableSchema.isEmpty, "stub schema must not parse")
    assert(snap.data.count() === 6, "footer-pick fallback still reads the table")
    snap.unpersist()
  }

  // analyze, changes, delete and optimize over partition values that Spark
  // escapes in directory names
  test("escaped partition values keep their rows") {
    val path = tmpDir("dlog_escaped")
    // "Mon Tue" is stored as is; "a:b" and "50%" are escaped in the
    // directory name (a%3Ab, 50%25)
    val days = Seq("Mon Tue", "a:b", "50%", "Mon")
    def rows(ids: Range) = ids.map(i => (i.toLong, i * 1.5, days(i % 4)))
      .toDF("id", "v", "day").coalesce(1)
    DeltaFixtureWriter.write(rows(0 until 12), path, "overwrite", Seq("day"))
    DeltaFixtureWriter.write(rows(12 until 24), path, "append", Seq("day"))

    val m = graft.operators.HealthAnalyzer.analyzeTable(spark, path)
    assert(m.recordCount === 24L)
    assert(m.partitionCount === 4L)
    assert(m.dataFileCount === 8L && m.orphanFilesCount === 0L)
    val snap = DeltaLog.snapshot(spark, path)
    val stored = snap.activeFiles
      .select(element_at($"partitionValues", "day")).as[String].collect().toSet
    assert(stored === days.toSet, "partitionValues hold the unescaped value")
    val byDay = snap.data.groupBy("day").count().as[(String, Long)].collect().toMap
    assert(byDay === days.map(_ -> 6L).toMap)
    snap.unpersist()
    val inserts = DeltaLog.changes(spark, path, 0, 1)
      .select("id", "day").as[(Long, String)].collect().toSet
    assert(inserts === (12 until 24).map(i => (i.toLong, days(i % 4))).toSet)

    // every file holds a multiple of 3, so every partition is rewritten
    DeltaFixtureWriter.delete(spark, path, "id % 3 = 0")
    def live(): Set[(Long, String)] = {
      val s = DeltaLog.snapshot(spark, path)
      try s.data.select("id", "day").as[(Long, String)].collect().toSet
      finally s.unpersist()
    }
    def keyed(ids: Seq[Int]) = ids.map(i => (i.toLong, days(i % 4))).toSet
    val survivors = keyed((0 until 24).filter(_ % 3 != 0))
    assert(live() === survivors)

    // one more file per partition, so every partition has small files to
    // compact; each compacts to one file
    DeltaFixtureWriter.write(rows(24 until 32), path, "append", Seq("day"))
    graft.operators.Maintenance.optimize(spark, path)
    val all = survivors ++ keyed(24 until 32)
    assert(live() === all)
    val after = DeltaLog.snapshot(spark, path)
    assert(after.activeFiles.count() === 4L)
    after.unpersist()
    assert(graft.operators.HealthAnalyzer.analyzeTable(spark, path)
      .recordCount === all.size.toLong)
  }

  // the manifest index must apply partition filters itself: Spark drops
  // them from the filter it runs after the scan
  test("filters on partition columns and __file return exactly their rows") {
    val path = tmpDir("dlog_prune")
    val days = Seq("Mon", "Tue", "Wed")
    def rows(ids: Range) = ids.map(i => (i.toLong, i * 2L, days(i % 3))).toDF("id", "v", "day")
    DeltaFixtureWriter.write(rows(0 until 30).coalesce(1), path, "overwrite", Seq("day"))
    DeltaFixtureWriter.write(rows(30 until 60).coalesce(1), path, "append", Seq("day"))
    def expected(ids: Range, day: String) =
      ids.filter(i => days(i % 3) == day).map(i => (i.toLong, i * 2L, day)).toSet
    def active(): Seq[(String, String)] = {
      val s = DeltaLog.snapshot(spark, path)
      try s.activeFiles.select($"path", element_at($"partitionValues", "day"))
        .as[(String, String)].collect().sorted.toSeq
      finally s.unpersist()
    }

    val snap = DeltaLog.snapshot(spark, path)
    try {
      assert(snap.data.where($"day" === "Mon").select("id", "v", "day")
        .as[(Long, Long, String)].collect().toSet === expected(0 until 60, "Mon"))
      val tue = active().filter(_._2 == "Tue").map(_._1)
      assert(tue.size === 2)
      val perFile = tue.map { f =>
        val got = snap.dataWithFile.get.where($"__file" === f)
          .select("id", "v", "day").as[(Long, Long, String)].collect().toSet
        val direct = spark.read.parquet(s"$path/$f").select("id", "v")
          .as[(Long, Long)].collect().map { case (i, v) => (i, v, "Tue") }.toSet
        assert(got.nonEmpty && got === direct, f)
        got
      }
      assert(perFile.reduce(_ ++ _) === expected(0 until 60, "Tue"))
    } finally snap.unpersist()

    // a DELETE on a partition predicate rewrites only that partition
    val before = active()
    DeltaFixtureWriter.delete(spark, path, "day = 'Wed' AND id < 30")
    val after = active()
    assert(after.filter(_._2 != "Wed") === before.filter(_._2 != "Wed"))
    val wed = after.filter(_._2 == "Wed").map(_._1)
    assert(wed.size === 1 && before.map(_._1).contains(wed.head),
      "the Wed file without matches stays; the one whose rows all match is removed")
    val s2 = DeltaLog.snapshot(spark, path)
    try assert(s2.data.where($"day" === "Wed").select("id", "v", "day")
      .as[(Long, Long, String)].collect().toSet === expected(30 until 60, "Wed"))
    finally s2.unpersist()
  }

  // commit lines spelled as in Delta's PROTOCOL.md ("Protocol Evolution",
  // "Deletion Vectors", "Column Mapping"); no data files are needed, the
  // protocol is checked when the snapshot opens
  private def writeLog(path: String, commits: Seq[String]*): Unit = {
    val dir = java.nio.file.Paths.get(path, "_delta_log")
    java.nio.file.Files.createDirectories(dir)
    commits.zipWithIndex.foreach { case (lines, v) =>
      java.nio.file.Files.write(dir.resolve(f"$v%020d.json"),
        lines.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
  }

  private val schemaString =
    """{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}}]}"""

  private def metaData(configuration: String) =
    s"""{"metaData":{"id":"5fba94ed-9794-4965-ba6e-6ee3c0d22af9","format":{"provider":"parquet","options":{}},"schemaString":"$schemaString","partitionColumns":[],"configuration":$configuration,"createdTime":1564524294376}}"""

  private def commitInfo(op: String) =
    s"""{"commitInfo":{"timestamp":1564524295000,"operation":"$op","operationParameters":{}}}"""

  test("protocol guard: deletion vectors and column mapping fail fast, naming the features") {
    val dv = tmpDir("dlog_dv")
    writeLog(dv, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      metaData("""{"delta.enableDeletionVectors":"true"}"""),
      """{"add":{"path":"part-00000-a.parquet","partitionValues":{},"size":400,"modificationTime":1564524294000,"dataChange":true,"deletionVector":{"storageType":"u","pathOrInlineDv":"ab^-aqEH.-t@S}K{vb[*k^","offset":4,"sizeInBytes":40,"cardinality":6}}}""",
      commitInfo("WRITE")))
    val e = intercept[UnsupportedOperationException](DeltaLog.snapshot(spark, dv))
    assert(e.getMessage.contains("deletionVectors") && e.getMessage.contains("reader version 3"),
      e.getMessage)
    intercept[UnsupportedOperationException](
      graft.operators.HealthAnalyzer.analyzeTable(spark, dv))

    // reader version 2 is column mapping, which predates the features list
    val cm = tmpDir("dlog_cm")
    writeLog(cm, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      metaData("""{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"1"}"""),
      commitInfo("CREATE TABLE")))
    val e2 = intercept[UnsupportedOperationException](DeltaLog.snapshot(spark, cm))
    assert(e2.getMessage.contains("columnMapping"), e2.getMessage)

    val both = tmpDir("dlog_both")
    writeLog(both, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["columnMapping","deletionVectors"],"writerFeatures":["columnMapping","deletionVectors"]}}""",
      metaData("{}"), commitInfo("CREATE TABLE")))
    val e3 = intercept[UnsupportedOperationException](DeltaLog.snapshot(spark, both))
    assert(e3.getMessage.contains("columnMapping, deletionVectors"), e3.getMessage)
  }

  test("protocol guard: the latest protocol action decides, writer-only features pass") {
    val path = tmpDir("dlog_upgrade")
    writeLog(path,
      Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["appendOnly","invariants"]}}""",
        metaData("{}"), commitInfo("CREATE TABLE")),
      Seq("""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["appendOnly","invariants","deletionVectors"]}}""",
        commitInfo("UPGRADE PROTOCOL")))
    val e = intercept[UnsupportedOperationException](DeltaLog.snapshot(spark, path))
    assert(e.getMessage.contains("deletionVectors"), e.getMessage)
    // before the upgrade the table is reader version 1
    val v0 = DeltaLog.snapshotAt(spark, path, 0)
    try {
      assert(v0.version === 0L)
      assert(v0.partitionColumns === Seq.empty)
      assert(v0.tableSchema.map(_.fieldNames.toSeq) === Some(Seq("id")))
    } finally v0.unpersist()
  }

  test("a schema-evolving append and a checkpoint keep a (1, 7) table's protocol and writer features") {
    val path = tmpDir("dlog_keepproto")
    val protocol = """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["appendOnly","invariants"]}}"""
    writeLog(path, Seq(protocol, metaData("{}"), commitInfo("CREATE TABLE")))
    // the log's schema is (id); the append adds a column, so its commit
    // carries metaData and protocol
    DeltaFixtureWriter.write(Seq((1L, "a")).toDF("id", "tag"), path, "append")
    val commit1 = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(path, "_delta_log", f"${1}%020d.json")).asScala
    assert(commit1.exists(_.startsWith("""{"metaData":""")), commit1.mkString("\n"))
    assert(commit1.filter(_.startsWith("""{"protocol":""")) === Seq(protocol))
    val v = graft.operators.Maintenance.checkpoint(spark, path)
    val ckpt = spark.read.parquet(f"$path/_delta_log/$v%020d.checkpoint.parquet")
      .where($"protocol".isNotNull).select($"protocol.*")
    assert(ckpt.as[(Int, Int, Option[Seq[String]], Seq[String])].collect().toSeq ===
      Seq((1, 7, None, Seq("appendOnly", "invariants"))))
    java.nio.file.Files.delete(java.nio.file.Paths.get(path, "_delta_log", f"${0}%020d.json"))
    java.nio.file.Files.delete(java.nio.file.Paths.get(path, "_delta_log", f"${1}%020d.json"))
    val snap = DeltaLog.snapshot(spark, path)
    assert(snap.latest("protocol").map(p => (p.getInt(0), p.getInt(1), p.getSeq[String](3))) ===
      Some((1, 7, Seq("appendOnly", "invariants"))))
    assert(snap.tableSchema.map(_.fieldNames.toSeq) === Some(Seq("id", "tag")))
    assert(snap.data.as[(Long, String)].collect().toSeq === Seq((1L, "a")))
  }

  test("replay: re-adds, same-commit add+remove, removes without adds, checkpoint + later remove") {
    val path = tmpDir("dlog_replay")
    def add(p: String, size: Long, t: Long) =
      s"""{"add":{"path":"$p","partitionValues":{},"size":$size,"modificationTime":$t,"dataChange":true,"stats":"{\\"numRecords\\":$size}"}}"""
    def remove(p: String) =
      s"""{"remove":{"path":"$p","deletionTimestamp":1564524296000,"dataChange":true}}"""
    writeLog(path,
      Seq(metaData("{}"), add("keep.parquet", 10, 1), commitInfo("WRITE")),
      Seq(add("readd.parquet", 100, 2), commitInfo("WRITE")),
      // removed in the commit after its add; added and removed in one
      // commit; removed without ever being added
      Seq(remove("readd.parquet"), add("same.parquet", 5, 3), remove("same.parquet"),
        remove("ghost.parquet"), commitInfo("DELETE")),
      Seq(add("readd.parquet", 101, 4), commitInfo("WRITE")))
    def active() = {
      val snap = DeltaLog.snapshot(spark, path)
      try snap.activeFiles.select("path", "size", "modificationTime", "stats")
        .as[(String, Long, Long, String)].collect().toSet
      finally snap.unpersist()
    }
    val stats = (n: Long) => s"""{"numRecords":$n}"""
    assert(active() === Set(("keep.parquet", 10L, 1L, stats(10)), ("readd.parquet", 101L, 4L, stats(101))))

    // the checkpoint's rows stand in for commits 0-3, alone once their
    // JSONs are cleaned up; a later JSON remove of one of them must win
    // over its checkpoint add
    assert(graft.operators.Maintenance.checkpoint(spark, path) === 3L)
    val log = java.nio.file.Paths.get(path, "_delta_log")
    (0 to 3).foreach(v => java.nio.file.Files.delete(log.resolve(f"$v%020d.json")))
    assert(active() === Set(("keep.parquet", 10L, 1L, stats(10)), ("readd.parquet", 101L, 4L, stats(101))))
    java.nio.file.Files.write(log.resolve("00000000000000000004.json"),
      Seq(remove("keep.parquet"), add("late.parquet", 7, 5), commitInfo("WRITE"))
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    assert(active() === Set(("readd.parquet", 101L, 4L, stats(101)), ("late.parquet", 7L, 5L, stats(7))))
  }

  private def lastCheckpointJson(path: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, "_delta_log", "_last_checkpoint")),
      java.nio.charset.StandardCharsets.UTF_8)

  test("checkpoint defaults: a log without metaData or protocol gets (1, 2); size is the row count") {
    val bare = tmpDir("dlog_ckpt_bare")
    writeLog(bare, Seq(
      """{"add":{"path":"part-00000-a.parquet","partitionValues":{},"size":400,"modificationTime":1564524294000,"dataChange":true}}""",
      """{"add":{"path":"part-00001-b.parquet","partitionValues":{},"size":500,"modificationTime":1564524294000,"dataChange":true}}""",
      commitInfo("WRITE")))
    val full = tmpDir("dlog_ckpt_full")
    DeltaFixtureWriter.write(TestFixtures.tips(spark, Seq("Mon" -> 10, "Tue" -> 10),
      Seq("Dinner" -> 10, "Lunch" -> 10)), full, "overwrite", Seq("day"))
    val expectedTypes = Seq("add", "metaData", "protocol").map(n =>
      n -> DeltaLog.actionSchema(n).dataType.catalogString)
    Seq(bare -> 0L, full -> 1L).foreach { case (path, metas) =>
      val snap = DeltaLog.snapshot(spark, path)
      val adds = try snap.activeFiles.count() finally snap.unpersist()
      assert(adds >= 2L)
      val v = graft.operators.Maintenance.checkpoint(spark, path)
      val ckpt = spark.read.parquet(f"$path/_delta_log/$v%020d.checkpoint.parquet")
      assert(ckpt.schema.fields.toSeq.map(f => f.name -> f.dataType.catalogString) === expectedTypes)
      assert(ckpt.where($"add".isNotNull).count() === adds)
      assert(ckpt.where($"metaData".isNotNull).count() === metas)
      val proto = ckpt.where($"protocol".isNotNull)
        .select("protocol.minReaderVersion", "protocol.minWriterVersion").as[(Int, Int)].collect()
      assert(proto.toSeq === Seq((1, 2)), path)
      val rows = ckpt.count()
      assert(rows === adds + metas + 1)
      assert(lastCheckpointJson(path) === s"""{"version":$v,"size":$rows}""")
    }
  }

  test("multi-part checkpoint: replay reads every part _last_checkpoint names") {
    val path = tmpDir("dlog_multipart")
    val df = TestFixtures.tips(spark, Seq("Mon" -> 30, "Tue" -> 30),
      Seq("Dinner" -> 30, "Lunch" -> 30))
    DeltaFixtureWriter.write(df, path, "overwrite", Seq("day"))
    DeltaFixtureWriter.write(df.limit(10), path, "append", Seq("day"))
    val v = graft.operators.Maintenance.checkpoint(spark, path)
    DeltaFixtureWriter.write(df.limit(5), path, "append", Seq("day"))
    def state() = {
      val snap = DeltaLog.snapshot(spark, path)
      try (snap.activeFiles.select("path", "size").as[(String, Long)].collect().sorted.toSeq,
        snap.version, snap.tableSchema, snap.partitionColumns)
      finally snap.unpersist()
    }
    val want = state()

    // split the single-file checkpoint into two parts, as multi-part
    // writers do (PROTOCOL.md "Checkpoints"), then expire the JSON
    // commits it covers
    val log = java.nio.file.Paths.get(path, "_delta_log")
    def partName(i: Int) = f"$v%020d.checkpoint.$i%010d.0000000002.parquet"
    val single = log.resolve(f"$v%020d.checkpoint.parquet")
    val rows = spark.read.parquet(single.toString)
    val total = rows.count()
    val paths = rows.where($"add".isNotNull).select("add.path").as[String].collect().sorted
    val inFirst = coalesce($"add.path".isin(paths.take(paths.length / 2).toSeq: _*), lit(false))
    Seq(rows.where(inFirst), rows.where(!inFirst)).zipWithIndex.foreach { case (part, i) =>
      val tmp = log.resolve(s".part$i.tmp")
      part.coalesce(1).write.parquet(tmp.toString)
      val file = java.nio.file.Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      java.nio.file.Files.move(file, log.resolve(partName(i + 1)))
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
    java.nio.file.Files.delete(single)
    // the Hadoop checksum of the old _last_checkpoint would reject the rewrite
    java.nio.file.Files.deleteIfExists(log.resolve("._last_checkpoint.crc"))
    java.nio.file.Files.write(log.resolve("_last_checkpoint"),
      s"""{"version":$v,"size":$total,"parts":2}""".getBytes("UTF-8"))
    (0L to v).foreach(i => java.nio.file.Files.delete(log.resolve(f"$i%020d.json")))
    assert(DeltaLog.lastCheckpointVersion(spark, path) === Some(v))
    assert(state() === want)

    val second = partName(2)
    java.nio.file.Files.delete(log.resolve(second))
    val e = intercept[java.io.FileNotFoundException](DeltaLog.snapshot(spark, path))
    assert(e.getMessage.contains(second), e.getMessage)
  }

  // Spark lists more than 32 root paths in a job with this description;
  // a glob over the commits expands to one root per commit
  private def listingJobs(jobs: Seq[String]) =
    jobs.filter(_.startsWith("Listing leaf files and directories"))

  /** A 35-commit log: an overwrite and 34 appends of one two-row file each. */
  private lazy val longLog: String = {
    val path = tmpDir("dlog_long")
    val df = TestFixtures.tips(spark, Seq("Mon" -> 2), Seq("Dinner" -> 2)).coalesce(1)
    DeltaFixtureWriter.write(df, path, "overwrite", Seq("day"))
    (1 to 34).foreach(_ => DeltaFixtureWriter.write(df, path, "append", Seq("day")))
    path
  }

  test("snapshot opens in 0 jobs on a log of more than 32 commits; a later append relists nothing") {
    val path = longLog
    val (snap, jobs) = jobsOf {
      val s = DeltaLog.snapshot(spark, path)
      (s.version, s.tableSchema, s.partitionColumns, s.manifest.length, s.history.collect().length)
      s
    }
    assert(jobs.isEmpty, jobs.mkString("\n"))
    assert(snap.version === 34L)
    assert(snap.partitionColumns === Seq("day"))
    assert(snap.tableSchema.map(_.fieldNames.toSeq) ===
      Some(Seq("total_bill", "tip", "day", "time", "size")))
    assert(snap.manifest.length === 35)
    assert(snap.history.collect().map(_.getAs[Long]("version")).toSeq === (0L to 34L))
    // nothing of the open snapshot is cached, so a write into the table
    // directory while it is alive refreshes (relists) nothing
    val (_, appendJobs) = jobsOf(DeltaFixtureWriter.write(
      TestFixtures.tips(spark, Seq("Tue" -> 2), Seq("Lunch" -> 2)), path, "append", Seq("day")))
    assert(listingJobs(appendJobs).isEmpty, appendJobs.mkString("\n"))
    assert(DeltaLog.snapshot(spark, path).version === 35L)
  }

  test("analyzeTable runs no job on a log of more than 32 commits") {
    val path = longLog
    graft.operators.HealthAnalyzer.analyzeTable(spark, path) // warm-up
    val (m, jobs) = jobsOf(graft.operators.HealthAnalyzer.analyzeTable(spark, path))
    assert(jobs.isEmpty, jobs.mkString("\n"))
    val snap = DeltaLog.snapshot(spark, path)
    assert(m.versionCount === snap.version)
    assert(m.recordCount === snap.data.count())
    assert(m.numberOfWrites === snap.version + 1)
  }

  test("a remove-only commit without commitInfo sets the version") {
    val path = tmpDir("dlog_removeonly")
    writeLog(path,
      Seq(metaData("{}"),
        """{"add":{"path":"a.parquet","partitionValues":{},"size":10,"modificationTime":1,"dataChange":true}}""",
        commitInfo("WRITE")),
      Seq("""{"remove":{"path":"a.parquet","deletionTimestamp":2,"dataChange":true}}"""))
    val snap = DeltaLog.snapshot(spark, path)
    assert(snap.version === 1L)
    assert(snap.manifest.isEmpty)
    assert(snap.history.select("version", "operation").as[(Long, String)].collect().toSeq ===
      Seq((0L, "WRITE")))
    assert(graft.operators.HealthAnalyzer.analyzeTable(spark, path).versionCount === 1L)
  }

  test("a checkpoint and the JSON commit at its version give the latest metaData") {
    val path = tmpDir("dlog_ckpt_meta")
    val df = TestFixtures.tips(spark, Seq("Mon" -> 4), Seq("Dinner" -> 4))
    DeltaFixtureWriter.write(df, path, "overwrite", Seq("day"))
    // a schema-evolving append: commit 1 carries the newer metaData
    DeltaFixtureWriter.write(df.withColumn("extra", lit(1L)), path, "append", Seq("day"))
    val before = DeltaLog.snapshot(spark, path)
    val meta = before.latest("metaData")
    assert(meta.map(_.getAs[String]("schemaString")).exists(_.contains("extra")))
    assert(graft.operators.Maintenance.checkpoint(spark, path) === 1L)
    def state() = {
      val s = DeltaLog.snapshot(spark, path)
      (s.version, s.latest("metaData"), s.latest("protocol"), s.tableSchema, s.partitionColumns)
    }
    val want = (1L, meta, before.latest("protocol"), before.tableSchema, before.partitionColumns)
    assert(state() === want)
    // once the JSON commits are cleaned, the checkpoint alone gives them
    val log = java.nio.file.Paths.get(path, "_delta_log")
    (0 to 1).foreach(v => java.nio.file.Files.delete(log.resolve(f"$v%020d.json")))
    assert(state() === want)
  }

  test("a foreign-shaped checkpoint reads under the action schema") {
    // the shape of a checkpoint another writer made: an extra top-level
    // action (txn), extra nested fields (add.tags, metaData.format and
    // configuration, remove.extendedFileMetadata), fields in another order,
    // no add.stats and no commitInfo column
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val path = tmpDir("dlog_foreign_ckpt")
    val strMap = MapType(StringType, StringType)
    val schema = StructType(Seq(
      StructField("txn", StructType(Seq(StructField("appId", StringType), StructField("version", LongType)))),
      StructField("add", StructType(Seq(StructField("path", StringType), StructField("partitionValues", strMap),
        StructField("size", LongType), StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType), StructField("tags", strMap)))),
      StructField("remove", StructType(Seq(StructField("path", StringType),
        StructField("deletionTimestamp", LongType), StructField("dataChange", BooleanType),
        StructField("extendedFileMetadata", BooleanType)))),
      StructField("metaData", StructType(Seq(StructField("id", StringType),
        StructField("format", StructType(Seq(StructField("provider", StringType), StructField("options", strMap)))),
        StructField("schemaString", StringType), StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", strMap), StructField("createdTime", LongType)))),
      StructField("protocol", StructType(Seq(StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType))))))
    val partSchema = StructType(Seq(StructField("id", LongType), StructField("p", StringType))).json
    def add(p: String, pv: String, size: Long) =
      Row(null, Row(p, Map("p" -> pv), size, 7L, false, Map("tag" -> "x")), null, null, null)
    val rows = Seq(
      Row(Row("app", 4L), null, null, null, null),
      add("p=1/a.parquet", "1", 100L),
      add("p=2/b.parquet", "2", 200L),
      Row(null, null, Row("p=1/gone.parquet", 3L, false, true), null, null),
      Row(null, null, null, Row("id-1", Row("parquet", Map.empty[String, String]), partSchema,
        Seq("p"), Map("delta.appendOnly" -> "false"), 5L), null),
      Row(null, null, null, null, Row(1, 2)))
    val log = java.nio.file.Paths.get(path, "_delta_log")
    val tmp = log.resolve(".ckpt.tmp")
    spark.createDataFrame(rows.asJava, schema).coalesce(1).write.parquet(tmp.toString)
    val part = java.nio.file.Files.list(tmp).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    java.nio.file.Files.move(part, log.resolve("00000000000000000003.checkpoint.parquet"))
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    java.nio.file.Files.write(log.resolve("_last_checkpoint"), """{"version":3,"size":6}""".getBytes("UTF-8"))

    val snap = DeltaLog.snapshot(spark, path)
    assert(snap.version === 3L)
    assert(snap.partitionColumns === Seq("p"))
    assert(snap.tableSchema.map(_.fieldNames.toSeq) === Some(Seq("id", "p")))
    assert(snap.activeFiles.select("path", "size", "modificationTime", "stats")
      .as[(String, Long, Long, String)].collect().toSet ===
      Set(("p=1/a.parquet", 100L, 7L, null), ("p=2/b.parquet", 200L, 7L, null)))
    assert(snap.manifest.map(r => r.getString(0) -> r.getMap[String, String](2).toMap).toMap ===
      Map("p=1/a.parquet" -> Map("p" -> "1"), "p=2/b.parquet" -> Map("p" -> "2")))
    assert(snap.history.count() === 0L)
    assert(snap.latest("protocol").map(r => (r.getInt(0), r.getInt(1))) === Some((1, 2)))
  }

  test("a null partition value is logged as JSON null and reads as null") {
    val path = tmpDir("dlog_nullpart")
    val df = Seq((1L, null: String, "x"), (2L, "a", "x"), (3L, null: String, "x"))
      .toDF("id", "p", "q")
    DeltaFixtureWriter.write(df, path, "overwrite", Seq("p", "q"))
    val commit = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, "_delta_log", "00000000000000000000.json")), "UTF-8")
    assert(commit.contains(""""partitionValues":{"p":null,"q":"x"}"""), commit)
    assert(!commit.contains(""""p":"__HIVE_DEFAULT_PARTITION__""""), commit)
    val snap = DeltaLog.snapshot(spark, path)
    assert(snap.data.where("p is null").count() === 2L)
    assert(snap.partitionCounts === Map(Seq(null, "x") -> 2L, Seq("a", "x") -> 1L))
    val sk = graft.operators.HealthAnalyzer.analyzeTable(spark, path).skewMetrics.get
    assert(sk.recordsPerPartition.keySet === Set("x", "a/x"))
  }

  test("snapshot and snapshotAt on a path without _delta_log both say it is not a Delta table") {
    val path = tmpDir("dlog_plain")
    Seq(1L, 2L).toDF("id").write.mode("overwrite").parquet(path)
    Seq[(String, () => Any)](
      "snapshot" -> (() => DeltaLog.snapshot(spark, path)),
      "snapshotAt" -> (() => DeltaLog.snapshotAt(spark, path, 0L))).foreach { case (name, open) =>
      val e = intercept[IllegalArgumentException](open())
      assert(e.getMessage.contains(s"$path is not a Delta table: no $path/_delta_log directory"),
        s"$name: ${e.getMessage}")
    }
  }

  /** The messages log4j receives while `body` runs. */
  private def logged[T](body: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("captured", null, null, true, Array.empty) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(appender)
    try (body, seen.asScala.toSeq)
    finally { root.removeAppender(appender); appender.stop() }
  }

  test("only the %020d.json commits are read: .crc, writer temp files, _commits/ and stray JSON are not") {
    val path = tmpDir("dlog_strays")
    val df = TestFixtures.tips(spark, Seq("Mon" -> 4, "Tue" -> 4), Seq("Dinner" -> 8))
    DeltaFixtureWriter.write(df, path, "overwrite", Seq("day"))
    DeltaFixtureWriter.write(df.limit(3), path, "append", Seq("day"))
    DeltaFixtureWriter.delete(spark, path, "day = 'Tue'")
    def state() = {
      val snap = DeltaLog.snapshot(spark, path)
      (snap.version, snap.manifest.toSeq.sortBy(_.getString(0)), snap.historyRows.toSeq)
    }
    val want = state()
    val log = java.nio.file.Paths.get(path, "_delta_log")
    def put(name: String, lines: String*): Unit = java.nio.file.Files.write(log.resolve(name),
      lines.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // each stray file carries an add and a commitInfo, so reading any of
    // them changes the state
    val add = """{"add":{"path":"day=Mon/stray.parquet","partitionValues":{"day":"Mon"},"size":1,"modificationTime":1,"dataChange":true}}"""
    put("00000000000000000001.crc", """{"tableSizeBytes":1,"numFiles":1,"numMetadata":1,"numProtocol":1}""",
      add, commitInfo("CHECKSUM"))
    put(".00000000000000000003.json.0f5e2c1a-7d7b-4c43-9a52-3f0c1d2e4b6a.tmp", add, commitInfo("WRITE"))
    java.nio.file.Files.createDirectories(log.resolve("_commits"))
    put("_commits/00000000000000000003.5b1c3a9e-2f4d-4e6a-8c7b-9d0e1f2a3b4c.json", add, commitInfo("WRITE"))
    put("notes.json", add, commitInfo("NOTE"))

    val ((got, rows), events) = logged(rowsReadOf(state()))
    assert(got === want)
    assert(rows === 0L, "the log is read on the driver, by no Spark task")
    assert(!events.exists(_.contains("All paths were ignored")), events.mkString("\n"))
  }

  test("opening a checkpointed, multi-part log runs 0 jobs") {
    val path = tmpDir("dlog_multipart_jobs")
    val df = TestFixtures.tips(spark, Seq("Mon" -> 8, "Tue" -> 8), Seq("Dinner" -> 16))
    DeltaFixtureWriter.write(df, path, "overwrite", Seq("day"))
    DeltaFixtureWriter.write(df.limit(4), path, "append", Seq("day"))
    val v = graft.operators.Maintenance.checkpoint(spark, path)
    DeltaFixtureWriter.write(df.limit(2), path, "append", Seq("day"))
    def state() = {
      val s = DeltaLog.snapshot(spark, path)
      (s.version, s.manifest.toSeq, s.historyRows.toSeq, s.tableSchema, s.partitionColumns)
    }
    val want = state()
    // two parts, each a copy of the single-file checkpoint, and the
    // commits it covers cleaned
    val log = java.nio.file.Paths.get(path, "_delta_log")
    val single = log.resolve(f"$v%020d.checkpoint.parquet")
    (1 to 2).foreach(i => java.nio.file.Files.copy(single,
      log.resolve(f"$v%020d.checkpoint.$i%010d.0000000002.parquet")))
    java.nio.file.Files.delete(single)
    java.nio.file.Files.deleteIfExists(log.resolve("._last_checkpoint.crc"))
    java.nio.file.Files.write(log.resolve("_last_checkpoint"), s"""{"version":$v,"parts":2}""".getBytes("UTF-8"))
    (0L to v).foreach(i => java.nio.file.Files.delete(log.resolve(f"$i%020d.json")))
    val (got, jobs) = jobsOf(state())
    assert(jobs.isEmpty, jobs.mkString("\n"))
    assert(got === want.copy(_3 = want._3.filter(_.getLong(0) > v)))
  }

  /** A 5-commit partitioned table (versions 0-4): an overwrite, three
    * appends and a delete; its log directory. */
  private def fiveCommits(prefix: String): (String, java.nio.file.Path) = {
    val path = tmpDir(prefix)
    val df = TestFixtures.tips(spark, Seq("Mon" -> 10, "Tue" -> 10), Seq("Dinner" -> 10, "Lunch" -> 10))
    DeltaFixtureWriter.write(df, path, "overwrite", Seq("day"))
    (1 to 3).foreach(i => DeltaFixtureWriter.write(df.limit(i * 2), path, "append", Seq("day")))
    DeltaFixtureWriter.delete(spark, path, "total_bill > 45")
    (path, java.nio.file.Paths.get(path, "_delta_log"))
  }

  private def dropCommits(log: java.nio.file.Path, versions: Seq[Long]): Unit =
    versions.foreach(v => java.nio.file.Files.delete(log.resolve(f"$v%020d.json")))

  private def messageOf(body: => Any): String =
    intercept[RuntimeException](body).getMessage

  test("damaged log: a deleted commit fails the open, naming its version") {
    val (path, log) = fiveCommits("dlog_gap")
    dropCommits(log, Seq(2L))
    val m = messageOf(DeltaLog.snapshot(spark, path))
    assert(m.contains("commit 2 ") && m.contains("00000000000000000002.json"), m)
    assert(messageOf(graft.operators.HealthAnalyzer.analyzeTable(spark, path)).contains("commit 2 "))
    // a version below the gap still replays from commit 0
    assert(DeltaLog.snapshotAt(spark, path, 1L).version === 1L)
  }

  test("damaged log: the first commits deleted without a checkpoint fail the open, naming commit 0") {
    val (path, log) = fiveCommits("dlog_head")
    dropCommits(log, Seq(0L, 1L))
    val m = messageOf(DeltaLog.snapshot(spark, path))
    assert(m.contains("commit 0 ") && m.contains("no checkpoint precedes it"), m)
  }

  /** [[fiveCommits]] checkpointed at version 4, its commits 0-4 cleaned. */
  private def cleanedAtCheckpoint(prefix: String): (String, java.nio.file.Path) = {
    val (path, log) = fiveCommits(prefix)
    assert(graft.operators.Maintenance.checkpoint(spark, path) === 4L)
    dropCommits(log, 0L to 4L)
    (path, log)
  }

  test("damaged log: snapshotAt below the checkpoint of a cleaned log says the version has expired") {
    val (path, _) = cleanedAtCheckpoint("dlog_expired")
    val m = messageOf(DeltaLog.snapshotAt(spark, path, 1L))
    assert(m.contains("version 1 has expired") && m.contains("oldest state is version 4"), m)
  }

  test("damaged log: restore to an expired version commits nothing and leaves the log unchanged") {
    val (path, log) = cleanedAtCheckpoint("dlog_restore")
    def files() = log.toFile.listFiles().map(f => f.getName -> f.length()).toMap
    val before = files()
    val m = messageOf(graft.operators.Maintenance.restore(spark, path, 1L))
    assert(m.contains("version 1 has expired"), m)
    assert(files() === before)
    assert(DeltaLog.snapshot(spark, path).version === 4L)
  }

  private def replayed(s: graft.deltalog.DeltaSnapshot) =
    (s.version, s.manifest.toSeq, s.data.collect().map(_.toString).sorted.toSeq)

  test("a torn or missing _last_checkpoint opens from the newest listed checkpoint") {
    val (path, log) = cleanedAtCheckpoint("dlog_torn")
    DeltaFixtureWriter.write(TestFixtures.tips(spark, Seq("Wed" -> 2), Seq("Lunch" -> 2)),
      path, "append", Seq("day"))
    val intact = replayed(DeltaLog.snapshot(spark, path))
    assert(intact._1 === 5L)
    java.nio.file.Files.deleteIfExists(log.resolve("._last_checkpoint.crc"))
    // stray part files that name no complete checkpoint: zero parts, and one
    // part of 9999999999
    Seq("0000000001.0000000000", "0000000001.9999999999").foreach(parts =>
      java.nio.file.Files.write(log.resolve(s"00000000000000000005.checkpoint.$parts.parquet"), Array.emptyByteArray))
    Seq("", """{"version":4,"si""", "not json", """{"version":5,"parts":0}""").foreach { torn =>
      java.nio.file.Files.write(log.resolve("_last_checkpoint"), torn.getBytes("UTF-8"))
      assert(replayed(DeltaLog.snapshot(spark, path)) === intact, torn)
    }
    java.nio.file.Files.delete(log.resolve("_last_checkpoint"))
    assert(replayed(DeltaLog.snapshot(spark, path)) === intact)
  }

  test("snapshotAt between two checkpoints replays from the older one once its commits are cleaned") {
    val (path, log) = fiveCommits("dlog_two_ckpts")
    val df = TestFixtures.tips(spark, Seq("Wed" -> 2), Seq("Lunch" -> 2))
    assert(graft.operators.Maintenance.checkpoint(spark, path) === 4L)
    DeltaFixtureWriter.write(df, path, "append", Seq("day"))
    val at5 = replayed(DeltaLog.snapshotAt(spark, path, 5L))
    DeltaFixtureWriter.write(df, path, "append", Seq("day"))
    assert(graft.operators.Maintenance.checkpoint(spark, path) === 6L)
    DeltaFixtureWriter.write(df, path, "append", Seq("day"))
    val at7 = replayed(DeltaLog.snapshot(spark, path))
    dropCommits(log, 0L to 4L)
    // _last_checkpoint names version 6, above the target: the checkpoint at 4 is read
    assert(replayed(DeltaLog.snapshotAt(spark, path, 5L)) === at5)
    assert(replayed(DeltaLog.snapshot(spark, path)) === at7)
  }

  test("snapshotAt above the latest version fails, naming it and the latest version") {
    val (path, _) = fiveCommits("dlog_future")
    val m = messageOf(DeltaLog.snapshotAt(spark, path, 7L))
    assert(m.contains("version 7 does not exist") && m.contains("latest version is 4"), m)
  }

  test("a cleaned, checkpointed log opens, and time travel at or above the checkpoint works") {
    val (path, log) = fiveCommits("dlog_cleaned")
    def state(s: graft.deltalog.DeltaSnapshot) = (s.version, s.manifest.toSeq, s.data.count())
    val at4 = state(DeltaLog.snapshot(spark, path))
    assert(graft.operators.Maintenance.checkpoint(spark, path) === 4L)
    DeltaFixtureWriter.write(TestFixtures.tips(spark, Seq("Wed" -> 2), Seq("Lunch" -> 2)),
      path, "append", Seq("day"))
    val at5 = state(DeltaLog.snapshot(spark, path))
    dropCommits(log, 0L to 4L)
    assert(state(DeltaLog.snapshot(spark, path)) === at5)
    assert(state(DeltaLog.snapshotAt(spark, path, 5L)) === at5)
    assert(state(DeltaLog.snapshotAt(spark, path, 4L)) === at4)
    assert(DeltaLog.snapshotAt(spark, path, 4L).historyRows.isEmpty)
  }
}
