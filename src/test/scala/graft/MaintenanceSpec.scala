package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

import graft.deltalog.{DeltaFixtureWriter, DeltaLog}
import graft.health.Thresholds
import graft.operators.{HealthAnalyzer, Maintenance}

/** Checkpoint, time travel, and the executable maintenance ops. */
class MaintenanceSpec extends SparkSuite {
  import spark.implicits._

  test("time travel: snapshotAt reconstructs earlier versions") {
    val path = tmpDir("tt")
    val df = TestFixtures.tips(spark, Seq("Mon" -> 20, "Tue" -> 20),
      Seq("Dinner" -> 20, "Lunch" -> 20))
    DeltaFixtureWriter.write(df, path, "overwrite", Seq("day"))
    DeltaFixtureWriter.write(df.limit(10), path, "append", Seq("day"))
    DeltaFixtureWriter.delete(spark, path, "total_bill > 40")
    val v0 = DeltaLog.snapshotAt(spark, path, 0)
    val v1 = DeltaLog.snapshotAt(spark, path, 1)
    val v2 = DeltaLog.snapshot(spark, path)
    assert(v0.data.count() === 40)
    assert(v1.data.count() === 50)
    assert(v2.data.count() < 50, "delete shrank latest version")
    Seq(v0, v1, v2).foreach(_.unpersist())
  }

  test("restore: file-set rollback, round trip, and history") {
    val path = tmpDir("restore")
    val df = TestFixtures.tips(spark, Seq("Mon" -> 20, "Tue" -> 20),
      Seq("Dinner" -> 20, "Lunch" -> 20))
    DeltaFixtureWriter.write(df, path, "overwrite", Seq("day"))       // v0: 40
    DeltaFixtureWriter.write(df.limit(10), path, "append", Seq("day")) // v1: 50
    DeltaFixtureWriter.delete(spark, path, "total_bill > 40")          // v2: < 50

    def rows(): Set[String] = DeltaLog.snapshot(spark, path).data
      .selectExpr("concat_ws('|', day, time, cast(total_bill as string))")
      .collect().map(_.getString(0)).toSet
    val v1Rows = {
      val s = DeltaLog.snapshotAt(spark, path, 1)
      val r = s.data
        .selectExpr("concat_ws('|', day, time, cast(total_bill as string))")
        .collect().map(_.getString(0)).toSet
      s.unpersist(); r
    }
    assert(rows() !== v1Rows, "delete must have changed the data")

    Maintenance.restore(spark, path, 1L)                               // v3
    assert(rows() === v1Rows, "restore must reproduce version 1 exactly")
    val snap = DeltaLog.snapshot(spark, path)
    assert(snap.version === 3L)
    assert(snap.history.where(col("operation") === "RESTORE").count() === 1L)
    snap.unpersist()

    // round trip further back, then forward again
    Maintenance.restore(spark, path, 0L)                               // v4
    assert(rows().size === 40)
    Maintenance.restore(spark, path, 2L)                               // v5
    val v2 = DeltaLog.snapshotAt(spark, path, 2)
    val v2Rows = v2.data
      .selectExpr("concat_ws('|', day, time, cast(total_bill as string))")
      .collect().map(_.getString(0)).toSet
    v2.unpersist()
    assert(rows() === v2Rows, "restore forward to v2 must match v2")
    // restore to current version = recorded no-op
    Maintenance.restore(spark, path, 5L)
    val s2 = DeltaLog.snapshot(spark, path)
    assert(s2.version === 6L)
    assert(rows() === v2Rows)
    s2.unpersist()
    // appends continue to work on a restored table
    DeltaFixtureWriter.write(df.limit(3), path, "append", Seq("day"))
    assert(rows().size >= v2Rows.size)
  }

  test("restore refuses when target files were vacuumed away") {
    val path = tmpDir("restore_vac")
    val df = TestFixtures.tips(spark, Seq("Mon" -> 10), Seq("Dinner" -> 10))
    DeltaFixtureWriter.write(df, path, "overwrite", Seq.empty)         // v0
    // v1 rewrites everything (delete-all predicate removes v0's files)
    DeltaFixtureWriter.delete(spark, path, "total_bill >= 0")          // v1
    Maintenance.vacuum(spark, path, retainMs = 0L)                     // v2
    val ex = intercept[IllegalArgumentException] {
      Maintenance.restore(spark, path, 0L)
    }
    assert(ex.getMessage.contains("no longer on disk"))
    // and the failed restore wrote NO commit
    val s = DeltaLog.snapshot(spark, path)
    assert(s.version === 2L)
    s.unpersist()
  }

  test("checkpoint: replay survives deleting pre-checkpoint JSON commits") {
    val path = tmpDir("ckpt")
    val df = TestFixtures.tips(spark, Seq("Mon" -> 30, "Tue" -> 30),
      Seq("Dinner" -> 30, "Lunch" -> 30))
    DeltaFixtureWriter.write(df, path, "overwrite", Seq("day"))
    DeltaFixtureWriter.write(df.limit(10), path, "append", Seq("day"))
    val before = DeltaLog.snapshot(spark, path)
    val expected = before.data.count()
    before.unpersist()

    val v = Maintenance.checkpoint(spark, path)
    assert(v === 1L)
    // a later commit on top of the checkpoint
    DeltaFixtureWriter.write(df.limit(5), path, "append", Seq("day"))
    // expire the pre-checkpoint JSON commits
    (0L to v).foreach { i =>
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(path, "_delta_log", f"$i%020d.json"))
    }
    val snap = DeltaLog.snapshot(spark, path)
    assert(snap.data.count() === expected + 5)
    assert(snap.partitionColumns === Seq("day"), "metaData restored from checkpoint")
    assert(snap.version === 2L)
    // classic checkpoint layout: ONE plain file (not a Spark part-file
    // directory), carrying the protocol action so external readers — and
    // replay after JSON cleanup — retain it
    val ckptFile = new java.io.File(path, f"_delta_log/$v%020d.checkpoint.parquet")
    assert(ckptFile.isFile, "checkpoint must be a single file")
    val proto = snap.latest("protocol")
    assert(proto.nonEmpty, "protocol action survives JSON cleanup")
    assert(proto.get.getInt(0) === 1 && proto.get.getInt(1) === 2)
    snap.unpersist()
  }

  test("checkpoint starts no Spark job") {
    val path = tmpDir("ckptjobs")
    TestFixtures.buildOrphanTable(spark, path)
    val (v, jobs) = jobsOf(Maintenance.checkpoint(spark, path))
    assert(jobs.isEmpty, jobs.mkString("\n"))
    assert(DeltaLog.lastCheckpointVersion(spark, path) === Some(v))
  }

  test("the checkpoint file equals a Spark write.parquet of the same rows") {
    // a partitioned, schema-evolved log with a delete, and a log with no
    // metaData or protocol whose adds carry no stats
    val evolved = tmpDir("ckptref_evolved")
    DeltaFixtureWriter.write(TestFixtures.tips(spark, Seq("Mon" -> 10, "Tue" -> 10),
      Seq("Dinner" -> 10, "Lunch" -> 10)), evolved, "overwrite", Seq("day"))
    DeltaFixtureWriter.write(TestFixtures.tips(spark, Seq("Wed" -> 4), Seq("Lunch" -> 4))
      .withColumn("source", lit("v2")), evolved, "append", Seq("day"))
    DeltaFixtureWriter.delete(spark, evolved, "total_bill > 45")
    val bare = tmpDir("ckptref_bare")
    val log = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(bare, "_delta_log"))
    java.nio.file.Files.write(log.resolve(f"${0}%020d.json"), Seq("a", "b").map(n =>
      s"""{"add":{"path":"part-$n.parquet","partitionValues":{},"size":400,"modificationTime":1,"dataChange":true}}""")
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    val schema = org.apache.spark.sql.types.StructType(
      Seq("add", "metaData", "protocol").map(DeltaLog.actionSchema(_)))
    def footer(file: String) = {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(file), spark.sparkContext.hadoopConfiguration))
      try reader.getFooter.getFileMetaData finally reader.close()
    }
    Seq(evolved, bare).foreach { path =>
      // the reference: the same rows through a DataFrame write of one part
      val snap = DeltaLog.snapshot(spark, path)
      val adds = snap.activeFiles.select(
        struct($"path", $"size", $"partitionValues", $"modificationTime",
          lit(true).as("dataChange"), $"stats").as("add"),
        lit(null).cast(schema("metaData").dataType).as("metaData"),
        lit(null).cast(schema("protocol").dataType).as("protocol"))
      val tail = spark.createDataFrame((snap.latest("metaData").map(m => Row(null, m, null)).toSeq :+
        Row(null, null, snap.latest("protocol").getOrElse(Row(1, 2, null, null)))).asJava, schema)
      val refDir = tmpDir("ckptref_out") + "/ref"
      adds.unionByName(tail).coalesce(1).write.parquet(refDir)
      val ref = new java.io.File(refDir).listFiles().map(_.getPath)
        .find(p => p.endsWith(".parquet") && new java.io.File(p).getName.startsWith("part-")).get
      val v = Maintenance.checkpoint(spark, path)
      val ckpt = f"$path/_delta_log/$v%020d.checkpoint.parquet"
      val (got, want) = (footer(ckpt), footer(ref))
      assert(got.getSchema === want.getSchema, path)
      assert(got.getKeyValueMetaData.asScala === want.getKeyValueMetaData.asScala, path)
      assert(got.getKeyValueMetaData.containsKey("org.apache.spark.sql.parquet.row.metadata"), path)
      assert(spark.read.parquet(ckpt).collect().toSeq === spark.read.parquet(ref).collect().toSeq, path)
    }
  }

  test("checkpointing twice at one version leaves one checkpoint file, its .crc and no temp file") {
    val path = tmpDir("ckpttwice")
    DeltaFixtureWriter.write(TestFixtures.tips(spark, Seq("Mon" -> 10), Seq("Dinner" -> 10)),
      path, "overwrite", Seq("day"))
    val log = new java.io.File(path, "_delta_log")
    def listed() = log.listFiles().map(f => f.getName -> f.isFile).toMap
    assert(Maintenance.checkpoint(spark, path) === 0L)
    val once = listed()
    assert(Maintenance.checkpoint(spark, path) === 0L)
    assert(listed() === once)
    assert(once.values.forall(identity), once)
    assert(once.keySet.filter(_.contains("checkpoint")) === Set(
      "00000000000000000000.checkpoint.parquet", ".00000000000000000000.checkpoint.parquet.crc",
      "_last_checkpoint", "._last_checkpoint.crc"))
    assert(!once.keys.exists(_.endsWith(".tmp")), once)
    assert(DeltaLog.snapshot(spark, path).data.count() === 10L)
  }

  test("restore: round-trip returns data+schema to the target version, history renders it") {
    val path = tmpDir("restore")
    val df = TestFixtures.tips(spark, Seq("Mon" -> 20, "Tue" -> 20),
      Seq("Dinner" -> 20, "Lunch" -> 20))
    DeltaFixtureWriter.write(df, path, "overwrite", Seq("day"))        // v0: 40 rows
    DeltaFixtureWriter.write(df.limit(10), path, "append", Seq("day")) // v1: 50 rows
    // schema evolution after the target version, then a delete
    DeltaFixtureWriter.write(df.limit(5).withColumn("extra", lit(1)),
      path, "append", Seq("day"))                                      // v2: 55 rows, +extra
    DeltaFixtureWriter.delete(spark, path, "total_bill > 40")          // v3
    val target = DeltaLog.snapshotAt(spark, path, 1)
    val want = target.data.orderBy("day", "time", "total_bill")
      .collect().map(_.toSeq)
    target.unpersist()

    Maintenance.restore(spark, path, 1)
    val got = DeltaLog.snapshot(spark, path)
    assert(got.version === 4L, "RESTORE is a new commit, not a rewind")
    assert(got.data.count() === 50L)
    assert(!got.data.columns.contains("extra"),
      "restored table reads with the target version's schema")
    assert(got.data.orderBy("day", "time", "total_bill")
      .collect().map(_.toSeq).toSeq === want.toSeq)

    // history + A17 file deltas render the op
    val hist = got.history
    val restoreRow = hist.where(col("operation") === "RESTORE")
      .select("version").as[Long].collect()
    assert(restoreRow.toSeq === Seq(4L))
    val deltas = graft.operators.HistoryAnalyzer.perVersionFileDeltas(hist)
      .where(col("version") === 4L).collect()
    assert(deltas.length === 1)
    got.unpersist()

    // restoring to a state whose files were vacuumed must fail fast
    Maintenance.vacuum(spark, path, retainMs = -1000)
    val e = intercept[IllegalArgumentException] {
      Maintenance.restore(spark, path, 3)
    }
    assert(e.getMessage.contains("vacuumed"))
  }

  test("vacuum deletes aged orphans, logs VACUUM, and health recovers") {
    val path = tmpDir("vac")
    TestFixtures.buildOrphanTable(spark, path)
    val sick = HealthAnalyzer.analyzeTable(spark, path,
      Thresholds(orphanFileRatioThreshold = 0.8))
    assert(sick.hasOrphanFiles && sick.needsVacuum)

    val dry = Maintenance.vacuum(spark, path, retainMs = 0L, dryRun = true)
    val nOrphans = dry.count()
    assert(nOrphans > 0)
    assert(graft.operators.StorageAnalyzer.folderFiles(spark, path).count()
      > sick.dataFileCount, "dry run deletes nothing")

    val deleted = Maintenance.vacuum(spark, path, retainMs = 0L)
    assert(deleted.count() === nOrphans)
    val healed = HealthAnalyzer.analyzeTable(spark, path,
      Thresholds(orphanFileRatioThreshold = 0.8))
    assert(!healed.hasOrphanFiles)
    assert(!healed.needsVacuum)
    assert(healed.orphanFilesCount === 0)
    assert(healed.recordCount === sick.recordCount, "data untouched")
    assert(healed.healthScore.get > sick.healthScore.get)
    val vacuumOps = DeltaLog.snapshot(spark, path).history
      .where(col("operation") === "VACUUM").count()
    assert(vacuumOps === 1L)
  }

  test("vacuum starts no Spark job") {
    val path = tmpDir("vacjobs")
    TestFixtures.buildOrphanTable(spark, path)
    val orphans = DeltaLog.dataFiles(spark, path).size - DeltaLog.snapshot(spark, path).manifest.length
    assert(orphans > 0)
    val (deleted, jobs) = jobsOf(Maintenance.vacuum(spark, path, retainMs = 0L))
    assert(jobs.isEmpty, jobs.mkString("\n"))
    assert(deleted.count() === orphans)
  }

  test("vacuum is a no-op on a healthy table addressed by file: URI") {
    // regression: manifest paths (tablePath + rel) vs folder-listing paths
    // (always fully qualified) must normalize identically — before the
    // qualification fix, a schemed or relative tablePath made EVERY active
    // file miss the anti-join and vacuum deleted live data
    val path = tmpDir("vacuri")
    val df = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "day")
    DeltaFixtureWriter.write(df, path, "overwrite", Seq("day"))
    val before = DeltaLog.snapshot(spark, path)
    val nActive = before.activeFiles.count()
    before.unpersist()
    val deleted = Maintenance.vacuum(spark, s"file:$path", retainMs = 0L)
    assert(deleted.count() === 0L, "no orphans → nothing to delete")
    val after = DeltaLog.snapshot(spark, path)
    assert(after.data.count() === 3L, "active data files must survive vacuum")
    assert(after.activeFiles.count() === nActive)
    after.unpersist()
  }

  test("vacuum on escaped partition directories deletes exactly the dead files") {
    val path = tmpDir("vacesc")
    val df = Seq("Mon Tue", "a:b", "50%", "Mon").flatMap(d => (1L to 3L).map(i => (i, d)))
      .toDF("id", "day")
    DeltaFixtureWriter.write(df, path, "overwrite", Seq("day"))
    DeltaFixtureWriter.write(df, path, "append", Seq("day"))
    DeltaFixtureWriter.delete(spark, path, "id = 1")
    val before = HealthAnalyzer.analyzeTable(spark, path)
    assert(before.recordCount === 16L)
    val snap = DeltaLog.snapshot(spark, path)
    val live = try snap.activeFiles.select("path").as[String].collect().toSet
    finally snap.unpersist()
    val onDisk = DeltaLog.dataFiles(spark, path).keySet
    val dead = onDisk -- live
    assert(dead.size === before.orphanFilesCount && dead.nonEmpty)
    assert(dead.exists(_.contains("%")), "the escaped directories hold dead files")

    val deleted = Maintenance.vacuum(spark, path, retainMs = 0L)
      .select("path").as[String].collect().toSet
    assert(deleted === dead.map(rel => new java.io.File(path, rel).getPath))
    assert(DeltaLog.dataFiles(spark, path).keySet === live)
    val after = HealthAnalyzer.analyzeTable(spark, path)
    assert(after.orphanFilesCount === 0L)
    assert(after.recordCount === before.recordCount)
  }

  test("write, append and overwrite through a file: URI commit versions 0, 1, 2; drop removes it") {
    val dir = tmpDir("fileuri")
    val uri = s"file:$dir"
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "day")
    DeltaFixtureWriter.write(df, uri, "overwrite", Seq("day"))
    DeltaFixtureWriter.write(df.limit(1), uri, "append", Seq("day"))
    def state() = {
      val snap = DeltaLog.snapshot(spark, uri)
      try (snap.version, snap.data.select("id").as[Long].collect().sorted.toSeq)
      finally snap.unpersist()
    }
    assert(state() === (1L, Seq(1L, 1L, 2L)))
    DeltaFixtureWriter.write(Seq((3L, "c")).toDF("id", "day"), uri, "overwrite", Seq("day"))
    assert(state() === (2L, Seq(3L)))
    val m = HealthAnalyzer.analyzeTable(spark, uri)
    assert(m.numberOfWrites === 3L && m.orphanFilesCount > 0)
    DeltaFixtureWriter.drop(uri)
    assert(!new java.io.File(dir).exists())
  }

  test("a write without partitionBy uses the table's partitioning; a different one fails and writes nothing") {
    val path = tmpDir("partlayout")
    DeltaFixtureWriter.write(Seq((1L, "Mon"), (2L, "Tue")).toDF("id", "day"), path,
      "overwrite", Seq("day"))
    DeltaFixtureWriter.write(Seq((4L, "Tue")).toDF("id", "day"), path, "append")
    val snap = DeltaLog.snapshot(spark, path)
    assert(snap.data.select("id", "day").as[(Long, String)].collect().sorted.toSeq ===
      Seq((1L, "Mon"), (2L, "Tue"), (4L, "Tue")))
    assert(snap.partitionCounts === Map(Seq("Mon") -> 1L, Seq("Tue") -> 2L))
    def onDisk() = DeltaLog.dataFiles(spark, path).map(_._1).toSet
    val files = onDisk()
    val e = intercept[IllegalArgumentException] {
      DeltaFixtureWriter.write(Seq((5L, "Wed")).toDF("id", "day"), path, "append", Seq("id"))
    }
    assert(e.getMessage.contains("[day]") && e.getMessage.contains("[id]"), e.getMessage)
    assert(onDisk() === files, "the refused write left data files behind")
    assert(DeltaLog.snapshot(spark, path).version === 1L, "the refused write committed")
  }

  test("DELETE keeps rows whose predicate evaluates to NULL") {
    val path = tmpDir("delnull")
    val df = Seq(
      (1L, Some(50.0), "Mon"), (2L, None, "Mon"), (3L, Some(10.0), "Mon"))
      .toDF("id", "v", "day")
    DeltaFixtureWriter.write(df, path, "overwrite", Seq("day"))
    DeltaFixtureWriter.delete(spark, path, "v > 45")
    val snap = DeltaLog.snapshot(spark, path)
    val ids = snap.data.select("id").as[Long].collect().sorted.toSeq
    assert(ids === Seq(2L, 3L), "NULL-predicate row must survive the delete")
    snap.unpersist()
  }

  test("checkpoint preserves history metrics while JSON commits remain") {
    val path = tmpDir("ckpthist")
    val df = TestFixtures.tips(spark, Seq("Mon" -> 20), Seq("Dinner" -> 20))
    DeltaFixtureWriter.write(df, path, "overwrite", Seq("day"))
    DeltaFixtureWriter.write(df.limit(5), path, "append", Seq("day"))
    DeltaFixtureWriter.write(df.limit(5), path, "append", Seq("day"))
    Maintenance.checkpoint(spark, path)
    val snap = DeltaLog.snapshot(spark, path)
    val ops = graft.operators.HistoryAnalyzer.opCounts(snap.history).first()
    assert(ops.getAs[Long]("number_of_writes") === 3L,
      "pre-checkpoint WRITE commits still count while their JSONs exist")
    // pre-checkpoint time travel still works too
    assert(DeltaLog.snapshotAt(spark, path, 0).data.count() === 20)
    snap.unpersist()
  }

  test("fully-deleted table analyzes without crashing") {
    val path = tmpDir("empty")
    val df = TestFixtures.tips(spark, Seq("Mon" -> 10), Seq("Dinner" -> 10))
    DeltaFixtureWriter.write(df, path, "overwrite", Seq("day", "time"))
    DeltaFixtureWriter.delete(spark, path, "total_bill > 0")
    val m = HealthAnalyzer.analyzeTable(spark, path)
    assert(m.recordCount === 0L)
    assert(m.dataFileCount === 0L)
    assert(m.skewnessMax === 0.0)
    assert(m.healthScore.isDefined)
    // compact on the empty table is a logged no-op
    Maintenance.optimize(spark, path)
    val snap = DeltaLog.snapshot(spark, path)
    assert(snap.history.where(col("operation") === "OPTIMIZE").count() === 1L)
    snap.unpersist()
  }

  test("merge upserts by key, inserts unmatched, logs MERGE commit") {
    val path = tmpDir("merge")
    val df = Seq(
      (1L, 10.0, "Mon"), (2L, 20.0, "Mon"), (3L, 30.0, "Tue"))
      .toDF("id", "v", "day")
    DeltaFixtureWriter.write(df, path, "overwrite", Seq("day"))
    val source = Seq((2L, 99.0, "Mon"), (4L, 40.0, "Wed")).toDF("id", "v", "day")
    DeltaFixtureWriter.merge(spark, path, source, Seq("id"))
    val snap = DeltaLog.snapshot(spark, path)
    val got = snap.data.select("id", "v").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got === Map(1L -> 10.0, 2L -> 99.0, 3L -> 30.0, 4L -> 40.0))
    assert(snap.history.where(col("operation") === "MERGE").count() === 1L)
    snap.unpersist()
    // A5: merge shows up in operation counts
    val snap2 = DeltaLog.snapshot(spark, path)
    val ops = graft.operators.HistoryAnalyzer.opCounts(snap2.history).first()
    assert(ops.getAs[Long]("number_of_merges") === 1L)
    snap2.unpersist()
  }

  test("ivf top-k: probes nearest cells, exact cosine within them") {
    val e = table("embeddings")
    val r = graft.operators.Similarity.ivfTopK(
      e.where(col("vec_id") < 5), e, "vec_id", "embedding",
      k = 3, nlist = 8, nprobe = 3).collect()
    assert(r.nonEmpty)
    assert(r.groupBy(_.getLong(0)).forall(_._2.length <= 3))
    r.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val cosines = rows.sortBy(_.getLong(3)).map(_.getDouble(2)).toSeq
      assert(cosines === cosines.sorted.reverse)
    }
    // IVF with full probing degenerates to (at least) brute-force's top-1
    val full = graft.operators.Similarity.ivfTopK(
      e.where(col("vec_id") < 5), e, "vec_id", "embedding",
      k = 1, nlist = 4, nprobe = 4).collect()
    val brute = graft.operators.Similarity.bruteForceTopK(
      e.where(col("vec_id") < 5), e, "vec_id", "embedding", k = 1).collect()
    val fullTop = full.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bruteTop = brute.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fullTop === bruteTop, "probing every cell must match brute force")
  }

  test("filtered top-k: neighbors share the query's key; single-key corpus " +
      "degenerates to brute force") {
    val e = table("embeddings")
    // every returned neighbor must carry the query's label
    val labelOf = e.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val r = graft.operators.Similarity.filteredTopK(
      e.where(col("vec_id") < 10), e, "vec_id", "embedding", "label", k = 5)
      .collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(labelOf(row.getLong(1)) === labelOf(row.getLong(0)),
        s"neighbor ${row.getLong(1)} crossed the label filter")
    }
    // a constant key filters nothing: must equal brute force exactly
    val one = e.withColumn("label", lit(1))
    val filt = graft.operators.Similarity.filteredTopK(
      one.where(col("vec_id") < 5), one, "vec_id", "embedding", "label", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val brute = graft.operators.Similarity.bruteForceTopK(
      e.where(col("vec_id") < 5), e, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(filt === brute)
    // a key no corpus row shares yields no rows for that query
    val lonely = e.where(col("vec_id") < 3).withColumn("label", lit(-99))
    assert(graft.operators.Similarity.filteredTopK(
      lonely, e, "vec_id", "embedding", "label", k = 3).count() === 0)
  }

  test("ivf top-k is deterministic across shuffle settings and corpus layout") {
    val e = table("embeddings")
    def run(corpus: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      graft.operators.Similarity.ivfTopK(
        e.where(col("vec_id") < 5), corpus, "vec_id", "embedding",
        k = 3, nlist = 8, nprobe = 3)
        .select("query_id", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val base = run(e)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      // different reducer count AND a different corpus partition layout must
      // leave the quantizer sample — and so every probe result — unchanged
      assert(run(e.repartition(13)) === base)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("pq codebook: codes bounded, reconstruction sane, layout-deterministic") {
    val e = table("embeddings")
    val cb = graft.operators.Similarity.pqTrain(e, "vec_id", "embedding",
      m = 8, ksub = 16)
    val enc = e.select(col("vec_id"), cb.encode(col("embedding")).as("codes"))
    val codes = enc.select(explode(col("codes"))).as[Int].collect()
    assert(codes.forall(c => c >= 0 && c < 16), "codes within [0, ksub)")
    // reconstruction keeps the vector's rough direction: cosine(v, decode)
    // must beat cosine against an unrelated vector by a wide margin
    val rec = enc.join(e, "vec_id")
      .select(graft.functions.exprs.cosineSimilarity(
        col("embedding"), cb.decode(col("codes"))).as("c"))
      .agg(min(col("c"))).as[Double].first()
    assert(rec > 0.3, s"reconstruction cosine too weak: $rec")
    // same codes whatever the corpus layout (id-ordered training prefix)
    val cb2 = graft.operators.Similarity.pqTrain(e.repartition(13),
      "vec_id", "embedding", m = 8, ksub = 16)
    assert(cb2 === cb, "codebook must not depend on partition layout")
  }

  test("ivfpq: full probe + full re-rank ≡ brute force; selective finds the plant") {
    val e = table("embeddings")
    val full = graft.operators.Similarity.ivfpqTopK(
      e.where(col("vec_id") < 5), e, "vec_id", "embedding",
      k = 3, nlist = 8, nprobe = 8, rerankDepth = 1 << 20)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val brute = graft.operators.Similarity.bruteForceTopK(
      e.where(col("vec_id") < 5), e, "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(full === brute,
      "unbounded re-rank over every cell must equal exact search")
    // selective probe + modest ADC shortlist still surfaces the planted
    // jitter copy (cosine ≈ 0.999) at rank 1 for every query
    val planted = graft.queries.PipelineQueries.embeddingsWithPlants(
      spark, sf())
    val sel = graft.operators.Similarity.ivfpqTopK(
      planted.where(col("vec_id") < 10), planted, "vec_id", "embedding",
      k = 1, nlist = 16, nprobe = 8, rerankDepth = 16)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    (0L until 10L).foreach { q =>
      assert(sel(q) === q + graft.queries.PipelineQueries.PlantShift,
        s"query $q: plant not at rank 1 (got ${sel(q)})")
    }
  }

  test("ivfpq index: train once, query many — repeat calls equal the one-shot form") {
    import spark.implicits._
    val emb = graft.queries.PipelineQueries.embeddingsWithPlants(spark, sf())
    val idx = graft.operators.Similarity.ivfpqIndex(
      emb, "vec_id", "embedding", nlist = 16, m = 8, ksub = 16)
    try {
      val qs1 = emb.where(col("vec_id") < 5)
      val qs2 = emb.where(col("vec_id") >= 5 && col("vec_id") < 10)
      val oneShot = graft.operators.Similarity.ivfpqTopK(
        qs1, emb, "vec_id", "embedding", k = 3, nlist = 16, nprobe = 8,
        rerankDepth = 16)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).sorted.toSeq
      val viaIndex = idx.topK(qs1, k = 3, nprobe = 8, rerankDepth = 16)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).sorted.toSeq
      assert(viaIndex === oneShot,
        "cached index must return exactly the one-shot results")
      // a second query set against the SAME trained index (no refit): the
      // planted jitter copy still surfaces at rank 1 for every query
      val second = idx.topK(qs2, k = 1, nprobe = 8, rerankDepth = 16)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
      (5L until 10L).foreach { q =>
        assert(second(q) === q + graft.queries.PipelineQueries.PlantShift)
      }
    } finally idx.unpersist()
  }

  test("lsh index: bucket once, query many — repeat calls equal the one-shot form") {
    import spark.implicits._
    val emb = graft.queries.PipelineQueries.embeddingsWithPlants(spark, sf())
    val idx = graft.operators.Similarity.lshIndex(emb, "vec_id", "embedding")
    try {
      val qs1 = emb.where(col("vec_id") < 5)
      val key = (r: org.apache.spark.sql.Row) =>
        (r.getLong(0), r.getLong(1), r.getLong(3))
      val oneShot = graft.operators.Similarity.lshTopK(
        qs1, emb, "vec_id", "embedding", k = 3, probeRadius = 2)
        .collect().map(key).sorted.toSeq
      val viaIndex = idx.topK(qs1, k = 3, probeRadius = 2)
        .collect().map(key).sorted.toSeq
      assert(viaIndex === oneShot,
        "cached index must return exactly the one-shot results")
      // second query set against the SAME bucketed corpus: plants at rank 1
      val second = idx.topK(emb.where(col("vec_id") >= 5 && col("vec_id") < 10),
          k = 1, probeRadius = 2)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
      (5L until 10L).foreach { q =>
        assert(second(q) === q + graft.queries.PipelineQueries.PlantShift)
      }
    } finally idx.unpersist()
  }

  test("bounded top-k aggregation matches the window ranking on ties") {
    import spark.implicits._
    // two queries; query 1 has a cosine tie that must break by id asc
    val scored = Seq(
      (1L, 10L, 0.9), (1L, 11L, 0.8), (1L, 12L, 0.9), (1L, 13L, 0.1),
      (2L, 10L, 0.5), (2L, 11L, 0.7))
      .toDF("query_id", "neighbor_id", "cosine")
    val got = scored.groupBy($"query_id")
      .agg(graft.functions.exprs.boundedTopK($"cosine", $"neighbor_id", 3).as("nn"))
      .select($"query_id", posexplode($"nn").as(Seq("pos", "nn")))
      .select($"query_id", $"nn.id", ($"pos" + 1).as("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(got === Seq((1L, 10L, 1), (1L, 12L, 2), (1L, 11L, 3),
      (2L, 11L, 1), (2L, 10L, 2)).sorted)
  }

  test("bounded top-k takes string ids: UTF8-binary tie-break, no window fallback") {
    import spark.implicits._
    // ties must break by binary string order ("B10" < "b02" in UTF8);
    // repartition(8) forces partial heaps through serialize/merge
    val scored = Seq(
      ("q1", "B10", 0.9), ("q1", "b02", 0.9), ("q1", "a99", 0.8),
      ("q1", "zzz", 0.1), ("q2", "x", 0.5), ("q2", "w", 0.7))
      .toDF("query_id", "neighbor_id", "cosine").repartition(8)
    val got = scored.groupBy($"query_id")
      .agg(graft.functions.exprs.boundedTopK($"cosine", $"neighbor_id", 3).as("nn"))
      .select($"query_id", posexplode($"nn").as(Seq("pos", "nn")))
      .select($"query_id", $"nn.id", ($"pos" + 1).as("rank"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).sorted.toSeq
    assert(got === Seq(("q1", "B10", 1), ("q1", "b02", 2), ("q1", "a99", 3),
      ("q2", "w", 1), ("q2", "x", 2)).sorted)
    // end-to-end: brute-force top-k over STRING ids routes through the
    // same bounded aggregation (the former unbounded-window fallback is gone)
    val emb = graft.queries.PipelineQueries.embeddingsWithPlants(spark, sf())
      .select(concat(lit("v"), col("vec_id")).as("vec_id"), col("embedding"))
    val bf = graft.operators.Similarity.bruteForceTopK(
      emb.where(col("vec_id").isin("v0", "v1")), emb, "vec_id", "embedding", k = 1)
    val winNodes = bf.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(winNodes.isEmpty, "string-id ranking must not use a window")
    val top = bf.select("query_id", "neighbor_id")
      .as[(String, String)].collect().toMap
    assert(top("v0") === s"v${graft.queries.PipelineQueries.PlantShift}")
  }

  test("ivfpq ADC shortlist is a bounded aggregation, not a per-query window sort") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
    val emb = graft.queries.PipelineQueries.embeddingsWithPlants(spark, sf())
    val df = graft.operators.Similarity.ivfpqTopK(
      emb.where(col("vec_id") < 5), emb, "vec_id", "embedding",
      k = 3, nlist = 16, nprobe = 8, rerankDepth = 16)
    val plan = df.queryExecution.optimizedPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    // NO windows anywhere in the ANN plan: ADC shortlist, final rank AND
    // the coarse cell probe all rank through BoundedTopK aggregations
    assert(windows.isEmpty, s"unexpected windows: $windows")
    val topkAggs = plan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
        if a.aggregateExpressions.exists(_.exists {
          case ae: AggregateExpression =>
            ae.aggregateFunction.isInstanceOf[graft.functions.BoundedTopK]
          case _ => false
        }) => a }
    assert(topkAggs.size === 3,
      "cell probe, ADC shortlist and final rank must all be BoundedTopK aggregations")
  }

  test("optimize: compacts only multi-small-file partitions, streams the commit, preserves data") {
    val path = tmpDir("opt_dist")
    val mk = (ids: Seq[Long], day: String) =>
      // one task per write → exactly one file per touched partition dir
      ids.map(i => (i, i * 1.5, day)).toDF("id", "v", "day").coalesce(1)
    // day=Mon gets 3 small files; day=Tue exactly one — must stay untouched
    DeltaFixtureWriter.write(mk(Seq(1L, 2L), "Mon"), path, "overwrite", Seq("day"))
    DeltaFixtureWriter.write(mk(Seq(3L, 4L), "Mon"), path, "append", Seq("day"))
    DeltaFixtureWriter.write(mk(Seq(5L), "Mon"), path, "append", Seq("day"))
    DeltaFixtureWriter.write(mk(Seq(6L, 7L), "Tue"), path, "append", Seq("day"))
    val beforeSnap = DeltaLog.snapshot(spark, path)
    val tueFile = beforeSnap.activeFiles
      .where(element_at(col("partitionValues"), "day") === "Tue")
      .select("path").as[String].collect().toSeq
    assert(tueFile.size === 1)
    beforeSnap.unpersist()

    Maintenance.optimize(spark, path)

    val snap = DeltaLog.snapshot(spark, path)
    assert(snap.data.select("id").as[Long].collect().sorted.toSeq ===
      (1L to 7L), "every row survives compaction")
    val byDay = snap.activeFiles
      .groupBy(element_at(col("partitionValues"), "day").as("day")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byDay === Map("Mon" -> 1L, "Tue" -> 1L),
      "Mon bin-packed to one file, Tue left alone")
    assert(snap.activeFiles.where(col("path").isin(tueFile: _*)).count() === 1L,
      "the single Tue file was NOT rewritten")
    val metrics = snap.history.where(col("operation") === "OPTIMIZE")
      .select("operationMetrics").collect().head.getMap[String, String](0)
    assert(metrics("num_added_files") === "1" && metrics("num_removed_files") === "3")
    snap.unpersist()

    // a tiny target makes one bin, and so one output file, per input file
    DeltaFixtureWriter.write(mk(Seq(8L, 9L), "Wed"), path, "append", Seq("day"))
    DeltaFixtureWriter.write(mk(Seq(10L), "Wed"), path, "append", Seq("day"))
    Maintenance.optimize(spark, path, targetFileBytes = 1L, smallFileBytes = 1L << 20)
    val snap2 = DeltaLog.snapshot(spark, path)
    val wedMetrics = snap2.history.where(col("operation") === "OPTIMIZE")
      .orderBy(col("version").desc).limit(1)
      .select("operationMetrics").collect().head.getMap[String, String](0)
    assert(wedMetrics("num_removed_files") === "2", "both Wed files rewritten")
    assert(wedMetrics("num_added_files") === "2", "one output per input file")
    assert(snap2.data.count() === 10L)
    snap2.unpersist()
  }

  test("commit claim is put-if-absent: a racing writer to one version fails loudly") {
    val path = tmpDir("race")
    DeltaFixtureWriter.write(Seq((1L, "a")).toDF("id", "v"), path,
      "overwrite", Seq())
    val e = intercept[IllegalStateException] {
      DeltaFixtureWriter.logCommit(path, 0L, "VACUUM", Seq())
    }
    assert(e.getMessage.contains("concurrent commit"))
    val e2 = intercept[IllegalStateException] {
      DeltaFixtureWriter.writeCommitStream(path, 0L, "OPTIMIZE", Seq(),
        adds = Iterator.empty, removes = Iterator.empty,
        partitionBy = Seq.empty)
    }
    assert(e2.getMessage.contains("concurrent commit"))
    // the loser never corrupted the winner's commit
    val snap = DeltaLog.snapshot(spark, path)
    assert(snap.data.count() === 1L && snap.version === 0L)
    snap.unpersist()
    // and no temp litter survives in the log dir
    val leftovers = new java.io.File(path, "_delta_log").listFiles()
      .map(_.getName).filter(_.endsWith(".tmp"))
    assert(leftovers.isEmpty, s"temp files leaked: ${leftovers.toSeq}")
  }

  test("commit writer: a file: URI commits into the table's log, any other scheme fails and writes nothing") {
    val e = intercept[IllegalArgumentException] {
      DeltaFixtureWriter.logCommit("hdfs://nn:8020/t", 0L, "VACUUM", Seq())
    }
    assert(e.getMessage.contains("hdfs://nn:8020/t"), e.getMessage)
    assert(!new java.io.File("hdfs:").exists(), "nothing may be created under the working directory")

    val path = tmpDir("fileuri")
    DeltaFixtureWriter.write(Seq((1L, "a")).toDF("id", "v"), path, "overwrite", Seq())
    DeltaFixtureWriter.logCommit(new java.io.File(path).toURI.toString, 1L, "VACUUM", Seq())
    assert(new java.io.File(path, f"_delta_log/${1L}%020d.json").isFile)
    Maintenance.vacuum(spark, "file://" + path, retainMs = 0L)
    val snap = DeltaLog.snapshot(spark, path)
    try assert(snap.version === 2L && snap.data.count() === 1L)
    finally snap.unpersist()
  }

  test("a failed DELETE releases its snapshot") {
    val path = tmpDir("release")
    DeltaFixtureWriter.write(Seq((1L, "a")).toDF("id", "v"), path, "overwrite", Seq())
    spark.catalog.clearCache()
    intercept[org.apache.spark.sql.AnalysisException] {
      DeltaFixtureWriter.delete(spark, path, "no_such_col > 1")
    }
    assert(spark.sharedState.cacheManager.isEmpty, "the snapshot's cached actions leaked")
  }

  /** Ids 0..299 (v0) then 300..599 (v1, an append) with `k` = id % 3, each
    * write one task: partitioned by `k`, one 100-row file per partition
    * and write; unpartitioned, one 300-row file per write. */
  private def twoWrites(path: String, partitionBy: Seq[String] = Seq("k")): Unit =
    Seq("overwrite" -> 0L, "append" -> 300L).foreach { case (mode, lo) =>
      DeltaFixtureWriter.write(spark.range(lo, lo + 300)
        .select(col("id"), (col("id") % 3).as("k")).coalesce(1), path, mode, partitionBy)
    }

  /** The removed paths and the added files' `numRecords` of the commit at
    * `version`, each sorted. */
  private def commitFiles(path: String, version: Long): (Seq[String], Seq[Long]) = {
    val actions = spark.read.schema(DeltaLog.actionSchema)
      .json(s"$path/_delta_log/${f"$version%020d"}.json")
    (actions.where($"remove".isNotNull).select($"remove.path").as[String].collect().sorted.toSeq,
      actions.where($"add".isNotNull)
        .select(get_json_object($"add.stats", "$.numRecords").cast("long")).as[Long].collect().sorted.toSeq)
  }

  test("a partial DELETE on a partitioned table starts 2 jobs: one scan and one rewrite") {
    val path = tmpDir("deljobs")
    twoWrites(path)
    val (_, jobs) = jobsOf(DeltaFixtureWriter.delete(spark, path, "id >= 300 AND id % 7 = 0"))
    assert(jobs.size === 2, jobs.mkString("\n"))
    val survivors = (300 until 600).filter(_ % 7 != 0)
    val (removed, added) = commitFiles(path, 2)
    assert(removed.size === 3, "the three v1 files hold matches")
    assert(added === (0 until 3).map(k => survivors.count(_ % 3 == k).toLong).sorted)
    val snap = DeltaLog.snapshot(spark, path)
    assert(snap.data.select("id").as[Long].collect().sorted.toSeq
      === (0L until 300L) ++ survivors.map(_.toLong))
  }

  test("a DELETE that removes every row of the files it hits starts 1 job and writes no parquet file") {
    Seq(Seq("k"), Seq.empty[String]).foreach { partitionBy =>
      val path = tmpDir("delwhole")
      twoWrites(path, partitionBy)
      val before = DeltaLog.dataFiles(spark, path).keySet
      val (_, jobs) = jobsOf(DeltaFixtureWriter.delete(spark, path, "id >= 300"))
      assert(jobs.size === 1, s"$partitionBy: ${jobs.mkString("\n")}")
      assert(DeltaLog.dataFiles(spark, path).keySet === before, s"$partitionBy: a parquet file was written")
      val snap = DeltaLog.snapshot(spark, path)
      val (removed, added) = commitFiles(path, 2)
      assert(added.isEmpty && removed.size === before.size / 2, partitionBy)
      assert(removed === (before -- snap.manifest.map(_.getString(0))).toSeq.sorted, partitionBy)
      assert(snap.data.select("id").as[Long].collect().sorted.toSeq === (0L until 300L), partitionBy)
    }
  }

  test("a DELETE on a log whose adds carry \"stats\":\"\" rewrites the same survivors from the parquet footers") {
    val withStats = tmpDir("delstats")
    twoWrites(withStats)
    val legacy = copyWithoutStats(withStats)
    assert(DeltaLog.snapshot(spark, legacy).manifest.forall(_.getAs[String]("stats") == ""))
    // every row of v1's k = 1 file, then part of every other file
    val predicates = Seq("id >= 300 AND k = 1", "id % 7 = 0")
    val results = Seq(withStats, legacy).map { path =>
      val jobs = predicates.map(p => jobsOf(DeltaFixtureWriter.delete(spark, path, p))._2.size)
      val snap = DeltaLog.snapshot(spark, path)
      (jobs, Seq(2L, 3L).map(commitFiles(path, _)),
        snap.data.select("id", "k").as[(Long, String)].collect().sorted.toSeq)
    }
    assert(results.head._1 === Seq(1, 2))
    assert(results(1) === results.head)
    assert(results.head._3.map(_._1) === (0L until 600L).filterNot(i => i % 7 == 0 || (i >= 300 && i % 3 == 1)))
  }

  test("a partial DELETE reads its hit files twice and skips the others by their row-group stats") {
    val path = tmpDir("delrows")
    twoWrites(path)
    val (_, read) = rowsReadOf(DeltaFixtureWriter.delete(spark, path, "id >= 300 AND id % 7 = 0"))
    // the scan reads v1's three 100-row files (v0's files, all ids below
    // 300, are skipped) and the rewrite reads them again: 600 rows. A
    // DELETE that probed its survivors with isEmpty read 900 here.
    assert(read === 600L)
  }

  test("merge starts 4 jobs: the left_semi join counted per file, and the rewrite") {
    val path = tmpDir("mergejobs")
    twoWrites(path)
    val source = Seq((298L, "7"), (301L, "7"), (900L, "0")).toDF("id", "k")
    val (_, jobs) = jobsOf(DeltaFixtureWriter.merge(spark, path, source, Seq("id")))
    // a merge that collected the hit files through a distinct started 5:
    // its exchange ran as a job of its own
    assert(jobs.size === 4, jobs.mkString("\n"))
    val (removed, added) = commitFiles(path, 2)
    assert(removed.size === 2, "the v0 file of 298 and the v1 file of 301")
    assert(added.sum === 198L + 3, "their 198 other rows and the three source rows")
    val snap = DeltaLog.snapshot(spark, path)
    assert(snap.data.select("id", "k").as[(Long, String)].collect().toSet
      === (0L until 600L).map(i => i -> (i % 3).toString).toSet -- Seq(298L -> "1", 301L -> "1") ++
        Seq(298L -> "7", 301L -> "7", 900L -> "0"))
  }

  /** [[twoWrites]], then one 50-row file in partition k = 9: OPTIMIZE
    * chooses the six files of k = 0, 1, 2 and leaves the lone one. */
  private def optimizable(path: String): Unit = {
    twoWrites(path)
    DeltaFixtureWriter.write(spark.range(1000, 1050).select(col("id"), lit(9L).as("k")).coalesce(1),
      path, "append", Seq("k"))
  }

  test("optimize starts 1 job and shuffles nothing") {
    val path = tmpDir("optjobs")
    optimizable(path)
    val ((_, jobs), shuffled) = shuffleBytesOf(jobsOf(Maintenance.optimize(spark, path)))
    // an optimize that hashed each row into a bin started 2: the write and
    // its bin exchange
    assert(jobs.size === 1, jobs.mkString("\n"))
    assert(shuffled === 0L)
    val (removed, added) = commitFiles(path, 3)
    assert(removed.size === 6 && added === Seq(200L, 200L, 200L), "one output per partition")
  }

  test("an append laid out by a hash on the partition columns starts 1 job and writes one file per partition directory") {
    val path = tmpDir("appendjobs")
    twoWrites(path)
    val rows = spark.range(600, 900).select(col("id"), (col("id") % 3).as("k")).repartition(col("k"))
    val ((_, jobs), plans) = executedPlansOf(jobsOf(DeltaFixtureWriter.write(rows, path, "append", Seq("k"))))
    // an append whose layout shuffle ran under adaptive execution started
    // 2: the shuffle, then the write
    assert(jobs.size === 1, jobs.mkString("\n"))
    // the write's SQL execution reports the static plan that ran
    assert(plans.size === 1, plans.mkString("\n"))
    assert(plans.head.collect { case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s }.size === 1)
    assert(!plans.head.exists(_.isInstanceOf[org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec]))
    val (removed, added) = commitFiles(path, 2)
    assert(removed.isEmpty && added === Seq(100L, 100L, 100L), "one file per k")
    assert(DeltaLog.snapshot(spark, path).data.count() === 900L)
  }

  test("an append hashed into more shuffle partitions than task slots keeps the adaptive plan and one file per partition directory") {
    val path = tmpDir("appendwide")
    twoWrites(path)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val jobs = try {
      // 16 reducers on 4 task slots: the static plan would run all 16,
      // most of them empty; adaptive execution coalesces them
      spark.conf.set("spark.sql.shuffle.partitions", "16")
      val rows = spark.range(600, 900).select(col("id"), (col("id") % 3).as("k")).repartition(col("k"))
      assert(graft.deltalog.WriteFiles.staticPlan(rows, Seq("k")).isEmpty)
      jobsOf(DeltaFixtureWriter.write(rows, path, "append", Seq("k")))._2
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert(jobs.size === 2, jobs.mkString("\n"))
    val (removed, added) = commitFiles(path, 2)
    assert(removed.isEmpty && added === Seq(100L, 100L, 100L), "one file per k")
  }

  test("compact starts 1 job and writes one file per partition directory, or one file unpartitioned") {
    Seq(Seq("k") -> Seq(200L, 200L, 200L), Seq.empty[String] -> Seq(600L)).foreach { case (partitionBy, want) =>
      val path = tmpDir("compactjobs")
      twoWrites(path, partitionBy)
      val (_, jobs) = jobsOf(DeltaFixtureWriter.compact(spark, path))
      assert(jobs.size === 1, s"$partitionBy: ${jobs.mkString("\n")}")
      val (removed, added) = commitFiles(path, 2)
      assert(removed.size === want.size * 2 && added === want, partitionBy)
    }
  }

  test("zorder starts 3 jobs: the min/max aggregate, the range-boundary sample and the write") {
    val path = tmpDir("zorderjobs")
    twoWrites(path)
    val (_, jobs) = jobsOf(Maintenance.zorder(spark, path, Seq("id")))
    // under adaptive execution the range shuffle ran as a job of its own: 4
    assert(jobs.size === 3, jobs.mkString("\n"))
    assert(commitFiles(path, 2)._2.sum === 600L)
    assert(DeltaLog.snapshot(spark, path).data.count() === 600L)
  }

  test("a write whose input holds an aggregate keeps the adaptive plan and one file per partition directory") {
    val path = tmpDir("aggwrite")
    // 150 (id, k) groups over 4 shuffle partitions: the aggregate's
    // exchange hashes on id and k, so a static plan would spread each k
    // over up to 4 files; adaptive execution coalesces the reducers into one
    val rows = spark.range(300).select((col("id") % 50).as("id"), (col("id") % 3).as("k"))
      .groupBy("id", "k").count()
    assert(graft.deltalog.WriteFiles.staticPlan(rows, Seq("k")).isEmpty)
    val (_, jobs) = jobsOf(DeltaFixtureWriter.write(rows, path, "overwrite", Seq("k")))
    assert(jobs.size === 2, jobs.mkString("\n"))
    val (_, added) = commitFiles(path, 0)
    assert(added === Seq(50L, 50L, 50L), "one file per k")
  }

  test("a file dropped into a partition directory during an append stays an orphan; the table reads the rows written") {
    val path = tmpDir("foreign")
    DeltaFixtureWriter.write(Seq((1L, "a"), (2L, "b")).toDF("id", "p").coalesce(1), path, "overwrite", Seq("p"))
    val copied = new java.io.File(path, DeltaLog.snapshot(spark, path).manifest.head.getString(0))
    val foreign = new java.io.File(path, "p=a/written-by-someone-else.parquet")
    // the task that writes the append copies a data file into p=a first
    val drop = udf { (id: Long) =>
      if (!foreign.exists()) java.nio.file.Files.copy(copied.toPath, foreign.toPath)
      id
    }.asNondeterministic()
    DeltaFixtureWriter.write(spark.range(3, 4).select(drop(col("id")).as("id"), lit("a").as("p")),
      path, "append")
    assert(foreign.exists())
    val snap = DeltaLog.snapshot(spark, path)
    assert(snap.data.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
    assert(commitFiles(path, 1) === (Seq.empty, Seq(1L)), "the append committed its own file only")
    assert(DeltaLog.dataFiles(spark, path).keySet -- snap.manifest.map(_.getString(0)) ===
      Set("p=a/written-by-someone-else.parquet"))
  }

  test("two concurrent appends: one commits, one fails at the version claim, no task fails, no _temporary appears") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val path = tmpDir("concurrent")
    DeltaFixtureWriter.write(Seq((0L, "a")).toDF("id", "p"), path, "overwrite", Seq("p"))
    val meet = udf { (id: Long) => MaintenanceSpec.meet(path); id }.asNondeterministic()
    val failedTasks = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.reason != org.apache.spark.Success) failedTasks.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    // each append's one task waits in `meet` until both are writing, so
    // both read version 0 and race for version 1
    val appends = try Seq(100L, 200L).map { id =>
      id -> Future(scala.util.Try(DeltaFixtureWriter.write(
        spark.range(id, id + 1, 1, 1).select(meet(col("id")).as("id"), lit("a").as("p")), path, "append")))
    }.map { case (id, f) => id -> Await.result(f, scala.concurrent.duration.Duration(120, "s")) }
    finally {
      org.apache.spark.TestListenerBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    val (won, lost) = appends.partition(_._2.isSuccess)
    assert(won.size === 1 && lost.size === 1, appends)
    assert(lost.head._2.failed.get.getMessage.contains("concurrent commit"), lost.head._2)
    assert(failedTasks.get === 0)
    assert(!MaintenanceSpec.sawTemporary.get && !new java.io.File(path, "_temporary").exists())
    val snap = DeltaLog.snapshot(spark, path)
    assert(snap.version === 1L)
    assert(snap.data.select("id").as[Long].collect().sorted.toSeq === Seq(0L, won.head._1))
  }

  test("optimize reads each chosen file once, removes them and keeps every row") {
    val path = tmpDir("optrows")
    optimizable(path)
    val before = DeltaLog.snapshot(spark, path)
    def rows(snap: graft.deltalog.DeltaSnapshot) =
      snap.data.select("id", "k").as[(Long, String)].collect().sorted.toSeq
    val (_, read) = rowsReadOf(Maintenance.optimize(spark, path))
    val (removed, _) = commitFiles(path, 3)
    val chosen = before.manifest.filter(f => removed.contains(f.getString(0)))
    assert(removed === before.manifest.map(_.getString(0)).filterNot(_.startsWith("k=9/")).sorted.toSeq)
    assert(read === chosen.map(before.numRecords).sum && read === 600L)
    assert(rows(DeltaLog.snapshot(spark, path)) === rows(before))
  }

  test("optimize on a schema-evolved table reads the older files' missing column as null") {
    val path = tmpDir("optevolve")
    val mk = (ids: Seq[Long]) => ids.map(i => (i, "Mon")).toDF("id", "day").coalesce(1)
    DeltaFixtureWriter.write(mk(Seq(1L, 2L)), path, "overwrite", Seq("day"))
    DeltaFixtureWriter.write(mk(Seq(3L)).withColumn("tag", lit("v2")), path, "append", Seq("day"))
    Maintenance.optimize(spark, path)
    val snap = DeltaLog.snapshot(spark, path)
    assert(snap.manifest.length === 1, "both files compacted into one")
    assert(snap.data.select("id", "day", "tag").as[(Long, String, Option[String])].collect().sorted.toSeq
      === Seq((1L, "Mon", None), (2L, "Mon", None), (3L, "Mon", Some("v2"))))
    val written = spark.read.parquet(new java.io.File(path, snap.manifest.head.getString(0)).toString)
    assert(written.columns.toSeq === Seq("id", "tag"), "the compacted file holds the evolved schema")
  }

  test("optimize and zorder refuse a target file size of 0 or less before touching the table") {
    val path = tmpDir("optguard")
    twoWrites(path)
    def state() = (new java.io.File(path, "_delta_log").list().toSet, DeltaLog.dataFiles(spark, path))
    val before = state()
    Seq[() => Unit](
      () => Maintenance.optimize(spark, path, targetFileBytes = 0L),
      () => Maintenance.zorder(spark, path, Seq("id"), targetFileBytes = -1L)).foreach { op =>
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains("targetFileBytes must be positive"), e.getMessage)
      assert(state() === before, "the log and the data files are unchanged")
    }
  }

  test("changes: CDF shows appends as inserts, deletes as deletes, compaction as nothing") {
    val path = tmpDir("cdf")
    val mk = (ids: Seq[Int], day: String) =>
      ids.map(i => (i.toLong, day)).toDF("id", "day").coalesce(1)
    DeltaFixtureWriter.write(mk(1 to 4, "Mon"), path, "overwrite", Seq("day")) // v0
    DeltaFixtureWriter.write(mk(5 to 6, "Mon"), path, "append", Seq("day"))   // v1
    DeltaFixtureWriter.delete(spark, path, "id >= 3 AND id <= 5")             // v2
    Maintenance.optimize(spark, path, targetFileBytes = 1L << 20)             // v3

    val ch = DeltaLog.changes(spark, path, 0, 3)
      .select("id", "day", "_change_type", "_commit_version")
      .as[(Long, String, String, Long)].collect().toSet
    assert(ch === Set(
      (5L, "Mon", "insert", 1L), (6L, "Mon", "insert", 1L),
      (3L, "Mon", "delete", 2L), (4L, "Mon", "delete", 2L),
      (5L, "Mon", "delete", 2L)),
      "survivor rewrites and the compaction commit must net to zero")

    // window start is exclusive: (1, 2] sees only the delete commit
    val win = DeltaLog.changes(spark, path, 1, 2)
      .select("id", "_change_type").as[(Long, String)].collect().toSet
    assert(win === Set((3L, "delete"), (4L, "delete"), (5L, "delete")))

    // empty window on a metadata-only span
    assert(DeltaLog.changes(spark, path, 2, 3).isEmpty,
      "pure compaction produces no row-level changes")

    // vacuum reclaims the window's dead files → the feed must fail fast,
    // never silently return an incomplete change set
    Maintenance.vacuum(spark, path, retainMs = 0L)
    val gone = intercept[IllegalArgumentException] {
      DeltaLog.changes(spark, path, 0, 2)
    }
    assert(gone.getMessage.contains("no longer on disk"))

    // a window reaching below the retained JSON log (cleaned after a
    // checkpoint) is unrecoverable from state rows → fail fast too
    val ckptV = Maintenance.checkpoint(spark, path)
    (0L to 1L).foreach { i =>
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(path, "_delta_log", f"$i%020d.json"))
    }
    val expired = intercept[IllegalArgumentException] {
      DeltaLog.changes(spark, path, 0, ckptV)
    }
    assert(expired.getMessage.contains("retained JSON log"))
  }

  test("changes: fully-vacuumed table fails fast; empty feed keeps the CDF schema") {
    val path = tmpDir("cdfempty")
    DeltaFixtureWriter.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .coalesce(1), path, "overwrite", Seq())                    // v0
    DeltaFixtureWriter.delete(spark, path, "id >= 0")            // v1: all rows
    Maintenance.vacuum(spark, path, retainMs = 0L)               // v2 + reclaim
    // drop the _SUCCESS markers too, so the table dir holds ONLY
    // _delta_log — the vacuumed-window fail-fast must still fire (an
    // entries.isEmpty early return before the manifest-vs-disk check used
    // to silently yield an empty, schema-less frame)
    new java.io.File(path).listFiles()
      .filter(_.getName.contains("_SUCCESS")).foreach(_.delete())
    assert(new java.io.File(path).listFiles().map(_.getName).toSet
      === Set("_delta_log"))
    val gone = intercept[IllegalArgumentException] {
      DeltaLog.changes(spark, path, 0, 1)
    }
    assert(gone.getMessage.contains("no longer on disk"))
    // a metadata-only window over the empty dir IS a real empty feed —
    // and it must carry the normal CDF columns, not be schema-less
    val feed = DeltaLog.changes(spark, path, 1, 2)
    assert(feed.isEmpty)
    assert(feed.columns.toSeq ===
      Seq("id", "v", "_commit_version", "_change_type"))
  }

  test("zorder: all-null cluster column lands in cell 0 instead of NPE") {
    val path = tmpDir("zordernull")
    val df = Seq((1L, Option.empty[Double]), (2L, None), (3L, None))
      .toDF("id", "score")
    DeltaFixtureWriter.write(df.coalesce(1), path, "overwrite", Seq())
    Maintenance.zorder(spark, path, Seq("score", "id"),
      targetFileBytes = 1L << 20)
    val snap = DeltaLog.snapshot(spark, path)
    assert(snap.data.count() === 3L, "rewrite must preserve every row")
    assert(snap.version === 1L)
    snap.unpersist()
  }

  test("zValue: Morton interleave puts bit j of column i at position j*k+i") {
    // a=3 (bits 0,1) → positions 0,2 = 5; b=5 (bits 0,2) → positions 1,5 = 34
    val z = Seq((3L, 5L)).toDF("a", "b")
      .select(Maintenance.zValue(Seq(col("a"), col("b"))).as("z"))
      .as[Long].first()
    assert(z === 39L)
    // one column degenerates to the identity (k=1, positions j*1+0 = j)
    val ident = Seq(12345L).toDF("a")
      .select(Maintenance.zValue(Seq(col("a"))).as("z")).as[Long].first()
    assert(ident === 12345L)
  }

  test("bucket16: monotone, clamped to [0, 65535], constant column → 0") {
    val df = Seq(-5.0, 0.0, 50.0, 100.0, 999.0).toDF("v")
      .select(Maintenance.bucket16(col("v"), 0.0, 100.0).as("b"))
    val bs = df.as[Long].collect().toSeq
    assert(bs === bs.sorted, "bucketing must preserve order")
    assert(bs.head === 0L && bs.last === 65535L,
      "out-of-range values clamp to the edge cells")
    assert(bs(2) === 32768L, "midpoint lands mid-range")
    val const = Seq(7.0).toDF("v")
      .select(Maintenance.bucket16(col("v"), 7.0, 7.0).as("b"))
      .as[Long].first()
    assert(const === 0L)
  }

  test("zorder: clustered rewrite narrows per-file ranges on every dimension") {
    val path = tmpDir("zorder")
    val n = 64
    // 64×64 grid written range-partitioned by x: a y-predicate prunes nothing
    val grid = spark.range(0, n.toLong * n).select(
      (col("id") / n).cast("long").as("x"),
      (col("id") % n).cast("long").as("y"))
    DeltaFixtureWriter.write(grid.repartitionByRange(16, col("x")), path,
      "overwrite", Seq())

    def filesOverlapping(c: String, lo: Long, hi: Long): (Long, Long) = {
      val snap = DeltaLog.snapshot(spark, path)
      val total = snap.activeFiles.count()
      val hit = snap.dataWithFile.get
        .groupBy(col("__file"))
        .agg(min(col(c)).as("mn"), max(col(c)).as("mx"))
        .where(col("mn") <= hi && col("mx") >= lo)
        .count()
      snap.unpersist()
      (hit, total)
    }
    val (hitY0, total0) = filesOverlapping("y", 0, 7)
    assert(total0 === 16L)
    assert(hitY0 === total0, "linear-by-x layout cannot prune on y")

    val snap0 = DeltaLog.snapshot(spark, path)
    val bytes = snap0.activeSizes.values.sum
    snap0.unpersist()
    Maintenance.zorder(spark, path, Seq("x", "y"),
      targetFileBytes = math.max(1L, bytes / 16))

    val snap = DeltaLog.snapshot(spark, path)
    assert(snap.data.count() === n.toLong * n, "every row survives")
    assert(snap.data.agg(sum(col("x") * 64 + col("y"))).as[Long].first()
      === (0L until n.toLong * n).sum, "cell multiset intact")
    val params = snap.history.where(col("operation") === "OPTIMIZE")
      .orderBy(col("version").desc).limit(1)
      .select("operationParameters").collect().head.getMap[String, String](0)
    assert(params("zOrderBy") === """["x","y"]""")
    snap.unpersist()

    val (hitY, totalZ) = filesOverlapping("y", 0, 7)
    val (hitX, _) = filesOverlapping("x", 0, 7)
    assert(totalZ >= 8L, s"clustered rewrite kept multiple files ($totalZ)")
    assert(hitY <= totalZ * 2 / 3,
      s"y-predicate must now prune files ($hitY of $totalZ overlap)")
    assert(hitX <= totalZ * 2 / 3,
      s"x-predicate must still prune files ($hitX of $totalZ overlap)")
  }

  test("rankCell: balanced tree equals linear boundary count, nulls to top") {
    val bounds = Array(10.0, 20.0, 30.0)
    val df = Seq(Some(5.0), Some(10.0), Some(15.0), Some(20.0), Some(25.0),
      Some(30.0), Some(99.0), None).toDF("v")
      .select(Maintenance.rankCell(col("v"), bounds).as("cell"))
    assert(df.as[Long].collect().toSeq ===
      Seq(0L, 0L, 1L, 1L, 2L, 2L, 3L, 3L),
      "cell = count of boundaries < v (boundaries inclusive on the left)")
  }

  test("zorder rankBased: equi-depth cells stay balanced under heavy skew") {
    val path = tmpDir("zorder_skew")
    // 90% of x packed into [0, 64), 10% outliers at ~1e9: equal-width
    // 16-bit cells collapse the dense region into cell 0
    val n = 4096L
    val data = spark.range(0, n).select(
      when(col("id") % 10 =!= 0, col("id") % 64)
        .otherwise(lit(1000000000L) + col("id")).as("x"),
      (col("id") % 64).as("y"))
    DeltaFixtureWriter.write(data.repartitionByRange(16, col("y")), path,
      "overwrite", Seq())
    val snap0 = DeltaLog.snapshot(spark, path)
    val bytes = snap0.activeSizes.values.sum
    snap0.unpersist()

    Maintenance.zorder(spark, path, Seq("x", "y"),
      targetFileBytes = math.max(1L, bytes / 16), rankBased = true)

    val snap = DeltaLog.snapshot(spark, path)
    assert(snap.data.count() === n, "every row survives")
    // a predicate on the DENSE x region must prune files: with equal-width
    // cells all dense x shares cell 0 and x carries no file-level signal
    val perFile = snap.dataWithFile.get
      .groupBy(col("__file"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    val total = perFile.count()
    val hit = perFile.where(col("mn") <= 7L && col("mx") >= 0L).count()
    snap.unpersist()
    assert(total >= 8L, s"clustered rewrite kept multiple files ($total)")
    assert(hit <= total * 2 / 3,
      s"dense-region x-predicate must prune under rank-based cells " +
        s"($hit of $total overlap)")
  }

  test("zorder rankBased computes each column's cell tree once") {
    import org.apache.spark.sql.catalyst.expressions.CaseWhen
    import org.apache.spark.sql.execution.ProjectExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val path = tmpDir("zorder_cells")
    DeltaFixtureWriter.write(spark.range(0, 512)
      .select(col("id").as("x"), (col("id") * 7 % 64).as("y")).coalesce(1), path, "overwrite", Seq())
    val (_, plans) = executedPlansOf(Maintenance.zorder(spark, path, Seq("x", "y"), rankBased = true))
    val helper = new AdaptiveSparkPlanHelper {}
    val projects = plans.map(p => helper.collect(p) { case p: ProjectExec => p })
      .filter(_.exists(_.projectList.exists(_.name == "__z")))
    assert(projects.size === 1, "one executed plan computes __z")
    val caseWhens = projects.head.map(_.projectList.map(_.collect { case c: CaseWhen => c }.size).sum).sum
    // a 256-cell rankCell tree is 255 nested CaseWhens; one copy per bit
    // term (8 bits, 2 columns) was 16 trees
    assert(caseWhens > 0 && caseWhens <= 2 * 255, s"$caseWhens CaseWhen nodes")
  }

  test("optimize then vacuum: full maintenance cycle on a churned table") {
    val path = tmpDir("cycle")
    TestFixtures.buildOrphanTable(spark, path)
    Maintenance.optimize(spark, path)
    Maintenance.vacuum(spark, path, retainMs = 0L)
    val m = HealthAnalyzer.analyzeTable(spark, path)
    assert(m.dataFileCount === m.totalFileCount)
    assert(m.orphanFilesCount === 0)
    val perPartition = {
      val snap = DeltaLog.snapshot(spark, path)
      val n = snap.activeFiles
        .groupBy(element_at(col("partitionValues"), "day"),
          element_at(col("partitionValues"), "time"))
        .count().select(max("count")).as[Long].first()
      snap.unpersist(); n
    }
    assert(perPartition === 1L)
  }

  test("every add from write, delete, merge, compact, optimize, zorder and restore, and every checkpoint add, records its footer row count") {
    val path = tmpDir("numrecords")
    val rows = spark.range(60).select(col("id"), (col("id") % 3).cast("string").as("k"),
      (col("id") * 7 % 11).cast("double").as("x"))
    DeltaFixtureWriter.write(rows, path, "overwrite", Seq("k"))
    DeltaFixtureWriter.write(rows.where(col("id") < 20), path, "append", Seq("k"))
    DeltaFixtureWriter.delete(spark, path, "id % 5 = 0")
    DeltaFixtureWriter.merge(spark, path,
      rows.where(col("id") > 50).withColumn("x", lit(-1.0)), Seq("id"))
    DeltaFixtureWriter.compact(spark, path)
    DeltaFixtureWriter.write(rows.where(col("id") < 30), path, "append", Seq("k"))
    Maintenance.optimize(spark, path, targetFileBytes = 1L << 20)
    Maintenance.zorder(spark, path, Seq("id", "x"))
    Maintenance.restore(spark, path, 1L)
    Maintenance.checkpoint(spark, path)

    val conf = spark.sparkContext.hadoopConfiguration
    def footerRows(rel: String): Long = {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(new java.io.File(path, rel).toURI), conf))
      try reader.getRecordCount finally reader.close()
    }
    def recorded(adds: org.apache.spark.sql.DataFrame): Seq[(String, Option[Long])] =
      adds.select($"path", get_json_object($"stats", "$.numRecords").cast("long"))
        .as[(String, Option[Long])].collect().toSeq
    // the JSON commits, each read with its version
    val log = new java.io.File(path, "_delta_log").listFiles().toSeq.collect {
      case f if f.getName.matches("\\d{20}\\.json") =>
        spark.read.schema(DeltaLog.actionSchema).json(f.getPath)
          .withColumn("version", lit(f.getName.take(20).toLong))
    }.reduce(_ unionByName _)
    val ops = log.where($"commitInfo".isNotNull)
      .select($"version", $"commitInfo.operation").as[(Long, String)].collect().toMap
    val jsonAdds = log.where($"add".isNotNull).select($"version", $"add.*")
    val addOps = jsonAdds.select($"version").as[Long].collect().map(ops).toSet
    assert(addOps === Set("WRITE", "DELETE", "MERGE", "OPTIMIZE", "RESTORE"),
      s"every rewriting operation must add files, got ${ops.toSeq.sorted}")
    assert(ops.values.count(_ == "OPTIMIZE") === 3, "compact, optimize and zorder")
    val fromJson = recorded(jsonAdds)
    val ckpt = spark.read.parquet(new java.io.File(path, "_delta_log").listFiles()
      .map(_.getPath).filter(_.endsWith(".checkpoint.parquet")).toSeq: _*)
    val fromCheckpoint = recorded(ckpt.where($"add".isNotNull).select($"add.*"))
    assert(fromCheckpoint.nonEmpty)
    (fromJson ++ fromCheckpoint).foreach { case (rel, n) =>
      assert(n === Some(footerRows(rel)), s"$rel: numRecords $n")
    }
  }
}

object MaintenanceSpec {
  private val waiting = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.CountDownLatch]
  val sawTemporary = new java.util.concurrent.atomic.AtomicBoolean

  /** Blocks until two tasks have called it for `table` (60 s at most), then
    * notes whether the table holds a `_temporary` directory. */
  def meet(table: String): Unit = {
    val latch = waiting.computeIfAbsent(table, _ => new java.util.concurrent.CountDownLatch(2))
    latch.countDown()
    latch.await(60, java.util.concurrent.TimeUnit.SECONDS)
    if (new java.io.File(table, "_temporary").exists()) sawTemporary.set(true)
  }
}
