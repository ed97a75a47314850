package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import scala.jdk.CollectionConverters._

import graft.deltalog.{DeltaFixtureWriter, DeltaLog}
import graft.health.DeltaAnalyzerMetrics
import graft.operators.{HealthAnalyzer, HistoryAnalyzer, Reporting, SkewAnalyzer, StorageAnalyzer, StorageStats}
import graft.sources.Sources

/** Coverage for the remaining SURVEY §2 rows: S7 CSV, A17 per-version
  * deltas, A18 trend, O4 argmax, F5-F7 formatting, plus the §5 ScalaCheck
  * skew/orphan invariants. */
class ReportingSourcesSpec extends SparkSuite {
  import spark.implicits._

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(100), p)
    assert(res.passed, res.status.toString)
  }

  test("S7: CSV source with header + schema inference") {
    val dir = tmpDir("csv")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "tips.csv"),
      "total_bill,tip,day,size\n16.99,1.01,Sun,2\n10.34,1.66,Mon,3\n")
    val df = Sources.readCsv(spark, s"$dir/tips.csv")
    assert(df.count() === 2)
    assert(df.schema("total_bill").dataType.typeName === "double")
    assert(df.schema("size").dataType.typeName === "integer")
  }

  test("A17: per-version file deltas from operationMetrics") {
    val path = tmpDir("hist")
    val df = TestFixtures.tips(spark, Seq("Mon" -> 20), Seq("Dinner" -> 20))
    DeltaFixtureWriter.write(df, path, "overwrite", Seq("day"))
    DeltaFixtureWriter.write(df.limit(5), path, "append", Seq("day"))
    DeltaFixtureWriter.compact(spark, path)
    val snap = DeltaLog.snapshot(spark, path)
    val deltas = HistoryAnalyzer.perVersionFileDeltas(snap.history).collect()
    assert(deltas.length === 3)
    assert(deltas.map(_.getAs[Long]("version")).toSeq === Seq(0L, 1L, 2L))
    assert(deltas(0).getAs[Long]("num_files_added") > 0)
    assert(deltas(2).getAs[Long]("num_files_removed") > 0, "compact removes files")
    val enriched = HistoryAnalyzer.enriched(snap.history).collect()
    assert(enriched.length === 3)
    assert(enriched.forall(_.getAs[java.sql.Timestamp]("timestamp") != null))
    snap.unpersist()
  }

  test("A18: trend frame unions per-run metrics ordered by date") {
    val runs = Seq(
      (java.sql.Timestamp.valueOf("2026-01-02 00:00:00"),
        DeltaAnalyzerMetrics(recordCount = 200, numberOfWrites = 2)),
      (java.sql.Timestamp.valueOf("2026-01-01 00:00:00"),
        DeltaAnalyzerMetrics(recordCount = 100, numberOfWrites = 1)))
    val t = Reporting.trend(runs, spark).collect()
    assert(t.length === 2)
    assert(t(0).getAs[Long]("record_count") === 100L, "sorted by date")
    assert(t(1).getAs[Long]("writes") === 2L)
  }

  test("O4: argmax partition deterministic under ties") {
    val counts = Seq(("a", 5L), ("b", 9L), ("c", 9L)).toDF("k", "count")
    val top = Reporting.argmaxPartition(counts, "k", "count").collect()
    assert(top.length === 1)
    assert(top(0).getString(0) === "b")
  }

  test("F5-F7: display formatting scalars") {
    val df = Seq(("num_added_files", "x" * 60, 5L * 1024 * 1024, 2500L))
      .toDF("key", "longtext", "bytes", "ms")
      .select(
        Reporting.titleLabel(col("key")).as("label"),
        Reporting.truncated(col("longtext")).as("trunc"),
        Reporting.humanBytes(col("bytes")).as("size"),
        Reporting.humanMillis(col("ms")).as("dur"))
    val r = df.first()
    assert(r.getString(0) === "Num Added Files")
    assert(r.getString(1).endsWith("...") && r.getString(1).length === 50)
    assert(r.getString(2) === "5.00 MB")
    assert(r.getString(3) === "2.5 s")
  }

  test("H6'/spark heuristics variant: write-heavy table flags vacuum") {
    val m = DeltaAnalyzerMetrics(numberOfWrites = 50, numberOfOptimizes = 1,
      dataFileCount = 40, avgFileSizeBytes = 512 * 1024)
    val h = HealthAnalyzer.sparkHeuristics(m)
    assert(h.needsVacuum)                     // 50 > 10*1
    assert(h.hasOrphanFiles)                  // alias of needsVacuum
    assert(h.filesNeedingVacuum === 4L)       // 10% of files
    assert(h.storageEfficiency === Some(0.95))
    assert(h.smallFilesCount === 32L)         // avg < 1MB → 0.8 * files
  }

  test("property: skewness_max in [0,1], 0 for single partition, permutation-invariant") {
    val gen = Gen.nonEmptyListOf(Gen.chooseNum(0L, 10000L))
    check(Prop.forAll(gen) { counts =>
      val df = counts.zipWithIndex.map { case (c, i) => (i.toString, c) }
        .toDF("k", "count")
      val row = SkewAnalyzer.skewnessStats(df).first()
      val mx = row.getAs[Double]("skewness_max")
      val avg = row.getAs[Double]("skewness_average")
      val inRange = mx >= 0.0 && mx <= 1.0 && avg >= 0.0
      val singleOk = counts.size > 1 || (mx == 0.0 && avg == 0.0)
      // permutation invariance
      val shuffled = scala.util.Random.shuffle(counts)
      val df2 = shuffled.zipWithIndex.map { case (c, i) => (i.toString, c) }
        .toDF("k", "count")
      val row2 = SkewAnalyzer.skewnessStats(df2).first()
      inRange && singleOk &&
        mx == row2.getAs[Double]("skewness_max") &&
        avg == row2.getAs[Double]("skewness_average")
    })
  }

  /** (lightest, heaviest, the `topN` heaviest as a dict) of `rows` — one
    * partition (a, b, count) each — by a Spark sort over the keys
    * `keyedCounts` renders. */
  private def sparkExtremes(rows: Seq[(String, String, Long)], topN: Int)
      : (Option[(String, Long)], Option[(String, Long)], Map[String, Long]) = {
    val keyed = SkewAnalyzer.keyedCounts(rows.toDF("a", "b", "count"), Seq("a", "b"))
    val asc = keyed.orderBy(col("count"), col("partition")).as[(String, Long)].collect()
    val top = keyed.orderBy(col("count").desc, col("partition")).limit(topN)
      .as[(String, Long)].collect().toMap
    (asc.headOption, asc.lastOption, top)
  }

  /** `d` is the exact rational `p / q` to 1e-15, relative. */
  private def near(d: Double, p: BigInt, q: BigInt): Boolean = {
    val want = BigDecimal(p).bigDecimal.divide(BigDecimal(q).bigDecimal, java.math.MathContext.DECIMAL128)
    (BigDecimal(d) - BigDecimal(want)).abs <= BigDecimal(want) * BigDecimal("1e-15")
  }

  test("property: stats == a brute-force exact definition; extremes and top-N tie order == a Spark sort") {
    val value = Gen.option(Gen.oneOf("Mon", "Tue", "a/b", "a", "b", "｡", "😀"))
    val count = Gen.frequency(1 -> Gen.const(0L), 3 -> Gen.chooseNum(1L, 4L), 2 -> Gen.chooseNum(0L, 10000L))
    val partitions = Gen.listOf(Gen.zip(value, value)).map(_.distinct)
    val gen = for {
      ps <- partitions
      equal <- Gen.oneOf(true, false)
      c <- count
      cs <- Gen.listOfN(ps.size, count)
      topN <- Gen.chooseNum(1, ps.size + 1)
    } yield (ps.zip(if (equal) ps.map(_ => c) else cs)
      .map { case ((a, b), n) => (a.orNull, b.orNull, n) }, topN)
    check(Prop.forAllNoShrink(gen) { case (rows, topN) =>
      val pairs = SkewAnalyzer.keyed(rows.map { case (a, b, n) => Seq(a, b) -> n }.toMap)
      val (recordCount, sk) = SkewAnalyzer.stats(pairs, topN)
      val cs = rows.map(_._3)
      val n = cs.size
      val s = cs.sum
      // rational mean s/n; |c - s/n| = |c*n - s| / n, so the mean absolute
      // deviation over the mean is sum|c*n - s| / n / n / (s/n)
      val devs = cs.map(c => (BigInt(c) * n - s).abs).sum
      val avgOk =
        if (n <= 1 || s == 0) sk.skewnessAverage == 0.0
        else near(sk.skewnessAverage, devs * n, BigInt(n) * n * s)
      val maxOk =
        if (n <= 1 || cs.max == 0) sk.skewnessMax == 0.0
        else near(sk.skewnessMax, cs.max - cs.min, cs.max)
      val (mn, mx, top) = sparkExtremes(rows, topN)
      Prop(recordCount == s && sk.partitionCount == n && avgOk && maxOk &&
        sk.minPartition == mn && sk.maxPartition == mx && sk.recordsPerPartition == top) :|
        s"rows $rows topN $topN: got ($recordCount, $sk), Spark ($mn, $mx, $top)"
    })
    // U+FF61 sorts before U+1F600 in UTF-8 bytes, after it in UTF-16 units
    val tied = Seq(("😀", null, 5L), ("｡", null, 5L))
    val (_, sk) = SkewAnalyzer.stats(tied.map(r => r._1 -> r._3), topN = 1)
    assert("😀".compareTo("｡") < 0, "String.compareTo orders the tie the other way")
    assert(sk.minPartition === Some("｡" -> 5L))
    assert(sk.maxPartition === Some("😀" -> 5L))
    assert(sk.recordsPerPartition === Map("｡" -> 5L))
    assert((sk.minPartition, sk.maxPartition, sk.recordsPerPartition) === sparkExtremes(tied, 1))
  }

  test("E3: dashboard frames bundle all five visualization inputs") {
    val path = tmpDir("dash")
    TestFixtures.buildSkewedTable(spark, path)
    val f = graft.operators.Dashboard.frames(spark, path)
    assert(f.metrics.healthScore.isDefined)
    assert(f.recommendations.count() > 0)
    val top = f.partitionCountsTopN.collect()
    assert(top.nonEmpty && top.length <= 16)
    assert(top.head.getAs[Long]("count") >= top.last.getAs[Long]("count") ||
      top.last.getString(0) == "Others")
    assert(f.fileSizeBins.count() > 0)
    val hist = f.historyEnriched.collect()
    assert(hist.length === f.metrics.versionCount + 1)
    assert(f.perVersionFileDeltas.count() === hist.length)
  }

  test("E3: with more partitions than the top-N map, the dashboard's Others bucket sums the whole tail") {
    val path = tmpDir("dash_highcard")
    val keys = spark.range(1050).select(format_string("k%04d", col("id")).as("k"), col("id"))
    val hot = spark.range(40).select(lit("k0007").as("k"), col("id"))
    graft.deltalog.DeltaFixtureWriter.write(keys.union(hot).coalesce(1), path, "overwrite", Seq("k"))
    val f = graft.operators.Dashboard.frames(spark, path)
    assert(f.metrics.skewMetrics.get.recordsPerPartition.size === 1000, "the top-N cap is hit")
    val top = f.partitionCountsTopN.as[(String, Long)].collect()
    assert(top.length === 16)
    assert(top.head === ("k0007" -> 41L))
    assert(top.last === ("Others" -> (1090L - 41L - 14L)))
  }

  test("E3: partitions whose /-joined keys collide keep one dashboard bar row each") {
    val path = tmpDir("dash_collide")
    val parts = Seq(("a/b", "c", 3), ("a", "b/c", 5), ("x", "y", 7), ("x", "z", 2), ("y", "y", 4), ("z", "w", 6))
    val df = parts.flatMap { case (p, q, n) => (1 to n).map(i => (i.toLong, p, q)) }.toDF("id", "p", "q")
    DeltaFixtureWriter.write(df, path, "overwrite", Seq("p", "q"))
    val f = graft.operators.Dashboard.frames(spark, path)
    val sk = f.metrics.skewMetrics.get
    assert(sk.partitionCount === 6)
    assert(sk.recordsPerPartition.size === 5, "the record's dict keeps one of the colliding keys")
    val bars = f.partitionCountsTopN.as[(String, Long)].collect().toSeq
    assert(bars.length === 6)
    assert(bars.map(_._2).sum === f.metrics.recordCount)
    assert(bars.filter(_._1 == "a/b/c").map(_._2).sorted === Seq(3L, 5L))
  }

  // nested two-level partitions and a top-level data file are listed;
  // _SUCCESS, .crc and the checkpoint parquet in _delta_log are not
  test("folderFiles == an independent java.io walk") {
    val path = tmpDir("flist")
    val df = TestFixtures.tips(spark, Seq("Mon" -> 30, "Tue" -> 30),
      Seq("Dinner" -> 30, "Lunch" -> 30))
    DeltaFixtureWriter.write(df, path, "overwrite", Seq("day", "time"))
    DeltaFixtureWriter.write(df.limit(10), path, "append", Seq("day", "time"))
    graft.operators.Maintenance.checkpoint(spark, path)
    val root = java.nio.file.Paths.get(path)
    val nested = java.nio.file.Files.walk(root).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .find(p => root.relativize(p).getNameCount == 3).get
    java.nio.file.Files.copy(nested, root.resolve("top.parquet"))
    // the engine's writer leaves no _SUCCESS marker; one a Spark job left
    // behind must not be listed either
    java.nio.file.Files.write(root.resolve("_SUCCESS"), Array.emptyByteArray)
    val all = java.nio.file.Files.walk(root).iterator().asScala.toSeq
      .filter(java.nio.file.Files.isRegularFile(_))
    val names = all.map(_.getFileName.toString)
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")))
    assert(all.exists(p => p.toString.contains("_delta_log") &&
      p.toString.endsWith(".checkpoint.parquet")))
    val walked = all
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .filterNot(p => root.relativize(p).startsWith("_delta_log"))
      .map(p => (p.toString, java.nio.file.Files.size(p))).toSet
    val listed = StorageAnalyzer.folderFiles(spark, path).collect()
      .map(r => (r.getString(0).stripPrefix("file:"), r.getLong(1))).toSet
    assert(walked.exists(_._1 == root.resolve("top.parquet").toString))
    assert(walked.size > 4)
    assert(listed === walked)
  }

  test("property: orphan count = folder - manifest when manifest ⊆ folder") {
    val gen = for {
      total <- Gen.chooseNum(1, 30)
      active <- Gen.chooseNum(0, total)
    } yield (total, active)
    check(Prop.forAll(gen) { case (total, active) =>
      val folder = (0 until total).map(i => (s"f$i.parquet", 100L)).toMap
      val manifest = (0 until active).map(i => (s"f$i.parquet", 100L)).toMap
      StorageAnalyzer.storage(folder, manifest, None).orphanFilesCount == (total - active).toLong
    })
  }

  test("property: storage numbers == a brute-force count over random listings and manifests") {
    // manifest indices reach past the listing, so some active files are
    // missing from disk; small sizes make ties with the mean common
    val files = (n: Int) => Gen.mapOf(Gen.zip(
      Gen.chooseNum(0, n).map(i => s"p=${i % 3}/f$i.parquet"), Gen.chooseNum(1L, 12L)))
    val gen = for {
      listing <- files(30)
      manifest <- files(40)
      thr <- Gen.option(Gen.chooseNum(0.0, 13.0))
    } yield (listing, manifest, thr)
    check(Prop.forAll(gen) { case (listing, manifest, thr) =>
      var tableSize, folderSize, dataFiles, totalFiles, small = 0L
      val orphans, missing = Seq.newBuilder[String]
      for (k <- (listing.keySet ++ manifest.keySet).toSeq.sorted) {
        (listing.get(k), manifest.get(k)) match {
          case (Some(f), Some(m)) => folderSize += f; totalFiles += 1; tableSize += m; dataFiles += 1
          case (Some(f), None) => folderSize += f; totalFiles += 1; orphans += k
          case (None, Some(m)) => tableSize += m; dataFiles += 1; missing += k
          case (None, None) =>
        }
      }
      // size < mean  <=>  size * n < total, in exact integers
      for (m <- manifest.values)
        if (thr.fold(m * dataFiles < tableSize)(m < _)) small += 1
      val want = StorageStats(tableSize, folderSize, dataFiles, totalFiles,
        if (dataFiles == 0) 0L else tableSize / dataFiles, small,
        orphans.result(), missing.result())
      val got = StorageAnalyzer.storage(listing, manifest, thr)
      Prop(got == want && got.orphanFilesCount == totalFiles - (dataFiles - want.missing.size)) :|
        s"got $got, want $want"
    })
  }
}
