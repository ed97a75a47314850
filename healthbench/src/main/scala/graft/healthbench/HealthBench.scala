package graft.healthbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.deltalog.{DeltaFixtureWriter, DeltaLog}
import graft.health.{DeltaAnalyzerMetrics, Thresholds}
import graft.operators.{HealthAnalyzer, HistoryAnalyzer, Maintenance, SkewAnalyzer, StorageAnalyzer}

/** Failures across every set-up and the timed run. */
final class Tally {
  var attempted, failed = 0L
  val messages = mutable.ArrayBuffer[String]()
}

/** The closed-loop client: one caller thread, each call returns before the
  * next starts. Every operation's result is checked against the model. */
final class Client(spark: SparkSession, m: Model, seed: Long, tally: Tally,
                   val tracer: Option[Tracer]) {
  import HealthBench._

  private val workCounter = new WorkCounter
  spark.sparkContext.addSparkListener(workCounter)

  /** Wall seconds per operation, keyed by operation name. */
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  /** Work each operation did, keyed by operation name and then by counter:
    * Spark jobs started and input rows read. */
  val work = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  /** Facts the traced run reports as counts, keyed by metric name. */
  val counts = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  var tracing = false
  private var reference: Option[String] = None

  private def record(into: mutable.Map[String, mutable.ArrayBuffer[Double]],
                     key: String, v: Double): Unit =
    into.getOrElseUpdate(key, mutable.ArrayBuffer()) += v

  private def timed[T](op: String, span: String)(body: => T): T = {
    val (jobs0, rows0) = (workCounter.jobs.get, workCounter.rows.get)
    val t0 = System.nanoTime()
    val r = tracer.filter(_ => tracing) match {
      case Some(t) => t.span(span)(body)
      case None => body
    }
    val key = if (tracing) s"$op.traced" else op
    record(samples, key, (System.nanoTime() - t0) / 1e9)
    ListenerBusDrain(spark.sparkContext)
    record(work, s"$key.jobs", (workCounter.jobs.get - jobs0).toDouble)
    record(work, s"$key.rows", (workCounter.rows.get - rows0).toDouble)
    r
  }

  private def attempt(op: String)(body: => Seq[String]): Unit = {
    tally.attempted += 1
    val errors =
      try body
      catch { case NonFatal(e) => Seq(s"threw ${e.getClass.getName}: ${e.getMessage}") }
    if (errors.nonEmpty) {
      tally.failed += 1
      if (tally.messages.size < 20) tally.messages += s"$op: ${errors.mkString("; ")}"
    }
  }

  private def expect(what: String, got: Long, want: Long): Seq[String] =
    if (got == want) Nil else Seq(s"$what=$got, expected $want")

  def mismatches(r: DeltaAnalyzerMetrics): Seq[String] =
    expect("recordCount", r.recordCount, m.recordCount) ++
      expect("versionCount", r.versionCount, m.version) ++
      expect("numberOfWrites", r.numberOfWrites, m.writes) ++
      expect("numberOfDeletes", r.numberOfDeletes, m.deletes) ++
      expect("numberOfOptimizes", r.numberOfOptimizes, m.optimizes) ++
      expect("dataFileCount", r.dataFileCount, m.dataFiles) ++
      expect("totalFileCount", r.totalFileCount, m.onDisk) ++
      expect("orphanFilesCount", r.orphanFilesCount, m.onDisk - m.dataFiles) ++
      expect("partitionCount", r.partitionCount, m.partitionCount)

  /** `analyzeTable`, checked against the model; on an unchanged table the
    * record must also equal the previous one exactly. */
  def analyze(op: String, unchanged: Boolean): Unit = attempt(op) {
    val r = timed(op, "analyzer.analyze")(HealthAnalyzer.analyzeTable(spark, m.path))
    val again = reference.filter(_ => unchanged).collect {
      case prev if prev != r.toString => "record differs from the previous analysis"
    }
    reference = Some(r.toString)
    mismatches(r) ++ again
  }

  /** The untimed warm-up analysis. It replays the freshly built table, so a
    * record that disagrees with the generator aborts the run. */
  def warmUp(): Unit = {
    val r = HealthAnalyzer.analyzeTable(spark, m.path)
    val errors = mismatches(r)
    if (errors.nonEmpty) Fixture.fail(errors.mkString("; "))
    reference = Some(r.toString)
  }

  /** The calls `analyzeSnapshot` makes, one span each, in its order. */
  def phases(): Unit = tracer.filter(_ => tracing).foreach { t =>
    attempt("phases") {
      t.span("analyzer.phases") {
        val snap = t.span("deltalog.replay") {
          val s = DeltaLog.snapshot(spark, m.path)
          s.version; s.partitionColumns; s.tableSchema
          s
        }
        try {
          t.span("history.opcounts")(HistoryAnalyzer.opCounts(snap.history).first())
          t.span("skew.analyze") {
            if (snap.dataWithFile.isDefined)
              SkewAnalyzer.analyze(snap.data, snap.partitionColumns, thresholds.skewThreshold)
          }
          val folder = t.span("storage.list")(StorageAnalyzer.folderFiles(spark, m.path))
          t.span("storage.stats") {
            StorageAnalyzer.storageStats(folder, snap.activeFilePaths,
              thresholds.smallFileSizeMb.map(_ * 1024 * 1024)).first()
          }
          val n = t.span("deltalog.count")(snap.data.count())
          record(counts, "storage.files_listed", folder.count().toDouble)
          record(counts, "deltalog.active_rows", n.toDouble)
          expect("count", n, m.recordCount)
        } finally snap.unpersist()
      }
    }
  }

  private def commitMetric(version: Long, key: String): Long = {
    val log = Paths.get(m.path, "_delta_log", f"$version%020d.json")
    val text = new String(Files.readAllBytes(log), StandardCharsets.UTF_8)
    s""""$key":"(\\d+)"""".r.findFirstMatchIn(text).map(_.group(1).toLong).getOrElse(-1L)
  }

  private def removedPaths(version: Long): Set[String] = {
    val log = Paths.get(m.path, "_delta_log", f"$version%020d.json")
    val text = new String(Files.readAllBytes(log), StandardCharsets.UTF_8)
    """"remove":\{"path":"([^"]+)"""".r.findAllMatchIn(text).map(_.group(1)).toSet
  }

  /** Rows in the parquet files `rels`, read from their footers. */
  private def footerRows(rels: Seq[String]): Long = rels.map { rel =>
    val in = HadoopInputFile.fromPath(new Path(m.path, rel),
      spark.sparkContext.hadoopConfiguration)
    val reader = ParquetFileReader.open(in)
    try reader.getRecordCount finally reader.close()
  }.sum

  private def partOf(rel: String) =
    (Fixture.valueOf(rel, "p1"), Fixture.valueOf(rel, "p2"))

  /** New parquet files written by `body`, read from the filesystem. */
  private def newFiles(body: => Unit): Seq[String] = {
    val before = Fixture.listParquet(m.path).keySet
    body
    val after = Fixture.listParquet(m.path).keySet
    m.onDisk = after.size.toLong
    (after -- before).toSeq.sorted
  }

  def append(rows: Int): Unit = attempt("append") {
    val segs = m.newRows(rows)
    val df = Fixture.frame(spark, segs, seed)
    val added = newFiles(timed("append", "writer.append")(
      DeltaFixtureWriter.write(df, m.path, "append", Fixture.partitionBy)))
    m.version += 1; m.writes += 1
    m.rows = m.rows ++ segs
    added.foreach(rel => m.files(rel) = Some(segs.filter(_.part == partOf(rel))))
    expect("files appended", added.size, segs.map(_.part).distinct.size) ++
      expect("rows appended", footerRows(added), rows)
  }

  /** Deletes part of the newest append, so the rewrite stays small. */
  def delete(from: Long): Unit = attempt("delete") {
    val cut = m.nextCut(from)
    val touched = m.files.collect {
      case (rel, Some(segs)) if segs.exists(s => s.minus(cut).rows < s.rows) => rel
    }.toSet
    val survivors = touched.toSeq.flatMap(m.files(_).get).map(_.minus(cut).rows).sum
    val known = m.files.values.forall(_.isDefined)
    val added = newFiles(timed("delete", "writer.delete")(
      DeltaFixtureWriter.delete(spark, m.path, cut.predicate)))
    m.version += 1; m.deletes += 1
    m.rows = m.rows.map(_.minus(cut))
    val removed = removedPaths(m.version)
    removed.foreach(m.files.remove)
    added.foreach(rel => m.files(rel) = None)
    if (!known) Nil
    else if (removed != touched)
      Seq(s"delete removed ${removed.size} files, expected the ${touched.size} holding matches")
    else expect("rows rewritten by delete", footerRows(added), survivors)
  }

  def optimize(): Unit = attempt("optimize") {
    val byPart = m.files.keys.toSeq.groupBy(partOf)
    val compacted = byPart.filter(_._2.size >= 2)
    val compactedRows = m.rows.filter(s => compacted.contains(s.part)).map(_.rows).sum
    val added = newFiles(timed("optimize", "maintenance.optimize")(
      Maintenance.optimize(spark, m.path)))
    m.version += 1; m.optimizes += 1
    compacted.values.flatten.foreach(m.files.remove)
    added.foreach { rel =>
      m.files(rel) = Some(m.rows.filter(_.part == partOf(rel)))
    }
    record(counts, "maintenance.optimize_files_removed",
      commitMetric(m.version, "num_removed_files").toDouble)
    expect("files removed by optimize",
      commitMetric(m.version, "num_removed_files"), compacted.values.map(_.size).sum) ++
      expect("files added by optimize", added.size, compacted.size) ++
      expect("rows rewritten by optimize", footerRows(added), compactedRows) ++
      expect("active files after optimize", m.dataFiles, m.partitionCount)
  }

  def vacuum(): Unit = attempt("vacuum") {
    val listed = m.onDisk
    val deleted = timed("vacuum", "maintenance.vacuum")(
      Maintenance.vacuum(spark, m.path, retainMs = 0L)).count()
    m.version += 1
    m.onDisk = Fixture.listParquet(m.path).size.toLong
    record(counts, "maintenance.vacuum_files_listed", listed.toDouble)
    record(counts, "maintenance.vacuum_files_deleted", deleted.toDouble)
    expect("files deleted by vacuum", deleted, listed - m.dataFiles) ++
      expect("files on disk after vacuum", m.onDisk, m.dataFiles)
  }

  def checkpoint(): Unit = attempt("checkpoint") {
    val v = timed("checkpoint", "maintenance.checkpoint")(Maintenance.checkpoint(spark, m.path))
    val ckpt = Paths.get(m.path, "_delta_log", f"$v%020d.checkpoint.parquet")
    record(counts, "maintenance.checkpoint_bytes", Files.size(ckpt).toDouble)
    // replay from the new checkpoint and compare the live file set
    val snap = DeltaLog.snapshot(spark, m.path)
    val (version, active) =
      try (snap.version, snap.activeFiles.select("path").collect().map(_.getString(0)).toSet)
      finally snap.unpersist()
    expect("checkpoint version", v, m.version) ++
      expect("_last_checkpoint version",
        DeltaLog.lastCheckpointVersion(spark, m.path).getOrElse(-1L), v) ++
      expect("replayed version", version, m.version) ++
      (if (active == m.files.keySet) Nil
       else Seq(s"${active.size} active files replayed, ${m.files.size} expected"))
  }

  /** The maintenance cycle: appends, one predicate delete, optimize, vacuum
    * and checkpoint. Each step is checked from the files it wrote (parquet
    * footers, commit actions, the listing), and the last one by replaying
    * the log from the checkpoint it wrote. */
  def cycle(): Unit = {
    val from = m.nextId + (CycleAppends - 1) * CycleAppendRows
    (1 to CycleAppends).foreach(_ => append(CycleAppendRows))
    delete(from); optimize(); vacuum(); checkpoint()
  }
}

object HealthBench {
  val CycleAppends = 3
  val CycleAppendRows = 400
  val SetupRepeats = 2
  val MaintenanceOps = Seq("delete", "optimize", "vacuum", "checkpoint")
  val CycleOps = "append" +: MaintenanceOps
  val thresholds = Thresholds()

  /** Both workloads are read-only loops of `analyzeTable` on an unchanged
    * table, followed by one maintenance cycle on that table. */
  val workloads: Map[String, Shape] = Map(
    // the paper's workload: the two data scans dominate; dead files from
    // the deletes make the directory scan read more than the live rows
    "scan_heavy" -> Shape(baseRows = 40000, appends = 11, appendRows = 3500,
      deletesAfter = Set(4, 8), p1Values = 2, p2Values = 2, skew = 0.5),
    // a long log of small appends: listing the table's files and replaying
    // the log dominate, data is small
    "many_files" -> Shape(baseRows = 520, appends = 64, appendRows = 160,
      deletesAfter = Set.empty, p1Values = 2, p2Values = 2, skew = 0.8))

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Heap still occupied after a full collection. The first collection
    * lets Spark's context cleaner drop what the last call left behind
    * (broadcast and shuffle state held through weak references); the second
    * frees it. */
  private def liveHeapBytes(): Long = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  def main(args: Array[String]): Unit = {
    val code =
      try { run(args); 0 }
      catch { case NonFatal(e) => e.printStackTrace(); 1 }
    System.out.flush()
    sys.exit(code)
  }

  def run(args: Array[String]): Unit = {
    val Array(name, seedArg, secondsArg, traceArg, workDir, coresArg, traceOut) = args
    val shape = workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val seed = seedArg.toLong
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val cores = coresArg.toInt
    val tally = new Tally

    // set-up: session start, fixture generation and one untimed warm-up
    // analysis, repeated; the median is reported
    val setupTimes = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    var client: Client = null
    for (i <- 0 until SetupRepeats) {
      if (spark != null) spark.stop()
      val path = s"$workDir/table$i"
      val t0 = System.nanoTime()
      spark = GraftSession.local(cores, "healthbench")
      spark.sparkContext.setLogLevel("ERROR")
      val model = Fixture.build(spark, path, shape, seed)
      client = new Client(spark, model, seed, tally,
        if (trace) Some(new Tracer(spark)) else None)
      client.warmUp()
      setupTimes += (System.nanoTime() - t0) / 1e9
      if (i < SetupRepeats - 1) DeltaFixtureWriter.drop(path)
    }

    // timed run: one closed-loop caller repeating analyzeTable; a full
    // collection after each call (untimed) gives the live heap
    var gcMs = 0L
    var ops = 0L
    val heapLive = mutable.ArrayBuffer[Double]()
    val minOps = if (trace) 2 else 1
    val t0 = System.nanoTime()
    while (ops < minOps || (System.nanoTime() - t0) / 1e9 < seconds) {
      // the traced run alternates untraced and traced calls, so both
      // medians of tracing.overhead_frac come from the same stretch of time
      client.tracing = trace && ops % 2 == 1
      val gc0 = gcMillis()
      client.analyze("analyze", unchanged = true)
      client.phases()
      gcMs += gcMillis() - gc0
      heapLive += liveHeapBytes() / 1048576.0
      ops += 1
    }
    val loopEnd = System.nanoTime()
    val gcSeconds = gcMs / 1000.0
    // then one maintenance cycle on the same table
    client.tracing = trace
    client.cycle()
    client.tracing = false

    val work = (key: String) => client.work.getOrElse(key, Nil).toSeq
    val cycle = (counter: String) =>
      CycleOps.map(op => work(s"$op.$counter").sum).sum
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", median(setupTimes.toSeq), "s"),
        ("analyze_jobs", median(work("analyze.jobs")), "count"),
        ("analyze_rows_read", median(work("analyze.rows")), "count"),
        ("cycle_jobs", cycle("jobs"), "count"),
        ("cycle_rows_read", cycle("rows"), "count"),
        ("heap_live_mb", median(heapLive.toSeq), "MB"))
      else layerMetrics(client, client.tracer.get.finish(), loopEnd, gcSeconds, traceOut,
        median(setupTimes.toSeq))
    val failedFrac = tally.failed.toDouble / tally.attempted
    def fmt(xs: Iterable[Double]) = xs.map(x => f"$x%.3f").mkString("[", " ", "]")
    println(s"healthbench $name seed=$seed: " +
      metrics.map { case (k, v, u) => f"$k=$v%.4f $u" }.mkString(", ") +
      s"; setup ${fmt(setupTimes)}" +
      client.samples.map { case (op, xs) =>
        s"; $op n=${xs.size} wall ${fmt(xs)} jobs ${fmt(work(s"$op.jobs"))}" +
          s" rows ${fmt(work(s"$op.rows"))}"
      }.mkString +
      f"; failed_frac=$failedFrac%.4f (${tally.failed}/${tally.attempted})")
    tally.messages.foreach(msg => System.err.println(s"FAILED $msg"))
    val body = metrics.map { case (k, v, u) => s""""$k":{"value":$v,"unit":"$u"}""" }
    println(s"""{"correct":${tally.failed == 0},"attempted":${tally.attempted},""" +
      s""""failed":${tally.failed},"metrics":{${body.mkString(",")}}}""")
    spark.stop()
  }

  /** Per-layer metrics of a traced run, each the median over its spans. */
  def layerMetrics(c: Client, spans: Seq[Span], loopEnd: Long, gcSeconds: Double,
                   traceOut: String, setupWall: Double): Seq[(String, Double, String)] = {
    Files.write(Paths.get(traceOut),
      c.tracer.get.toJson(spans).getBytes(StandardCharsets.UTF_8))
    val inLoop = spans.filter(_.startNs < loopEnd)
    val cycleSpans = spans.filter(_.startNs >= loopEnd)
    def named(n: String, from: Seq[Span] = inLoop) = from.filter(_.name == n)
    def secs(n: String, from: Seq[Span] = inLoop) = median(named(n, from).map(_.seconds))
    def cnt(n: String, from: Seq[Span] = inLoop)(f: Counters => Long) =
      median(named(n, from).map(s => f(s.counters).toDouble))
    def fact(k: String) = median(c.counts.getOrElse(k, Nil).toSeq)
    val phases = named("analyzer.phases")
    val unattributed = named("analyzer.analyze").zip(phases).map { case (a, p) =>
      a.seconds - inLoop.filter(_.parent == p.id).map(_.seconds).sum
    }
    // write share of a maintenance cycle plus one analysis
    val writeTime = cycleSpans.map(_.seconds).sum
    val writeShare = writeTime / (writeTime + secs("analyzer.analyze"))
    val ratio = named("deltalog.count").map(_.counters.recordsRead.toDouble)
      .zip(c.counts.getOrElse("deltalog.active_rows", Nil)).map { case (read, live) => live / read }
    val wall = (op: String) => c.samples.getOrElse(op, Nil).toSeq
    Seq(
      ("wall.setup_s", setupWall, "s"),
      ("wall.analyze_p50_s", median(wall("analyze")), "s"),
      ("wall.ops_per_min", 60 * wall("analyze").size / wall("analyze").sum, "1/min"),
      ("wall.append_p50_s", median(wall("append.traced")), "s"),
      ("wall.maintenance_s", MaintenanceOps.map(op => wall(s"$op.traced").sum).sum, "s"),
      ("deltalog.replay_s", secs("deltalog.replay"), "s"),
      ("deltalog.replay_jobs", cnt("deltalog.replay")(_.jobs), "count"),
      ("deltalog.actions_read", cnt("deltalog.replay")(_.recordsRead), "count"),
      ("deltalog.count_s", secs("deltalog.count"), "s"),
      ("deltalog.count_rows_read", cnt("deltalog.count")(_.recordsRead), "count"),
      ("deltalog.scan_useful_ratio", median(ratio), "ratio"),
      ("history.opcounts_s", secs("history.opcounts"), "s"),
      ("history.jobs", cnt("history.opcounts")(_.jobs), "count"),
      ("skew.analyze_s", secs("skew.analyze"), "s"),
      ("skew.jobs", cnt("skew.analyze")(_.jobs), "count"),
      ("skew.rows_read", cnt("skew.analyze")(_.recordsRead), "count"),
      ("skew.bytes_read", cnt("skew.analyze")(_.bytesRead), "bytes"),
      ("skew.shuffle_bytes", cnt("skew.analyze")(_.shuffleBytes), "bytes"),
      ("storage.list_s", secs("storage.list"), "s"),
      ("storage.files_listed", fact("storage.files_listed"), "count"),
      ("storage.stats_s", secs("storage.stats"), "s"),
      ("storage.stats_jobs", cnt("storage.stats")(_.jobs), "count"),
      ("storage.stats_shuffle_bytes", cnt("storage.stats")(_.shuffleBytes), "bytes"),
      ("analyzer.jobs", cnt("analyzer.analyze")(_.jobs), "count"),
      ("analyzer.stages", cnt("analyzer.analyze")(_.stages), "count"),
      ("analyzer.tasks", cnt("analyzer.analyze")(_.tasks), "count"),
      ("analyzer.shuffle_bytes", cnt("analyzer.analyze")(_.shuffleBytes), "bytes"),
      ("analyzer.spill_bytes", cnt("analyzer.analyze")(_.spillBytes), "bytes"),
      ("analyzer.gc_s", cnt("analyzer.analyze")(_.gcMs) / 1000, "s"),
      ("analyzer.unattributed_s", median(unattributed), "s"),
      ("writer.append_jobs", cnt("writer.append", cycleSpans)(_.jobs), "count"),
      ("writer.append_bytes_written", cnt("writer.append", cycleSpans)(_.bytesWritten), "bytes"),
      ("writer.delete_s", secs("writer.delete", cycleSpans), "s"),
      ("writer.delete_jobs", cnt("writer.delete", cycleSpans)(_.jobs), "count"),
      ("writer.delete_rows_read", cnt("writer.delete", cycleSpans)(_.recordsRead), "count"),
      ("maintenance.optimize_s", secs("maintenance.optimize", cycleSpans), "s"),
      ("maintenance.optimize_jobs", cnt("maintenance.optimize", cycleSpans)(_.jobs), "count"),
      ("maintenance.optimize_files_removed", fact("maintenance.optimize_files_removed"), "count"),
      ("maintenance.optimize_bytes_written",
        cnt("maintenance.optimize", cycleSpans)(_.bytesWritten), "bytes"),
      ("maintenance.optimize_shuffle_bytes",
        cnt("maintenance.optimize", cycleSpans)(_.shuffleBytes), "bytes"),
      ("maintenance.vacuum_s", secs("maintenance.vacuum", cycleSpans), "s"),
      ("maintenance.vacuum_files_listed", fact("maintenance.vacuum_files_listed"), "count"),
      ("maintenance.vacuum_files_deleted", fact("maintenance.vacuum_files_deleted"), "count"),
      ("maintenance.checkpoint_s", secs("maintenance.checkpoint", cycleSpans), "s"),
      ("maintenance.checkpoint_jobs", cnt("maintenance.checkpoint", cycleSpans)(_.jobs), "count"),
      ("maintenance.checkpoint_bytes", fact("maintenance.checkpoint_bytes"), "bytes"),
      ("cycle.write_share", writeShare, "ratio"),
      ("session.gc_s", gcSeconds, "s"),
      ("tracing.overhead_frac",
        median(c.samples.getOrElse("analyze.traced", Nil).toSeq) /
          median(c.samples.getOrElse("analyze", Nil).toSeq) - 1, "ratio"))
  }
}
