package graft.deltalog

import java.io.FileNotFoundException

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.execution.datasources.{FileFormat, FilePartition, FileScanRDD, PartitionedFile}
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.immutable.SortedMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Minimal Delta transaction-log reader.
  *
  * The environment ships no delta-spark jar, so the engine implements its own
  * log layer: list `_delta_log` once on the driver, read the
  * `NNNNNNNNNNNNNNNNNNNN.json` commits it names (and the parts of one
  * checkpoint: the one `_last_checkpoint` points to, or else the newest
  * complete one listed) on the driver under an explicit action schema, and
  * fold their actions in version order into the snapshot.
  *
  * Consumes exactly the six log-derived facts the reference workload needs
  * (see /root/reference/src/delta_lake_health/health_analyzers/
  * delta_python_analyzer.py:20,115,167 and delta_spark_analyzer.py:116-118):
  * history entries, metadata partition columns, active file URIs, add-action
  * sizes, per-file row counts (`add.stats.numRecords`, Delta PROTOCOL.md
  * "Per-file Statistics"), and version numbers. The row counts make the
  * record count and partition skew a sum over the manifest, on the driver:
  * no data file is opened and no Spark job runs to count rows.
  *
  * Scale notes: a snapshot opens in one process, as Delta readers outside
  * Spark do: one driver read of the segment's files with Spark's own JSON
  * and parquet readers (no scan, no Spark job, nothing cached) and one
  * plain-Scala fold ([[Replay]]), which holds one entry per distinct path in
  * the segment, dead paths included; a checkpoint bounds it, since the
  * commits it covers can then be cleaned. The snapshot keeps the active
  * manifest plus one row per commit. Data reads go through a
  * [[ManifestFileIndex]] over the manifest, or a file scan of bins of its
  * files, so Spark never lists a directory of the table. Every file-set
  * decision (storage, orphans, OPTIMIZE selection and packing, RESTORE,
  * VACUUM candidates) is plain Scala over the manifest and the
  * [[dataFiles]] listing, keyed by the table-relative path both spell the
  * same way: removed or orphan files are never opened.
  */
object DeltaLog {

  /** Explicit schema for the union of actions we consume — explicit rather
    * than inferred so a log with only some action types still yields all
    * columns, deterministically. */
  val actionSchema: StructType = StructType(Seq(
    StructField("commitInfo", StructType(Seq(
      StructField("timestamp", LongType),
      StructField("operation", StringType),
      StructField("operationParameters", MapType(StringType, StringType)),
      StructField("operationMetrics", MapType(StringType, StringType))
    ))),
    StructField("metaData", StructType(Seq(
      StructField("id", StringType),
      StructField("name", StringType),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("createdTime", LongType)
    ))),
    StructField("add", StructType(Seq(
      StructField("path", StringType),
      StructField("size", LongType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("stats", StringType)
    ))),
    StructField("remove", StructType(Seq(
      StructField("path", StringType),
      StructField("deletionTimestamp", LongType),
      StructField("dataChange", BooleanType)
    ))),
    StructField("protocol", StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      StructField("readerFeatures", ArrayType(StringType)),
      StructField("writerFeatures", ArrayType(StringType))
    )))
  ))

  def logDir(tablePath: String): String = s"$tablePath/_delta_log"

  /** The one listing of the table's `_delta_log`: one `listStatus` on the
    * driver, its files by name. Every log file a read opens comes from it.
    * Fails when the table has no log directory. */
  private def listLog(spark: SparkSession, tablePath: String): Map[String, FileStatus] = {
    val dir = new Path(logDir(tablePath))
    val listed = try dir.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(dir)
    catch {
      case _: FileNotFoundException => throw new IllegalArgumentException(
        s"$tablePath is not a Delta table: no $dir directory " +
          "(for plain parquet, read it directly with spark.read.parquet)")
    }
    listed.filter(_.isFile).map(st => st.getPath.getName -> st).toMap
  }

  private val commitFile = """(\d{20})\.json""".r
  private val checkpointFile = """(\d{20})\.checkpoint(?:\.\d{10}\.(\d{10}))?\.parquet""".r

  /** The log segment a replay to `target` (the latest version when None)
    * reads, picked from the one listing before any file is read: the
    * retained `%020d.json` commits up to the target, the version parsed
    * from each name (`.crc` checksums, writers' temporary files and stray
    * JSON are not read), and the parts of one checkpoint at or below the
    * target. That checkpoint is the one `_last_checkpoint` names, when the
    * file parses and names a version at or below the target (a part missing
    * from the listing fails naming it); otherwise the newest complete one in
    * the listing (its single file, or all of its parts 1..n), as Delta
    * readers do (PROTOCOL.md, "Last Checkpoint File"). Fails, naming the
    * version, where the fold cannot replay (PROTOCOL.md, "Delta Log
    * Entries"): a target above the latest version does not exist, a target
    * below the oldest retained state (commit 0, or else the oldest
    * checkpoint) has expired, and the commits from the first retained one
    * (at most checkpoint + 1) up to the target must have no gap. */
  private def segment(spark: SparkSession, tablePath: String, target: Option[Long])
      : (SortedMap[Long, FileStatus], Option[(Long, Seq[FileStatus])]) = {
    val log = listLog(spark, tablePath)
    val commits = SortedMap.from(log.collect { case (commitFile(v), st) => v.toLong -> st })
    // the file names of the checkpoint at version v: one file, or parts 1..n
    def names(v: Long, n: Option[Long]): Iterator[String] = n match {
      case None => Iterator(f"$v%020d.checkpoint.parquet")
      case Some(n) =>
        Iterator.iterate(1L)(_ + 1).takeWhile(_ <= n).map(i => f"$v%020d.checkpoint.$i%010d.$n%010d.parquet")
    }
    // every checkpoint in the listing whose files are all listed
    val complete = SortedMap.from(log.keys.toSeq
      .collect { case checkpointFile(v, n) => (v.toLong, Option(n).map(_.toLong)) }.distinct
      .collect { case (v, n) if n.forall(_ > 0) && names(v, n).forall(log.contains) =>
        v -> names(v, n).map(log).toSeq
      })
    val named = lastCheckpoint(spark, log)
    val oldest = if (commits.contains(0L)) Some(0L) else (complete.keys ++ named.map(_._1)).minOption
    target.filter(t => oldest.exists(t < _)).foreach { t =>
      throw new IllegalArgumentException(s"$tablePath: version $t has expired: the log retains " +
        s"no commit 0 and no checkpoint at or below it (its oldest state is version ${oldest.get})")
    }
    val latest = (commits.keys ++ complete.keys ++ named.map(_._1)).maxOption.getOrElse(-1L)
    target.filter(_ > latest).foreach { t =>
      throw new IllegalArgumentException(s"$tablePath: version $t does not exist: the latest version is $latest")
    }
    val version = target.getOrElse(latest)
    val base = named.filter(_._1 <= version) match {
      case Some((v, n)) => Some(v -> names(v, n).map(name => log.getOrElse(name, throw new FileNotFoundException(
        s"_last_checkpoint names version $v, but its checkpoint file " +
          s"${new Path(logDir(tablePath), name)} is missing"))).toSeq)
      case None => complete.rangeTo(version).lastOption
    }
    val kept = commits.rangeTo(version)
    val from = base.fold(0L)(_._1 + 1)
    kept.keys.headOption.fold(from)(math.min(_, from)).to(version).find(!kept.contains(_)).foreach { v =>
      throw new IllegalStateException(s"$tablePath cannot be replayed to version $version: " +
        s"commit $v (${new Path(logDir(tablePath), f"$v%020d.json")}) is missing" +
        base.fold(" and no checkpoint precedes it")(c => s" (the checkpoint is at version ${c._1})"))
    }
    (kept, base)
  }

  /** A reader of whole log files in `format` under [[actionSchema]]:
    * Spark's own reader, called on the driver, so no Spark job runs; it is
    * given a copy of the Hadoop configuration, which it edits. Fields and
    * actions the schema lacks read as null, and those it does not name are
    * not read, so a foreign writer's checkpoint needs no footer inference. */
  private def reader(spark: SparkSession, format: FileFormat): FileStatus => Iterator[Row] = {
    val read = fileReader(spark, format, actionSchema, new StructType())
    val toRow = CatalystTypeConverters.createToScalaConverter(actionSchema)
    st => read(wholeFile(st, InternalRow.empty)).map(toRow(_).asInstanceOf[Row])
  }

  /** Spark's own reader of files in `format`: each row holds the
    * `dataSchema` columns, then the file's values of `partitionSchema`. It
    * pushes no filter and returns rows, not column batches, and is given a
    * copy of the Hadoop configuration, which it edits. Serializable, so
    * tasks can run it too ([[DeltaSnapshot.scanBins]]). */
  private[deltalog] def fileReader(spark: SparkSession, format: FileFormat, dataSchema: StructType,
                                   partitionSchema: StructType): PartitionedFile => Iterator[InternalRow] =
    format.buildReaderWithPartitionValues(spark, dataSchema, partitionSchema, dataSchema, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), new Configuration(spark.sparkContext.hadoopConfiguration))

  /** The whole file `st` as one read split, with partition `values`. */
  private[deltalog] def wholeFile(st: FileStatus, values: InternalRow): PartitionedFile =
    PartitionedFile(values, SparkPath.fromPath(st.getPath), 0L, st.getLen, Array.empty,
      st.getModificationTime, st.getLen)

  /** An active file: path, size, partitionValues, modificationTime, stats. */
  private[deltalog] val fileSchema: StructType = StructType(StructField("path", StringType) +:
    Seq("size", "partitionValues", "modificationTime", "stats")
      .map(actionSchema("add").dataType.asInstanceOf[StructType](_)))

  /** A commit: version, commitInfo, metaData, protocol (null if none). */
  private[deltalog] val commitSchema: StructType = StructType(StructField("version", LongType) +:
    Seq("commitInfo", "metaData", "protocol").map(actionSchema(_)))

  /** Replays the log to `target` (the latest version when None) on the
    * driver: reads the [[segment]]'s files once, in version order with the
    * checkpoint after the commits up to its version, and folds every action
    * into a [[Replay]]; `commit` also sees each JSON commit's actions. Fails
    * fast when the table's protocol needs a reader this one is not: reader
    * version 2 is column mapping and version 3 lists reader features such
    * as deletion vectors and v2 checkpoints (Delta PROTOCOL.md, "Protocol
    * Evolution"). Any of them replays to a plausible but wrong record:
    * deleted rows still counted, renamed columns resolved by their physical
    * names. */
  private def replay(spark: SparkSession, tablePath: String, target: Option[Long],
                     commit: (Long, Row) => Unit = (_, _) => ()): (DeltaSnapshot, Replay) = {
    val (commits, checkpoint) = segment(spark, tablePath, target)
    val fold = new Replay
    lazy val json = reader(spark, new JsonFileFormat)
    lazy val parquet = reader(spark, new ParquetFileFormat)
    (commits.toSeq.map { case (v, st) => (v, false, st) } ++
      checkpoint.toSeq.flatMap { case (v, parts) => parts.map((v, true, _)) })
      .sortBy(f => (f._1, f._2)).foreach { case (v, isCheckpoint, st) =>
        if (isCheckpoint) parquet(st).foreach(fold(v, _))
        else json(st).foreach { a => fold(v, a); commit(v, a) }
      }
    val snap = new DeltaSnapshot(spark, tablePath, fold.manifest, fold.commits)
    val (readerVersion, features) = snap.readerProtocol
    if (readerVersion > 1) {
      val named = if (features.nonEmpty) features else Seq("columnMapping")
      throw new UnsupportedOperationException(
        s"$tablePath needs Delta reader version $readerVersion with reader " +
          s"feature(s) ${named.mkString(", ")}; only reader version 1 " +
          "tables (no deletion vectors, column mapping or v2 checkpoints) " +
          "can be analyzed")
    }
    (snap, fold)
  }

  /** Version recorded in `_last_checkpoint`, if any. */
  def lastCheckpointVersion(spark: SparkSession, tablePath: String): Option[Long] =
    lastCheckpoint(spark, listLog(spark, tablePath)).map(_._1)

  /** (version, parts) recorded in the listed `log`'s `_last_checkpoint`,
    * if it parses as JSON with an integral `version` (and a positive
    * `parts`, if any); `parts` is set only for a multi-part checkpoint. */
  private def lastCheckpoint(spark: SparkSession,
                             log: Map[String, FileStatus]): Option[(Long, Option[Long])] =
    log.get("_last_checkpoint").flatMap { st =>
      val in = st.getPath.getFileSystem(spark.sparkContext.hadoopConfiguration).open(st.getPath)
      val content = try scala.io.Source.fromInputStream(in).mkString finally in.close()
      scala.util.Try(jsonMapper.readTree(content)).toOption.flatMap(Option(_)).flatMap { json =>
        def field(name: String) = Option(json.get(name)).filter(_.isIntegralNumber).map(_.asLong)
        field("version").map(v => (v, field("parts")))
      }.filter(_._2.forall(_ > 0))
    }

  /** Change Data Feed between two versions — row-level changes with
    * `_change_type` ('insert' / 'delete') and `_commit_version`, computed
    * from the log's add/remove actions (Delta's `table_changes` semantics
    * for copy-on-write tables without materialized CDC files: an update
    * surfaces as delete + insert). The window is `(fromVersion,
    * toVersion]`: the snapshot at `fromVersion` is the baseline, so changes
    * start at fromVersion+1. Delta's readChangeFeed `startingVersion` is
    * inclusive; its window starting at v is this one from v-1.
    *
    * How: the window's add and remove actions come from the latest
    * snapshot's one read of the log, as a local (`__file`, version, sign)
    * frame; one scan of exactly the files they name (the snapshot's
    * [[DeltaSnapshot.scan]]) is joined on `__file` against it. A rewriting
    * commit (DELETE, OPTIMIZE, MERGE) both removes and re-adds the surviving
    * rows, so the net change per row is the ADD multiplicity minus the
    * REMOVE multiplicity within the commit: one hash aggregate over (row,
    * version) computes it, and `sequence`-explode re-emits |net| copies —
    * no per-version driver loop, no exceptAll cascade, one shuffle keyed by
    * the changed rows themselves. Compaction commits net to zero everywhere
    * and correctly vanish from the feed.
    *
    * Requires the window's removed files to still exist on disk (VACUUM
    * destroys pre-vacuum change history — the same constraint real Delta
    * CDF has when CDC files were never materialized), and the window's
    * JSON commits to still be retained: per-commit deltas come from them,
    * NEVER the checkpoint (whose rows aggregate table STATE at its version —
    * treating them as changes would replay the whole active set as
    * inserts). A window reaching below the retained log fails fast rather
    * than returning a silently incomplete feed. */
  def changes(spark: SparkSession, tablePath: String,
              fromVersion: Long, toVersion: Long): DataFrame = {
    import spark.implicits._
    require(fromVersion <= toVersion,
      s"bad change window ($fromVersion, $toVersion]")
    val present = mutable.Set.empty[Long]
    val window = Seq.newBuilder[Row]
    val (snap, fold) = replay(spark, tablePath, None, (v, a) =>
      if (v > fromVersion && v <= toVersion) {
        present += v
        Seq("add" -> 1L, "remove" -> -1L).foreach { case (action, sign) =>
          Option(a.getAs[Row](action)).flatMap(r => Option(r.getString(0)))
            .foreach(path => window += Row(path, v, sign))
        }
      })
    require(toVersion <= snap.version,
      s"change window ($fromVersion, $toVersion] exceeds current " +
        s"version ${snap.version}")
    val missing = ((fromVersion + 1) to toVersion).filterNot(present)
    require(missing.isEmpty,
      s"change window ($fromVersion, $toVersion] reaches below the " +
        s"retained JSON log: commit(s) ${missing.mkString(", ")} expired " +
        "(cleaned after a checkpoint) — per-commit changes are " +
        "unrecoverable from a state checkpoint")
    if (snap.tableSchema.isEmpty) throw new IllegalStateException(
      s"$tablePath: no schemaString in log; CDF needs a schema authority")
    val actions = window.result()
    val manifest = spark.createDataFrame(actions.asJava, StructType(Seq(
      StructField("__file", StringType), StructField("version", LongType),
      StructField("__sign", LongType, nullable = false))))
    // fail fast if VACUUM already reclaimed a window file: its changes
    // are gone, and the feed must not come back incomplete
    val files = actions.map(_.getString(0)).distinct
    val gone = (files.toSet -- dataFiles(spark, snap.qualifiedTablePath).keySet).toSeq.sorted
    require(gone.isEmpty,
      s"change window ($fromVersion, $toVersion] references data file(s) " +
        s"no longer on disk (vacuumed?), e.g. ${gone.take(3).mkString(", ")}")
    // a file removed in the window may have its add only in the checkpoint
    val rows = snap.scan(files.flatMap(fold.lastAdd))
    val dataAndPartCols = rows.columns.filterNot(_ == "__file").map(col).toSeq
    val changed = rows.join(manifest, Seq("__file"))
      .select(dataAndPartCols :+ $"version" :+ $"__sign": _*)
    val keyCols = changed.columns.filterNot(_ == "__sign").map(col).toSeq
    changed
      .groupBy(keyCols: _*)
      .agg(sum($"__sign").as("__net"))
      .where($"__net" =!= 0L)
      .withColumn("_change_type",
        when($"__net" > 0L, "insert").otherwise("delete"))
      .withColumn("__dup", explode(sequence(lit(1L), abs($"__net"))))
      .drop("__net", "__dup")
      .withColumnRenamed("version", "_commit_version")
  }

  /** S6: every `*.parquet` file under the table root, `_delta_log`
    * excluded, as (table-relative path, size) — the engine's one data-file
    * listing (delta_python_analyzer.py:90-107). One recursive `listStatus`
    * walk on the driver: a listing is metadata-sized, and unlike
    * `listFiles(recursive)` it fetches no block locations per file. Relative
    * paths are spelled as on disk (directory names as Spark escaped them),
    * which is how `add.path` spells them. */
  def dataFiles(spark: SparkSession, tablePath: String): Map[String, Long] = {
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = Map.newBuilder[String, Long]
    def walk(dir: Path, prefix: String): Unit =
      fs.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) {
          if (name != "_delta_log") walk(st.getPath, s"$prefix$name/")
        } else if (name.endsWith(".parquet")) out += (prefix + name) -> st.getLen
      }
    if (fs.exists(root)) walk(root, "")
    out.result()
  }

  /** Row count of the parquet file at `rel` (an `add.path`, relative to the
    * table root `root`), from its footer, read on the driver: no Spark job
    * and no task input rows. The read options come from `conf`: the
    * no-argument `open` builds a fresh Hadoop `Configuration` per file,
    * which costs more than the footer read itself. */
  private[graft] def footerRecordCount(conf: Configuration, root: Path, rel: String): Long = {
    val file = new Path(root, new Path(null, null, rel))
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
      HadoopReadOptions.builder(conf, file).build())
    try reader.getRecordCount finally reader.close()
  }

  private val jsonMapper = new ObjectMapper()

  /** The top-level `numRecords` of an `add.stats` JSON string; None for
    * null, empty (legacy `"stats":""`) or unparsable stats, or stats
    * without it. */
  private[graft] def statsNumRecords(stats: String): Option[Long] =
    Option(stats).filter(_.nonEmpty)
      .flatMap(s => scala.util.Try(jsonMapper.readTree(s)).toOption)
      .flatMap(j => Option(j.get("numRecords")))
      .filter(_.canConvertToLong).map(_.asLong)

  /** True if `path` looks like a Delta table (has a `_delta_log` dir). */
  def isDeltaTable(spark: SparkSession, tablePath: String): Boolean = {
    val p = new Path(logDir(tablePath))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The table at its latest version. A path without a `_delta_log`
    * directory fails, saying it is not a Delta table. */
  def snapshot(spark: SparkSession, tablePath: String): DeltaSnapshot =
    replay(spark, tablePath, None)._1

  /** Time travel: snapshot as of `version` (inclusive), replayed from the
    * newest retained state at or below it. A version below the oldest
    * state the log retains fails, saying it has expired; fails as
    * [[snapshot]] does on a path that is not a Delta table. */
  def snapshotAt(spark: SparkSession, tablePath: String, version: Long): DeltaSnapshot =
    replay(spark, tablePath, Some(version))._1

  /** Fully-qualified form of `tablePath` on its filesystem (absolute, with
    * scheme) — relative paths are resolved against the FS working
    * directory. */
  def qualifiedPath(spark: SparkSession, tablePath: String): String = {
    val p = new Path(tablePath)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p).toString
  }
}

/** The in-order fold that replays a log segment on the driver, one action
  * at a time (Delta PROTOCOL.md, "Action Reconciliation"). Actions arrive
  * in version order, so a later one replaces an earlier one: per path the
  * latest add and the versions of it and of the latest remove, per version
  * the latest commitInfo, metaData and protocol. A path is active when its
  * latest add is at a version above its latest remove. Holds one entry per
  * distinct path in the segment, dead paths included. */
private[deltalog] final class Replay {
  import DeltaLog.{commitSchema, fileSchema}

  // path -> (version of the latest add, that add, version of the latest
  // remove); a missing add is null at version -1, a missing remove -1
  private val paths = mutable.HashMap.empty[String, (Long, Row, Long)]
  private val versions = mutable.TreeMap.empty[Long, Array[Any]]

  def apply(version: Long, action: Row): Unit = {
    val commit = versions.getOrElseUpdate(version, Array[Any](version, null, null, null))
    (1 until commitSchema.size).foreach { i =>
      Option(action.getAs[Row](commitSchema(i).name)).foreach(commit(i) = _)
    }
    def path(name: String) = Option(action.getAs[Row](name)).filter(!_.isNullAt(0)).map(_.getString(0))
    path("add").foreach(p => paths(p) = (version, action.getAs[Row]("add"), paths.get(p).fold(-1L)(_._3)))
    path("remove").foreach(p => paths(p) = paths.getOrElse(p, (-1L, null, -1L)).copy(_3 = version))
  }

  /** The latest add of `path`, active or not. */
  def lastAdd(path: String): Option[Row] = paths.get(path).flatMap(p => Option(p._2))

  /** The active files as [[DeltaLog.fileSchema]] rows, sorted by path. */
  def manifest: Array[Row] = paths.iterator.collect {
    case (path, (added, add, removed)) if added > removed =>
      new GenericRowWithSchema(path +: fileSchema.fieldNames.tail.map(add.getAs[Any]), fileSchema): Row
  }.toArray.sortBy(_.getString(0))

  /** One [[DeltaLog.commitSchema]] row per version read, in version order. */
  def commits: Array[Row] = versions.valuesIterator.map(new GenericRowWithSchema(_, commitSchema): Row).toArray
}

/** Replayed view of a Delta table at one version: the latest
  * ([[DeltaLog.snapshot]]) or an earlier one ([[DeltaLog.snapshotAt]]).
  *
  * Built by one fold over the log ([[Replay]]), it holds on the driver the
  * active-file `manifest` ([[DeltaLog.fileSchema]] rows sorted by path; the
  * `stats` JSON's `numRecords` feeds [[partitionCounts]]) and one commit
  * row per version ([[DeltaLog.commitSchema]]), in version order. A scan
  * names its files on the driver, from the manifest. Every
  * other fact is plain Scala over those rows: [[version]], the [[latest]]
  * metaData and protocol ([[tableSchema]], [[partitionColumns]], the reader
  * protocol), [[history]] and [[partitionCounts]]. Every data read is one
  * parquet scan of exactly the manifest's files: through [[scan]], the one
  * filtered read (DELETE's pushdown and row-group skipping), or, for a
  * rewrite of whole files, through [[scanBins]], one task per bin.
  */
final class DeltaSnapshot private[deltalog] (val spark: SparkSession, val tablePath: String,
                                             private[graft] val manifest: Array[Row],
                                             commits: Array[Row]) {
  import spark.implicits._

  private val historySchema: StructType = StructType(DeltaLog.commitSchema("version") +:
    DeltaLog.commitSchema("commitInfo").dataType.asInstanceOf[StructType].fields)

  /** History rows, held on the driver in version order: the commits that
    * carry a commitInfo, as version, timestamp (epoch millis), operation,
    * operationParameters, operationMetrics. */
  private[graft] lazy val historyRows: Array[Row] = commits.filter(!_.isNullAt(1))
    .map(c => new GenericRowWithSchema((c.get(0) +: c.getStruct(1).toSeq).toArray, historySchema))

  /** [[historyRows]] as a local frame. Mirrors `dt.history()` /
    * `DESCRIBE HISTORY` (delta_python_analyzer.py:167,
    * delta_spark_analyzer.py:118): one row per commit, metadata-sized as
    * `DESCRIBE HISTORY`'s output is, so it is held on the driver. */
  lazy val history: DataFrame = spark.createDataFrame(historyRows.toSeq.asJava, historySchema)

  /** The latest `action` ("metaData" or "protocol") in the log, if any:
    * the one carried by the highest commit version that has one. */
  private[graft] def latest(action: String): Option[Row] =
    commits.reverseIterator.map(_.getAs[Row](action)).find(_ != null)

  private def latestField[T](action: String, field: String): Option[T] =
    latest(action).flatMap(r => Option(r.getAs[T](field)))

  /** max commit version — the reference's `version_count` is max(version),
    * 0-based, NOT len(history) (delta_python_analyzer.py:189). */
  lazy val version: Long = commits.lastOption.fold(0L)(_.getLong(0))

  /** Authoritative table schema from the latest metaData action's
    * `schemaString` (the Delta protocol's schema authority — the FULL
    * schema, partition columns included). None when the log predates schema
    * emission (legacy fixtures wrote the stub "{}") or the string does not
    * parse as a StructType. */
  lazy val tableSchema: Option[StructType] =
    latestField[String]("metaData", "schemaString").flatMap { s =>
      scala.util.Try(DataType.fromJson(s)).toOption.collect {
        case st: StructType if st.fields.nonEmpty => st
      }
    }

  /** Partition columns from the latest metaData action. */
  lazy val partitionColumns: Seq[String] =
    latestField[collection.Seq[String]]("metaData", "partitionColumns")
      .map(_.toList).getOrElse(Nil)

  /** (minReaderVersion, readerFeatures) of the latest protocol action;
    * reader version 1 when the log carries none. */
  private[deltalog] def readerProtocol: (Int, Seq[String]) =
    (latestField[Int]("protocol", "minReaderVersion").getOrElse(1),
      latestField[collection.Seq[String]]("protocol", "readerFeatures")
        .map(_.toSeq).getOrElse(Seq.empty))

  /** [[manifest]] as a local frame. */
  lazy val activeFiles: DataFrame = spark.createDataFrame(manifest.toSeq.asJava, DeltaLog.fileSchema)

  /** Active table-relative path → size, from [[manifest]]. */
  private[graft] lazy val activeSizes: Map[String, Long] =
    manifest.map(f => f.getString(0) -> f.getLong(1)).toMap

  /** Per-partition record counts from the log alone, held on the driver:
    * partition-value tuple (in [[partitionColumns]] order, null for a
    * missing value) → rows, the numbers
    * [[graft.operators.SkewAnalyzer.partitionCounts]] counts over [[data]].
    * Each active file counts its [[numRecords]]; no data row is read and
    * no Spark job runs. Partitions whose sum is 0 are dropped, as a
    * data-scan `groupBy` never emits them; an unpartitioned table is at
    * most one entry, keyed by the empty tuple. */
  lazy val partitionCounts: Map[Seq[String], Long] =
    manifest.toSeq.map(f => partitionValues(f) -> numRecords(f))
      .groupMapReduce(_._1)(_._2)(_ + _).filter(_._2 > 0)

  /** The log's row count of the active file `f` (a [[manifest]] row): its
    * `add.stats.numRecords`, else (legacy `"stats":""` logs, foreign
    * checkpoints) its parquet footer row count, read on the driver. */
  private[graft] def numRecords(f: Row): Long =
    DeltaLog.statsNumRecords(f.getAs[String]("stats"))
      .getOrElse(DeltaLog.footerRecordCount(spark.sparkContext.hadoopConfiguration,
        new Path(qualifiedTablePath), f.getString(0)))

  /** Fully-qualified table root (scheme + absolute path). */
  lazy val qualifiedTablePath: String = DeltaLog.qualifiedPath(spark, tablePath)

  /** (path, size) of the active data files, paths fully qualified under
    * [[qualifiedTablePath]] — the spelling of
    * [[graft.operators.StorageAnalyzer.folderFiles]]. */
  lazy val activeFilePaths: DataFrame =
    activeFiles.select(
      concat(lit(qualifiedTablePath.stripSuffix("/") + "/"), $"path").as("path"),
      $"size")

  /** Read the table's active rows, partition columns included. */
  lazy val data: DataFrame = dataWithFile match {
    case Some(df) => df.drop("__file")
    case None => spark.emptyDataFrame
  }

  /** Active rows + a `__file` column (the file's table-relative path, as
    * `add.path` spells it; not the basename, which a Spark write job reuses
    * in every partition directory) — used by file-targeted rewrites (DELETE).
    * None when no file is active. */
  lazy val dataWithFile: Option[DataFrame] =
    if (manifest.isEmpty) None else Some(scan(manifest.toSeq))

  /** [[dataWithFile]] restricted to the active files at the table-relative
    * `paths` (file-targeted rewrites: DELETE and MERGE survivors); no other
    * file is opened. */
  def dataWithFileIn(paths: Seq[String]): DataFrame = {
    val keep = paths.toSet
    scan(manifest.toSeq.filter(f => keep(f.getString(0))))
  }

  /** The one read path: one parquet scan of exactly `files` (rows with
    * [[activeFiles]]' columns) through a [[ManifestFileIndex]]. Columns:
    * the data columns, `__file`, then the partition columns as strings;
    * partition values come from the log, since Delta physical files do not
    * contain them, and a filter on `__file` or a partition column prunes
    * whole files. The read schema is the latest `metaData.schemaString`
    * without its partition columns, so a column added by a later append
    * reads as null from older files. */
  private[deltalog] def scan(files: Seq[Row]): DataFrame = {
    val values = StructType(("__file" +: partitionColumns).map(StructField(_, StringType)))
    new ManifestFileIndex(new Path(qualifiedTablePath), values, files.map { f =>
      status(f) -> (f.getString(0) +: partitionValues(f))
    }).read(spark, activeSchema)
  }

  /** The read of whole files for a rewrite (OPTIMIZE): each of `bins`
    * (rows with [[activeFiles]]' columns) is one read partition, whose task
    * reads its files in order. A `FileScanRDD` under Spark's parquet
    * reader, the one [[DeltaLog.reader]] also uses, so nothing is listed
    * and no exchange is planned. Columns: those of [[scan]] without
    * `__file`. No filter is pushed and no row group is skipped; a filtered
    * read goes through [[scan]]. */
  private[graft] def scanBins(bins: Seq[Seq[Row]]): DataFrame = {
    val dataSchema = GraftSqlBridge.asNullable(activeSchema)
    val values = StructType(partitionColumns.map(StructField(_, StringType)))
    val read = DeltaLog.fileReader(spark, new ParquetFileFormat, dataSchema, values)
    val partitions = bins.zipWithIndex.map { case (files, i) =>
      FilePartition(i, files.map { f =>
        DeltaLog.wholeFile(status(f), InternalRow.fromSeq(partitionValues(f).map(UTF8String.fromString)))
      }.toArray)
    }
    val schema = StructType(dataSchema.fields ++ values.fields)
    GraftSqlBridge.internalCreateDataFrame(spark, new FileScanRDD(spark, read, partitions, schema), schema)
  }

  /** The file of the [[manifest]] row `f`, under [[qualifiedTablePath]]. */
  private def status(f: Row): FileStatus =
    new FileStatus(f.getAs[Long]("size"), false, 0, 0, f.getAs[Long]("modificationTime"),
      new Path(new Path(qualifiedTablePath), new Path(null, null, f.getString(0))))

  /** The values of [[partitionColumns]] of the [[manifest]] row `f`, null
    * where the log has none. */
  private def partitionValues(f: Row): Seq[String] = {
    val pv = Option(f.getAs[collection.Map[String, String]]("partitionValues"))
      .getOrElse(Map.empty[String, String])
    partitionColumns.map(pv.getOrElse(_, null))
  }

  // a log that predates schema emission reads with the footer schema of
  // one active file, picked deterministically (min path)
  private lazy val activeSchema: StructType = tableSchema match {
    case Some(full) =>
      StructType(full.fields.filterNot(f => partitionColumns.contains(f.name)))
    case None =>
      val first = manifest.map(_.getString(0)).min
      spark.read.parquet(new Path(new Path(qualifiedTablePath), new Path(null, null, first)).toString).schema
  }

  /** A no-op: a snapshot caches nothing. Kept for callers written when it
    * released a cache. */
  def unpersist(): Unit = ()
}
