package graft.deltalog

import java.io.FileNotFoundException

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.execution.datasources.FileFormat
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Minimal Delta transaction-log reader.
  *
  * The environment ships no delta-spark jar, so the engine implements its own
  * log layer: list `_delta_log` once on the driver, read the
  * `NNNNNNNNNNNNNNNNNNNN.json` commits it names (and the checkpoint parts
  * `_last_checkpoint` points to) under an explicit action schema, and
  * replay add/remove actions to reconstruct the active-file snapshot.
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
  * Scale notes: a snapshot opens with one scan of the log and one
  * `groupingSets` aggregate over it — grouped by file path it replays
  * add/remove into the active manifest, grouped by commit version it yields
  * the version, the latest metaData and protocol and the history — so the
  * aggregation parallelizes over executors for logs with millions of
  * actions, and nothing is cached. Its result, the active manifest plus one
  * row per commit, is collected to the driver (as Delta's own readers do),
  * in two Spark jobs. Log and data reads both go through a
  * [[ManifestFileIndex]], over the log listing and over the manifest, so
  * Spark never lists a directory of the table. Every file-set decision
  * (storage, orphans, OPTIMIZE selection, RESTORE, VACUUM candidates) is
  * plain Scala over the manifest and the [[dataFiles]] listing, keyed by
  * the table-relative path both spell the same way: removed or orphan
  * files are never opened.
  * Checkpoint parquet files ARE supported: `readActions` consults
  * `_last_checkpoint`, reads the checkpoint parquet under `actionSchema`,
  * and unions it with ALL surviving JSON commits — safe because replay is
  * per-path last-add-wins, so checkpoint STATE rows and post-checkpoint
  * deltas reconcile in one aggregation. Consumers that need per-commit
  * CHANGES (CDF) must use `readJsonActions` instead: checkpoint rows are
  * cumulative state, not deltas.
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
      StructField("readerFeatures", ArrayType(StringType))
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

  /** The actions of the listed `files`, each tagged with its version, in
    * one scan through a [[ManifestFileIndex]]: Spark opens exactly these. */
  private def actionsOf(spark: SparkSession, tablePath: String,
                        files: Seq[(FileStatus, Long)], format: FileFormat): DataFrame =
    new ManifestFileIndex(new Path(logDir(tablePath)), StructType(Seq(StructField("version", LongType))),
      files.map { case (st, v) => st -> Seq(v) }).read(spark, actionSchema, format)

  /** The `%020d.json` commits of the listed `log`, the version parsed from
    * each name on the driver: `.crc` checksums, writers' temporary files and
    * stray JSON are not read. */
  private def jsonActions(spark: SparkSession, tablePath: String,
                          log: Map[String, FileStatus]): DataFrame =
    actionsOf(spark, tablePath,
      log.toSeq.collect { case (commitFile(v), st) => st -> v.toLong }, new JsonFileFormat)

  /** The surviving JSON commits ONLY — per-commit action rows, tagged with
    * the commit version. Unlike [[readActions]] this is NOT
    * checkpoint-aware: a checkpoint's rows aggregate the table STATE at its
    * version, not the commit's changes, so consumers that need per-commit
    * deltas (CDF) must read from here and fail when the window's JSONs have
    * been cleaned. A log without JSON commits is an empty frame. */
  def readJsonActions(spark: SparkSession, tablePath: String): DataFrame =
    jsonActions(spark, tablePath, listLog(spark, tablePath))

  /** All actions across all commits, one row per JSON line, tagged with the
    * commit version (`%020d.json`), from one listing of `_delta_log`. The
    * frame is not cached: its lines are read each time a query over it
    * runs; a filter on `version` skips whole files.
    *
    * Checkpoint-aware: if `_last_checkpoint` exists, the parquet checkpoint
    * at version N stands in for all commits <= N (its rows are treated as
    * actions at version N) and is unioned with ALL surviving JSON commits —
    * replay is per-path last-add-wins, so pre-checkpoint JSONs coexist
    * harmlessly while they keep history/time-travel working, and replay
    * stays correct after expired JSON commits are cleaned. The checkpoint
    * is read under [[actionSchema]]: fields and actions it lacks read as
    * null and those it adds (`txn`, `add.tags`, `metaData.configuration`,
    * ...) are not read, so a foreign writer's checkpoint needs no footer
    * inference. A multi-part checkpoint (`"parts": n` in
    * `_last_checkpoint`) is read as its n
    * `%020d.checkpoint.%010d.%010d.parquet` files in one scan; a
    * checkpoint file missing from the listing fails naming it. */
  def readActions(spark: SparkSession, tablePath: String): DataFrame = {
    val log = listLog(spark, tablePath)
    val json = jsonActions(spark, tablePath, log)
    lastCheckpoint(spark, log) match {
      case None => json
      case Some((ckptV, parts)) =>
        val names = parts match {
          case None => Seq(f"$ckptV%020d.checkpoint.parquet")
          case Some(n) => (1 to n).map(i => f"$ckptV%020d.checkpoint.$i%010d.$n%010d.parquet")
        }
        val files = names.map(name => log.getOrElse(name, throw new FileNotFoundException(
          s"_last_checkpoint names version $ckptV, but its checkpoint file " +
            s"${new Path(logDir(tablePath), name)} is missing")))
        actionsOf(spark, tablePath, files.map(_ -> ckptV), new ParquetFileFormat).unionByName(json)
    }
  }

  /** Version recorded in `_last_checkpoint`, if any. */
  def lastCheckpointVersion(spark: SparkSession, tablePath: String): Option[Long] =
    lastCheckpoint(spark, listLog(spark, tablePath)).map(_._1)

  /** (version, parts) recorded in the listed `log`'s `_last_checkpoint`, if
    * any; `parts` is set only for a multi-part checkpoint. */
  private def lastCheckpoint(spark: SparkSession,
                             log: Map[String, FileStatus]): Option[(Long, Option[Int])] =
    log.get("_last_checkpoint").flatMap { st =>
      val in = st.getPath.getFileSystem(spark.sparkContext.hadoopConfiguration).open(st.getPath)
      val content = try scala.io.Source.fromInputStream(in).mkString finally in.close()
      def field(name: String) =
        s"\"$name\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(content).map(_.group(1))
      field("version").map(v => (v.toLong, field("parts").map(_.toInt)))
    }

  /** Change Data Feed between two versions — row-level changes with
    * `_change_type` ('insert' / 'delete') and `_commit_version`, computed
    * from the log's add/remove actions (Delta's `table_changes` semantics
    * for copy-on-write tables without materialized CDC files: an update
    * surfaces as delete + insert). `(fromVersion, toVersion]`, exclusive
    * start like Delta's readChangeFeed startingVersion semantics are
    * inclusive — here the FROM snapshot is the baseline, so changes start
    * at fromVersion+1.
    *
    * How: one scan of exactly the files the window's add and remove
    * actions name (the snapshot's [[DeltaSnapshot.scan]]) joined on
    * `__file` against the per-version (path, action) manifest of the
    * window. A rewriting commit (DELETE, OPTIMIZE, MERGE) both removes and
    * re-adds the surviving rows, so the net change per row is the ADD
    * multiplicity minus the REMOVE multiplicity within the commit: one hash
    * aggregate over (row, version) computes it, and `sequence`-explode
    * re-emits |net| copies — no per-version driver loop, no exceptAll
    * cascade, one shuffle keyed by the changed rows themselves. Compaction
    * commits net to zero everywhere and correctly vanish from the feed.
    *
    * Requires the window's removed files to still exist on disk (VACUUM
    * destroys pre-vacuum change history — the same constraint real Delta
    * CDF has when CDC files were never materialized), and the window's
    * JSON commits to still be retained: per-commit deltas come from
    * [[readJsonActions]], NEVER the checkpoint (whose rows aggregate table
    * STATE at its version — treating them as changes would replay the whole
    * active set as inserts). A window reaching below the retained log fails
    * fast rather than returning a silently incomplete feed. */
  def changes(spark: SparkSession, tablePath: String,
              fromVersion: Long, toVersion: Long): DataFrame = {
    import spark.implicits._
    require(fromVersion <= toVersion,
      s"bad change window ($fromVersion, $toVersion]")
    val snap = snapshot(spark, tablePath)
    require(toVersion <= snap.version,
      s"change window ($fromVersion, $toVersion] exceeds current " +
        s"version ${snap.version}")
    val win = readJsonActions(spark, tablePath)
      .where($"version" > fromVersion && $"version" <= toVersion)
    // every commit writes a commitInfo line, so missing versions mean the
    // window predates the retained JSON log (cleaned after a checkpoint)
    val present = win.where($"commitInfo".isNotNull)
      .select($"version").distinct().as[Long].collect().toSet
    val missing = ((fromVersion + 1) to toVersion).filterNot(present)
    require(missing.isEmpty,
      s"change window ($fromVersion, $toVersion] reaches below the " +
        s"retained JSON log: commit(s) ${missing.mkString(", ")} expired " +
        "(cleaned after a checkpoint) — per-commit changes are " +
        "unrecoverable from a state checkpoint")
    if (snap.tableSchema.isEmpty) throw new IllegalStateException(
      s"$tablePath: no schemaString in log; CDF needs a schema authority")
    val addM = win.where($"add".isNotNull)
      .select($"add.path".as("__file"), $"version", lit(1L).as("__sign"))
    val remM = win.where($"remove".isNotNull)
      .select($"remove.path".as("__file"), $"version", lit(-1L).as("__sign"))
    val manifest = addM.union(remM)
    // fail fast if VACUUM already reclaimed a window file: its changes
    // are gone, and the feed must not come back incomplete
    val files = manifest.select($"__file").distinct().as[String].collect().toSet
    val gone = (files -- dataFiles(spark, snap.qualifiedTablePath).keySet).toSeq.sorted
    require(gone.isEmpty,
      s"change window ($fromVersion, $toVersion] references data file(s) " +
        s"no longer on disk (vacuumed?), e.g. ${gone.take(3).mkString(", ")}")
    // partition values from the CHECKPOINT-AWARE adds (snap.actions, not
    // the JSON window): a file removed inside the window may have been
    // added in a commit whose JSON has expired — its add action survives
    // only as a checkpoint row
    val windowFiles = snap.actions.where($"add.path".isin(files.toSeq: _*))
      .select($"add.path".as("path"), $"add.size".as("size"),
        $"add.partitionValues".as("partitionValues"),
        $"add.modificationTime".as("modificationTime"))
      .collect().groupBy(_.getString(0)).values.map(_.head).toSeq
    val rows = snap.scan(windowFiles)
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

  private val statsMapper = new ObjectMapper()

  /** The top-level `numRecords` of an `add.stats` JSON string; None for
    * null, empty (legacy `"stats":""`) or unparsable stats, or stats
    * without it. */
  private[graft] def statsNumRecords(stats: String): Option[Long] =
    Option(stats).filter(_.nonEmpty)
      .flatMap(s => scala.util.Try(statsMapper.readTree(s)).toOption)
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
    open(spark, tablePath, readActions(spark, tablePath))

  /** Time travel: snapshot as of `version` (inclusive). Requires the log to
    * still contain a checkpoint or JSON commits covering that version; fails
    * as [[snapshot]] does on a path that is not a Delta table. */
  def snapshotAt(spark: SparkSession, tablePath: String, version: Long): DeltaSnapshot =
    open(spark, tablePath, readActions(spark, tablePath).where(col("version") <= version))

  /** Runs the snapshot's one pass over the log and fails fast when the
    * table's protocol needs a reader this one is not: reader version 2 is
    * column mapping and version 3 lists reader features such as deletion
    * vectors and v2 checkpoints (Delta PROTOCOL.md, "Protocol Evolution").
    * Any of them replays to a plausible but wrong record: deleted rows
    * still counted, renamed columns resolved by their physical names. */
  private def open(spark: SparkSession, tablePath: String, actions: DataFrame): DeltaSnapshot = {
    val snap = DeltaSnapshot(spark, tablePath, actions)
    val (readerVersion, features) = snap.readerProtocol
    if (readerVersion > 1) {
      val named = if (features.nonEmpty) features else Seq("columnMapping")
      throw new UnsupportedOperationException(
        s"$tablePath needs Delta reader version $readerVersion with reader " +
          s"feature(s) ${named.mkString(", ")}; only reader version 1 " +
          "tables (no deletion vectors, column mapping or v2 checkpoints) " +
          "can be analyzed")
    }
    snap
  }

  /** Fully-qualified form of `tablePath` on its filesystem (absolute, with
    * scheme) — relative paths are resolved against the FS working
    * directory. */
  def qualifiedPath(spark: SparkSession, tablePath: String): String = {
    val p = new Path(tablePath)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p).toString
  }
}

/** Replayed view of a Delta table at its latest version.
  *
  * `actions` is the lazy, uncached all-versions action frame. Opening the
  * snapshot runs ONE aggregate over it ([[groups]]), collected to the
  * driver: one group per file path, which replays add/remove into the
  * active-file [[manifest]], and one group per commit version, which
  * carries that commit's commitInfo, metaData and protocol. Every other
  * fact is plain Scala over those rows: [[version]], the [[latest]]
  * metaData and protocol ([[tableSchema]], [[partitionColumns]], the
  * reader protocol), [[history]] and [[partitionCounts]]. Every data read
  * is one parquet scan of exactly the manifest's files ([[scan]]).
  */
final case class DeltaSnapshot(spark: SparkSession, tablePath: String, actions: DataFrame) {
  import spark.implicits._

  /** The one pass over the log: a `groupingSets` aggregate with one group
    * per file path (`coalesce(add.path, remove.path)`) and one per commit
    * version, so the log is scanned once and collected in two Spark jobs
    * (the aggregate's map stage and its result).
    *
    * A path group is a `file` row when the path is active: its latest
    * `add` survives unless a `remove` with version >= the add's version
    * exists; a remove without an add yields no row. A version group is a
    * commit row: `version` and the commit's `commitInfo`, `metaData` and
    * `protocol` (each null when the commit has none). Dead paths are
    * dropped before the collect, so the driver holds the active files and
    * one row per commit. */
  private lazy val pass: DataFrame = {
    def inCommit(action: String) =
      max_by(col(action), when(col(action).isNotNull, $"version")).as(action)
    actions
      .withColumn("path", coalesce($"add.path", $"remove.path"))
      .groupingSets(Seq(Seq($"path"), Seq($"version")), $"path", $"version")
      .agg(
        (grouping($"path") === 1).as("isCommit"),
        max_by(struct($"add.size", $"add.partitionValues", $"add.modificationTime", $"add.stats", $"version"),
          when($"add".isNotNull, $"version")).as("a"),
        max(when($"remove".isNotNull, $"version")).as("removeVersion"),
        inCommit("commitInfo"), inCommit("metaData"), inCommit("protocol"))
      .where($"isCommit" || ($"path".isNotNull && $"a".isNotNull &&
        ($"removeVersion".isNull || $"a.version" > $"removeVersion")))
      .select(
        when(!$"isCommit", struct($"path", $"a.size", $"a.partitionValues",
          $"a.modificationTime", $"a.stats")).as("file"),
        $"version", $"commitInfo", $"metaData", $"protocol")
  }

  private lazy val groups: Array[Row] = pass.collect()

  /** The commit rows of [[groups]]: version, commitInfo, metaData,
    * protocol, each action null when the commit has none. */
  private lazy val commits: Array[Row] =
    groups.filter(r => r.isNullAt(0) && !r.isNullAt(1))

  private lazy val historySchema: StructType = StructType(pass.schema("version") +:
    pass.schema("commitInfo").dataType.asInstanceOf[StructType].fields)

  /** History rows, held on the driver in version order: the commits that
    * carry a commitInfo, as version, timestamp (epoch millis), operation,
    * operationParameters, operationMetrics. */
  private[graft] lazy val historyRows: Array[Row] = commits
    .filter(_.getAs[Row]("commitInfo") != null)
    .sortBy(_.getAs[Long]("version"))
    .map(c => new GenericRowWithSchema(
      (c.getAs[Long]("version") +: c.getAs[Row]("commitInfo").toSeq).toArray, historySchema))

  /** [[historyRows]] as a local frame. Mirrors `dt.history()` /
    * `DESCRIBE HISTORY` (delta_python_analyzer.py:167,
    * delta_spark_analyzer.py:118): one row per commit, metadata-sized as
    * `DESCRIBE HISTORY`'s output is, so it is held on the driver. */
  lazy val history: DataFrame = spark.createDataFrame(historyRows.toSeq.asJava, historySchema)

  /** The latest `action` ("metaData" or "protocol") in the log, if any:
    * the one carried by the highest commit version that has one. */
  private[graft] def latest(action: String): Option[Row] =
    commits.filter(_.getAs[Row](action) != null)
      .maxByOption(_.getAs[Long]("version")).map(_.getAs[Row](action))

  private def latestField[T](action: String, field: String): Option[T] =
    latest(action).flatMap(r => Option(r.getAs[T](field)))

  /** max commit version — the reference's `version_count` is max(version),
    * 0-based, NOT len(history) (delta_python_analyzer.py:189). */
  lazy val version: Long = commits.map(_.getAs[Long]("version")).maxOption.getOrElse(0L)

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
      .map(_.toSeq).getOrElse(Seq.empty)

  /** (minReaderVersion, readerFeatures) of the latest protocol action;
    * reader version 1 when the log carries none. */
  private[deltalog] def readerProtocol: (Int, Seq[String]) =
    (latestField[Int]("protocol", "minReaderVersion").getOrElse(1),
      latestField[collection.Seq[String]]("protocol", "readerFeatures")
        .map(_.toSeq).getOrElse(Seq.empty))

  /** Active file manifest, held on the driver: the `file` rows of
    * [[groups]], with columns path, size, partitionValues,
    * modificationTime, stats (the add's per-file statistics JSON, whose
    * `numRecords` feeds [[partitionCounts]]; null or empty in logs whose
    * writers recorded none). A scan must name its files on the driver,
    * where every analysis and append already lists the whole table folder
    * ([[DeltaLog.dataFiles]]), and the active files are a subset of it. */
  private[graft] lazy val manifest: Array[Row] = groups.flatMap(r => Option(r.getStruct(0)))

  /** [[manifest]] as a local frame. */
  lazy val activeFiles: DataFrame =
    spark.createDataFrame(manifest.toSeq.asJava, pass.schema("file").dataType.asInstanceOf[StructType])

  /** Active table-relative path → size, from [[manifest]]. */
  private[graft] lazy val activeSizes: Map[String, Long] =
    manifest.map(f => f.getString(0) -> f.getLong(1)).toMap

  /** Per-partition record counts from the log alone, held on the driver:
    * partition-value tuple (in [[partitionColumns]] order, null for a
    * missing value) → rows, the numbers
    * [[graft.operators.SkewAnalyzer.partitionCounts]] counts over [[data]].
    * Each active file counts its `add.stats.numRecords`, or, when its
    * stats lack one (legacy `"stats":""` logs, foreign checkpoints), its
    * parquet footer row count, read on the driver; no data row is read and
    * no Spark job runs. Partitions whose sum is 0 are dropped, as a
    * data-scan `groupBy` never emits them; an unpartitioned table is at
    * most one entry, keyed by the empty tuple. */
  lazy val partitionCounts: Map[Seq[String], Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(qualifiedTablePath)
    manifest.toSeq.map { f =>
      val pv = Option(f.getAs[collection.Map[String, String]]("partitionValues"))
        .getOrElse(Map.empty[String, String])
      val n = DeltaLog.statsNumRecords(f.getAs[String]("stats"))
        .getOrElse(DeltaLog.footerRecordCount(conf, root, f.getString(0)))
      partitionColumns.map(pv.getOrElse(_, null)) -> n
    }.groupMapReduce(_._1)(_._2)(_ + _).filter(_._2 > 0)
  }

  /** Fully-qualified table root (scheme + absolute path). */
  lazy val qualifiedTablePath: String = DeltaLog.qualifiedPath(spark, tablePath)

  /** (path, size) of the active data files, paths fully qualified under
    * [[qualifiedTablePath]] — the spelling of
    * [[graft.operators.StorageAnalyzer.folderFiles]]. */
  lazy val activeFilePaths: DataFrame =
    activeFiles.select(
      concat(lit(qualifiedTablePath.stripSuffix("/") + "/"), $"path").as("path"),
      $"size")

  /** DESCRIBE DETAIL-shaped one-row frame: sizeInBytes, numFiles,
    * partitionColumns (delta_spark_analyzer.py:116,122-124). */
  lazy val detail: DataFrame = activeFiles
    .agg(
      coalesce(sum($"size"), lit(0L)).as("sizeInBytes"),
      count(lit(1)).as("numFiles"))
    .withColumn("partitionColumns", lit(partitionColumns.toArray))
    .withColumn("location", lit(tablePath))

  /** Read the table's active rows, partition columns included. */
  lazy val data: DataFrame = dataWithFile match {
    case Some(df) => df.drop("__file")
    case None => spark.emptyDataFrame
  }

  /** Active rows + a `__file` column (the file's table-relative path, as
    * `add.path` spells it; not the basename, which one write job reuses in
    * every partition directory) — used by file-targeted rewrites (DELETE).
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
    val root = new Path(qualifiedTablePath)
    val values = StructType(("__file" +: partitionColumns).map(StructField(_, StringType)))
    new ManifestFileIndex(root, values, files.map { f =>
      val path = f.getAs[String]("path")
      val pv = Option(f.getAs[collection.Map[String, String]]("partitionValues"))
        .getOrElse(Map.empty[String, String])
      new FileStatus(f.getAs[Long]("size"), false, 0, 0, f.getAs[Long]("modificationTime"),
        new Path(root, new Path(null, null, path))) -> (path +: partitionColumns.map(pv.getOrElse(_, null)))
    }).read(spark, activeSchema, new ParquetFileFormat)
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

  /** A no-op: a snapshot caches nothing, its state is the driver-held rows
    * of [[groups]]. Kept for callers written when it released a cache. */
  def unpersist(): Unit = ()
}
