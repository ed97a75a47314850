package graft.deltalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Minimal Delta transaction-log reader.
  *
  * The environment ships no delta-spark jar, so the engine implements its own
  * log layer: parse `_delta_log/NNNNNNNNNNNNNNNNNNNN.json` commit files with
  * `spark.read.json` under an explicit action schema, and replay add/remove
  * actions to reconstruct the active-file snapshot.
  *
  * Consumes exactly the five log-derived facts the reference workload needs
  * (see /root/reference/src/delta_lake_health/health_analyzers/
  * delta_python_analyzer.py:20,115,167 and delta_spark_analyzer.py:116-118):
  * history entries, metadata partition columns, active file URIs, add-action
  * sizes, and version numbers.
  *
  * Scale notes: the log scan and the add/remove replay are pure DataFrame
  * programs — the replay is a per-path max-version reconciliation implemented
  * as a hash aggregation on `path`, which shuffles once on the file path and
  * parallelizes over executors for manifests with millions of add actions.
  * Checkpoint parquet files ARE supported: `readActions` consults
  * `_last_checkpoint`, loads the checkpoint parquet (field-aligned to
  * `actionSchema`), and unions it with ALL surviving JSON commits — safe
  * because replay is per-path last-add-wins, so checkpoint STATE rows and
  * post-checkpoint deltas reconcile in one aggregation. Consumers that need
  * per-commit CHANGES (CDF) must use `readJsonActions` instead: checkpoint
  * rows are cumulative state, not deltas.
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

  /** The surviving JSON commits ONLY — per-commit action rows, version
    * tagged from the file name. Unlike [[readActions]] this is NOT
    * checkpoint-aware: a checkpoint's rows aggregate the table STATE at its
    * version, not the commit's changes, so consumers that need per-commit
    * deltas (CDF) must read from here and fail when the window's JSONs have
    * been cleaned. */
  def readJsonActions(spark: SparkSession, tablePath: String): DataFrame =
    spark.read
      .schema(actionSchema)
      .json(s"${logDir(tablePath)}/*.json")
      .withColumn(
        "version",
        regexp_extract(col("_metadata.file_name"), "(\\d+)\\.json$", 1).cast(LongType))

  /** All actions across all commits, one row per JSON line, tagged with the
    * commit version extracted from the file name (`%020d.json`).
    *
    * Checkpoint-aware: if `_last_checkpoint` exists, the parquet checkpoint
    * at version N stands in for all commits <= N (its rows are treated as
    * actions at version N) and is unioned with ALL surviving JSON commits —
    * replay is per-path last-add-wins, so pre-checkpoint JSONs coexist
    * harmlessly while they keep history/time-travel working, and replay
    * stays correct after expired JSON commits are cleaned. A multi-part
    * checkpoint (`"parts": n` in `_last_checkpoint`) is read as its n
    * `%020d.checkpoint.%010d.%010d.parquet` files in one scan; a missing
    * checkpoint file fails naming it. */
  def readActions(spark: SparkSession, tablePath: String): DataFrame = {
    // _metadata.file_name (not input_file_name(), which Spark's PreReadCheck
    // forbids in multi-source plans — and snapshot replay joins this frame
    // against the parquet scan)
    val jsonActions = readJsonActions(spark, tablePath)
    lastCheckpoint(spark, tablePath) match {
      case None => jsonActions
      case Some((ckptV, parts)) =>
        val files = parts match {
          case None => Seq(f"$ckptV%020d.checkpoint.parquet")
          case Some(n) => (1 to n).map(i => f"$ckptV%020d.checkpoint.$i%010d.$n%010d.parquet")
        }
        val paths = files.map(f => new org.apache.hadoop.fs.Path(logDir(tablePath), f))
        val fs = paths.head.getFileSystem(spark.sparkContext.hadoopConfiguration)
        paths.find(!fs.exists(_)).foreach { p =>
          throw new java.io.FileNotFoundException(
            s"_last_checkpoint names version $ckptV, but its checkpoint file $p is missing")
        }
        val ckpt = spark.read.parquet(paths.map(_.toString): _*)
        // field-wise alignment to actionSchema: real checkpoints carry extra
        // top-level actions (txn) and extra nested fields (stats_parsed,
        // tags, ...) — a struct cast would fail on arity, so rebuild each
        // action struct from the subfields we consume, null-filling gaps
        def alignedStruct(action: String, st: StructType): org.apache.spark.sql.Column = {
          if (!ckpt.columns.contains(action)) return lit(null).cast(st).as(action)
          val actionType = ckpt.schema(action).dataType.asInstanceOf[StructType]
          val fields = st.fields.map { f =>
            if (actionType.fieldNames.contains(f.name))
              col(s"$action.${f.name}").cast(f.dataType).as(f.name)
            else lit(null).cast(f.dataType).as(f.name)
          }
          when(col(action).isNotNull, struct(fields.toIndexedSeq: _*))
            .otherwise(lit(null).cast(st)).as(action)
        }
        val aligned = actionSchema.fields.map(f =>
          alignedStruct(f.name, f.dataType.asInstanceOf[StructType]))
        // Union the checkpoint with ALL surviving JSON commits, not only
        // those after it: replay is per-path last-add-wins, so checkpoint
        // rows (at ckptV) and older JSON adds coexist harmlessly, while the
        // older commitInfo rows keep history metrics and pre-checkpoint
        // time travel working for as long as those JSONs are retained.
        ckpt.select(aligned.toIndexedSeq: _*)
          .withColumn("version", lit(ckptV))
          .unionByName(jsonActions)
    }
  }

  /** Version recorded in `_last_checkpoint`, if any. */
  def lastCheckpointVersion(spark: SparkSession, tablePath: String): Option[Long] =
    lastCheckpoint(spark, tablePath).map(_._1)

  /** (version, parts) recorded in `_last_checkpoint`, if any; `parts` is
    * set only for a multi-part checkpoint. */
  private def lastCheckpoint(spark: SparkSession, tablePath: String): Option[(Long, Option[Int])] = {
    val p = new org.apache.hadoop.fs.Path(logDir(tablePath), "_last_checkpoint")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val content = try scala.io.Source.fromInputStream(in).mkString finally in.close()
      def field(name: String) =
        s"\"$name\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(content).map(_.group(1))
      field("version").map(v => (v.toLong, field("parts").map(_.toInt)))
    }
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
    * How: one distributed scan of the table directory (same scan and
    * file-path join as [[DeltaSnapshot.dataWithFile]]) joined against the
    * per-version (path, action) manifest of the requested window. A
    * rewriting commit (DELETE, OPTIMIZE, MERGE) both removes and re-adds
    * the surviving rows, so the net change per row is the ADD multiplicity
    * minus the REMOVE multiplicity within the commit: one hash aggregate
    * over (row, version) computes it, and `sequence`-explode re-emits
    * |net| copies — no per-version driver loop, no exceptAll cascade, one
    * shuffle keyed by the changed rows themselves. Compaction commits net
    * to zero everywhere and correctly vanish from the feed.
    *
    * Requires the window's removed files to still exist on disk (VACUUM
    * destroys pre-vacuum change history — the same constraint real Delta
    * CDF has when CDC files were never materialized), and the window's
    * JSON commits to still be retained: per-commit deltas come from
    * [[readJsonActions]], NEVER the checkpoint (whose rows aggregate table
    * STATE at its version — treating them as changes would replay the whole
    * active set as inserts). A window reaching below the retained log fails
    * fast rather than returning a silently incomplete feed. Partition
    * values reattach from the union of every version's add actions, which
    * necessarily covers every file the window can reference. */
  def changes(spark: SparkSession, tablePath: String,
              fromVersion: Long, toVersion: Long): DataFrame = {
    import spark.implicits._
    require(fromVersion <= toVersion,
      s"bad change window ($fromVersion, $toVersion]")
    val snap = snapshot(spark, tablePath)
    try {
      require(toVersion <= snap.version,
        s"change window ($fromVersion, $toVersion] exceeds current " +
          s"version ${snap.version}")
      val qualified = snap.qualifiedTablePath
      val acts = readJsonActions(spark, tablePath)
      val win = acts.where($"version" > fromVersion && $"version" <= toVersion)
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
      val addM = win.where($"add".isNotNull)
        .select($"add.path".as("__file"), $"version", lit(1L).as("__sign"))
      val remM = win.where($"remove".isNotNull)
        .select($"remove.path".as("__file"), $"version", lit(-1L).as("__sign"))
      val manifest = addM.union(remM)
      // partition values from ALL adds (any version), CHECKPOINT-AWARE
      // (snap.actions, not the JSON window): a file removed inside the
      // window may have been added in a commit whose JSON has expired —
      // its add action survives only as a checkpoint row
      val partVals = snap.actions.where($"add".isNotNull)
        .select($"add.path".as("__file"), $"add.partitionValues".as("__pv"))
        .groupBy($"__file").agg(min_by($"__pv", $"__file").as("__pv"))
      val activeSchema: StructType = snap.tableSchema match {
        case Some(full) => StructType(
          full.fields.filterNot(f => snap.partitionColumns.contains(f.name)))
        case None => throw new IllegalStateException(
          s"$tablePath: no schemaString in log; CDF needs a schema authority")
      }
      // fail fast if VACUUM already reclaimed a window file: the manifest
      // join would otherwise silently drop its rows and emit an incomplete
      // feed. MUST run before the empty-table early return — a
      // non-partitioned table whose every data file was vacuumed lists no
      // data files but has a non-empty window manifest, and that is exactly
      // the "changes no longer on disk" case, not an empty feed. The
      // driver-side listing is anti-joined as a local relation (no data
      // scan).
      val onDisk = dataFiles(spark, qualified)
      val missingFiles = manifest.select($"__file").distinct()
        .join(onDisk.keys.toSeq.toDF("__file"), Seq("__file"), "left_anti")
        .limit(3).as[String].collect()
      require(missingFiles.isEmpty,
        s"change window ($fromVersion, $toVersion] references data file(s) " +
          s"no longer on disk (vacuumed?), e.g. ${missingFiles.mkString(", ")}")
      // no data files + empty manifest (the check above passed, so the
      // manifest referenced nothing): a genuinely empty feed, but with the
      // normal CDF schema so downstream unions/selects keep working
      if (onDisk.isEmpty) {
        val feedSchema = StructType(
          activeSchema.fields.toSeq ++
            snap.partitionColumns.map(StructField(_, StringType)) :+
            StructField("_commit_version", LongType) :+
            StructField("_change_type", StringType))
        return spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], feedSchema)
      }
      val raw = scanTableDir(spark, qualified, activeSchema)
      val dataCols = raw.columns.filterNot(_ == "__scan_path").map(col).toSeq
      val partCols = snap.partitionColumns.map(c =>
        element_at($"__pv", c).as(c))
      val changed = raw
        .join(manifest.withColumn("__scan_path", scanPath($"__file", qualified)),
          Seq("__scan_path"))
        .join(partVals, Seq("__file"))
        .select((dataCols ++ partCols) :+ $"version" :+ $"__sign": _*)
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
    } finally snap.unpersist()
  }

  /** S6: every `*.parquet` file under the table root, `_delta_log`
    * excluded, as (table-relative path, size) — the engine's one data-file
    * listing (delta_python_analyzer.py:90-107). One recursive `listStatus`
    * walk on the driver: a listing is metadata-sized, and unlike
    * `listFiles(recursive)` it fetches no block locations per file. Relative
    * paths are spelled as on disk (directory names as Spark escaped them),
    * which is how `add.path` spells them. */
  def dataFiles(spark: SparkSession, tablePath: String): Map[String, Long] = {
    val root = new org.apache.hadoop.fs.Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = Map.newBuilder[String, Long]
    def walk(dir: org.apache.hadoop.fs.Path, prefix: String): Unit =
      fs.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) {
          if (name != "_delta_log") walk(st.getPath, s"$prefix$name/")
        } else if (name.endsWith(".parquet")) out += (prefix + name) -> st.getLen
      }
    if (fs.exists(root)) walk(root, "")
    out.result()
  }

  /** True if `path` looks like a Delta table (has a `_delta_log` dir). */
  def isDeltaTable(spark: SparkSession, tablePath: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(logDir(tablePath))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  def snapshot(spark: SparkSession, tablePath: String): DeltaSnapshot = {
    require(isDeltaTable(spark, tablePath),
      s"$tablePath is not a Delta table: no ${logDir(tablePath)} directory " +
        "(for plain parquet, read it directly with spark.read.parquet)")
    open(spark, tablePath, readActions(spark, tablePath))
  }

  /** Time travel: snapshot as of `version` (inclusive). Requires the log to
    * still contain a checkpoint or JSON commits covering that version. */
  def snapshotAt(spark: SparkSession, tablePath: String, version: Long): DeltaSnapshot =
    open(spark, tablePath, readActions(spark, tablePath).where(col("version") <= version))

  /** Caches `actions` and fails fast, releasing the cache, when the table's
    * protocol needs a reader this one is not: reader version 2 is column
    * mapping and version 3 lists reader features such as deletion vectors
    * and v2 checkpoints (Delta PROTOCOL.md, "Protocol Evolution"). Any of
    * them replays to a plausible but wrong record: deleted rows still
    * counted, renamed columns resolved by their physical names. */
  private def open(spark: SparkSession, tablePath: String, actions: DataFrame): DeltaSnapshot = {
    val snap = DeltaSnapshot(spark, tablePath, actions.cache())
    val (readerVersion, features) = try snap.readerProtocol catch {
      case e: Throwable => snap.unpersist(); throw e
    }
    if (readerVersion > 1) {
      snap.unpersist()
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
    * scheme) — relative paths are resolved against the FS working directory
    * so manifest-derived absolute paths compare correctly against
    * folder-listing paths (which Hadoop always returns fully qualified). */
  def qualifiedPath(spark: SparkSession, tablePath: String): String = {
    val p = new org.apache.hadoop.fs.Path(tablePath)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p).toString
  }

  /** Join key for cross-frame path comparison: strips only the SCHEME but
    * keeps the URI authority (bucket / namenode), so files from different
    * stores that happen to share a path never collide
    * (`s3a://bucketA/x` → `//bucketA/x` ≠ `//bucketB/x`), while the usual
    * same-store spellings still normalize together
    * (`file:///x`, `file:/x`, `/x` all → `/x`). Use this when either side
    * of a path join may come from an arbitrary caller-supplied frame (e.g.
    * orphan detection). */
  def pathKey(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, "^[a-zA-Z][a-zA-Z0-9+.\\-]*:///", "/"),
        "^[a-zA-Z][a-zA-Z0-9+.\\-]*://", "//"),
      "^[a-zA-Z][a-zA-Z0-9+.\\-]*:/", "/")

  /** Plain absolute path of a (possibly schemed) path string: drops the
    * scheme and any authority (`file:///x`, `file:/x`, `hdfs://nn:8020/x`
    * all → `/x`), mirroring the reference's prefix strip at
    * file_distribution.py:18-21. */
  def stripSchemeStr(s: String): String =
    s.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.\\-]*://[^/]*", "")
      .replaceFirst("^[a-zA-Z][a-zA-Z0-9+.\\-]*:/", "/")

  /** One distributed parquet scan of the table directory under `schema`,
    * with each row's `_metadata.file_path` as `__scan_path`. Only the
    * top-level entries are listed on the driver — O(partition dirs) —
    * keeping `_delta_log`, and thus checkpoint parquet with its foreign
    * schema, out of the scan. `recursiveFileLookup` deliberately disables
    * Hive partition-dir inference: partition values come from the
    * MANIFEST (authoritative under replay), not from directory names. */
  private[deltalog] def scanTableDir(spark: SparkSession, qualifiedRoot: String,
                                     schema: StructType): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(qualifiedRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = fs.listStatus(root).toSeq
      .filterNot(_.getPath.getName == "_delta_log")
      .map(_.getPath.toString)
    spark.read
      .schema(schema)
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.parquet")
      .parquet(entries: _*)
      .withColumn("__scan_path", col("_metadata.file_path"))
  }

  /** The `__scan_path` that [[scanTableDir]] reports for the file at the
    * table-relative `path`: its URI under the table root, percent-encoded
    * the way the scan encodes it (`day=Mon Tue` → `day=Mon%20Tue`, Spark's
    * escaped `day=a%3Ab` → `day=a%253Ab`). Encoding the manifest side, one
    * value per file, lets the scanned rows join on their raw file path. */
  private[deltalog] def scanPathOf(qualifiedRoot: String, path: String): String =
    new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(qualifiedRoot),
      new org.apache.hadoop.fs.Path(null, null, path)).toUri.toString

  /** [[scanPathOf]] over a column of table-relative paths. */
  private[deltalog] def scanPath(path: org.apache.spark.sql.Column,
                                 qualifiedRoot: String): org.apache.spark.sql.Column =
    udf((p: String) => scanPathOf(qualifiedRoot, p)).apply(path)
}

/** Replayed view of a Delta table at its latest version.
  *
  * `actions` is the cached all-versions action frame, and `activeFiles` the
  * cached manifest replayed from it once; everything else is a lazy
  * DataFrame derived from those two. The driver sees only the one-row
  * [[latest]] lookup (version, schema, partition columns, protocol).
  */
final case class DeltaSnapshot(spark: SparkSession, tablePath: String, actions: DataFrame) {
  import spark.implicits._

  /** One row per commit: version, timestamp (epoch millis), operation,
    * operationParameters, operationMetrics. Mirrors `dt.history()` /
    * `DESCRIBE HISTORY` (delta_python_analyzer.py:167,
    * delta_spark_analyzer.py:118). */
  lazy val history: DataFrame = actions
    .where($"commitInfo".isNotNull)
    .select(
      $"version",
      $"commitInfo.timestamp".as("timestamp"),
      $"commitInfo.operation".as("operation"),
      $"commitInfo.operationParameters".as("operationParameters"),
      $"commitInfo.operationMetrics".as("operationMetrics"))

  /** The one driver lookup over the log: max version, and the latest
    * metaData and protocol actions (each null when the log has none). */
  private[graft] lazy val latest: org.apache.spark.sql.Row = actions.agg(
    max($"version").as("version"),
    max_by($"metaData", when($"metaData".isNotNull, $"version")).as("metaData"),
    max_by($"protocol", when($"protocol".isNotNull, $"version")).as("protocol"))
    .first()

  private def latestField[T](action: String, field: String): Option[T] =
    Option(latest.getAs[org.apache.spark.sql.Row](action))
      .flatMap(r => Option(r.getAs[T](field)))

  /** max commit version — the reference's `version_count` is max(version),
    * 0-based, NOT len(history) (delta_python_analyzer.py:189). */
  lazy val version: Long =
    Option(latest.getAs[java.lang.Long]("version")).map(_.longValue).getOrElse(0L)

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

  @volatile private var manifestCached = false

  /** Active file manifest: per path, the latest `add` survives unless a
    * `remove` with version >= the add's version exists. Columns:
    * path, size, partitionValues, modificationTime.
    *
    * Implemented as two hash aggregations plus a join on `path`; with AQE on,
    * the (normally much smaller) remove side is broadcast at runtime.
    * Derived once per snapshot: the frame is cached on first use, so the
    * emptiness check, the data scan's join and the storage stats all read
    * the same copy; [[unpersist]] releases it.
    */
  lazy val activeFiles: DataFrame = {
    val adds = actions
      .where($"add".isNotNull)
      .groupBy($"add.path".as("path"))
      .agg(max_by(struct($"add.size", $"add.partitionValues", $"add.modificationTime", $"version"), $"version").as("a"))
      .select($"path", $"a.size", $"a.partitionValues", $"a.modificationTime", $"a.version".as("addVersion"))
    val removes = actions
      .where($"remove".isNotNull)
      .groupBy($"remove.path".as("path"))
      .agg(max($"version").as("removeVersion"))
    manifestCached = true
    adds
      .join(removes, Seq("path"), "left")
      .where($"removeVersion".isNull || $"addVersion" > $"removeVersion")
      .drop("removeVersion", "addVersion")
      .cache()
  }

  /** Fully-qualified table root (scheme + absolute path) — the base for any
    * path that will be compared against filesystem listings, which Hadoop
    * always returns fully qualified. */
  lazy val qualifiedTablePath: String = DeltaLog.qualifiedPath(spark, tablePath)

  /** Absolute filesystem paths of active data files, fully qualified so they
    * join correctly against folder listings regardless of how `tablePath`
    * was spelled (relative, `file:`-schemed, hdfs/s3a, ...). */
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

  /** Read the table's active rows, re-attaching partition columns.
    *
    * Delta physical files do not contain the partition columns; their values
    * live in `add.partitionValues`. We read all active files in one parquet
    * scan and join the per-file partition values back on the file path —
    * a broadcast join against the (small) manifest, so the scan itself stays
    * a single distributed pass, no driver loop over partitions.
    */
  lazy val data: DataFrame = dataWithFile match {
    case Some(df) => df.drop("__file")
    case None => spark.emptyDataFrame
  }

  /** Active rows + a `__file` column (the file's table-relative path) — used
    * by file-targeted rewrites (DELETE). Built on `_metadata.file_path`,
    * which unlike `input_file_name()` stays legal in multi-source join plans.
    *
    * Scale shape: ONE distributed scan of the table directory
    * ([[DeltaLog.scanTableDir]]), then a single INNER join of
    * `_metadata.file_path` against the distributed active-file manifest,
    * whose paths are encoded the same way per file
    * ([[DeltaLog.scanPath]]) — so a partition value Spark escapes in the
    * directory name (`a:b`, `50%`, `Mon Tue`) keeps its rows. The join
    * simultaneously (a) filters out removed/orphan files the dir scan
    * picked up — delete/overwrite replay correctness — and (b) re-attaches
    * `partitionValues`, which Delta physical files do not contain. No
    * per-file driver enumeration: a manifest of millions of adds never
    * lands on the driver.
    *
    * The join key is the full file path, not the basename: a single Spark
    * write job emits the same `part-NNNNN-<jobUUID>` basename into every
    * partition directory it touches, so basenames are NOT unique within a
    * table (the reference gets away with basename sets at
    * delta_python_analyzer.py:125-126 only because deltalake generates
    * per-file unique names). */
  lazy val dataWithFile: Option[DataFrame] =
    if (activeFiles.isEmpty) None
    else Some(withFile(DeltaLog.scanTableDir(spark, qualifiedTablePath, activeSchema)))

  /** [[dataWithFile]] restricted to the active files at the table-relative
    * `paths` (file-targeted rewrites: DELETE and MERGE survivors). The
    * filter is on the scan's own file path, so Spark skips every other file
    * instead of reading it and dropping its rows at the join. */
  def dataWithFileIn(paths: Seq[String]): DataFrame = {
    val keys = paths.map(DeltaLog.scanPathOf(qualifiedTablePath, _))
    withFile(DeltaLog.scanTableDir(spark, qualifiedTablePath, activeSchema)
      .where(col("__scan_path").isin(keys: _*)))
  }

  // The dir scan also sees REMOVED-but-not-yet-vacuumed and orphan files
  // (the inner join in withFile discards their rows; read amplification is
  // bounded by how much dead data VACUUM — which this engine both
  // recommends and executes — has not yet reclaimed). Two consequences are
  // handled explicitly:
  //  - schema authority: the latest metaData.schemaString (the Delta
  //    protocol's authority — a column added by a later append is present
  //    even if an unsampled old file lacks it, and a dead file's foreign
  //    schema can never shape the read). Partition columns are stripped
  //    because Delta physical files do not contain them (they are
  //    re-attached from the manifest). Logs that predate schema emission
  //    fall back to ONE manifest-active footer, picked DETERMINISTICALLY
  //    (min path) — not limit(1), whose choice is partition-layout-dependent;
  //  - a corrupt uncommitted file still fails the scan by default; set
  //    spark.sql.files.ignoreCorruptFiles=true to tolerate dirty dirs
  //    (active-file corruption then drops rows silently — the default stays
  //    strict on purpose).
  private lazy val activeSchema: StructType = tableSchema match {
    case Some(full) =>
      StructType(full.fields.filterNot(f => partitionColumns.contains(f.name)))
    case None =>
      val oneActive: String =
        activeFilePaths.select($"path").orderBy($"path").limit(1).as[String].head()
      spark.read.parquet(oneActive).schema
  }

  /** Joins a [[DeltaLog.scanTableDir]] frame to the active-file manifest:
    * data columns + `__file` + the partition columns. */
  private def withFile(raw: DataFrame): DataFrame = {
    // no broadcast hint: an explicit broadcast would collect the whole
    // manifest onto the driver even at millions of files — let the
    // planner/AQE broadcast small manifests and shuffle-join huge ones
    val manifest = activeFiles.select(
      DeltaLog.scanPath($"path", qualifiedTablePath).as("__scan_path"),
      $"path".as("__file"), $"partitionValues")
    val partCols = partitionColumns.map(c =>
      element_at($"partitionValues", c).as(c))
    raw.join(manifest, Seq("__scan_path"), "inner").select(
      (activeSchema.fieldNames.map(col).toSeq :+ $"__file") ++ partCols: _*)
  }

  /** Releases the cached manifest (if it was built) and then `actions`, the
    * frame it was derived from. */
  def unpersist(): Unit = {
    if (manifestCached) activeFiles.unpersist()
    actions.unpersist()
    ()
  }
}
