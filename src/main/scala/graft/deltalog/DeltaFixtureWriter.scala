package graft.deltalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

/** The engine's Delta commit writer: valid (minimal) Delta commit JSON,
  * written without a delta jar. `Maintenance` commits its OPTIMIZE, ZORDER,
  * RESTORE and VACUUM through it, `SparkEntry.entry` builds its table with
  * it, and the health benchmark and the specs build their log-backed
  * tables with it. Its own mutations are the surface the reference's
  * fixtures use (populate_sample_delta.py:35-193,
  * test_delta_analyzer_metrics.py:23-29) plus MERGE: partitioned
  * overwrite/append writes, predicate DELETE, OPTIMIZE compaction and
  * MERGE upserts.
  *
  * Every mutation writes its parquet files through [[WriteFiles]], which
  * returns exactly the files it wrote, each with its size, partition
  * values and row count, and commits them through the one commit writer,
  * [[writeCommitStream]]. Nothing lists the table directory and no footer
  * is opened: a file some other process drops into the table is never
  * committed as this write's. DELETE starts at most two Spark jobs: one
  * scan with no exchange, and a rewrite only when the log's row counts say
  * some row survives. Every `add` line carries
  * `"stats":"{\"numRecords\":N}"` (Delta PROTOCOL.md, "Per-file
  * Statistics"), so readers count rows from the log. Commit files are
  * written with java.nio, so the table must be a local path or a `file:`
  * URI.
  */
object DeltaFixtureWriter {

  private def logPath(table: String, version: Long): java.nio.file.Path =
    Paths.get(table, "_delta_log", f"$version%020d.json")

  private def jsonEscape(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def jStr(s: String): String = "\"" + jsonEscape(s) + "\""

  /** A JSON object of string values; a null value is written as JSON
    * `null`. */
  private def jMap(m: Seq[(String, String)]): String =
    m.map { case (k, v) => s"${jStr(k)}:${if (v == null) "null" else jStr(v)}" }
      .mkString("{", ",", "}")

  /** Parse hive-style `col=value/` segments out of a relative file path.
    * Spark escapes special characters in partition directory names
    * (`a:b` → `a%3Ab`); the partition value is the unescaped text. Spark
    * writes a null value as the directory `col=__HIVE_DEFAULT_PARTITION__`;
    * its value is null, which the log records as JSON `null` (Delta
    * PROTOCOL.md, "Partition Value Serialization"). */
  private def partitionValuesOf(relPath: String, partitionBy: Seq[String]): Seq[(String, String)] = {
    val segs = relPath.split('/').dropRight(1)
    partitionBy.flatMap { c =>
      segs.collectFirst {
        case s if s.startsWith(c + "=") =>
          val v = s.substring(c.length + 1)
          c -> (if (v == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
                else ExternalCatalogUtils.unescapePathName(v))
      }
    }
  }

  /** The local directory of `table`, a plain path or a `file:` URI; any
    * other scheme fails. */
  private def localDir(table: String): String = {
    val uri = new Path(table).toUri
    require(uri.getScheme == null || uri.getScheme == "file",
      s"$table: commits are written with java.nio, so the table must be a local path or file: URI")
    if (uri.getScheme == null) table else uri.getPath
  }

  /** The commit writer: action lines are written as the iterators drain, so
    * a commit with millions of removes never materializes as a driver-side
    * Seq — the driver cost is the JSON bytes themselves, which are inherent
    * to the Delta log format. With a `schema`, the commit also carries the
    * `protocol` and `metaData` actions (the first commit, a schema-evolving
    * write, a RESTORE across a schema change); the protocol is the table's
    * latest one, `protocol` (a [[DeltaLog.actionSchema]] row), raised to at
    * least reader 1, writer 2, with its features kept, so a commit never
    * lowers a table's protocol. commitInfo is appended LAST (after the
    * counts are known); the log reader is line-order-agnostic (every action
    * line is parsed independently and commitInfo rows are filtered by
    * field). `files` are the adds; each add's partition values are parsed
    * from its hive-style path, and its `stats.numRecords` is the count it
    * comes with (the writer's, for a file [[WriteFiles]] wrote),
    * and only an add without one has its parquet footer read, on the
    * driver. `table` is a plain path or a `file:` URI; any other scheme
    * fails before anything is written. */
  private[graft] def writeCommitStream(
      table: String,
      version: Long,
      operation: String,
      parameters: Seq[(String, String)],
      files: Iterator[DataFile],
      removes: Iterator[String],
      partitionBy: Seq[String],
      schema: Option[StructType] = None,
      protocol: Option[Row] = None): Unit = {
    val dir = localDir(table)
    val ts = System.currentTimeMillis()
    lazy val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val root = new Path(table)
    val lp = logPath(dir, version)
    Files.createDirectories(lp.getParent)
    // stream into a writer-private temp file, then claim the version with
    // an atomic no-replace link: the Delta protocol's put-if-absent commit
    // claim, without buffering millions of action lines to get it
    val tmp = lp.resolveSibling(
      s".${lp.getFileName}.${java.util.UUID.randomUUID()}.tmp")
    // a concurrent writer racing to the same version FAILS loudly instead
    // of silently clobbering its rival's committed actions. Retry with
    // reconciliation is the caller's policy decision; single-writer flows
    // never see this
    def lostRace(cause: Throwable): Nothing =
      throw new IllegalStateException(
        s"concurrent commit: version $version of $table already exists " +
          "(another writer won the race) — re-read the snapshot and retry " +
          "at the next version", cause)
    // the writer-private tmp must never outlive this call: whatever fails
    // (a mid-stream write error, a lost claim race, a filesystem without
    // hard links), the finally reclaims it so _delta_log never accumulates
    // orphaned .tmp files
    try {
      val w = Files.newBufferedWriter(tmp, StandardCharsets.UTF_8,
        StandardOpenOption.CREATE_NEW)
      try {
        def line(s: String): Unit = { w.write(s); w.newLine() }
        schema.foreach { st =>
          // schemaString is the authoritative FULL table schema (partition
          // columns included), per the Delta protocol — readers must shape
          // scans from it, never from a sampled data-file footer
          val id = java.util.UUID.nameUUIDFromBytes(
            dir.getBytes(StandardCharsets.UTF_8)).toString
          line(s"""{"protocol":${protocolJson(protocol)}}""")
          line(s"""{"metaData":{"id":${jStr(id)},"schemaString":${jStr(st.json)},"partitionColumns":${partitionBy.map(jStr).mkString("[", ",", "]")},"createdTime":$ts}}""")
        }
        var nRemoves = 0L
        var nAdds = 0L
        removes.foreach { p =>
          line(s"""{"remove":{"path":${jStr(p)},"deletionTimestamp":$ts,"dataChange":true}}""")
          nRemoves += 1
        }
        files.foreach { f =>
          val n = f.numRecords.getOrElse(DeltaLog.footerRecordCount(conf, root, f.path))
          line(s"""{"add":{"path":${jStr(f.path)},"size":${f.size},"partitionValues":${jMap(partitionValuesOf(f.path, partitionBy))},"modificationTime":$ts,"dataChange":true,"stats":${jStr(s"""{"numRecords":$n}""")}}}""")
          nAdds += 1
        }
        val metrics = Seq(
          "num_added_files" -> nAdds.toString,
          "num_removed_files" -> nRemoves.toString)
        line(s"""{"commitInfo":{"timestamp":$ts,"operation":${jStr(operation)},"operationParameters":${jMap(parameters)},"operationMetrics":${jMap(metrics)}}}""")
      } finally w.close()
      // hard-link, not ATOMIC_MOVE: POSIX rename() silently REPLACES an
      // existing target, but link() is atomic put-if-absent — exactly the
      // Delta commit-claim contract
      try Files.createLink(lp, tmp)
      catch {
        case e: java.nio.file.FileAlreadyExistsException => lostRace(e)
        case _: UnsupportedOperationException =>
          // filesystem without hard links (some network / object-store
          // mounts): fall back to a put-if-absent COPY — Files.copy with
          // no REPLACE_EXISTING fails when the target exists, keeping the
          // claim contract (the copy is not atomic mid-write like link();
          // acceptable for the degraded-filesystem path, and strictly
          // better than an unwrapped UnsupportedOperationException)
          try Files.copy(tmp, lp)
          catch { case e: java.nio.file.FileAlreadyExistsException =>
            lostRace(e) }
      }
    } finally Files.deleteIfExists(tmp)
  }

  /** [[writeCommitStream]] of adds given as (relative path, size), with no
    * row count: each add's count is read from its parquet footer. */
  private[graft] def writeCommitStream(
      table: String,
      version: Long,
      operation: String,
      parameters: Seq[(String, String)],
      adds: Iterator[(String, Long)],
      removes: Iterator[String],
      partitionBy: Seq[String]): Unit =
    writeCommitStream(table, version, operation, parameters,
      adds.map { case (p, size) => DataFile(p, size, None) },
      removes, partitionBy)

  /** The `protocol` action a schema commit writes: the table's latest one,
    * if any, raised to at least reader 1, writer 2, its reader and writer
    * features kept. */
  private def protocolJson(latest: Option[Row]): String = {
    def version(i: Int, least: Int) =
      latest.filterNot(_.isNullAt(i)).fold(least)(p => math.max(least, p.getInt(i)))
    def features(i: Int, name: String) = latest.filterNot(_.isNullAt(i))
      .map(p => s""","$name":${p.getSeq[String](i).map(jStr).mkString("[", ",", "]")}""").getOrElse("")
    s"""{"minReaderVersion":${version(0, 1)},"minWriterVersion":${version(1, 2)}""" +
      features(2, "readerFeatures") + features(3, "writerFeatures") + "}"
  }

  /** Overwrite or append `df` as a new commit. Overwrite logically removes
    * previous active files (they stay on disk — that is what VACUUM is for,
    * and what the orphan/vacuum metrics detect). */
  def write(df: DataFrame, table: String, mode: String = "overwrite",
            partitionBy: Seq[String] = Seq.empty): Unit = {
    require(mode == "overwrite" || mode == "append", s"bad mode $mode")
    // one snapshot read serves the version, the overwrite remove-list, the
    // schema-evolution check and the partitioning
    val (version, snapBefore, schemaChanged, pb, protocol) =
      if (DeltaLog.isDeltaTable(df.sparkSession, table)) {
        val snap = DeltaLog.snapshot(df.sparkSession, table)
        val files =
          if (mode == "overwrite") snap.manifest.map(_.getString(0)).toSeq
          else Seq.empty
        val changed = !snap.tableSchema.contains(df.schema)
        // partitioning is immutable in Delta: an empty partitionBy means the
        // table's own, and the files are laid out by it (a flat file under a
        // partitioned table would read back null partition values); a
        // different one fails before anything is written
        val own = snap.partitionColumns
        require(partitionBy.isEmpty || partitionBy == own,
          s"$table is partitioned by ${own.mkString("[", ",", "]")}; a write " +
            s"partitioned by ${partitionBy.mkString("[", ",", "]")} cannot change it")
        (snap.version + 1, files, changed, own, snap.latest("protocol"))
      } else (0L, Seq.empty, false, partitionBy, None)
    val newFiles = WriteFiles(df, table, pb)
    writeCommitStream(table, version, "WRITE",
      Seq("mode" -> (if (mode == "overwrite") "Overwrite" else "Append"),
          "partitionBy" -> pb.mkString("[", ",", "]")),
      files = newFiles.iterator, removes = snapBefore.iterator,
      partitionBy = pb,
      // metaData rides the first commit AND any commit whose write changes
      // the schema (Delta schema evolution) — replay takes the latest, so
      // schemaString stays the live authority after evolving appends
      schema = Some(df.schema).filter(_ => version == 0L || schemaChanged),
      protocol = protocol)
  }

  /** `__file` → rows of `rows` (a filtered [[DeltaSnapshot.dataWithFile]]):
    * one job, no exchange; the driver sums each task's counts. */
  private def touchedFiles(rows: DataFrame): Map[String, Long] = {
    import rows.sparkSession.implicits._
    rows.select($"__file").as[String].mapPartitions { files =>
      val n = scala.collection.mutable.HashMap.empty[String, Long]
      files.foreach(f => n(f) = n.getOrElse(f, 0L) + 1)
      n.iterator
    }.collect().groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Predicate DELETE: rewrites only the active files that contain matching
    * rows; files without matches are untouched (deltalake semantics). The
    * survivors are rewritten only if [[DeltaSnapshot.numRecords]] exceeds
    * the matches [[touchedFiles]] counts in the hit files. */
  def delete(spark: SparkSession, table: String, predicate: String): Unit = {
    val snap = DeltaLog.snapshot(spark, table)
    val partitionBy = snap.partitionColumns
    // an empty table still logs the DELETE commit, with no file changes
    val (adds, removes) = snap.dataWithFile match {
      case None => (Seq.empty[DataFile], Seq.empty[String])
      case Some(rows) =>
        val matches = touchedFiles(rows.where(expr(predicate)))
        val hit = snap.manifest.filter(f => matches.contains(f.getString(0)))
        // DELETE removes rows where the predicate is TRUE — rows where it
        // evaluates NULL must survive (bare !pred would be NULL and
        // silently drop them)
        val written =
          if (hit.map(f => snap.numRecords(f) - matches(f.getString(0))).sum <= 0) Seq.empty
          else WriteFiles(snap.dataWithFileIn(matches.keys.toSeq)
            .where(!coalesce(expr(predicate), lit(false)))
            .select(snap.data.columns.map(col).toIndexedSeq: _*), table, partitionBy)
        (written, matches.keys.toSeq.sorted)
    }
    writeCommitStream(table, snap.version + 1, "DELETE",
      Seq("predicate" -> predicate),
      files = adds.iterator, removes = removes.iterator,
      partitionBy = partitionBy)
  }

  /** OPTIMIZE compact: bin-packs each partition's active files into one file
    * per partition. */
  def compact(spark: SparkSession, table: String): Unit = {
    val snap = DeltaLog.snapshot(spark, table)
    val partitionBy = snap.partitionColumns
    val activeRel = snap.manifest.map(_.getString(0)).sorted.toSeq
    // a fully-deleted table logs a no-op OPTIMIZE, nothing to rewrite
    val newFiles =
      if (activeRel.isEmpty) Seq.empty
      // one reducer per partition directory: a fixed count of one, or a
      // hash on the partition columns
      else WriteFiles(
        if (partitionBy.isEmpty) snap.data.repartition(1)
        else snap.data.repartition(partitionBy.map(col): _*), table, partitionBy)
    writeCommitStream(table, snap.version + 1, "OPTIMIZE",
      Seq("predicate" -> "[]"),
      files = newFiles.iterator, removes = activeRel.iterator,
      partitionBy = partitionBy)
  }

  /** Simplified MERGE (upsert by key): source rows replace table rows with
    * equal key values, unmatched source rows are inserted. Rewrites only
    * the files containing matched keys (others stay active untouched);
    * logs a MERGE commit — so history-based operation counting (A5) sees
    * real MERGE operations. Its files are counted by [[touchedFiles]]. */
  def merge(spark: SparkSession, table: String, source: DataFrame,
            keyCols: Seq[String]): Unit = {
    val snap = DeltaLog.snapshot(spark, table)
    val partitionBy = snap.partitionColumns
    val dataCols = snap.data.columns
    val src = source.select(dataCols.map(col).toIndexedSeq: _*)
    val (newRows, removes) = snap.dataWithFile match {
      case None => (src, Seq.empty[String])
      case Some(rows) =>
        val hitFiles = touchedFiles(rows.join(src, keyCols, "left_semi")).keys.toSeq.sorted
        val survivors = snap.dataWithFileIn(hitFiles)
          .join(src, keyCols, "left_anti")
          .select(dataCols.map(col).toIndexedSeq: _*)
        (survivors.union(src), hitFiles)
    }
    val newFiles = WriteFiles(newRows, table, partitionBy)
    writeCommitStream(table, snap.version + 1, "MERGE",
      Seq("matchedPredicate" -> keyCols.mkString(",")),
      files = newFiles.iterator, removes = removes.iterator,
      partitionBy = partitionBy)
  }

  /** Append a data-free commit (e.g. VACUUM marker). */
  def logCommit(table: String, version: Long, operation: String,
                parameters: Seq[(String, String)]): Unit =
    writeCommitStream(table, version, operation, parameters,
      files = Iterator.empty, removes = Iterator.empty, partitionBy = Seq.empty)

  /** rm -rf the table dir (test teardown; clean_delta_data.py:9-22);
    * `table` is a plain path or a `file:` URI. */
  def drop(table: String): Unit = {
    def rec(f: File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rec)
      f.delete(); ()
    }
    val root = new File(localDir(table))
    if (root.exists()) rec(root)
  }
}
