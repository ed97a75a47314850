package graft.operators

import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets
import java.util.UUID

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import scala.collection.mutable

import graft.deltalog.{DataFile, DeltaFixtureWriter, DeltaLog, WriteFiles}

/** Maintenance operations the health analysis recommends (H12) — the engine
  * can EXECUTE them, not just suggest:
  *  - OPTIMIZE: bin-pack each partition's small files into ~target-sized
  *    ones (the selection and the packing are plain Scala over the
  *    manifest, the rewrite one Spark job with no shuffle)
  *  - VACUUM: physically delete files no longer referenced by the log,
  *    honoring a retention window
  *  - CHECKPOINT: write a parquet checkpoint so expired JSON commits can be
  *    dropped (and replay cost stays bounded as the log grows)
  */
object Maintenance {

  /** OPTIMIZE (S10 as an engine capability) — small-file compaction, the
    * scale-path counterpart of the fixture compactor
    * ([[graft.deltalog.DeltaFixtureWriter.compact]], which rewrites every
    * active file).
    *
    * Semantics: per Hive partition, active files smaller than
    * `smallFileBytes` (default targetFileBytes/2) are bin-packed into
    * ~targetFileBytes outputs; partitions with fewer than two small files
    * are left untouched (nothing to gain), as are files already at target
    * size — real OPTIMIZE never rewrites the whole table.
    *
    * Shape:
    *  - selection and packing ([[optimizeRewrite]]): plain Scala over the
    *    snapshot's driver-held manifest, grouped by `partitionValues`; each
    *    partition's chosen files are packed whole into bins on the driver,
    *    as Delta's OPTIMIZE does;
    *  - rewrite: ONE Spark job with no exchange. Each bin is one read
    *    partition of [[graft.deltalog.DeltaSnapshot.scanBins]], so its task
    *    reads exactly its files, in order, and the partitioned append writes
    *    it as one output file;
    *  - discovery: none. The write ([[graft.deltalog.WriteFiles]]) returns
    *    exactly the files its tasks wrote, one per bin, with their sizes and
    *    row counts; no directory is listed and no footer is opened;
    *  - commit: the chosen paths, sorted on the driver, are the removes.
    *
    * Single-writer assumption, like the commit writer (no
    * concurrent-commit arbitration — that is a transaction-protocol
    * concern, not a compaction one). */
  def optimize(spark: SparkSession, tablePath: String,
               targetFileBytes: Long = 128L * 1024 * 1024,
               smallFileBytes: Long = 0L): Unit = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive, got $targetFileBytes")
    val smallThr = if (smallFileBytes > 0L) smallFileBytes else targetFileBytes / 2
    val snap = DeltaLog.snapshot(spark, tablePath)
    val params = Seq("predicate" -> "[]", "targetFileBytes" -> targetFileBytes.toString)
    optimizeRewrite(snap, targetFileBytes, smallThr) match {
      case None =>
        DeltaFixtureWriter.logCommit(tablePath, snap.version + 1, "OPTIMIZE", params)
      case Some((rows, removes)) =>
        val added = WriteFiles(rows, snap.qualifiedTablePath, snap.partitionColumns)
        DeltaFixtureWriter.writeCommitStream(tablePath, snap.version + 1, "OPTIMIZE",
          params, files = added.iterator, removes = removes.iterator,
          partitionBy = snap.partitionColumns)
    }
  }

  /** The rewrite of [[optimize]], None when no partition has two small
    * files: the rows of every file under `smallThr` in a partition with at
    * least two of them, read one bin per task ([[pack]]), and those files'
    * paths, sorted. Exposed separately so PlanAudit can print its plan. */
  private[graft] def optimizeRewrite(snap: graft.deltalog.DeltaSnapshot,
                                     targetFileBytes: Long,
                                     smallThr: Long): Option[(DataFrame, Seq[String])] = {
    val bins = snap.manifest.toSeq.filter(_.getLong(1) < smallThr)
      .groupBy(f => Option(f.getAs[collection.Map[String, String]]("partitionValues"))
        .getOrElse(Map.empty[String, String]))
      .values.filter(_.size >= 2).toSeq
      .flatMap(pack(_, targetFileBytes))
    Option.when(bins.nonEmpty)((snap.scanBins(bins), bins.flatten.map(_.getString(0)).sorted))
  }

  /** One partition's `files` (manifest rows) packed whole into
    * n = min(files, max(1, ceil(bytes / target))) bins: largest file first
    * (ties by path), each into the lightest bin (ties by the lower bin);
    * empty bins are dropped. The file count caps n, so a tiny target makes
    * one bin per file, never more. */
  private def pack(files: Seq[Row], target: Long): Seq[Seq[Row]] = {
    val bytes = files.map(_.getLong(1)).sum
    val n = math.min(files.size.toLong, math.max(1L, math.ceil(bytes.toDouble / target).toLong)).toInt
    val bins = Array.fill(n)(Vector.empty[Row])
    val lightest = mutable.PriorityQueue.from((0 until n).map(0L -> _))(Ordering[(Long, Int)].reverse)
    files.sortBy(f => (-f.getLong(1), f.getString(0))).foreach { f =>
      val (filled, i) = lightest.dequeue()
      bins(i) :+= f
      lightest.enqueue((filled + f.getLong(1), i))
    }
    bins.toSeq.filter(_.nonEmpty)
  }

  /** OPTIMIZE ZORDER BY — multi-dimensional clustering rewrite (the Delta
    * paper's Z-order compaction, Armbrust et al. VLDB'20 §4.3; the
    * reference's health report recommends OPTIMIZE, this executes the
    * clustered flavor). All active rows are rewritten ordered by a Z-value
    * interleaving the bits of up to three cluster columns, so a file's
    * min/max range is narrow in EVERY clustered dimension and a predicate
    * on ANY of them prunes ~N^((d−1)/d) of the files — a linear sort gives
    * that for the leading column only.
    *
    * Mapping to bits: each column is scaled to a 16-bit cell index by
    * equal-width `width_bucket` over its global min/max (one aggregate job;
    * the same fixed-width-representation approach Iceberg's z-order
    * transform takes). Equal-width is skew-sensitive — a column with a few
    * giant outliers collapses most rows into few cells; pass
    * `rankBased = true` to switch to equi-depth cells (256 approx-quantile
    * buckets per column via [[rankCell]]'s codegen comparison tree), which
    * spread rows evenly whatever the value distribution at the cost of one
    * extra sketch pass. Numeric/date/timestamp cluster columns only.
    *
    * Shape: one aggregate for min/max, one scan of the active rows,
    * `repartitionByRange` on (hive partition cols, z) — distributed
    * boundary sampling, no global sort on a single reducer — with
    * `sortWithinPartitions` so every output file covers a contiguous
    * Z-range. Bit interleave is a constant-shift expression tree inside
    * whole-stage codegen, over one cell column per cluster column, each
    * computed once. Commit flow mirrors [[optimize]]: the adds are the files
    * the write returns, and the removes are the driver-held manifest's
    * paths, sorted. Single-writer assumption as everywhere. */
  def zorder(spark: SparkSession, tablePath: String, zorderCols: Seq[String],
             targetFileBytes: Long = 128L * 1024 * 1024,
             rankBased: Boolean = false): Unit = {
    require(zorderCols.nonEmpty && zorderCols.size <= 3,
      s"zorder takes 1-3 columns, got $zorderCols")
    require(targetFileBytes > 0, s"targetFileBytes must be positive, got $targetFileBytes")
    val snap = DeltaLog.snapshot(spark, tablePath)
    val partCols = snap.partitionColumns
    require(zorderCols.forall(c => !partCols.contains(c)),
      s"zorder columns must be data columns, not hive partition columns")
    val zParams = Seq(
      "zOrderBy" -> zorderCols.mkString("[\"", "\",\"", "\"]"),
      "targetFileBytes" -> targetFileBytes.toString)
    snap.dataWithFile match {
      case None =>
        DeltaFixtureWriter.logCommit(tablePath, snap.version + 1, "OPTIMIZE",
          zParams)
      case Some(rows) =>
        val nOut = math.max(1L, math.ceil(
          snap.activeSizes.values.sum.toDouble / targetFileBytes).toLong).toInt
        val (cells, bits) =
          if (rankBased) {
            // equi-depth cells: 255 approx-quantile boundaries per column
            // (one GK-sketch pass over the active rows, driver payload =
            // 255 doubles/col) — immune to outlier-stretched ranges
            val probs = (1 until 256).map(_ / 256.0).toArray
            val doubled = rows.select(zorderCols.map(c =>
              col(c).cast("double").as(c)): _*)
            val bounds = doubled.stat.approxQuantile(
              zorderCols.toArray, probs, 0.001)
            (zorderCols.zipWithIndex.map { case (c, i) =>
              rankCell(col(c).cast("double"), bounds(i))
            }, 8)
          } else {
            val mmCols = zorderCols.flatMap(c => Seq(
              min(col(c).cast("double")).as(s"mn_$c"),
              max(col(c).cast("double")).as(s"mx_$c")))
            val mm = rows.agg(mmCols.head, mmCols.tail: _*).first()
            (zorderCols.zipWithIndex.map { case (c, i) =>
              // an all-null cluster column aggregates to NULL min/max —
              // Row.getDouble would NPE, so land the column in cell 0
              // directly (same cell bucket16 gives constant columns)
              if (mm.isNullAt(2 * i) || mm.isNullAt(2 * i + 1)) lit(0L)
              else bucket16(col(c), mm.getDouble(2 * i), mm.getDouble(2 * i + 1))
            }, 16)
          }
        // each cell is a column of its own, computed once: zValue reads it
        // once per bit, and Spark does not inline a non-trivial expression
        // into a projection that reads it more than once
        val cellCols = cells.indices.map(i => s"__cell$i")
        val shuffleKeys = partCols.map(col) :+ col("__z")
        val added = WriteFiles(
          rows.drop("__file")
            .select(col("*") +: cells.zip(cellCols).map { case (c, n) => c.as(n) }: _*)
            .withColumn("__z", zValue(cellCols.map(col), bits))
            .drop(cellCols: _*)
            .repartitionByRange(nOut, shuffleKeys: _*)
            .sortWithinPartitions(shuffleKeys: _*)
            .drop("__z"),
          snap.qualifiedTablePath, partCols)
        DeltaFixtureWriter.writeCommitStream(tablePath, snap.version + 1,
          "OPTIMIZE", zParams,
          files = added.iterator,
          removes = snap.activeSizes.keys.toSeq.sorted.iterator,
          partitionBy = partCols)
    }
  }

  /** Equal-width 16-bit cell index of `c` over [mn, mx]; constant columns
    * (or all-null) land in cell 0. width_bucket maps v<mn→0, v≥mx→n+1, so
    * the result is clamped back into [0, 65535]. */
  private[graft] def bucket16(c: Column, mn: Double, mx: Double): Column =
    if (!(mx > mn)) lit(0L)  // also covers NaN min/max (NaN-valued column;
                             // all-null min/max is NULL, guarded by caller)
    else least(greatest(
      width_bucket(c.cast("double"), lit(mn), lit(mx), lit(65536)) - 1,
      lit(0L)), lit(65535L))

  /** Equi-depth cell of `c` given ASCENDING quantile boundaries: the cell
    * is the count of boundaries strictly below c (a value equal to a
    * boundary belongs to the cell on its LEFT), computed by a BALANCED
    * comparison tree
    * (depth ⌈log₂ cells⌉ — 8 comparisons for 256 cells) generated as nested
    * `when`s, so the mapping stays inside whole-stage codegen instead of an
    * interpreted 255-element higher-order-function scan. Nulls land in the
    * top cell (they sort last in the rewrite either way). */
  private[graft] def rankCell(c: Column, bounds: Array[Double]): Column = {
    def tree(lo: Int, hi: Int): Column =
      if (lo == hi) lit(lo.toLong)
      else {
        val mid = (lo + hi) / 2
        when(c <= bounds(mid), tree(lo, mid)).otherwise(tree(mid + 1, hi))
      }
    tree(0, bounds.length)
  }

  /** Interleave the low 16 bits of up to four cell indices: bit j of
    * column i lands at position j·k + i — the Morton / Z-order curve.
    * Constant shifts only, so the whole tree stays codegen-friendly. */
  private[graft] def zValue(cells: Seq[Column], bits: Int = 16): Column = {
    val k = cells.size
    val terms = for (j <- 0 until bits; i <- 0 until k) yield
      shiftleft(shiftright(cells(i), j).bitwiseAND(lit(1L)), j * k + i)
    terms.reduce(_ bitwiseOR _)
  }

  /** VACUUM: delete on-disk data files that are not in the active manifest
    * and are older than `retainMs` (by filesystem modification time).
    * Returns the deleted-file frame (path, size). `dryRun` lists without
    * deleting. Logs a VACUUM commit like deltalake does.
    *
    * The candidates are the orphan paths of [[StorageAnalyzer.storage]] over
    * the driver-side folder listing and the manifest; each is stat'ed and
    * deleted in a plain loop on the driver, as Delta's default
    * (non-parallel) VACUUM does, so no Spark job runs. */
  def vacuum(spark: SparkSession, tablePath: String,
             retainMs: Long = 7L * 24 * 3600 * 1000,
             dryRun: Boolean = false): DataFrame = {
    import spark.implicits._
    val snap = DeltaLog.snapshot(spark, tablePath)
    val listing = DeltaLog.dataFiles(spark, tablePath)
    val root = new Path(snap.qualifiedTablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = root.toUri.getPath.stripSuffix("/")
    val cutoff = System.currentTimeMillis() - retainMs
    // a candidate counts as deleted when it is gone after the attempt,
    // including one already missing (removed by a concurrent run); a false
    // delete() that leaves the file in place is a real failure
    // (permissions, lease) and does not count
    val gone = StorageAnalyzer.storage(listing, snap.activeSizes, None).orphans.filter { rel =>
      val path = new Path(root, new Path(null, null, rel))
      val status = try Some(fs.getFileStatus(path)) catch { case _: FileNotFoundException => None }
      status.forall(st => st.getModificationTime < cutoff &&
        (dryRun || fs.delete(path, false) || !fs.exists(path)))
    }
    if (!dryRun)
      DeltaFixtureWriter.logCommit(tablePath, snap.version + 1, "VACUUM",
        Seq("retentionCheck" -> "false",
            "numFilesDeleted" -> gone.length.toString))
    gone.map(rel => (s"$dir/$rel", listing(rel))).toDF("path", "size")
  }

  /** RESTORE TABLE TO VERSION — Delta's `RESTORE` as a METADATA-ONLY
    * commit: the new version's active file set becomes exactly the target
    * snapshot's (remove every currently-active file absent at the target,
    * re-add every target file not currently active). No data files are
    * rewritten or copied — like OPTIMIZE's commit, only the log moves —
    * so restoring costs two set differences of the driver-held manifests
    * plus one streamed commit. Fails fast (before writing anything) if a
    * file to re-add has been physically removed by [[vacuum]] — Delta's own
    * restore-after-vacuum failure contract. Restoring to the current
    * version records a no-op RESTORE commit. A restore across a SCHEMA
    * change also rolls the metaData authority back to the target
    * snapshot's schema: the commit re-emits the target's metaData, so the
    * restored table reads with its historical schema.
    *
    * Cites delta-io/delta RESTORE semantics (PROTOCOL.md; the reference
    * delta-lake-health engine itself has no restore, so this extends the
    * maintenance family alongside MERGE/VACUUM/ZORDER/CDF). */
  def restore(spark: SparkSession, tablePath: String, toVersion: Long): Unit = {
    val cur = DeltaLog.snapshot(spark, tablePath)
    require(toVersion >= 0 && toVersion <= cur.version,
      s"restore target $toVersion outside [0, ${cur.version}]")
    if (toVersion == cur.version) {
      DeltaFixtureWriter.logCommit(tablePath, cur.version + 1, "RESTORE",
        Seq("version" -> toVersion.toString, "numRestoredFiles" -> "0",
          "numRemovedFiles" -> "0"))
      return
    }
    val tgt = DeltaLog.snapshotAt(spark, tablePath, toVersion)
    // each re-added file keeps the size and row count its target add logged
    val adds = tgt.manifest.toSeq.filterNot(f => cur.activeSizes.contains(f.getString(0))).map { f =>
      DataFile(f.getString(0), f.getLong(1), DeltaLog.statsNumRecords(f.getAs[String]("stats")))
    }
    val removes = (cur.activeSizes.keySet -- tgt.activeSizes.keys).toSeq.sorted
    // vacuum check: every file to re-add must still exist on disk
    val onDisk = DeltaLog.dataFiles(spark, cur.qualifiedTablePath)
    val missing = adds.map(_.path).filterNot(onDisk.contains)
    require(missing.isEmpty,
      s"restore to $toVersion impossible: ${missing.length} target " +
        s"files no longer on disk (vacuumed?), e.g. ${missing.head}")
    DeltaFixtureWriter.writeCommitStream(tablePath, cur.version + 1,
      "RESTORE",
      Seq("version" -> toVersion.toString,
        "numRestoredFiles" -> adds.length.toString,
        "numRemovedFiles" -> removes.length.toString),
      files = adds.iterator,
      removes = removes.iterator,
      partitionBy = tgt.partitionColumns,
      schema = Option.when(cur.tableSchema != tgt.tableSchema)(
        tgt.tableSchema.getOrElse(new StructType())),
      protocol = cur.latest("protocol"))
  }

  /** Write a parquet checkpoint of the current snapshot state — active adds
    * (with their `stats`, so row counts survive the JSONs' cleanup)
    * + latest metaData + latest protocol, as the SINGLE file
    * `NNN.checkpoint.parquet` the classic Delta checkpoint layout requires
    * (external readers like delta-rs/delta-spark expect one file, not a
    * Spark part-file directory) — and update `_last_checkpoint`. After this,
    * JSON commits <= the checkpoint version are no longer needed for replay,
    * and protocol/metaData survive their cleanup. Written on the driver by
    * Spark's parquet writer (no Spark job) to a dot-prefixed temp file, then
    * renamed into place, as `_last_checkpoint` is after it. */
  def checkpoint(spark: SparkSession, tablePath: String): Long = {
    val snap = DeltaLog.snapshot(spark, tablePath)
    val v = snap.version
    // a log that predates protocol emission gets the minimal classic protocol
    val meta = snap.latest("metaData")
    val proto = snap.latest("protocol").getOrElse(Row(1, 2, null, null))
    val rows = snap.manifest.toSeq.map(f => Row(Row(f(0), f(1), f(2), f(3), true, f(4)), null, null)) ++
      meta.map(Row(null, _, null)) :+ Row(null, null, proto)
    val schema = StructType(Seq("add", "metaData", "protocol").map(DeltaLog.actionSchema(_)))
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(tablePath).getFileSystem(conf)
    val dir = fs.makeQualified(new Path(DeltaLog.logDir(tablePath)))
    // `replace` renames over an existing file: atomic on HDFS; the local
    // filesystem deletes it first, and a reader then lists for the newest
    // checkpoint, already in place. Else a file already there is kept: a
    // checkpoint at version v holds the same state
    def publish(name: String, replace: Boolean)(write: Path => Unit): Unit = {
      val (tmp, dest) = (new Path(dir, s".$name.${UUID.randomUUID}.tmp"), new Path(dir, name))
      try {
        write(tmp)
        if (replace) FileContext.getFileContext(fs.getUri, conf).rename(tmp, dest, Options.Rename.OVERWRITE)
        else if (!fs.rename(tmp, dest) && !fs.exists(dest))
          throw new IOException(s"could not rename $tmp to $dest")
      } finally fs.delete(tmp, false)
    }
    publish(f"$v%020d.checkpoint.parquet", replace = false) { tmp =>
      val job = Job.getInstance(conf)
      val task = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
      val out = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
        .newInstance(tmp.toString, schema, task)
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
      try rows.foreach(r => out.write(toCatalyst(r).asInstanceOf[InternalRow])) finally out.close()
    }
    publish("_last_checkpoint", replace = true) { tmp =>
      val out = fs.create(tmp, false)
      try out.write(s"""{"version":$v,"size":${rows.length}}""".getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }
    v
  }
}
