package graft.deltalog

import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeSet, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{ProjectExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.datasources.{V1WritesUtils, WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}

/** A data file one write produced, as its `add` action records it: the
  * table-relative path, the size in bytes and the row count. The count is
  * None for an add passed without one; the commit writer then reads the
  * file's parquet footer. */
final case class DataFile(path: String, size: Long, numRecords: Option[Long])

/** The engine's one data write: `write`, the DELETE and MERGE rewrites,
  * `compact`, OPTIMIZE and ZORDER all write their parquet files here, as
  * Delta's `TransactionalWrite.writeFiles` does (Armbrust et al., VLDB '20,
  * §3: a writer writes new objects under unique names and commits exactly
  * those).
  *
  *  - Spark's `FileFormatWriter` writes the files, in a SQL execution of its
  *    own, through [[DirectCommitProtocol]]: each task writes straight to
  *    the file's final path under a name unique to it. Nothing is listed
  *    and no footer is opened; the result is exactly the files this write's
  *    committed tasks produced, with their sizes and with row counts from
  *    [[RowCounts]].
  *  - A task attempt that fails leaves its files behind as orphans, which
  *    VACUUM deletes, as in Delta.
  *  - The input is planned statically, as one job, when adaptive execution
  *    would run the same tasks and write the same files ([[staticPlan]]).
  */
private[graft] object WriteFiles {

  /** Writes `rows` under the table root `table`, hive-partitioned by
    * `partitionBy`, and returns the files written, sorted by path. */
  def apply(rows: DataFrame, table: String, partitionBy: Seq[String]): Seq[DataFile] = {
    val root = DeltaLog.qualifiedPath(rows.sparkSession, table)
    val committer = new DirectCommitProtocol(root)
    val counts = new RowCounts
    GraftSqlBridge.writeParquet(rows.queryExecution, staticPlan(rows, partitionBy), committer, root,
      partitionBy, Seq(counts))
    committer.committed.map { case (rel, size) =>
      DataFile(rel, size, Some(counts.rows(absolute(root, rel))))
    }.sortBy(_.path)
  }

  /** The static plan the writer runs, if it takes one; else (None) it runs
    * the adaptive plan, `rows.queryExecution.executedPlan`. The static plan
    * (the session's preparation rules without adaptive execution) puts the
    * layout shuffle and the write in one job; under adaptive execution the
    * shuffle is a job of its own. It is taken when every shuffle in it
    * runs the same tasks, and writes the same files, as under adaptive
    * execution:
    *  - a partition count the caller fixed (`repartition(n, …)`,
    *    `repartitionByRange(n, …)`), which adaptive execution never
    *    coalesces;
    *  - or a hash on the partition columns alone, into no more partitions
    *    than the cluster has task slots: each partition directory's rows
    *    meet in one reducer, so coalescing changes the task count but never
    *    the files, and the reducers run in one wave either way. With more
    *    partitions than slots (`GraftSession.scaleConf`'s twice the cores,
    *    say) the static plan runs every reducer, most of them empty, where
    *    adaptive execution coalesces them into a few tasks: on 4 local
    *    cores a 400-row append took a median 0.15 s statically against
    *    0.16 s adaptively at 4 shuffle partitions, but 0.32 s against
    *    0.16 s at 32 and 1.18 s against 0.13 s at 200.
    * The plan carries the writer's sort by the partition columns, over
    * empty strings read as null, as Spark's own writer plans it. Any other
    * shuffle (a join's, an aggregate's) keeps the adaptive plan, where
    * re-sized partitions change the files; the writer then adds the sort. */
  private[graft] def staticPlan(rows: DataFrame, partitionBy: Seq[String]): Option[SparkPlan] = {
    val input = rows.queryExecution.sparkPlan
    val keys = partitionBy.map(c => input.output.find(_.name == c).getOrElse(
      throw new IllegalArgumentException(s"partition column $c is not among ${input.output.map(_.name)}")))
    val empty2Null = V1WritesUtils.convertEmptyToNull(input.output, keys)
    val projected = if (empty2Null.isEmpty) input else ProjectExec(empty2Null, input)
    val sorted =
      if (keys.isEmpty) projected
      else SortExec(partitionBy.map(c => SortOrder(projected.output.find(_.name == c).get, Ascending)),
        global = false, projected)
    val static = GraftSqlBridge.prepareStatic(rows.sparkSession, sorted)
    val layout = AttributeSet(keys)
    val slots = rows.sparkSession.sparkContext.defaultParallelism
    val sameTasks = static.collect { case s: ShuffleExchangeExec => s }.forall { s =>
      s.shuffleOrigin == REPARTITION_BY_NUM || (s.outputPartitioning match {
        case h: HashPartitioning =>
          h.references.nonEmpty && h.references.subsetOf(layout) && h.numPartitions <= slots
        case _ => false
      })
    }
    Some(static).filter(_ => sameTasks)
  }

  /** The path string of `rel` under `root`, as the writer opens it. */
  private[deltalog] def absolute(root: String, rel: String): String =
    new Path(new Path(root), rel).toString
}

/** The commit protocol of [[WriteFiles]], modelled on Delta's
  * `DelayedCommitProtocol`. Each task writes every file straight to its
  * final path under `root`, named `part-<split>-<uuid><suffix>`
  * (`part-00003-….c000.snappy.parquet`), so no two writes or attempts share
  * a name. Job setup and commit touch no file: no `_temporary` directory,
  * no `_SUCCESS` marker, nothing moved. A committed task sends its files
  * (relative path, size) to the driver, where [[committed]] collects them;
  * an aborted task's files stay behind as orphans. */
private final class DirectCommitProtocol(root: String) extends FileCommitProtocol with Serializable {
  @transient private var files: mutable.ArrayBuffer[String] = _
  @transient private[deltalog] var committed: Seq[(String, Long)] = Nil

  override def setupJob(job: JobContext): Unit = ()
  override def commitJob(job: JobContext, tasks: Seq[TaskCommitMessage]): Unit =
    committed = tasks.flatMap(_.obj.asInstanceOf[Seq[(String, Long)]])
  override def abortJob(job: JobContext): Unit = ()

  override def setupTask(task: TaskAttemptContext): Unit = files = mutable.ArrayBuffer.empty

  override def newTaskTempFile(task: TaskAttemptContext, dir: Option[String], spec: FileNameSpec): String = {
    val name = f"${spec.prefix}part-${task.getTaskAttemptID.getTaskID.getId}%05d-${UUID.randomUUID}${spec.suffix}"
    val rel = dir.fold(name)(d => s"$d/$name")
    files += rel
    WriteFiles.absolute(root, rel)
  }

  override def newTaskTempFileAbsPath(task: TaskAttemptContext, absoluteDir: String, spec: FileNameSpec): String =
    throw new UnsupportedOperationException(s"every file of the table is written under $root")

  override def commitTask(task: TaskAttemptContext): TaskCommitMessage = {
    val fs = new Path(root).getFileSystem(task.getConfiguration)
    new TaskCommitMessage(files.toSeq.map(rel =>
      rel -> fs.getFileStatus(new Path(WriteFiles.absolute(root, rel))).getLen))
  }

  override def abortTask(task: TaskAttemptContext): Unit = ()
}

/** The rows of each file a task wrote, by the path the writer opened it at. */
private final case class FileRows(rows: Seq[(String, Long)]) extends WriteTaskStats

/** Counts the rows of every file a write's tasks write; the driver's
  * instance collects the counts in [[rows]], by path. */
private final class RowCounts extends WriteJobStatsTracker {
  @transient private[deltalog] var rows: Map[String, Long] = Map.empty

  override def newTaskInstance(): WriteTaskStatsTracker = new WriteTaskStatsTracker {
    private val counts = mutable.HashMap.empty[String, Long]
    override def newPartition(values: InternalRow): Unit = ()
    override def newFile(path: String): Unit = counts(path) = 0L
    override def closeFile(path: String): Unit = ()
    override def newRow(path: String, row: InternalRow): Unit = counts(path) += 1
    override def getFinalStats(taskCommitTime: Long): WriteTaskStats = FileRows(counts.toSeq)
  }

  override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
    rows = stats.flatMap(_.asInstanceOf[FileRows].rows).toMap
}
