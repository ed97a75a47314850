package org.apache.spark.sql

import org.apache.hadoop.conf.Configuration
import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.datasources.{BasicWriteJobStatsTracker, FileFormatWriter, WriteJobStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.reuse.ReuseExchangeAndSubquery
import org.apache.spark.util.SerializableConfiguration

/** Bridge to the `private[sql]` Column ↔ Expression converters — the
  * sanctioned extension-point pattern for third-party Catalyst expressions
  * on Spark 4 (classic module). */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `StructType.asNullable` (`private[spark]`): a file read's data schema. */
  def asNullable(s: types.StructType): types.StructType = s.asNullable

  /** A DataFrame of `schema` over `rows` (`internalCreateDataFrame` is
    * `private[sql]`): a scan built from an RDD of Catalyst rows. */
  def internalCreateDataFrame(spark: SparkSession, rows: RDD[InternalRow],
                              schema: types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** Unset the context's reliable-checkpoint dir (SparkContext offers a
    * setter but no clearer; `checkpointDir` is `private[spark]`, reachable
    * from this bridge package). Lets tests restore the
    * localCheckpoint-based code path after exercising reliable
    * checkpoints. */
  def clearCheckpointDir(sc: org.apache.spark.SparkContext): Unit =
    sc.checkpointDir = None

  /** Register a temp SQL function on an existing session (the
    * `withExtensions` route only applies to a freshly built session —
    * `getOrCreate` on a live context ignores it). */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit = {
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")
    ()
  }

  /** `plan` prepared for execution by the session's rules without
    * `InsertAdaptiveSparkPlan` (exchange reuse last, as for a query): a
    * static plan, whose shuffles run in the job that reads them. */
  def prepareStatic(spark: SparkSession, plan: SparkPlan): SparkPlan =
    ReuseExchangeAndSubquery(QueryExecution.prepareExecutedPlan(spark.asInstanceOf[classic.SparkSession], plan))

  /** `FileFormatWriter.write` of `qe`'s query as parquet under `path`
    * through `committer`, hive-partitioned by the columns `partitionBy`;
    * Spark's basic write statistics (the tasks' output metrics) run beside
    * `trackers`. The plan run is `static`, a physical plan of the query,
    * if given, else `qe.executedPlan`. It runs in a new SQL execution of a
    * `QueryExecution` whose executed plan is the plan run, so the
    * execution's start event, the SQL UI and the `QueryExecutionListener`s
    * see that plan, with its metrics. */
  def writeParquet(qe: QueryExecution, static: Option[SparkPlan], committer: FileCommitProtocol, path: String,
                   partitionBy: Seq[String], trackers: Seq[WriteJobStatsTracker]): Unit = {
    val spark = qe.sparkSession
    val ran = static.fold(qe)(plan =>
      new QueryExecution(spark, qe.logical, qe.tracker, qe.mode, qe.shuffleCleanupMode, qe.refreshPhaseEnabled) {
        override def optimizedPlan: catalyst.plans.logical.LogicalPlan = qe.optimizedPlan
        override def sparkPlan: SparkPlan = qe.sparkPlan
        override def executedPlan: SparkPlan = plan
      })
    val plan = ran.executedPlan
    val conf: Configuration = spark.sessionState.newHadoopConf()
    val basic = new BasicWriteJobStatsTracker(new SerializableConfiguration(conf), BasicWriteJobStatsTracker.metrics)
    execution.SQLExecution.withNewExecutionId(ran, Some("graft write")) {
      FileFormatWriter.write(spark, plan, new ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(path, Map.empty, plan.output), conf,
        partitionBy.map(c => plan.output.find(_.name == c).get), None, basic +: trackers, Map.empty)
    }
    ()
  }
}
