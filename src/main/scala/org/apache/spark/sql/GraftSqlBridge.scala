package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

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
}
