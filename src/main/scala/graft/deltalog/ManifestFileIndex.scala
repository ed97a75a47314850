package graft.deltalog

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** A Spark [[FileIndex]] over an explicit list of Delta data files, each
  * with its own values of `partitionSchema` (`__file`, the `add.path`, and
  * the table's partition columns, strings from the log;
  * [[DeltaSnapshot.scan]]): Spark lists and opens exactly these files,
  * never a directory. Each file is its own partition directory, so a filter
  * on any of its values drops whole files before the scan. The log's own
  * files are read on the driver, without a scan. */
private[graft] final class ManifestFileIndex(root: Path, override val partitionSchema: StructType,
                                             files: Seq[(FileStatus, Seq[Any])]) extends FileIndex {

  private val dirs: Seq[PartitionDirectory] = files.map { case (status, values) =>
    PartitionDirectory(InternalRow.fromSeq(values.map(CatalystTypeConverters.convertToCatalyst)),
      Array(status))
  }

  /** The parquet files read under `dataSchema`, the values of
    * [[partitionSchema]] as trailing columns. */
  def read(spark: SparkSession, dataSchema: StructType): DataFrame =
    spark.baseRelationToDataFrame(HadoopFsRelation(this, partitionSchema,
      GraftSqlBridge.asNullable(dataSchema), None, new ParquetFileFormat, Map.empty)(spark))

  override def rootPaths: Seq[Path] = Seq(root)

  // Spark removes the partition filters from the post-scan Filter, so they
  // must be applied here or their rows come back unfiltered
  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    partitionFilters.reduceOption(And) match {
      case None => dirs
      case Some(filter) =>
        val keep = Predicate.createInterpreted(filter.transform {
          case a: AttributeReference =>
            val i = partitionSchema.fieldIndex(a.name)
            BoundReference(i, partitionSchema(i).dataType, nullable = true)
        })
        dirs.filter(d => keep.eval(d.values))
    }

  override def inputFiles: Array[String] = dirs.map(_.files.head.getPath.toString).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = dirs.map(_.files.head.getLen).sum
}
