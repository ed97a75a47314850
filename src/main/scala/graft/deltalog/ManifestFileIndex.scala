package graft.deltalog

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** A Spark [[FileIndex]] over an explicit list of Delta data files, given as
  * rows with [[DeltaSnapshot.activeFiles]]' columns: Spark lists and opens
  * exactly these files, never the table directory. Each file is its own
  * partition directory whose values are `__file` (the `add.path`) and the
  * table's partition columns, all strings taken from the log — so a filter
  * on any of them drops whole files before the scan. */
private[deltalog] final class ManifestFileIndex(root: Path, files: Seq[Row],
                                                partitionColumns: Seq[String]) extends FileIndex {

  override val partitionSchema: StructType =
    StructType(("__file" +: partitionColumns).map(StructField(_, StringType)))

  private val dirs: Seq[PartitionDirectory] = files.map { f =>
    val path = f.getAs[String]("path")
    val pv = Option(f.getAs[collection.Map[String, String]]("partitionValues"))
      .getOrElse(Map.empty[String, String])
    val values = (path +: partitionColumns.map(pv.getOrElse(_, null))).map(UTF8String.fromString)
    PartitionDirectory(InternalRow.fromSeq(values), Array(new FileStatus(
      f.getAs[Long]("size"), false, 0, 0, f.getAs[Long]("modificationTime"),
      new Path(root, new Path(null, null, path)))))
  }

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
            BoundReference(partitionSchema.fieldIndex(a.name), StringType, nullable = true)
        })
        dirs.filter(d => keep.eval(d.values))
    }

  override def inputFiles: Array[String] = dirs.map(_.files.head.getPath.toString).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = dirs.map(_.files.head.getLen).sum
}
