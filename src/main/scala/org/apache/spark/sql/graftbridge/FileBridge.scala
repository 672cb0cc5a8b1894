package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** `spark.read.parquet(paths)` re-derives two things a caller with a
  * file manifest already knows: the file list (over more than
  * `parallelPartitionDiscovery.threshold` paths it lists them with a
  * Spark job) and the schema (one inference job over the footers).
  * This shim scans exactly the given files with the given schema: a
  * fixed, non-partitioned file index under a parquet relation. */
object FileBridge {
  def parquet(spark: SparkSession, files: Seq[FileStatus], schema: StructType): DataFrame =
    spark.baseRelationToDataFrame(HadoopFsRelation(ListedFiles(files), new StructType(),
      schema.asNullable, None, new ParquetFileFormat, Map.empty)(spark))

  /** A file index over a fixed file list. A case class, so two reads
    * of the same files are the same relation (cache lookups match). */
  private final case class ListedFiles(files: Seq[FileStatus]) extends FileIndex {
    override def rootPaths: Seq[Path] = files.map(_.getPath)
    override def listFiles(partitionFilters: Seq[Expression],
                           dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      Seq(PartitionDirectory(InternalRow.empty, files.map(FileStatusWithMetadata(_))))
    override def inputFiles: Array[String] = files.map(_.getPath.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = files.map(_.getLen).sum
    override def partitionSchema: StructType = new StructType()
  }
}
