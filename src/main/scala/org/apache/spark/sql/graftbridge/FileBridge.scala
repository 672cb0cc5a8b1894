package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** `spark.read.parquet(paths)` re-derives two things a caller with a
  * file manifest already knows: the file list (over more than
  * `parallelPartitionDiscovery.threshold` paths it lists them with a
  * Spark job) and the schema (one inference job over the footers).
  * This shim scans exactly the given files with the given schema: a
  * fixed file index under a parquet relation. */
object FileBridge {
  def parquet(spark: SparkSession, files: Seq[FileStatus], schema: StructType): DataFrame =
    relation(spark, ListedFiles(Seq(Nil -> files), new StructType()), schema)

  /** As [[parquet]], over several file groups in one scan: each row
    * carries its group's index in `groups` as the int column `groupCol`
    * (a partition column of the relation, so it costs no data read). */
  def parquetGroups(spark: SparkSession, groups: Seq[Seq[FileStatus]], schema: StructType,
                    groupCol: String): DataFrame =
    relation(spark, ListedFiles(groups.zipWithIndex.map { case (fs, i) => Seq(i) -> fs },
      StructType(Seq(StructField(groupCol, IntegerType, nullable = false)))), schema)

  private def relation(spark: SparkSession, index: ListedFiles, schema: StructType): DataFrame =
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      schema.asNullable, None, new ParquetFileFormat, Map.empty)(spark))

  /** A file index over fixed file groups, each with its partition
    * values. A case class, so two reads of the same files are the same
    * relation (cache lookups match). */
  private final case class ListedFiles(groups: Seq[(Seq[Any], Seq[FileStatus])],
                                       partitionSchema: StructType) extends FileIndex {
    override def rootPaths: Seq[Path] = files.map(_.getPath)
    /** Groups whose values pass `partitionFilters`: the scan does not
      * re-apply a filter on partition columns alone. */
    override def listFiles(partitionFilters: Seq[Expression],
                           dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      val keep = partitionFilters.reduceOption(And).map { f =>
        Predicate.createInterpreted(f.transform { case a: Attribute =>
          val i = partitionSchema.fieldIndex(a.name)
          BoundReference(i, partitionSchema(i).dataType, nullable = false)
        })
      }
      groups.map { case (vs, fs) => (InternalRow.fromSeq(vs), fs) }
        .filter { case (row, _) => keep.forall(_.eval(row)) }
        .map { case (row, fs) => PartitionDirectory(row, fs.map(FileStatusWithMetadata(_))) }
    }
    private def files: Seq[FileStatus] = groups.flatMap(_._2)
    override def inputFiles: Array[String] = files.map(_.getPath.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = files.map(_.getLen).sum
  }
}
