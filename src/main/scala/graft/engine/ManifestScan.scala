package graft.engine

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** A parquet scan over exactly the files a manifest lists. Each file's
  * status comes from one driver-side stat: planning walks no directory and
  * starts no Spark job, where `spark.read.parquet(paths: _*)` lists through
  * a job (one task per path) once it is given more than
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) paths.
  * The relation is the one `spark.read.parquet` builds — a
  * `HadoopFsRelation` with no partition columns — so pushdown, row-group
  * pruning and `inputFiles` behave the same. */
private[engine] object ManifestScan {

  def parquet(spark: SparkSession, schema: StructType, files: Seq[String]): DataFrame = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val statuses = files.map { f =>
      val p = new Path(f)
      p.getFileSystem(hconf).getFileStatus(p)
    }
    spark.baseRelationToDataFrame(HadoopFsRelation(new Index(statuses), new StructType(),
      schema, bucketSpec = None, new ParquetFileFormat, Map.empty)(spark))
  }

  private final class Index(files: Seq[FileStatus]) extends FileIndex {
    override def rootPaths: Seq[Path] = files.map(_.getPath)
    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      Seq(PartitionDirectory(InternalRow.empty, files.toArray))
    override def inputFiles: Array[String] = files.map(_.getPath.toUri.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = files.map(_.getLen).sum
    override def partitionSchema: StructType = new StructType()
  }
}
