package graft.ice

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Scan relation fed DIRECTLY from the planned file list (path + length
  * from manifest metadata) instead of `spark.read.parquet(paths: _*)` —
  * the exact field-id read of a merge-on-read delete's match set.
  *
  * The path-list API builds an InMemoryFileIndex, which globs each path,
  * issues one driver-side filesystem getFileStatus per path and keeps
  * every path string in the plan: a fixed cost on every small scan, and
  * at millions of surviving files the PLAN becomes the driver object
  * even when the entries were pruned distributed. Iceberg manifests
  * already know each file's size, so this index serves Spark's FileIndex
  * contract from metadata alone: zero filesystem listing/stat calls, one
  * PartitionDirectory, and a plan that prints the index class instead of
  * a location list. Its FileStatus carries no block locations, so Spark
  * schedules these splits without locality preferences. Parquet
  * pushdown/codegen are untouched — downstream of the FileIndex this IS
  * the native parquet scan (FileSourceScanExec + vectorized reader +
  * PushedFilters). */
final class ManifestFileIndex(files: Seq[(String, Long)]) extends FileIndex {

  override def rootPaths: Seq[Path] = Nil

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    // entries were already pruned at manifest-plan time; filters still
    // apply at the parquet scan (row-group pushdown)
    Seq(PartitionDirectory(InternalRow.empty,
      files.map { case (p, len) =>
        FileStatusWithMetadata(new FileStatus(
          len, false, 1, 128L * 1024 * 1024, 0L, new Path(p)))
      }))

  override def inputFiles: Array[String] = files.map(_._1).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = files.map(_._2).sum
  override def partitionSchema: StructType = new StructType()
  override def toString: String = ManifestFileIndex.describe(files.size, sizeInBytes)
}

object ManifestFileIndex {
  /** How a file list fed from manifest metadata shows in a plan. */
  def describe(files: Int, bytes: Long): String = s"ManifestFileIndex($files files, $bytes bytes)"
}

object FileListRelation {
  /** Parquet DataFrame over an explicit file list with a known schema.
    * Columns resolve by parquet field id wherever `schema` carries ids
    * (name matching otherwise): the setting rides in the relation's own
    * options, which reach the reader's Hadoop conf, so the caller's
    * session conf is never touched. */
  def parquet(spark: SparkSession, files: Seq[(String, Long)],
      schema: StructType): DataFrame = {
    val relation = HadoopFsRelation(
      new ManifestFileIndex(files),
      partitionSchema = new StructType(),
      dataSchema = schema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = Map("spark.sql.parquet.fieldId.read.enabled" -> "true"))(spark)
    org.apache.spark.sql.GraftColumnBridge.ofRows(spark,
      LogicalRelation(relation, isStreaming = false))
  }
}
