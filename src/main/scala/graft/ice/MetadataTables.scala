package graft.ice

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ice.manifest._
import graft.ice.meta.PartitionSpec

/** Inspection ("metadata") tables: snapshots / manifests / files / history
  * as DataFrames (C4/T4 + S3/S4 read surface). Metadata-plane only —
  * these materialize driver-side structs, which are manifest-sized, not
  * data-sized. */
object MetadataTables {

  def snapshots(spark: SparkSession, table: IceTable): DataFrame = {
    import spark.implicits._
    table.snapshots.map { s =>
      (s.snapshotId, s.parentSnapshotId, s.sequenceNumber, s.timestampMs,
        s.operation.getOrElse(""), s.manifestList,
        s.summary.getOrElse("added-records", ""),
        s.summary.getOrElse("added-data-files", ""))
    }.toDF("snapshot_id", "parent_id", "sequence_number", "committed_at_ms",
      "operation", "manifest_list", "added_records", "added_data_files")
  }

  def history(spark: SparkSession, table: IceTable): DataFrame = {
    import spark.implicits._
    // is_current_ancestor marks log entries on the CURRENT lineage —
    // false rows are rollback orphans (Iceberg history semantics)
    val ancestry: Set[Long] = table.currentSnapshot.map(cur =>
      Iterator.iterate(Option(cur))(
        _.flatMap(_.parentSnapshotId).flatMap(table.metadata.snapshotById))
        .takeWhile(_.isDefined).flatten.map(_.snapshotId).toSet)
      .getOrElse(Set.empty)
    table.history.map(e => (e.timestampMs, e.snapshotId,
        table.metadata.snapshotById(e.snapshotId)
          .flatMap(_.parentSnapshotId),
        ancestry.contains(e.snapshotId)))
      .toDF("made_current_at_ms", "snapshot_id", "parent_id",
        "is_current_ancestor")
  }

  def refs(spark: SparkSession, table: IceTable): DataFrame = {
    import spark.implicits._
    table.refs.toSeq.map { case (name, r) => (name, r.refType, r.snapshotId) }
      .toDF("name", "type", "snapshot_id")
  }

  def manifests(spark: SparkSession, table: IceTable): DataFrame = {
    import spark.implicits._
    val ms = table.currentSnapshot
      .map(s => ManifestAvro.readManifestList(s.manifestList))
      .getOrElse(IndexedSeq.empty)
    ms.map { m =>
      (m.manifestPath, m.manifestLength, m.partitionSpecId, m.content,
        m.sequenceNumber, m.addedSnapshotId,
        m.addedFilesCount.getOrElse(-1), m.existingFilesCount.getOrElse(-1),
        m.deletedFilesCount.getOrElse(-1))
    }.toDF("path", "length", "partition_spec_id", "content", "sequence_number",
      "added_snapshot_id", "added_files_count", "existing_files_count",
      "deleted_files_count")
  }

  def files(spark: SparkSession, table: IceTable): DataFrame = {
    import spark.implicits._
    val entries = table.currentSnapshot
      .map(s => table.planEntries(s, None)).getOrElse(Nil)
    entries.map { e =>
      val f = e.dataFile
      (f.filePath, f.fileFormat, f.content, f.recordCount, f.fileSizeInBytes,
        f.partition.map(v => if (v == null) "null" else v.toString).mkString("/"),
        e.sequenceNumber.getOrElse(0L), e.snapshotId.getOrElse(0L))
    }.toDF("file_path", "file_format", "content", "record_count",
      "file_size_in_bytes", "partition", "sequence_number", "snapshot_id")
  }

  /** all_delete_files equivalent. */
  def deleteFiles(spark: SparkSession, table: IceTable): DataFrame = {
    import spark.implicits._
    val entries = table.currentSnapshot
      .map(table.planDeleteEntries).getOrElse(Nil)
    entries.map { e =>
      val f = e.dataFile
      (f.filePath, f.content, f.recordCount, f.equalityIds.mkString(","),
        e.sequenceNumber.getOrElse(0L))
    }.toDF("file_path", "content", "record_count", "equality_ids", "sequence_number")
  }

  /** `statistics` metadata table: one row per sketch blob — which column,
    * which snapshot, the NDV carried in the blob properties, and where
    * the sketch lives (readable back via Puffin.readBlob). */
  def statistics(spark: SparkSession, table: IceTable): DataFrame = {
    import spark.implicits._
    val schema = table.schema
    table.metadata.statistics.flatMap { sf =>
      sf.blobMetadata.map { b =>
        val colName = b.properties.get("column-name")
          .orElse(b.fields.headOption.flatMap(id =>
            schema.findFieldById(id).map(_.name)))
          .getOrElse("")
        (sf.snapshotId, sf.path, b.blobType, colName,
          b.properties.get(graft.ice.write.Statistics.NdvProperty)
            .map(_.toLong).getOrElse(-1L))
      }
    }.toDF("snapshot_id", "path", "blob_type", "column_name", "ndv")
  }

  /** The registered partition-statistics file for the current snapshot,
    * read back as a DataFrame (computePartitionStats writes it). */
  def partitionStatistics(spark: SparkSession, table: IceTable): DataFrame = {
    val cur = table.currentSnapshot.map(_.snapshotId)
    val psf = table.metadata.partitionStatistics
      .filter(p => cur.contains(p.snapshotId))
    require(psf.nonEmpty, "no partition statistics registered for the " +
      "current snapshot; run Statistics.computePartitionStats first")
    spark.read.parquet(psf.map(_.path): _*)
  }

  /** `entries` metadata table: RAW manifest entries of the current
    * snapshot — data and delete manifests, every status (Added /
    * Existing / Deleted), with inherited snapshot / sequence numbers.
    * The manifest-debugging view `files` hides (it shows live data
    * entries only). */
  def entries(spark: SparkSession, table: IceTable): DataFrame = {
    import spark.implicits._
    val schema = table.schema
    val rows = table.currentSnapshot.toSeq.flatMap { s =>
      ManifestAvro.readManifestList(s.manifestList).flatMap { m =>
        val mSpec = table.metadata.specById(m.partitionSpecId)
          .getOrElse(PartitionSpec.unpartitioned)
        ManifestAvro.readManifest(m.manifestPath,
            mSpec.partitionType(schema), Some(m))
          .map(e => (e.status, e.snapshotId.getOrElse(-1L),
            e.sequenceNumber.getOrElse(-1L), m.content,
            e.dataFile.filePath, e.dataFile.content, e.dataFile.recordCount))
      }
    }
    rows.toDF("status", "snapshot_id", "sequence_number", "manifest_content",
      "file_path", "content", "record_count")
  }

  /** `all_files` metadata table: data files reachable from ANY valid
    * snapshot, one row per distinct file (Iceberg's all_data_files; as
    * there, a full metadata walk — O(snapshots x manifests) driver
    * reads, metadata-plane only). */
  def allFiles(spark: SparkSession, table: IceTable): DataFrame = {
    import spark.implicits._
    val rows = table.snapshots
      .flatMap(s => table.planEntries(s, None))
      .map(_.dataFile)
      .groupBy(_.filePath).map { case (_, fs) => fs.head }
      .toSeq
      .map(f => (f.filePath, f.fileFormat, f.content, f.recordCount,
        f.fileSizeInBytes))
    rows.toDF("file_path", "file_format", "content", "record_count",
      "file_size_in_bytes")
  }

  /** `metadata_log_entries` metadata table. */
  def metadataLogEntries(spark: SparkSession, table: IceTable): DataFrame = {
    import spark.implicits._
    table.metadata.metadataLog.map(e => (e.timestampMs, e.metadataFile))
      .toDF("timestamp_ms", "file")
  }

  /** `position_deletes` metadata table: the (data file, position)
    * tuples of every LIVE position delete, deletion vectors included,
    * plus the delete file each tuple came from ([[PositionDeletes.tuples]]:
    * any delete format, one task per delete file). */
  def positionDeletes(spark: SparkSession, table: IceTable): DataFrame =
    PositionDeletes.tuples(spark, table.currentSnapshot.map(table.planDeleteEntries)
      .getOrElse(Nil).filter(_.dataFile.content == FileContent.PositionDeletes))

  def partitions(spark: SparkSession, table: IceTable): DataFrame = {
    import spark.implicits._
    val entries = table.currentSnapshot
      .map(s => table.planEntries(s, None)).getOrElse(Nil)
    entries.groupBy(_.dataFile.partition).toSeq.map { case (part, es) =>
      (part.map(v => if (v == null) "null" else v.toString).mkString("/"),
        es.size, es.map(_.dataFile.recordCount).sum,
        es.map(_.dataFile.fileSizeInBytes).sum)
    }.toDF("partition", "file_count", "record_count", "total_size")
  }
}
