package graft.ice.write

import java.nio.file.{Files, Paths}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ice.{FormatRegistry, IceTable}
import graft.ice.manifest.{AvroData, DataFile, FileContent, ManifestEntry, ManifestStatus}
import graft.ice.meta.TableProperties
import graft.ice.types.{IcePrimitive, Literal, SparkConv}

/** The driver-side writers the task-side `FileWriter` replaced, kept
  * only as an oracle: Spark's V1 `df.write` into a temp directory, a
  * `Files.walk` of it, partition tuples parsed back out of directory
  * names, footers re-read on the driver and, under the object-store
  * layout, files moved into place. `WriterEquivalenceSpec` pins that the
  * task-side writer gives the same manifest entries for the same input. */
object V1Writers {

  /** The old `AppendOp.writeEntries` write + entry build, over rows the
    * caller already aligned and clustered exactly as the new path does
    * (`dirCols` materialized on `shaped` for partitioned tables). */
  def dataFiles(table: IceTable, spark: SparkSession, shaped: DataFrame): Seq[ManifestEntry] = {
    val schema = table.schema
    val spec = table.spec
    val commitUuid = UUID.randomUUID().toString
    val outDir = s"${table.dataFileDir}/$commitUuid"
    val writeFormat = TableProperties.get(table.properties,
      TableProperties.WriteFormatDefault).toUpperCase(java.util.Locale.ROOT)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    var avroCounts: Map[String, Long] = Map.empty
    if (spec.isUnpartitioned) writeFormat match {
      case "PARQUET" => shaped.write.mode("append")
        .options(WriteTuning.parquetData(table.properties)).parquet(outDir)
      case "AVRO" =>
        val (codec, level) = WriteTuning.avroDataCodec(table.properties)
        avroCounts = AvroData.writeDirWithCounts(shaped, outDir, codec, level).toMap
      case "ORC" => shaped.write.mode("append")
        .options(WriteTuning.orcData(table.properties)).orc(outDir)
    } else {
      val dirCols = spec.fields.map(pf => PartitionPaths.dirCol(pf.name))
      shaped.write.mode("append")
        .options(WriteTuning.parquetData(table.properties))
        .partitionBy(dirCols: _*)
        .parquet(outDir)
    }
    val files =
      if (writeFormat == "AVRO") avroCounts.keys.toSeq.sorted
      else walk(outDir, if (writeFormat == "ORC") ".orc" else ".parquet")
    val orcCounts =
      if (writeFormat == "ORC") FormatRegistry.orcRowCounts(spark, files) else Map.empty[String, Long]
    val hadoopConf = spark.sessionState.newHadoopConf()
    val relocated = relocate(table.properties, table.dataFileDir, outDir, commitUuid, files)
    val metricsCfg = Some(MetricsConfig.from(table.properties, schema))
    files.map { p =>
      val fp = relocated(p)
      val m =
        if (writeFormat == "PARQUET") Metrics.fromParquetFooter(fp, schema, hadoopConf, metricsCfg)
        else if (writeFormat == "ORC") Metrics.rowCountOnly(orcCounts.getOrElse(p, 0L))
        else Metrics.rowCountOnly(avroCounts(p))
      ManifestEntry(ManifestStatus.Added, None, None, None,
        DataFile(FileContent.Data, fp, writeFormat, PartitionPaths.parse(p, outDir, spec, schema),
          recordCount = m.rowCount,
          fileSizeInBytes = Files.size(Paths.get(fp)),
          columnSizes = m.columnSizes, valueCounts = m.valueCounts,
          nullValueCounts = m.nullValueCounts,
          lowerBounds = m.lowerBounds, upperBounds = m.upperBounds,
          splitOffsets = m.splitOffsets,
          sortOrderId = Some(table.metadata.defaultSortOrderId)))
    }.filter(_.dataFile.recordCount > 0L)
  }

  /** The old equality-delete writer (parquet footers; avro and orc with
    * one aggregate of the keys stamped on every file). */
  def equalityDeletes(table: IceTable, spark: SparkSession, keys: DataFrame): Seq[ManifestEntry] = {
    val eqFields = keys.columns.toSeq.map(c => table.schema.findFieldByName(c).get)
    val eqIds = eqFields.map(_.id)
    val outDir = s"${table.dataFileDir}/${UUID.randomUUID()}-eqdeletes"
    val aligned = keys.select(eqFields.map { f =>
      col(f.name).cast(SparkConv.toSparkType(f.fieldType))
        .as(f.name, SparkConv.toSparkField(f).metadata)
    }: _*)
    def eqEntry(file: String, rowCount: Long, format: String,
        lower: Map[Int, Array[Byte]], upper: Map[Int, Array[Byte]]) =
      ManifestEntry(ManifestStatus.Added, None, None, None,
        DataFile(FileContent.EqualityDeletes, file, format,
          table.spec.fields.map(_ => null: Any).toIndexedSeq,
          recordCount = rowCount, fileSizeInBytes = Files.size(Paths.get(file)),
          lowerBounds = lower, upperBounds = upper, equalityIds = eqIds))
    val fmt = TableProperties.get(table.properties, TableProperties.DeleteFormatDefault)
    lazy val (aggLower, aggUpper) = {
      val aggCols = eqFields.flatMap(f => Seq(min(col(f.name)), max(col(f.name))))
      val statsRow = aligned.agg(aggCols.head, aggCols.tail: _*).head
      def boundAt(i: Int): Option[Array[Byte]] =
        if (statsRow.isNullAt(i)) None
        else Literal.fromSparkValue(eqFields(i / 2).fieldType.asInstanceOf[IcePrimitive],
          statsRow.get(i)).map(_.serialize)
      (eqFields.indices.flatMap(j => boundAt(2 * j).map(eqIds(j) -> _)).toMap,
        eqFields.indices.flatMap(j => boundAt(2 * j + 1).map(eqIds(j) -> _)).toMap)
    }
    if (fmt == "avro") {
      val (codec, level) = WriteTuning.avroDeleteCodec(table.properties)
      AvroData.writeDirWithCounts(aligned, outDir, codec, level).filter(_._2 > 0)
        .map { case (file, n) => eqEntry(file, n, "AVRO", aggLower, aggUpper) }
    } else {
      spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
      aligned.write.options(WriteTuning.parquetDelete(table.properties)).parquet(outDir)
      val conf = spark.sessionState.newHadoopConf()
      walk(outDir, ".parquet").flatMap { file =>
        val m = Metrics.fromParquetFooter(file, table.schema, conf)
        if (m.rowCount == 0) None
        else Some(eqEntry(file, m.rowCount, "PARQUET", m.lowerBounds, m.upperBounds))
      }
    }
  }

  /** The old parquet position-delete writer: partitionBy(group) +
    * maxRecordsPerFile, then two driver footer opens per file. */
  def positionDeletes(table: IceTable, spark: SparkSession, dels: DataFrame,
      nFiles: Int, partitionOf: Map[String, String]): Seq[ManifestEntry] = {
    val granularity = TableProperties.get(table.properties, TableProperties.DeleteGranularity)
    val targetBytes = TableProperties.get(table.properties, TableProperties.DeleteTargetFileSizeBytes)
    val outDir = s"${table.dataFileDir}/${UUID.randomUUID()}-deletes"
    val avgPathLen =
      if (partitionOf.isEmpty) 128L
      else partitionOf.keysIterator.map(_.length.toLong).sum / partitionOf.size
    val maxRecords = math.max(1L, targetBytes / (avgPathLen + 8L))
    val (clustered, groupCol): (DataFrame, Option[String]) = granularity match {
      case "file" =>
        (dels.withColumn("__group", sha2(col("file_path"), 256))
          .repartition(col("file_path"))
          .sortWithinPartitions("file_path", "pos"), Some("__group"))
      case _ if partitionOf.nonEmpty && !table.spec.isUnpartitioned =>
        import spark.implicits._
        val mapDF = broadcast(partitionOf.toSeq.toDF("file_path", "__group"))
        (dels.join(mapDF, Seq("file_path"), "left")
          .withColumn("__group", coalesce(col("__group"), lit("__unknown")))
          .repartition(col("__group"))
          .sortWithinPartitions("__group", "file_path", "pos"), Some("__group"))
      case _ =>
        val nParts = math.max(1, math.min(
          spark.sessionState.conf.numShufflePartitions, math.max(nFiles, 1)))
        (dels.repartition(nParts, col("file_path"))
          .sortWithinPartitions("file_path", "pos"), None)
    }
    val writer0 = groupCol match {
      case Some(g) => clustered.write.partitionBy(g)
      case None => clustered.write
    }
    writer0.option("maxRecordsPerFile", maxRecords)
      .options(WriteTuning.parquetDelete(table.properties)).parquet(outDir)
    val conf = spark.sessionState.newHadoopConf()
    walk(outDir, ".parquet").flatMap { file =>
      val rowCount = parquetRowCount(file, conf)
      if (rowCount == 0) None
      else {
        val bounds = parquetPathBounds(file, conf)
        Some(ManifestEntry(ManifestStatus.Added, None, None, None,
          DataFile(FileContent.PositionDeletes, file, "PARQUET",
            table.spec.fields.map(_ => null: Any).toIndexedSeq,
            recordCount = rowCount, fileSizeInBytes = Files.size(Paths.get(file)),
            lowerBounds = bounds.map(b => RowDelete.PathBoundFieldId -> b._1).toMap,
            upperBounds = bounds.map(b => RowDelete.PathBoundFieldId -> b._2).toMap)))
      }
    }
  }

  private def walk(dir: String, suffix: String): Seq[String] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Nil
    else Files.walk(root).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(suffix))
      .map(_.toString).toSeq.sorted
  }

  private def relocate(props: Map[String, String], dataRoot: String, outDir: String,
      commitId: String, files: Seq[String]): Map[String, String] = {
    if (!ObjectStoreLayout.enabled(props)) return files.map(f => f -> f).toMap
    val partitioned = ObjectStoreLayout.partitionedPaths(props)
    val prefix = if (outDir.endsWith("/")) outDir else outDir + "/"
    files.map { orig =>
      val rel = if (orig.startsWith(prefix)) orig.substring(prefix.length)
        else new java.io.File(orig).getName
      val slash = rel.lastIndexOf('/')
      val (partDirs, name) =
        if (slash < 0) ("", rel) else (rel.substring(0, slash), rel.substring(slash + 1))
      val dst = ObjectStoreLayout.place(dataRoot, commitId, partDirs, name, partitioned)
      Option(Paths.get(dst).getParent).foreach(Files.createDirectories(_))
      Files.move(Paths.get(orig), Paths.get(dst), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      orig -> dst
    }.toMap
  }

  private def parquetRowCount(path: String, conf: Configuration): Long = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(path), conf))
    try reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
    finally reader.close()
  }

  private def parquetPathBounds(path: String,
      conf: Configuration): Option[(Array[Byte], Array[Byte])] = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(path), conf))
    try {
      val stats = for (block <- reader.getFooter.getBlocks.asScala.toSeq;
                       chunk <- block.getColumns.asScala
                       if chunk.getPath.toArray.toSeq == Seq("file_path"))
        yield chunk.getStatistics
      if (stats.isEmpty || stats.exists(s => s == null || !s.hasNonNullValue)) None
      else {
        val los = stats.map(s => new String(s.getMinBytes, utf8))
        val his = stats.map(s => new String(s.getMaxBytes, utf8))
        Some((los.reduce((a, b) => if (AvroData.utf8Compare(a, b) <= 0) a else b).getBytes(utf8),
          his.reduce((a, b) => if (AvroData.utf8Compare(a, b) >= 0) a else b).getBytes(utf8)))
      }
    } finally reader.close()
  }
}
