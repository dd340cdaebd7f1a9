package graft.ice.write

import java.util.UUID

import scala.collection.mutable.ArrayBuffer

import org.apache.avro.Schema.{Parser => AvroParser}
import org.apache.avro.file.{DataFileWriter => AvroFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.connector.write.DataWriter
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.orc.OrcFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.ice.IceTable
import graft.ice.connector.GraftWriteMessage
import graft.ice.io.LocalFileIO
import graft.ice.manifest.{AvroData, DataFile, FileContent}
import graft.ice.meta.{PartitionSpec, TableProperties}
import graft.ice.types._

/** Everything a task needs to write one op's files: pure state,
  * serialized once into the task closure (or the connector's writer
  * factory). Built on the driver by [[FileWriter]].
  *
  * `inputSchema` is the layout of the incoming rows; `writeSchema` names
  * the columns that land in the files (carrying parquet field ids).
  * Columns only in the input are clustering carriers — partition
  * directory columns, a delete file's grouping column — and are dropped. */
final case class FileWriteConf(
    content: Int,
    format: String,
    inputSchema: StructType,
    writeSchema: StructType,
    schema: Schema,
    spec: PartitionSpec,
    outDir: String,
    hadoopConf: SerializableConfiguration,
    /** parquet and orc: Spark's own output writer for the format, prepared
      * with the table's tuning exactly as `DataFrameWriter` prepares it;
      * null for avro. */
    outputFactory: OutputWriterFactory,
    avroCodec: (String, String) = ("null", ""),
    /** Some(partitionedPaths) when data files take the object-store layout. */
    objectStore: Option[Boolean] = None,
    /** Input ordinal of a string column whose value change rolls a file. */
    rollOrdinal: Int = -1,
    maxRecords: Long = Long.MaxValue,
    sortOrderId: Option[Int] = None,
    /** Data files: the table's metrics config. Equality deletes keep the
      * truncate(16) default their key bounds always had. */
    metricsConfig: Option[MetricsConfig] = None,
    equalityIds: Seq[Int] = Nil) {
  /** outDir is `{dataRoot}/{commitId}`; the object-store layout needs
    * the two components separately. */
  def dataRoot: String = outDir.substring(0, outDir.lastIndexOf('/'))
  def commitId: String = outDir.substring(outDir.lastIndexOf('/') + 1)
}

/** The one file writer behind every data and delete file this library
  * writes: appends, compaction, overwrite, CoW and MoR row-level ops,
  * equality and position deletes, and the connector's batch and
  * streaming writes. Each task writes its files straight to their final
  * paths, computes their metrics itself and returns complete `DataFile`s;
  * the driver collects them and the op commits them its own way. No
  * directory is listed, no partition tuple is parsed back out of a path,
  * no file is moved and the driver opens no footer.
  *
  * The reference keeps writing separate from metrics (file_writer.h:90-100,
  * metrics.h); Iceberg Java's Spark writer has the same task shape
  * (`DataWriter` → `WriterCommitMessage` carrying `DataFile`s). */
object FileWriter {

  /** Data files of `table` for rows laid out as `input`: the table's
    * format, tuning, metrics config, partition spec, sort order id and
    * object-store layout, under a fresh commit directory. */
  def dataConf(spark: SparkSession, table: IceTable, input: StructType,
      writeSchema: StructType): FileWriteConf = {
    val props = table.properties
    val format = TableProperties.get(props, TableProperties.WriteFormatDefault)
      .toUpperCase(java.util.Locale.ROOT)
    require(format == "PARQUET" || table.spec.isUnpartitioned,
      s"write.format.default=$format supports unpartitioned tables only")
    val options = format match {
      case "PARQUET" => WriteTuning.parquetData(props)
      case "ORC" => WriteTuning.orcData(props)
      case "AVRO" => Map.empty[String, String]
      case other => throw new UnsupportedOperationException(
        s"no writer registered for file format '$other' " +
          "(PARQUET, AVRO and ORC; PUFFIN is not a row format)")
    }
    val (factory, hadoopConf) = prepare(spark, format, options, writeSchema)
    FileWriteConf(FileContent.Data, format, input, writeSchema, table.schema,
      table.spec, s"${table.dataFileDir}/${UUID.randomUUID()}", hadoopConf, factory,
      avroCodec = WriteTuning.avroDataCodec(props),
      objectStore = Option.when(ObjectStoreLayout.enabled(props))(
        ObjectStoreLayout.partitionedPaths(props)),
      sortOrderId = Some(table.metadata.defaultSortOrderId),
      metricsConfig = Some(MetricsConfig.from(props, table.schema)))
  }

  /** Delete files of `table` (`write.delete.format.default` and the
    * delete-plane tuning) under `{data}/{uuid}{suffix}`. */
  def deleteConf(spark: SparkSession, table: IceTable, content: Int,
      input: StructType, writeSchema: StructType, suffix: String): FileWriteConf = {
    val props = table.properties
    val format = TableProperties.get(props, TableProperties.DeleteFormatDefault)
      .toUpperCase(java.util.Locale.ROOT)
    val options = format match {
      case "PARQUET" => WriteTuning.parquetDelete(props)
      case "ORC" => WriteTuning.orcDelete(props)
      case _ => Map.empty[String, String]
    }
    val (factory, hadoopConf) = prepare(spark, format, options, writeSchema)
    FileWriteConf(content, format, input, writeSchema, table.schema, table.spec,
      s"${table.dataFileDir}/${UUID.randomUUID()}$suffix", hadoopConf, factory,
      avroCodec = WriteTuning.avroDeleteCodec(props))
  }

  /** Spark's output writer factory for `format`, prepared the way
    * `DataFrameWriter` prepares it (job conf = session conf + the writer
    * options), plus the two settings every file of a table needs
    * whatever the session says: micros timestamps (never INT96, so footer
    * stats stay usable) and parquet field ids. Nothing touches the
    * session's conf. */
  private def prepare(spark: SparkSession, format: String,
      options: Map[String, String], schema: StructType)
      : (OutputWriterFactory, SerializableConfiguration) = {
    val job = Job.getInstance(spark.sessionState.newHadoopConfWithOptions(options))
    val factory = format match {
      case "PARQUET" => new ParquetFileFormat().prepareWrite(spark, job, options, schema)
      case "ORC" => new OrcFileFormat().prepareWrite(spark, job, options, schema)
      case _ => null
    }
    val conf = job.getConfiguration
    conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    (factory, new SerializableConfiguration(conf))
  }

  /** Write `df`'s rows (already clustered by the caller) as files and
    * return them. One Spark job; every task writes and describes its own
    * files. A task whose rows fail deletes its own files (`abort`) and
    * reports the failure as its result instead of failing the job, so
    * the job ends with every task's result in hand: the driver then
    * deletes the other tasks' files and throws. A failing job would drop
    * the results of tasks that finish while it fails, and their files
    * with them. */
  def write(df: DataFrame, conf: FileWriteConf): Seq[DataFile] = {
    val rdd = df.queryExecution.toRdd
    val done = new Array[Either[Throwable, Seq[DataFile]]](rdd.getNumPartitions)
    def written = done.iterator.collect { case Right(files) => files }.flatten
    try {
      df.sparkSession.sparkContext.runJob(rdd,
        (ctx: TaskContext, rows: Iterator[InternalRow]) => writeTask(conf, ctx, rows),
        rdd.partitions.indices,
        (i: Int, r: Either[Throwable, Seq[DataFile]]) => done(i) = r)
    } catch {
      case e: Throwable =>
        written.foreach(f => deleteQuietly(f.filePath))
        throw e
    }
    done.collectFirst { case Left(e) => e }.foreach { e =>
      written.foreach(f => deleteQuietly(f.filePath))
      throw new org.apache.spark.SparkException(s"Writing files failed: ${e.getMessage}", e)
    }
    written.toSeq
  }

  private def writeTask(conf: FileWriteConf, ctx: TaskContext,
      rows: Iterator[InternalRow]): Either[Throwable, Seq[DataFile]] = {
    val w = new GraftDataWriter(conf, ctx.partitionId, ctx.taskAttemptId, epochId = -1L)
    try {
      rows.foreach(w.write)
      val files = w.commit().files
      // a duplicate attempt of a partition another attempt committed
      // (speculation) must not hand back files: abort deletes them
      if (!org.apache.spark.GraftCommitBridge.canCommit(ctx)) {
        w.abort()
        throw new org.apache.spark.TaskKilledException(
          s"commit denied for partition ${ctx.partitionId()} attempt ${ctx.attemptNumber()}")
      }
      Right(files)
    } catch {
      case e: org.apache.spark.TaskKilledException => throw e
      case scala.util.control.NonFatal(e) if !ctx.isInterrupted() => w.abort(); Left(e)
      case t: Throwable => w.abort(); throw t
    } finally w.close()
  }

  /** Delete a written file and the checksum sidecar Hadoop's local
    * filesystem writes beside it. */
  private[ice] def deleteQuietly(path: String): Unit = {
    val p = java.nio.file.Paths.get(graft.ice.manifest.ManifestAvro.stripFileScheme(path))
    for (f <- Seq(p, p.resolveSibling(s".${p.getFileName}.crc")))
      try java.nio.file.Files.deleteIfExists(f) catch { case _: Exception => () }
  }
}

/** Per-task writer. Rows arrive clustered by the op (partition tuple,
  * then sort order; a delete file's group), so one file is open at a
  * time; a change of partition tuple or roll value, or the record cap,
  * rolls the file. File names carry the partition and the task attempt,
  * so a retried or speculative attempt never collides with another, and
  * `abort` deletes exactly this attempt's files. */
final class GraftDataWriter(conf: FileWriteConf, partitionId: Int,
    attemptId: Long, epochId: Long) extends DataWriter[InternalRow] {

  private val isData = conf.content == FileContent.Data
  private val writeOrdinals: IndexedSeq[Int] =
    conf.writeSchema.fields.toIndexedSeq.map(f => conf.inputSchema.fieldIndex(f.name))
  private val projection: ProjectingInternalRow =
    if (writeOrdinals == conf.inputSchema.indices) null
    else ProjectingInternalRow(conf.writeSchema, writeOrdinals)

  // per-spec-field evaluation state: input ordinal, spark type, iceberg
  // source type, transform, partition field name
  private case class PartEval(ordinal: Int, sparkType: DataType,
      iceType: IcePrimitive, transform: graft.ice.transform.Transform,
      fieldName: String)

  private val partEvals: IndexedSeq[PartEval] =
    if (!isData) IndexedSeq.empty
    else conf.spec.fields.map { pf =>
      val src = conf.schema.findFieldById(pf.sourceId).getOrElse(
        throw new IllegalStateException(s"partition source ${pf.sourceId} missing"))
      val ordinal = conf.inputSchema.fieldIndex(src.name)
      PartEval(ordinal, conf.inputSchema(ordinal).dataType,
        src.fieldType.asInstanceOf[IcePrimitive], pf.transform, pf.name)
    }
  // delete files carry an all-null tuple of the table spec's arity
  private val deleteTuple: IndexedSeq[Any] = conf.spec.fields.map(_ => null: Any)

  private lazy val taskContext = new TaskAttemptContextImpl(conf.hadoopConf.value,
    new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, partitionId), 0))

  private val pathOrdinal =
    if (conf.content == FileContent.PositionDeletes) conf.inputSchema.fieldIndex("file_path")
    else -1
  private val tracked = conf.format != "PARQUET" && conf.content != FileContent.PositionDeletes

  private val done = ArrayBuffer.empty[DataFile]
  private var out: Appender = _
  private var curTuple: IndexedSeq[Any] = _
  private var curRoll: UTF8String = _
  private var curPath: String = _
  private var rows: Long = 0L
  private var fileNo: Int = 0
  private var pathLo: UTF8String = _
  private var pathHi: UTF8String = _
  private var stats: IndexedSeq[ColumnStats] = _

  private def iceValue(row: InternalRow, pe: PartEval): Any = {
    if (row.isNullAt(pe.ordinal)) return null
    pe.sparkType match {
      case StringType => row.getUTF8String(pe.ordinal).toString
      case IntegerType | DateType => row.getInt(pe.ordinal)
      case LongType | TimestampType | TimestampNTZType => row.getLong(pe.ordinal)
      case BooleanType => row.getBoolean(pe.ordinal)
      case FloatType => row.getFloat(pe.ordinal)
      case DoubleType => row.getDouble(pe.ordinal)
      case d: DecimalType =>
        row.getDecimal(pe.ordinal, d.precision, d.scale).toJavaBigDecimal
      case BinaryType => row.getBinary(pe.ordinal)
      case ShortType => row.getShort(pe.ordinal).toInt
      case ByteType => row.getByte(pe.ordinal).toInt
      case other => throw new UnsupportedOperationException(
        s"partition source type $other")
    }
  }

  private def tupleOf(row: InternalRow): IndexedSeq[Any] =
    if (!isData) deleteTuple
    else partEvals.map(pe => pe.transform.apply(iceValue(row, pe), pe.iceType))

  private def sameTuple(a: IndexedSeq[Any], b: IndexedSeq[Any]): Boolean = {
    var i = 0
    while (i < a.length) {
      (a(i), b(i)) match {
        case (x: Array[Byte], y: Array[Byte]) =>
          if (!java.util.Arrays.equals(x, y)) return false
        case (x, y) => if (x != y) return false
      }
      i += 1
    }
    true
  }

  private def renderDirValue(v: Any): String = v match {
    case null => "__HIVE_DEFAULT_PARTITION__"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case s: String =>
      val sb = new StringBuilder
      s.foreach { c =>
        if (c.isLetterOrDigit || c == '.' || c == '-' || c == '_') sb.append(c)
        else if (c < 256) sb.append(f"%%$c%02X")
        else sb.append(c)
      }
      sb.toString
    case other => other.toString
  }

  private def newFilePath(tuple: IndexedSeq[Any]): String = {
    val epoch = if (epochId >= 0) s"-$epochId" else ""
    fileNo += 1
    val name = f"part-$partitionId%05d-$attemptId$epoch-$fileNo%05d.${
      conf.format.toLowerCase(java.util.Locale.ROOT)}"
    val partDirs = partEvals.zip(tuple).map { case (pe, v) =>
      s"${PartitionPaths.dirCol(pe.fieldName)}=${renderDirValue(v)}"
    }.mkString("/")
    conf.objectStore match {
      // object-store layout: each file under its own hash-prefix dirs,
      // placed here in the task — no post-write relocation
      case Some(partitioned) =>
        ObjectStoreLayout.place(conf.dataRoot, conf.commitId, partDirs, name, partitioned)
      case None =>
        if (partDirs.isEmpty) s"${conf.outDir}/$name" else s"${conf.outDir}/$partDirs/$name"
    }
  }

  private def openFile(tuple: IndexedSeq[Any], roll: UTF8String): Unit = {
    curPath = newFilePath(tuple)
    curTuple = tuple
    curRoll = roll
    rows = 0L
    pathLo = null; pathHi = null
    if (tracked) stats = conf.writeSchema.fields.toIndexedSeq.zipWithIndex.flatMap {
      case (f, i) => ColumnStats.of(conf.schema, f, i)
    }
    out = conf.format match {
      case "AVRO" => new AvroAppender(curPath, conf)
      case _ => new SparkAppender(conf.outputFactory.newInstance(curPath,
        conf.writeSchema, taskContext))
    }
  }

  private def closeFile(): Unit = {
    if (out == null) return
    out.close()
    out = null
    val size = LocalFileIO.length(curPath)
    done += (conf.content match {
      case FileContent.Data =>
        val m =
          if (conf.format == "PARQUET")
            Metrics.fromParquetFooter(curPath, conf.schema, conf.hadoopConf.value,
              conf.metricsConfig)
          else trackedMetrics(conf.metricsConfig.getOrElse(MetricsConfig.default16(conf.schema)))
        DataFile(FileContent.Data, curPath, conf.format, curTuple,
          recordCount = m.rowCount, fileSizeInBytes = size,
          columnSizes = m.columnSizes, valueCounts = m.valueCounts,
          nullValueCounts = m.nullValueCounts,
          lowerBounds = m.lowerBounds, upperBounds = m.upperBounds,
          splitOffsets = m.splitOffsets, sortOrderId = conf.sortOrderId)
      case FileContent.EqualityDeletes =>
        // key bounds per delete file let compaction and planning skip data
        // files whose ranges cannot hold a deleted key
        val m =
          if (conf.format == "PARQUET")
            Metrics.fromParquetFooter(curPath, conf.schema, conf.hadoopConf.value)
          else trackedMetrics(MetricsConfig.default16(conf.schema))
        DataFile(FileContent.EqualityDeletes, curPath, conf.format, curTuple,
          recordCount = rows, fileSizeInBytes = size,
          lowerBounds = m.lowerBounds, upperBounds = m.upperBounds,
          equalityIds = conf.equalityIds)
      case _ =>
        // file_path bounds (reserved field 2147483546): the spec's way of
        // scoping WHICH data files this delete file may reference —
        // planners and commit-conflict validation use them to skip delete
        // files that provably cannot cover a given data file
        DataFile(FileContent.PositionDeletes, curPath, conf.format, curTuple,
          recordCount = rows, fileSizeInBytes = size,
          lowerBounds = Option(pathLo).map(p => RowDelete.PathBoundFieldId -> p.getBytes).toMap,
          upperBounds = Option(pathHi).map(p => RowDelete.PathBoundFieldId -> p.getBytes).toMap)
    })
  }

  private def trackedMetrics(cfg: MetricsConfig): Metrics.FileMetrics =
    Metrics.assemble(cfg, rows, Map.empty,
      stats.map(s => s.id -> s.values).toMap, stats.map(s => s.id -> s.nulls).toMap,
      stats.flatMap(s => s.lower.map(s.id -> _)).toMap,
      stats.flatMap(s => s.upper.map(s.id -> _)).toMap, Nil)

  override def write(row: InternalRow): Unit = {
    val tuple = tupleOf(row)
    val roll =
      if (conf.rollOrdinal < 0 || row.isNullAt(conf.rollOrdinal)) null
      else row.getUTF8String(conf.rollOrdinal)
    if (out == null) openFile(tuple, if (roll == null) null else roll.clone())
    else if (!sameTuple(tuple, curTuple) || roll != curRoll || rows >= conf.maxRecords) {
      closeFile()
      openFile(tuple, if (roll == null) null else roll.clone())
    }
    if (pathOrdinal >= 0 && !row.isNullAt(pathOrdinal)) {
      // UTF8String orders by unsigned UTF-8 bytes: the order the
      // serialized bounds are compared in downstream
      val p = row.getUTF8String(pathOrdinal)
      if (pathLo == null || p.compareTo(pathLo) < 0) pathLo = p.clone()
      if (pathHi == null || p.compareTo(pathHi) > 0) pathHi = p.clone()
    }
    val written = if (projection == null) row else { projection.project(row); projection }
    if (tracked) stats.foreach(_.update(written))
    out.write(written)
    rows += 1
  }

  override def commit(): GraftWriteMessage = {
    closeFile()
    GraftWriteMessage(done.toSeq)
  }

  override def abort(): Unit = {
    if (out != null) { try out.close() catch { case _: Exception => () }; out = null }
    done.foreach(f => FileWriter.deleteQuietly(f.filePath))
    if (curPath != null) FileWriter.deleteQuietly(curPath)
  }

  override def close(): Unit =
    if (out != null) { try out.close() catch { case _: Exception => () }; out = null }
}

/** One open file of one format. */
private sealed trait Appender {
  def write(row: InternalRow): Unit
  def close(): Unit
}

/** parquet and orc: Spark's own `OutputWriter` for the format (parquet
  * through `ParquetWriteSupport`), so files keep exactly the encodings,
  * codec, row-group, page and dictionary settings `DataFrameWriter`
  * gives them. */
private final class SparkAppender(w: OutputWriter) extends Appender {
  def write(row: InternalRow): Unit = w.write(row)
  def close(): Unit = w.close()
}

/** avro: an Avro container file with the table's codec; field ids ride
  * in the schema so reads resolve renames by id. */
private final class AvroAppender(path: String, conf: FileWriteConf) extends Appender {
  private val fields = conf.writeSchema.fields
  private val schema = new AvroParser().parse(AvroData.avroSchemaJson(conf.writeSchema))
  private val w = new AvroFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
  w.setCodec(AvroData.codecFactory(conf.avroCodec._1, conf.avroCodec._2))
  java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path).getParent)
  w.create(schema, new java.io.File(path))

  def write(row: InternalRow): Unit = {
    val r = new GenericData.Record(schema)
    var i = 0
    while (i < fields.length) {
      if (!row.isNullAt(i)) r.put(i, fields(i).dataType match {
        case StringType => row.getUTF8String(i).toString
        case IntegerType | DateType => Integer.valueOf(row.getInt(i))
        case LongType | TimestampType | TimestampNTZType => java.lang.Long.valueOf(row.getLong(i))
        case BooleanType => java.lang.Boolean.valueOf(row.getBoolean(i))
        case FloatType => java.lang.Float.valueOf(row.getFloat(i))
        case DoubleType => java.lang.Double.valueOf(row.getDouble(i))
        case BinaryType => java.nio.ByteBuffer.wrap(row.getBinary(i))
        case other => throw new IllegalArgumentException(s"unsupported Avro type: $other")
      })
      i += 1
    }
    w.append(r)
  }

  def close(): Unit = w.close()
}

/** Value/null counts and min/max of one written column, tracked row by
  * row for formats whose footers this library does not parse (avro, orc).
  * NaN stays out of float bounds, as in parquet statistics. */
private final class ColumnStats(val id: Int, ordinal: Int, dt: DataType, ice: IcePrimitive) {
  var values = 0L
  var nulls = 0L
  private var min: Any = null
  private var max: Any = null

  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: Int, y: Int) => Integer.compare(x, y)
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Float, y: Float) => java.lang.Float.compare(x, y)
    case (x: Double, y: Double) => java.lang.Double.compare(x, y)
    case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
    case (x: UTF8String, y: UTF8String) => x.compareTo(y)
    case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.compareUnsigned(x, y)
    case (x: Decimal, y: Decimal) => x.compare(y)
    case _ => 0
  }

  def update(row: InternalRow): Unit = {
    values += 1
    if (row.isNullAt(ordinal)) { nulls += 1; return }
    val v: Any = dt match {
      case IntegerType | DateType => row.getInt(ordinal)
      case LongType | TimestampType | TimestampNTZType => row.getLong(ordinal)
      case BooleanType => row.getBoolean(ordinal)
      case FloatType => val f = row.getFloat(ordinal); if (f.isNaN) return else f
      case DoubleType => val d = row.getDouble(ordinal); if (d.isNaN) return else d
      case StringType => row.getUTF8String(ordinal)
      case BinaryType => row.getBinary(ordinal)
      case d: DecimalType => row.getDecimal(ordinal, d.precision, d.scale)
      case _ => return
    }
    if (min == null || cmp(v, min) < 0) min = copy(v)
    if (max == null || cmp(v, max) > 0) max = copy(v)
  }

  private def copy(v: Any): Any = v match {
    case s: UTF8String => s.clone()
    case other => other
  }

  /** Zeros widen as parquet statistics widen them: a lower bound of
    * -0.0 and an upper bound of +0.0, since SQL holds -0.0 = 0.0 while
    * bound comparisons order -0.0 first. */
  private def literal(v: Any, lower: Boolean): Option[Literal] = Option(v).map { x =>
    val raw = (ice, x) match {
      case (StringT, s: UTF8String) => s.toString
      case (DecimalT(_, _), d: Decimal) => d.toJavaBigDecimal
      case (_, d: Double) if d == 0.0 => if (lower) -0.0 else 0.0
      case (_, f: Float) if f == 0.0f => if (lower) -0.0f else 0.0f
      case (_, other) => other
    }
    Literal(LiteralValue.Value(raw), ice)
  }
  def lower: Option[Literal] = literal(min, lower = true)
  def upper: Option[Literal] = literal(max, lower = false)
}

private object ColumnStats {
  /** Stats for the written column `f` at ordinal `i`, when it is a
    * top-level primitive of the table schema that bounds can describe. */
  def of(schema: Schema, f: StructField, i: Int): Option[ColumnStats] =
    schema.findFieldByName(f.name).flatMap { nf =>
      nf.fieldType match {
        case p @ (BooleanT | IntT | LongT | FloatT | DoubleT | DateT | TimestampT |
            TimestampTzT | StringT | BinaryT | DecimalT(_, _)) =>
          Some(new ColumnStats(nf.id, i, f.dataType, p.asInstanceOf[IcePrimitive]))
        case _ => None
      }
    }
}
