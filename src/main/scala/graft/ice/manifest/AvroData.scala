package graft.ice.manifest

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema.{Parser => AvroParser}
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Avro data read/write (S9/S11) built on Avro core — the environment has
  * no spark-avro module. Reads and writes both run on the EXECUTORS
  * (one task per file); only the single-file `write` convenience is
  * driver-side, for metadata-plane data. The 100 TB data plane stays
  * parquet (S8/S10), matching the reference where Avro is the manifest
  * format and parquet the default data format
  * (table_properties.h: write.format.default=parquet). */
object AvroData {

  private def avroType(dt: DataType): String = dt match {
    case BooleanType => "\"boolean\""
    case IntegerType => "\"int\""
    case LongType => "\"long\""
    case FloatType => "\"float\""
    case DoubleType => "\"double\""
    case StringType => "\"string\""
    case BinaryType => "\"bytes\""
    case TimestampType | TimestampNTZType =>
      """{"type":"long","logicalType":"timestamp-micros"}"""
    case DateType => """{"type":"int","logicalType":"date"}"""
    case other => throw new IllegalArgumentException(s"unsupported Avro type: $other")
  }

  /** Iceberg's Avro field-id attribute (spec: Avro "field-id"); carried
    * when the Spark schema has parquet.field.id metadata so reads can
    * resolve renames by id, like the reference (avro_reader.cc:103-118). */
  private def sparkFieldId(f: StructField): Option[Long] =
    if (f.metadata.contains("parquet.field.id"))
      Some(f.metadata.getLong("parquet.field.id"))
    else None

  def avroSchemaJson(schema: StructType, name: String = "row"): String = {
    val fields = schema.fields.map { f =>
      val idAttr = sparkFieldId(f).map(id => s""","field-id":$id""").getOrElse("")
      s"""{"name":"${f.name}","type":["null",${avroType(f.dataType)}],"default":null$idAttr}"""
    }.mkString(",")
    s"""{"type":"record","name":"$name","fields":[$fields]}"""
  }

  private def rowToRecord(schema: org.apache.avro.Schema,
      fields: Array[StructField], row: Row): GenericRecord = {
    val r = new GenericData.Record(schema)
    fields.zipWithIndex.foreach { case (f, i) =>
      val v = if (row.isNullAt(i)) null else f.dataType match {
        case TimestampType =>
          val inst = row.getAs[java.time.Instant](i)
          java.lang.Long.valueOf(inst.getEpochSecond * 1000000L + inst.getNano / 1000L)
        case TimestampNTZType =>
          val ldt = row.getAs[java.time.LocalDateTime](i)
          java.lang.Long.valueOf(
            ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000L)
        case DateType =>
          Integer.valueOf(row.getAs[java.sql.Date](i).toLocalDate.toEpochDay.toInt)
        case BinaryType => java.nio.ByteBuffer.wrap(row.getAs[Array[Byte]](i))
        case _ => row.get(i)
      }
      r.put(f.name, v)
    }
    r
  }

  /** Write a (small, driver-sized) DataFrame to ONE Avro file — for
    * metadata-plane data. Use writeDir for anything data-plane-sized. */
  def write(df: DataFrame, path: String): Unit = {
    val sparkSchema = df.schema
    val schema = new AvroParser().parse(avroSchemaJson(sparkSchema))
    val writer = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    writer.create(schema, new File(path))
    try df.collect().foreach(row =>
      writer.append(rowToRecord(schema, sparkSchema.fields, row)))
    finally writer.close()
  }

  /** Distributed Avro sink (S11 at scale): each partition writes its own
    * file under `dir` on the executors — nothing moves through the
    * driver. Returns (path, row count) per file; counts are recorded at
    * write time so manifest entries never re-read the files. */
  def writeDirWithCounts(df: DataFrame, dir: String,
      codec: String = "null", level: String = ""): Seq[(String, Long)] = {
    val sparkSchema = df.schema
    val schemaJson = avroSchemaJson(sparkSchema)
    val fields = sparkSchema.fields
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    df.rdd.mapPartitionsWithIndex { (idx, it) =>
      if (it.isEmpty) Iterator.empty
      else {
        val schema = new AvroParser().parse(schemaJson)
        val writer = new DataFileWriter[GenericRecord](
          new GenericDatumWriter[GenericRecord](schema))
        // table-property codec + level (write.avro.compression-codec /
        // -level; "null" = uncompressed keeps the pre-property behavior
        // for metadata-plane callers that don't pass one)
        writer.setCodec(codecFactory(codec, level))
        val path = f"$dir/part-$idx%05d.avro"
        // task-commit protocol: write to an attempt-unique temp name and
        // atomically publish on success, so a retried or speculative
        // attempt can never expose a half-written part-NNNNN.avro (the
        // final rename wins with a complete file whose count matches)
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(_.taskAttemptId).getOrElse(0L)
        val tmp = new File(s"$path.$attempt.tmp")
        writer.create(schema, tmp)
        var n = 0L
        try it.foreach { row =>
          writer.append(rowToRecord(schema, fields, row)); n += 1
        } finally writer.close()
        graft.ice.io.LocalFileIO.atomicSwap(tmp.getPath, path)
        Iterator.single((path, n))
      }
    }.collect().toSeq.sortBy(_._1)
  }

  /** writeDirWithCounts without the counts (the registry Writer shape). */
  def writeDir(df: DataFrame, dir: String): Seq[String] =
    writeDirWithCounts(df, dir).map(_._1)

  /** Avro CodecFactory from an (Iceberg-normalized) codec name and an
    * optional level ("" = codec default) — `write.avro.compression-level`
    * and its delete twin. */
  def codecFactory(codec: String, level: String = ""):
      org.apache.avro.file.CodecFactory = {
    import org.apache.avro.file.CodecFactory
    if (level.isEmpty) CodecFactory.fromString(codec)
    else codec match {
      case "deflate" => CodecFactory.deflateCodec(level.toInt)
      case "zstandard" => CodecFactory.zstandardCodec(level.toInt)
      case "xz" => CodecFactory.xzCodec(level.toInt)
      case other => CodecFactory.fromString(other) // level not applicable
    }
  }

  /** True when the file starts with the Avro container magic `Obj`
    * — scan paths use this to dispatch delete files whose manifests were
    * written by engines that stamp the format only as a string. */
  def isAvroFile(path: String): Boolean = isAvroFile0(path)

  /** Unsigned-UTF-8-byte (= code point) string order — the order the
    * serialized bounds are compared in downstream (bound pruning compares
    * UTF-8 bytes unsigned). Java's natural String order is UTF-16
    * code-unit order, which disagrees for supplementary-plane characters
    * (a path containing U+10000+ would sort BELOW U+E000..U+FFFF chars),
    * so min/max tracked with `<`/`>` could produce bounds that are not a
    * true superset of the written values. Surrogate range remaps to
    * restore code-point order without allocating byte arrays per row. */
  def utf8Compare(a: String, b: String): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val ca = a.charAt(i); val cb = b.charAt(i)
      if (ca != cb) {
        def key(c: Char): Int =
          if (c < 0xD800) c
          else if (c < 0xE000) c + 0x2000 // surrogates (= supplementary) above BMP
          else c - 0x800
        return key(ca) - key(cb)
      }
      i += 1
    }
    a.length - b.length
  }

  private def isAvroFile0(path: String): Boolean = {
    val f = new File(path)
    if (!f.isFile || f.length < 4) return false
    // readFully: a single read() may legitimately short-read, which would
    // misclassify a valid avro container
    val in = new java.io.DataInputStream(new java.io.FileInputStream(f))
    try {
      val m = new Array[Byte](4)
      in.readFully(m)
      m(0) == 'O' && m(1) == 'b' && m(2) == 'j' && m(3) == 1
    } catch { case _: java.io.EOFException => false
    } finally in.close()
  }

  /** Executor-usable single-file row iterator (the readFiles task body):
    * full-file range, external Rows in `schema` order. */
  def fileRows(path: String, schema: StructType): Iterator[Row] =
    readFileRows(path, schema, 0L,
      java.nio.file.Files.size(java.nio.file.Paths.get(path)), Map.empty)

  /** Decode one Avro value to the Spark external type — runs on executors
    * in the distributed read path, so it must only touch serializable
    * state (the StructField travels inside the task closure). */
  private def decodeValue(dt: DataType, v: AnyRef): Any =
    if (v == null) null else dt match {
      case StringType => v.toString
      case TimestampType =>
        val us = v.asInstanceOf[Long]
        java.time.Instant.ofEpochSecond(
          Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)
      case TimestampNTZType =>
        val us = v.asInstanceOf[Long]
        java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
          (Math.floorMod(us, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)
      case DateType =>
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong))
      case BinaryType =>
        val bb = v.asInstanceOf[java.nio.ByteBuffer].duplicate()
        val out = new Array[Byte](bb.remaining()); bb.get(out); out
      case _ => v
    }

  private[ice] def readFileRows(path: String, schema: StructType,
      start: Long, end: Long,
      mappedNames: Map[Long, Seq[String]]): Iterator[Row] = {
    val reader = new DataFileReader[GenericRecord](
      new File(path), ManifestAvro.genericDatumReader())
    // sync-marker split (the reference's split unit, avro_reader.cc:
    // 127-130, same protocol as avro-mapred): advance to the first block
    // boundary at/after `start`, stop once the reader passes `end` — each
    // block is consumed by exactly one split
    val rows = try {
      if (start > 0L) reader.sync(start)
      // field resolution (avro_reader.cc:103-118): prefer the file's
      // "field-id" attributes matched to the request schema's ids
      // (rename-safe), fall back to name matching; absent fields -> null
      val fileFields = reader.getSchema.getFields.asScala
      val fileNames = fileFields.map(_.name).toSet
      val byId = fileFields.flatMap(ff =>
        Option(ff.getObjectProp("field-id"))
          .collect { case n: Number => n.longValue -> ff.name }).toMap
      val resolved: Array[Option[String]] = schema.fields.map { f =>
        (sparkFieldId(f), byId.nonEmpty) match {
          // file carries ids and the request field has one: id resolution
          // ONLY — a name hit would mis-bind a dropped-and-recreated
          // column to the old column's data (Iceberg resolution rules)
          case (Some(id), true) => byId.get(id)
          // id-less file: consult schema.name-mapping.default first
          // (rename-safe, same candidate order as the parquet external
          // path: mapped names then current name), then current name
          case (Some(id), false) =>
            (mappedNames.getOrElse(id, Nil) :+ f.name).find(fileNames)
          // id-less request field: name matching
          case _ => fileFields.find(_.name == f.name).map(_.name)
        }
      }
      val out = Vector.newBuilder[Row]
      while (reader.hasNext && !reader.pastSync(end)) {
        val r = reader.next()
        out += Row.fromSeq(schema.fields.zip(resolved).map {
          case (f, Some(src)) => decodeValue(f.dataType, r.get(src))
          case (_, None) => null
        }.toSeq)
      }
      out.result()
    } finally reader.close()
    rows.iterator
  }

  /** Distributed Avro source (S9 at scale, the writeDir dual): Spark
    * tasks on the executors — no rows move through the driver. Matches
    * the reference's source semantics (avro_reader.cc:77-160): files
    * larger than `splitSizeBytes` split into byte ranges resolved to
    * sync-marker block boundaries, so one huge Avro file still reads
    * in parallel. */
  def readFiles(spark: SparkSession, files: Seq[String], schema: StructType,
      splitSizeBytes: Long = 32L * 1024 * 1024,
      mappedNames: Map[Long, Seq[String]] = Map.empty): DataFrame = {
    if (files.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    val splits = files.flatMap { p =>
      val len = java.nio.file.Files.size(java.nio.file.Paths.get(p))
      // end is a real offset, never Long.MaxValue: DataFileReader.pastSync
      // adds SYNC_SIZE to it and would overflow
      if (len <= splitSizeBytes) Seq((p, 0L, len))
      else (0L until len by splitSizeBytes)
        .map(s => (p, s, math.min(s + splitSizeBytes, len)))
    }
    val n = math.min(splits.size, math.max(1, spark.sparkContext.defaultParallelism))
    val rdd = spark.sparkContext.parallelize(splits, n)
      .flatMap { case (p, s, e) => readFileRows(p, schema, s, e, mappedNames) }
    spark.createDataFrame(rdd, schema)
  }

  /** Read a directory of Avro files (the writeDir dual) as Spark tasks. */
  def readDir(spark: SparkSession, dir: String, schema: StructType): DataFrame = {
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .iterator.asScala.map(_.toString).filter(_.endsWith(".avro")).toSeq.sorted
    readFiles(spark, files, schema)
  }

  /** Top-level field names of an Avro data file's schema. */
  def fieldNames(path: String): Set[String] = {
    val reader = new DataFileReader[GenericRecord](
      new File(path), ManifestAvro.genericDatumReader())
    try reader.getSchema.getFields.asScala.map(_.name).toSet finally reader.close()
  }

  /** Record count from block headers only — no datum decoding (each Avro
    * block header carries its object count). Driver-side migration
    * helper for addFiles; at write time prefer recording counts. */
  def countRecords(path: String): Long = {
    val reader = new DataFileReader[GenericRecord](
      new File(path), ManifestAvro.genericDatumReader())
    try {
      var n = 0L
      while (reader.hasNext) { n += reader.getBlockCount; reader.nextBlock() }
      n
    } finally reader.close()
  }
}
