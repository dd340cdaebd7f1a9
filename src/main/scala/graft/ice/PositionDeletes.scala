package graft.ice

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BoundReference, Expression, UnaryExpression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.orc.OrcFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{col, struct}
import org.apache.spark.sql.sources.{Filter => V1Filter}
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, FloatType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.longlong.Roaring64Bitmap

import graft.ice.manifest.{AvroData, ManifestAvro, ManifestEntry, Puffin}

/** The position deletes that apply to one data file: deletion vectors
  * as puffin (path, offset, length), and position-delete files as
  * (path, size, manifest fileFormat). The format travels from the
  * manifest entry so the reader dispatches without sniffing container
  * magic; "" means unknown and falls back to sniffing. */
final case class FileDeletes(
    dvs: Seq[(String, Long, Long)],
    files: Seq[(String, Long, String)]) {
  def isEmpty: Boolean = dvs.isEmpty && files.isEmpty
}

/** Merge-on-read position deletes as a per-data-file row mask, and the
  * one reader of delete files: the scan's reader, the changelog
  * (through [[PositionDeleteMask]]), the `position_deletes` metadata
  * table and compaction all read them
  * here, and none of them joins a delete side. A data file's deleted
  * positions are the union of its deletion vectors and of the rows
  * naming it in the visible position-delete files; delete files are
  * parsed once per executor JVM ([[DeleteFileCache]]). */
object PositionDeletes {
  type Read = PartitionedFile => Iterator[InternalRow]

  /** The position-delete file schema (spec reserved columns). */
  val Schema: StructType = StructType(Seq(
    StructField("file_path", StringType), StructField("pos", LongType)))

  /** The schema of [[tuples]]. */
  val TupleSchema: StructType = Schema.add("delete_file_path", StringType)

  /** The position deletes visible to the data file at `p` (a manifest
    * path without scheme) of data sequence number `dataSeq`: a delete
    * applies to data files with dataSeq <= deleteSeq, and a deletion
    * vector only to the file it references. Every visible delete file
    * applies; its rows name the data files it covers. */
  def applicable(p: String, dataSeq: Long, posDeletes: Seq[ManifestEntry]): FileDeletes = {
    val (dvs, files) = posDeletes
      .filter(_.sequenceNumber.getOrElse(0L) >= dataSeq)
      .partition(_.dataFile.contentOffset.isDefined)
    lazy val forms = FilePaths.storedForms(p)
    FileDeletes(
      dvs.filter(_.dataFile.referencedDataFile.map(ManifestAvro.stripFileScheme).exists(forms.contains))
        .map(e => (ManifestAvro.stripFileScheme(e.dataFile.filePath),
          e.dataFile.contentOffset.get,
          e.dataFile.contentSizeInBytes.getOrElse(
            throw new IllegalStateException(s"DV for $p missing content size")))),
      files.map(e => (ManifestAvro.stripFileScheme(e.dataFile.filePath),
        e.dataFile.fileSizeInBytes, e.dataFile.fileFormat)))
  }

  /** Positions deleted from `dataPath` (a manifest path without scheme). */
  def deletedPositions(dataPath: String, d: FileDeletes,
      parquet: Read, orc: Read): Roaring64Bitmap = {
    val bm = new Roaring64Bitmap()
    d.dvs.foreach { case (path, off, len) => bm.or(Puffin.readDV(path, off, len)) }
    d.files.foreach { case (path, size, fmt) =>
      bm.or(DeleteFileCache.positionsFor(path, size, dataPath,
        () => fileRows(parquet, orc, Schema, path, size, fmt)))
    }
    bm
  }

  /** The container readers a delete file of manifest format `format` may
    * need, as (parquet, ORC) — the dispatch of [[fileRows]]: avro decodes
    * without either, and an absent or unknown format is sniffed and may
    * land on both. */
  def readersFor(format: String): (Boolean, Boolean) = normFormat(format) match {
    case "AVRO" => (false, false)
    case "ORC" => (false, true)
    case "PARQUET" => (true, false)
    case _ => (true, true)
  }

  /** A reader slot the planned files cannot reach: reaching it anyway
    * means the reader set no longer covers its files, so fail loudly. */
  def unbuilt(slot: String): Read =
    f => throw new IllegalStateException(
      s"reader $slot was not built for this scan, yet ${f.filePath} needs it")

  /** Spark's reader for parquet files of `schema`, with `filters` pushed
    * into the row-group reader. With `batches` it yields `ColumnarBatch`es
    * (cast to the row type; [[rows]] unpacks them), which needs
    * `ParquetFileFormat.supportBatch` to hold for `schema` under `spark`.
    * Columns resolve by field id wherever `schema` carries ids (by name
    * otherwise): the setting rides in the reader's own Hadoop conf, so
    * the session's conf is never touched. */
  def parquetReader(spark: SparkSession, schema: StructType, filters: Seq[V1Filter],
      batches: Boolean = false): Read =
    new ParquetFileFormat().buildReaderWithPartitionValues(
      sparkSession = spark,
      dataSchema = schema,
      partitionSchema = new StructType(),
      requiredSchema = schema,
      filters = filters,
      options = Map(FileFormat.OPTION_RETURNING_BATCH -> batches.toString),
      hadoopConf = spark.sessionState.newHadoopConfWithOptions(
        Map("spark.sql.parquet.fieldId.read.enabled" -> "true")))

  /** The ORC twin of [[parquetReader]], unfiltered. */
  def orcReader(spark: SparkSession, schema: StructType): Read =
    new OrcFileFormat().buildReaderWithPartitionValues(
      sparkSession = spark,
      dataSchema = schema,
      partitionSchema = new StructType(),
      requiredSchema = schema,
      filters = Nil,
      options = Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      hadoopConf = spark.sessionState.newHadoopConfWithOptions(Map.empty))

  /** The (parquet, ORC) position-delete readers for `files`, each built
    * only when some file's format needs it: every build broadcasts the
    * session's Hadoop conf. */
  def readers(spark: SparkSession, files: Iterable[(String, Long, String)]): (Read, Read) = {
    val needs = files.map(f => readersFor(f._3))
    (if (needs.exists(_._1)) parquetReader(spark, Schema, Nil) else unbuilt("position-delete parquet"),
      if (needs.exists(_._2)) orcReader(spark, Schema) else unbuilt("position-delete orc"))
  }

  /** The rows `read` yields for `p`, unpacking batches. */
  def rows(read: Read, p: PartitionedFile): Iterator[InternalRow] =
    read(p).asInstanceOf[Iterator[Any]].flatMap {
      case b: ColumnarBatch => b.rowIterator().asScala
      case r: InternalRow => Iterator.single(r)
    }

  /** Rows of one delete file. The delete plane may be parquet, avro or
    * ORC (`write.delete.format.default`); dispatch on the manifest format
    * and sniff container magic only when it is absent or unknown (the
    * sniff needs a local-FS open). Avro rows decode through AvroData and
    * convert to catalyst here: delete files have tiny schemas. */
  def fileRows(parquet: Read, orc: Read, schema: StructType, path: String,
      size: Long, format: String): Iterator[InternalRow] = {
    def avroRows: Iterator[InternalRow] = {
      val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToCatalystConverter(schema)
      AvroData.fileRows(path, schema).map(r => conv(r).asInstanceOf[InternalRow])
    }
    val whole = PartitionedFile(InternalRow.empty, SparkPath.fromPathString(path),
      0L, size, Array.empty[String], 0L, size, Map.empty)
    normFormat(format) match {
      case "AVRO" => avroRows
      case "ORC" => rows(orc, whole)
      case "PARQUET" => rows(parquet, whole)
      case _ =>
        if (AvroData.isAvroFile(path)) avroRows
        else if (isOrcFile(path)) rows(orc, whole)
        else rows(parquet, whole)
    }
  }

  /** The (file_path, pos, delete_file_path) tuples of the position-delete
    * `entries`, deletion vectors included. One task per entry reads its
    * file through [[fileRows]] with the manifest format and size, or its
    * vector through `Puffin.readDV`, so the driver opens nothing.
    * `file_path` is stripped of its `file:` scheme, the form
    * [[DeleteFileCache]] keys by; `delete_file_path` is the manifest's. */
  def tuples(spark: SparkSession, entries: Seq[ManifestEntry]): DataFrame = {
    val reads = tupleReads(entries)
    val (parquet, orc) = tupleReaders(spark, reads)
    val rows = spark.sparkContext.parallelize(reads, math.max(1, reads.size))
      .flatMap(tupleRows(parquet, orc, _))
    GraftColumnBridge.ofInternalRows(spark, rows, TupleSchema)
  }

  /** One entry of [[tuples]] as its task reads it; also the input
    * partition of the connector's `position_deletes` scan. `dv` holds a
    * deletion vector's (offset, length, referenced data file). */
  final case class TupleRead(path: String, size: Long, format: String,
      manifestPath: String, dv: Option[(Long, Long, String)])
      extends org.apache.spark.sql.connector.read.InputPartition

  def tupleReads(entries: Seq[ManifestEntry]): Seq[TupleRead] = entries.map { e =>
    val f = e.dataFile
    TupleRead(ManifestAvro.stripFileScheme(f.filePath), f.fileSizeInBytes, f.fileFormat, f.filePath,
      f.contentOffset.map(off => (off, f.contentSizeInBytes.getOrElse(
        throw new IllegalStateException(s"DV ${f.filePath} missing content size")),
        ManifestAvro.stripFileScheme(f.referencedDataFile.getOrElse(
          throw new IllegalStateException(s"DV ${f.filePath} missing referenced file"))))))
  }

  /** The delete-file readers `reads` need (deletion vectors need none). */
  def tupleReaders(spark: SparkSession, reads: Seq[TupleRead]): (Read, Read) =
    readers(spark, reads.collect { case r if r.dv.isEmpty => (r.path, r.size, r.format) })

  /** The tuples of one entry, read on the executor. */
  def tupleRows(parquet: Read, orc: Read, r: TupleRead): Iterator[InternalRow] = {
    val from = UTF8String.fromString(r.manifestPath)
    r.dv match {
      case Some((off, len, target)) =>
        val t = UTF8String.fromString(target)
        Puffin.readDV(r.path, off, len).iterator().asScala
          .map(pos => InternalRow(t, pos.longValue, from))
      case None =>
        val scheme = UTF8String.fromString("file:")
        fileRows(parquet, orc, Schema, r.path, r.size, r.format).filter(!_.isNullAt(0)).map { row =>
          val p = row.getUTF8String(0)
          InternalRow(if (p.startsWith(scheme)) UTF8String.fromString(
            ManifestAvro.stripFileScheme(p.toString)) else p.clone(), row.getLong(1), from)
        }
    }
  }

  /** True when the file starts with the ORC magic `ORC` (fallback only).
    * readFully loop: a single read() may legitimately short-read. */
  def isOrcFile(path: String): Boolean = {
    val f = new java.io.File(path)
    if (!f.isFile || f.length < 3) return false
    val in = new java.io.DataInputStream(new java.io.FileInputStream(f))
    try {
      val m = new Array[Byte](3)
      in.readFully(m)
      m(0) == 'O' && m(1) == 'R' && m(2) == 'C'
    } catch { case _: java.io.EOFException => false
    } finally in.close()
  }

  private def normFormat(format: String): String =
    if (format == null) "" else format.toUpperCase(java.util.Locale.ROOT)

  /** True for rows of `refs`' files whose position is deleted, over the
    * scan's raw `_metadata.file_path` and `_metadata.row_index`. */
  def mask(filePath: Column, rowIndex: Column, refs: Map[String, FileDeletes],
      parquet: Read, orc: Read): Column =
    GraftColumnBridge.column(PositionDeleteMask(GraftColumnBridge.expression(filePath),
      GraftColumnBridge.expression(rowIndex), refs, parquet, orc))
}

/** `graft_position_deletes(file_path, row_index)`: whether a row's
  * position is deleted. `refs` maps each delete-bearing data file of
  * the scan (manifest path without scheme) to its visible deletes; a
  * file outside it has none. The path goes through [[FilePaths]], and
  * since rows arrive file by file the file's bitmap is built once per
  * task, on its first row. `row_index` counts rows from the start of the
  * file, so a split or a skipped row group keeps positions exact. */
final case class PositionDeleteMask(left: Expression, right: Expression,
    refs: Map[String, FileDeletes], parquet: PositionDeletes.Read,
    orc: PositionDeletes.Read) extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_position_deletes"
  override def toString: String = s"$prettyName($left, $right, ${refs.size} files)"

  @transient private[this] var lastRaw: UTF8String = _
  @transient private[this] var lastBits: Roaring64Bitmap = _

  def deleted(raw: UTF8String, pos: Long): Boolean = {
    if (lastRaw == null || !lastRaw.equals(raw)) {
      val path = FilePaths.fromSpark(raw.toString)
      lastBits = refs.get(path)
        .map(PositionDeletes.deletedPositions(path, _, parquet, orc)).orNull
      lastRaw = raw.clone()
    }
    lastBits != null && lastBits.contains(pos)
  }

  override def eval(input: InternalRow): Any = {
    val raw = left.eval(input)
    raw != null && deleted(raw.asInstanceOf[UTF8String], right.eval(input).asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("positionDeletes", this)
    val p = left.genCode(ctx)
    val r = right.genCode(ctx)
    ev.copy(code = code"""
      ${p.code}
      ${r.code}
      boolean ${ev.value} = !${p.isNull} && $self.deleted(${p.value}, ${r.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): PositionDeleteMask = copy(left = newLeft, right = newRight)
}

/** Merge-on-read equality deletes as an in-task row test: a row is
  * deleted when its key columns equal a row of a visible
  * equality-delete file, compared as Spark's `<=>` compares them (nulls
  * match, `-0.0` equals `0.0`, NaN equals NaN). Keys are compared after
  * initial-defaults and identity constants are in place. The one
  * implementation behind the scan's reader and the changelog (through
  * [[EqualityDeleteMask]]); each file's keys are parsed once per
  * executor JVM
  * ([[DeleteFileCache]]) through [[PositionDeletes.fileRows]]. */
object EqualityDeletes {
  import PositionDeletes.Read

  /** One equality-delete file: (path without scheme, size, key column
    * names, manifest format). */
  type File = (String, Long, Seq[String], String)

  /** The key readers of a scan's equality-delete files, per key-column
    * list: the key schema and the (parquet, ORC) readers. */
  final case class Readers(schemas: Map[Seq[String], StructType],
      parquet: Map[Seq[String], Read], orc: Map[Seq[String], Read])

  /** `e` as a [[File]], its key columns named through `nameOf`. */
  def file(e: ManifestEntry, nameOf: Int => Option[String]): File = {
    val cols = e.dataFile.equalityIds.flatMap(nameOf(_))
    require(cols.size == e.dataFile.equalityIds.size,
      s"equality delete ${e.dataFile.filePath} references unknown field ids")
    (ManifestAvro.stripFileScheme(e.dataFile.filePath), e.dataFile.fileSizeInBytes, cols,
      e.dataFile.fileFormat)
  }

  /** The equality deletes visible to data of sequence number `dataSeq`:
    * those with dataSeq < deleteSeq. */
  def applicable(dataSeq: Long, eqDeletes: Seq[ManifestEntry],
      nameOf: Int => Option[String]): Seq[File] =
    eqDeletes.filter(_.sequenceNumber.getOrElse(0L) > dataSeq).map(file(_, nameOf))

  /** The key readers `files` need, their key fields from `fieldOf`: a
    * field carrying a field id reads the delete file's column by id, so a
    * key column renamed after the delete was written still matches. Each
    * container reader is built only when some file's format needs it:
    * every build broadcasts the session's Hadoop conf. */
  def readers(spark: SparkSession, files: Seq[File], fieldOf: String => StructField): Readers = {
    val byCols = files.groupBy(_._3)
    val schemas = byCols.map { case (cols, _) => cols -> StructType(cols.map(fieldOf)) }
    def slots(name: String, needs: ((Boolean, Boolean)) => Boolean)(
        build: StructType => Read): Map[Seq[String], Read] =
      byCols.map { case (cols, fs) =>
        cols -> (if (fs.exists(f => needs(PositionDeletes.readersFor(f._4)))) build(schemas(cols))
          else PositionDeletes.unbuilt(cols.mkString(s"$name(", ",", ")")))
      }
    Readers(schemas,
      slots("readEqDeletes", _._1)(PositionDeletes.parquetReader(spark, _, Nil)),
      slots("readEqDeletesOrc", _._2)(PositionDeletes.orcReader(spark, _)))
  }

  /** Whether a row of `rowSchema` is deleted by any of `files`. */
  def test(files: Seq[File], rowSchema: StructType, readers: Readers): InternalRow => Boolean = {
    val checks = files.groupBy(_._3).toSeq.map { case (cols, fs) =>
      val keySchema = readers.schemas(cols)
      val keySets = fs.map { case (path, size, _, fmt) =>
        DeleteFileCache.eqKeysFor(path, size, keySchema.fields.map(_.toDDL).toSeq, { () =>
          val key = keyOf(keySchema, keySchema.fields.indices)
          PositionDeletes.fileRows(readers.parquet(cols), readers.orc(cols), keySchema,
            path, size, fmt).map(r => key(r).copy())
        })
      }
      val key = keyOf(rowSchema, cols.map(rowSchema.fieldIndex))
      (row: InternalRow) => { val k = key(row); keySets.exists(_.contains(k)) }
    }
    row => checks.exists(_(row))
  }

  /** The key at `ordinals` of `schema`'s rows as an `UnsafeRow`, whose
    * byte equality is `<=>` once floating point is normalised. */
  private def keyOf(schema: StructType, ordinals: Seq[Int]): UnsafeProjection =
    UnsafeProjection.create(ordinals.map { i =>
      val ref = BoundReference(i, schema(i).dataType, nullable = true)
      schema(i).dataType match {
        case FloatType | DoubleType => NormalizeNaNAndZero(ref)
        case _ => ref
      }
    })

  /** True for rows `files` delete, over the columns they key on. */
  def mask(files: Seq[File], readers: Readers): Column =
    GraftColumnBridge.column(EqualityDeleteMask(GraftColumnBridge.expression(
      struct(files.flatMap(_._3).distinct.map(col): _*)), files, readers))
}

/** `graft_equality_deletes(keys)`: whether `files` delete a row, over a
  * struct of the key columns they name. */
final case class EqualityDeleteMask(child: Expression, files: Seq[EqualityDeletes.File],
    readers: EqualityDeletes.Readers) extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_equality_deletes"
  override def toString: String = s"$prettyName($child, ${files.size} files)"

  @transient private[this] lazy val test =
    EqualityDeletes.test(files, child.dataType.asInstanceOf[StructType], readers)

  def deleted(keys: InternalRow): Boolean = test(keys)

  override def eval(input: InternalRow): Any = deleted(child.eval(input).asInstanceOf[InternalRow])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("equalityDeletes", this)
    val k = child.genCode(ctx)
    ev.copy(code = code"""
      ${k.code}
      boolean ${ev.value} = $self.deleted(${k.value});""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): EqualityDeleteMask = copy(child = c)
}

/** Per-executor cache of PARSED delete-file content: position-delete
  * files as per-data-file bitmaps, equality-delete files as key sets.
  * A position-delete file covers many data files, and an equality-delete
  * file every older data file, so each split would otherwise re-read and
  * re-decompress it. Parsing once per executor JVM makes that
  * O(delete files): each executor holds the positions and keys of the
  * delete files its tasks touched, up to the cap below.
  *
  * Keyed by (path, length) — table files are immutable, so a same-path
  * rewrite (different length) can never serve stale positions; identical
  * (path, length) implies identical bytes. Bounded by total cached
  * positions/keys: past the cap the cache clears wholesale (advisory
  * cache — a re-parse is always correct) rather than maintaining LRU
  * chains under concurrent readers. */
object DeleteFileCache {
  private val maxPositions = 64000000L
  private val posCache = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.HashMap[String, Roaring64Bitmap]]()
  private val eqCache = new java.util.concurrent.ConcurrentHashMap[
    String, mutable.HashSet[UnsafeRow]]()
  private val cachedUnits = new java.util.concurrent.atomic.AtomicLong()

  /** Over-cap eviction. NEVER called from inside a computeIfAbsent
    * mapping function: CHM mapping functions must not update other
    * mappings (clear() from inside one holds the caller's bin lock while
    * blocking on bins another mid-compute thread holds — deadlock). Both
    * caches therefore compute values OUTSIDE the map and publish with
    * putIfAbsent; a lost race re-parsed redundantly, which is always
    * correct for an advisory cache. */
  private def admit(units: Long): Unit = {
    if (cachedUnits.addAndGet(units) > maxPositions) {
      posCache.clear(); eqCache.clear(); cachedUnits.set(units)
    }
  }

  /** Positions deleted from `dataPath` according to the delete file at
    * (path, size); `parse` yields the file's (file_path, pos) rows. Rows
    * stored under any of the path's [[FilePaths.storedForms]] count. The
    * returned bitmap may be shared: callers must not modify it. */
  def positionsFor(path: String, size: Long, dataPath: String,
      parse: () => Iterator[InternalRow]): Roaring64Bitmap = {
    val key = s"$path#$size"
    var byPath = posCache.get(key)
    if (byPath == null) {
      val m = new java.util.HashMap[String, Roaring64Bitmap]()
      var n = 0L
      parse().foreach { r =>
        if (!r.isNullAt(0)) {
          val p = ManifestAvro.stripFileScheme(r.getUTF8String(0).toString)
          var bm = m.get(p)
          if (bm == null) { bm = new Roaring64Bitmap(); m.put(p, bm) }
          bm.addLong(r.getLong(1)); n += 1
        }
      }
      val prev = posCache.putIfAbsent(key, m)
      if (prev != null) byPath = prev
      else { admit(n); byPath = m }
    }
    val found = FilePaths.storedForms(dataPath).flatMap(p => Option(byPath.get(p)))
    found match {
      case Seq() => new Roaring64Bitmap()
      case Seq(bm) => bm
      case several =>
        val bm = new Roaring64Bitmap()
        several.foreach(bm.or)
        bm
    }
  }

  /** The delete-key set of an equality-delete file, parsed once per JVM
    * (safe to share: the set is read-only after construction and safely
    * published through the map). `parse` yields projected UnsafeRows of
    * the key columns `cols` describes (name and type). */
  def eqKeysFor(path: String, size: Long, cols: Seq[String],
      parse: () => Iterator[UnsafeRow]): mutable.HashSet[UnsafeRow] = {
    val key = s"$path#$size#${cols.mkString(",")}"
    val hit = eqCache.get(key)
    if (hit != null) return hit
    val keys = new mutable.HashSet[UnsafeRow]()
    parse().foreach(keys += _)
    val prev = eqCache.putIfAbsent(key, keys)
    if (prev != null) prev
    else { admit(keys.size.toLong); keys }
  }
}
