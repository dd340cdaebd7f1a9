package graft.ice.write

import java.math.{BigDecimal => JBigDecimal}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}

import graft.ice.transform.TruncateUtil
import graft.ice.types._

/** Per-file column metrics from parquet footers (reference: metrics.h:33-41;
  * the reference's parquet writer returns empty metrics,
  * parquet_writer.cc:139-144 — here we compute real ones, because bounds
  * are what make manifest/file pruning work at scale).
  *
  * Footer-only: no data re-scan. At cluster scale this runs where the file
  * was written (or in parallel on the driver for small commits); collecting
  * a footer is O(KB) regardless of file size. String bounds are truncated
  * to 16 chars with upper-bound increment (metrics mode truncate(16),
  * table_properties.h metrics defaults). */
/** Per-column metrics modes (reference table_properties.h:232-235):
  * what a data file's manifest entry persists for each column.
  *  - `none`       — no counts, no bounds (column sizes only)
  *  - `counts`     — value/null/NaN counts, no bounds
  *  - `truncate(W)`— counts + bounds truncated to W code points/bytes
  *  - `full`       — counts + exact bounds
  * Downstream metadata proofs (StrictMetricsEvaluator, MIN/MAX/COUNT
  * answer, TopN end-runs, default-absence) all REFUSE on the metrics a
  * mode withholds — missing counts/bounds were already "unknown ⇒
  * include/refuse" everywhere, so withholding degrades pruning and
  * pushdown, never correctness. */
sealed trait MetricsMode
object MetricsMode {
  case object NoMetrics extends MetricsMode
  case object Counts extends MetricsMode
  final case class Truncate(width: Int) extends MetricsMode
  case object Full extends MetricsMode

  private val TruncateRe = """truncate\((\d+)\)""".r
  def parse(s: String): MetricsMode =
    s.trim.toLowerCase(java.util.Locale.ROOT) match {
      case "none" => NoMetrics
      case "counts" => Counts
      case "full" => Full
      case TruncateRe(w) if w.toInt > 0 => Truncate(w.toInt)
      case other => throw new IllegalArgumentException(
        s"invalid metrics mode '$other' (none, counts, truncate(W), full)")
    }
}

/** Resolved metrics configuration for one table: the default mode, the
  * per-column overrides, and the inference cap — columns past the first
  * `max-inferred-column-defaults` (schema order) default to `none`
  * unless explicitly overridden, the reference's wide-schema guard
  * against per-column manifest bloat at 1000+ columns. */
final case class MetricsConfig(
    default: MetricsMode,
    overrides: Map[String, MetricsMode],
    maxInferredDefaults: Int,
    schemaPositionById: Map[Int, Int],
    nameById: Map[Int, String]) {

  def modeFor(fieldId: Int): MetricsMode =
    nameById.get(fieldId).flatMap(overrides.get).getOrElse {
      if (schemaPositionById.getOrElse(fieldId, 0) < maxInferredDefaults) default
      else MetricsMode.NoMetrics
    }

  /** Smallest truncate width any column can write bounds with under this
    * config — feeds the table's monotone bound-width floor. */
  def minTruncateWidth: Option[Int] = {
    val widths = (default +: overrides.values.toSeq).collect {
      case MetricsMode.Truncate(w) => w
    }
    if (widths.isEmpty) None else Some(widths.min)
  }
}

object MetricsConfig {
  import graft.ice.meta.TableProperties

  /** truncate(16) everywhere — the pre-config behavior and the default. */
  def default16(schema: Schema): MetricsConfig =
    MetricsConfig(MetricsMode.Truncate(Metrics.BoundTruncateLength), Map.empty,
      Int.MaxValue, Map.empty, schema.fields.map(f => f.id -> f.name).toMap)

  def from(props: Map[String, String], schema: Schema): MetricsConfig = {
    val default = MetricsMode.parse(
      TableProperties.get(props, TableProperties.MetricsDefault))
    val cap = TableProperties.get(props, TableProperties.MetricsMaxInferredDefaults)
    val overrides = props.collect {
      case (k, v) if k.startsWith(TableProperties.MetricsColumnPrefix) =>
        k.substring(TableProperties.MetricsColumnPrefix.length) -> MetricsMode.parse(v)
    }
    MetricsConfig(default, overrides, cap,
      schema.fields.zipWithIndex.map { case (f, i) => f.id -> i }.toMap,
      schema.fields.map(f => f.id -> f.name).toMap)
  }
}

object Metrics {

  val BoundTruncateLength = 16

  final case class FileMetrics(
      rowCount: Long,
      columnSizes: Map[Int, Long],
      valueCounts: Map[Int, Long],
      nullValueCounts: Map[Int, Long],
      lowerBounds: Map[Int, Array[Byte]],
      upperBounds: Map[Int, Array[Byte]],
      splitOffsets: Seq[Long])

  /** Metrics carrying only a row count — for registered file formats
    * without footer statistics (e.g. Avro): pruning treats absent bounds
    * as unknown, so such files are always included, never skipped. */
  def rowCountOnly(rows: Long): FileMetrics =
    FileMetrics(rows, Map.empty, Map.empty, Map.empty, Map.empty, Map.empty, Nil)

  /** Read footer metrics for one parquet file. `schema` is the table
    * schema; columns are matched by parquet field id when present, else
    * by top-level name (name-mapping fallback, name_mapping.h). */
  def fromParquetFooter(path: String, schema: Schema,
      conf: Configuration = new Configuration(),
      config: Option[MetricsConfig] = None): FileMetrics = {
    val cfg = config.getOrElse(MetricsConfig.default16(schema))
    val in = HadoopInputFile.fromPath(new HPath(path), conf)
    val reader = ParquetFileReader.open(in)
    try {
      val footer = reader.getFooter
      val msgType = footer.getFileMetaData.getSchema
      val blocks = footer.getBlocks.asScala

      // top-level leaf columns only (nested stats skipped; spec allows absence)
      val topLevelLeaves: Map[String, (PrimitiveType, Option[Int])] =
        msgType.getFields.asScala.filter(_.isPrimitive).map { f =>
          val p = f.asPrimitiveType
          f.getName -> (p, Option(f.getId).map(_.intValue))
        }.toMap

      def fieldFor(colName: String, parquetId: Option[Int]): Option[NestedField] =
        parquetId.flatMap(schema.findFieldById)
          .orElse(schema.fields.find(_.name == colName))

      val colSizes = collection.mutable.Map[Int, Long]().withDefaultValue(0L)
      val valCounts = collection.mutable.Map[Int, Long]().withDefaultValue(0L)
      val nullCounts = collection.mutable.Map[Int, Long]().withDefaultValue(0L)
      val mins = collection.mutable.Map[Int, Literal]()
      val maxs = collection.mutable.Map[Int, Literal]()
      var statsComplete = collection.mutable.Set[Int]()
      val statsBroken = collection.mutable.Set[Int]()

      for (block <- blocks; chunk <- block.getColumns.asScala) {
        val pathParts = chunk.getPath.toArray
        if (pathParts.length == 1) { // top-level primitive
          val name = pathParts(0)
          topLevelLeaves.get(name).foreach { case (ptype, pid) =>
            fieldFor(name, pid).foreach { field =>
              field.fieldType match {
                case prim: IcePrimitive =>
                  val id = field.id
                  colSizes(id) += chunk.getTotalSize
                  valCounts(id) += chunk.getValueCount
                  val stats = chunk.getStatistics
                  if (stats != null && stats.isNumNullsSet) nullCounts(id) += stats.getNumNulls
                  if (stats != null && stats.hasNonNullValue) {
                    convertStat(stats.genericGetMin.asInstanceOf[AnyRef], ptype, prim).foreach { lit =>
                      mins.get(id) match {
                        case Some(cur) if cur.compareTo(lit).exists(_ <= 0) =>
                        case _ => mins(id) = lit
                      }
                    }
                    convertStat(stats.genericGetMax.asInstanceOf[AnyRef], ptype, prim).foreach { lit =>
                      maxs.get(id) match {
                        case Some(cur) if cur.compareTo(lit).exists(_ >= 0) =>
                        case _ => maxs(id) = lit
                      }
                    }
                  } else if (stats == null || !stats.isNumNullsSet || stats.getNumNulls < chunk.getValueCount) {
                    // values exist but no usable stats -> bounds unreliable
                    statsBroken += id
                  }
                case _ =>
              }
            }
          }
        }
      }
      statsBroken.foreach { id => mins.remove(id); maxs.remove(id) }

      assemble(cfg, blocks.map(_.getRowCount).sum, colSizes.toMap,
        valCounts.toMap, nullCounts.toMap, mins.toMap, maxs.toMap,
        blocks.map(_.getStartingPos).toSeq.sorted)
    } finally reader.close()
  }

  /** A file's metrics from per-column counts and min/max literals,
    * gated by each column's metrics mode: `none` withholds counts AND
    * bounds, `counts` withholds bounds, `truncate(W)` truncates at W,
    * `full` stores exact bounds (long string/binary bounds then exceed
    * the truncate width and are simply never PROVABLY exact downstream —
    * conservative, sound). Shared by the parquet footer reader and the
    * writer's in-task tracking for avro and orc files. */
  def assemble(cfg: MetricsConfig, rowCount: Long, columnSizes: Map[Int, Long],
      valueCounts: Map[Int, Long], nullCounts: Map[Int, Long],
      mins: Map[Int, Literal], maxs: Map[Int, Literal],
      splitOffsets: Seq[Long]): FileMetrics = {
    def keepCounts(id: Int): Boolean = cfg.modeFor(id) != MetricsMode.NoMetrics
    def gate(id: Int, l: Literal, upper: Boolean): Option[Literal] = cfg.modeFor(id) match {
      case MetricsMode.Truncate(w) => if (upper) truncateUpper(l, w) else truncateLower(l, w)
      case MetricsMode.Full => Some(l)
      case _ => None
    }
    FileMetrics(
      rowCount = rowCount,
      columnSizes = columnSizes,
      valueCounts = valueCounts.filter(kv => keepCounts(kv._1)),
      nullValueCounts = nullCounts.filter(kv => keepCounts(kv._1)),
      lowerBounds = mins.flatMap { case (k, v) => gate(k, v, upper = false).map(k -> _.serialize) },
      upperBounds = maxs.flatMap { case (k, v) => gate(k, v, upper = true).map(k -> _.serialize) },
      splitOffsets = splitOffsets)
  }

  /** parquet statistics value -> Iceberg literal of the field's type. */
  private def convertStat(v: AnyRef, ptype: PrimitiveType, target: IcePrimitive): Option[Literal] = {
    import PrimitiveType.PrimitiveTypeName._
    val logical = ptype.getLogicalTypeAnnotation
    (ptype.getPrimitiveTypeName, target) match {
      case (INT32, IntT) => Some(Literal.int(v.asInstanceOf[Number].intValue))
      case (INT32, DateT) => Some(Literal.date(v.asInstanceOf[Number].intValue))
      case (INT32, LongT) => Some(Literal.long(v.asInstanceOf[Number].longValue))
      case (INT64, LongT) => Some(Literal.long(v.asInstanceOf[Number].longValue))
      case (INT64, TimestampT | TimestampTzT) =>
        val raw = v.asInstanceOf[Number].longValue
        val micros = logical match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            t.getUnit match {
              case LogicalTypeAnnotation.TimeUnit.MILLIS => raw * 1000L
              case LogicalTypeAnnotation.TimeUnit.NANOS => Math.floorDiv(raw, 1000L)
              case _ => raw
            }
          case _ => raw
        }
        Some(Literal(LiteralValue.Value(micros), target))
      case (INT64, TimeT) => Some(Literal.timeMicros(v.asInstanceOf[Number].longValue))
      case (FLOAT, FloatT) =>
        val f = v.asInstanceOf[Number].floatValue
        if (f.isNaN) None else Some(Literal.float(f))
      case (DOUBLE, DoubleT) =>
        val d = v.asInstanceOf[Number].doubleValue
        if (d.isNaN) None else Some(Literal.double(d))
      case (BOOLEAN, BooleanT) => Some(Literal.bool(v.asInstanceOf[Boolean]))
      case (BINARY, StringT) =>
        Some(Literal.string(v.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8))
      case (BINARY, BinaryT) =>
        Some(Literal.binary(v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes))
      case (INT32, DecimalT(p, s)) =>
        Some(Literal(LiteralValue.Value(JBigDecimal.valueOf(v.asInstanceOf[Number].longValue, s)), DecimalT(p, s)))
      case (INT64, DecimalT(p, s)) =>
        Some(Literal(LiteralValue.Value(JBigDecimal.valueOf(v.asInstanceOf[Number].longValue, s)), DecimalT(p, s)))
      case (FIXED_LEN_BYTE_ARRAY, DecimalT(p, s)) =>
        val bytes = v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
        Some(Literal(LiteralValue.Value(
          new JBigDecimal(new java.math.BigInteger(bytes), s)), DecimalT(p, s)))
      case _ => None
    }
  }

  /** truncate(W) for lower bound: plain truncation is a valid lower bound. */
  def truncateLower(l: Literal, width: Int = BoundTruncateLength): Option[Literal] = l.tpe match {
    case StringT =>
      Some(Literal.string(TruncateUtil.truncateString(width, l.raw.asInstanceOf[String])))
    case BinaryT =>
      Some(Literal.binary(TruncateUtil.truncateBinary(width, l.raw.asInstanceOf[Array[Byte]])))
    case _ => Some(l)
  }

  /** truncate(W) for upper bound: truncation must round UP — increment the
    * last code point; drop the bound entirely if no increment is possible. */
  def truncateUpper(l: Literal, width: Int = BoundTruncateLength): Option[Literal] = l.tpe match {
    case StringT =>
      val s = l.raw.asInstanceOf[String]
      if (s.codePointCount(0, s.length) <= width) Some(l)
      else {
        val t = TruncateUtil.truncateString(width, s)
        // a carry during increment SHORTENS the bound, making it
        // byte-indistinguishable from an exact short maximum — drop it
        // instead (no bound = no pruning, always safe), so that any
        // stored upper shorter than the truncate width is provably
        // exact (MetadataAggregate.exactBound + the table's monotone
        // bound-width floor rely on this, per-width)
        incrementLastCodePoint(t)
          .filter(r => r.codePointCount(0, r.length) == width)
          .map(Literal.string)
      }
    case BinaryT =>
      val b = l.raw.asInstanceOf[Array[Byte]]
      if (b.length <= width) Some(l)
      else {
        val t = TruncateUtil.truncateBinary(width, b)
        incrementBytes(t)
          .filter(_.length == width)
          .map(Literal.binary)
      }
    case _ => Some(l)
  }

  private def incrementLastCodePoint(s: String): Option[String] = {
    val cps = s.codePoints.toArray
    var i = cps.length - 1
    while (i >= 0) {
      if (cps(i) < Character.MAX_CODE_POINT &&
          !(cps(i) == Character.MIN_SURROGATE - 1)) {
        val next = cps(i) + 1
        // skip into surrogate range is invalid for code points; MIN..MAX
        // surrogates are not valid standalone code points
        val bumped = if (next >= Character.MIN_SURROGATE && next <= Character.MAX_SURROGATE)
          Character.MAX_SURROGATE + 1 else next
        val out = cps.take(i) :+ bumped
        return Some(new String(out, 0, out.length))
      }
      i -= 1
    }
    None
  }

  private def incrementBytes(b: Array[Byte]): Option[Array[Byte]] = {
    val out = b.clone()
    var i = out.length - 1
    while (i >= 0) {
      if ((out(i) & 0xff) != 0xff) {
        out(i) = (out(i) + 1).toByte
        return Some(java.util.Arrays.copyOf(out, i + 1))
      }
      i -= 1
    }
    None
  }
}
