package graft

import org.apache.spark.sql.connector.{expressions => cx}
import org.apache.spark.sql.types._

/** DDL translation helpers shared by the catalog and the SQL parser:
  * v2 partition transforms → graft transforms (the Iceberg transform
  * vocabulary: identity, bucket[N], truncate[W], year/month/day/hour),
  * Spark types and default values → their Iceberg forms, and the
  * partition-field naming convention. */
private[graft] object GraftDdl {
  import graft.ice.transform.{Transform => IceTransform, _}

  private def ref(e: cx.Expression): String = e match {
    case n: cx.NamedReference => n.fieldNames.mkString(".")
    case other => throw new IllegalArgumentException(
      s"partition transform argument must be a column, got $other")
  }

  /** (source column, transform) pairs in declaration order. */
  def toIceTransforms(ts: Seq[cx.Transform]): Seq[(String, IceTransform)] =
    ts.map { t =>
      def intArg: Int = t.arguments.collectFirst {
        case l: cx.Literal[_] => l.value.asInstanceOf[Number].intValue
      }.getOrElse(throw new IllegalArgumentException(s"missing int arg in $t"))
      def colArg: String = t.arguments.collectFirst {
        case n: cx.NamedReference => n.fieldNames.mkString(".")
      }.getOrElse(throw new IllegalArgumentException(s"missing column in $t"))
      t.name match {
        case "identity" => (ref(t.arguments.head), IdentityTransform)
        case "bucket" => (colArg, BucketTransform(intArg))
        case "truncate" => (colArg, TruncateTransform(intArg))
        case "years" | "year" => (ref(t.arguments.head), YearTransform)
        case "months" | "month" => (ref(t.arguments.head), MonthTransform)
        case "days" | "day" | "date" => (ref(t.arguments.head), DayTransform)
        case "hours" | "hour" | "date_hour" => (ref(t.arguments.head), HourTransform)
        case other => throw new IllegalArgumentException(
          s"unsupported partition transform '$other' " +
            "(identity, bucket, truncate, years, months, days, hours)")
      }
    }

  /** Spark DataType → Iceberg type for ALTER ADD COLUMN (primitives
    * only: nested types would need field-id allocation against the
    * table's last-column-id, which addColumn owns for the top level). */
  def toIceType(dt: DataType): graft.ice.types.IceType = {
    import graft.ice.types._
    dt match {
      case BooleanType => BooleanT
      case ByteType | ShortType | IntegerType => IntT
      case LongType => LongT
      case FloatType => FloatT
      case DoubleType => DoubleT
      case DateType => DateT
      case TimestampNTZType => TimestampT
      case TimestampType => TimestampTzT
      case StringType => StringT
      case BinaryType => BinaryT
      case d: DecimalType => DecimalT(d.precision, d.scale)
      case other => throw new IllegalArgumentException(
        s"ALTER TABLE ADD COLUMN supports primitive types only, got $other")
    }
  }

  /** Connector default-value literal (catalyst-internal value + Spark
    * type) → the Iceberg raw-value convention of
    * [[graft.ice.types.Literal]] (Int days, Long micros, JBigDecimal...).
    * Null means "no default" at this layer. */
  def toIceRaw(dt: DataType, catalystValue: Any): Any = {
    if (catalystValue == null) return null
    val ext = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .convertToScala(catalystValue, dt)
    ext match {
      case d: java.sql.Date => d.toLocalDate.toEpochDay.toInt
      case d: java.time.LocalDate => d.toEpochDay.toInt
      case t: java.sql.Timestamp =>
        val i = t.toInstant; i.getEpochSecond * 1000000L + i.getNano / 1000L
      case i: java.time.Instant => i.getEpochSecond * 1000000L + i.getNano / 1000L
      case l: java.time.LocalDateTime =>
        l.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + l.getNano / 1000L
      case bd: scala.math.BigDecimal => bd.bigDecimal
      case other => other // primitives, String, Array[Byte]
    }
  }

  /** Fold a stored default-value SQL string ("'STANDARD'", "CAST(7 AS INT)")
    * to an Iceberg raw value. Only constant-foldable expressions qualify —
    * Spark's own ResolveDefaultColumns enforces the same restriction. */
  def foldDefaultSql(sql: String, dt: DataType,
      spark: org.apache.spark.sql.SparkSession): Option[Any] =
    try {
      import org.apache.spark.sql.catalyst.expressions.{Cast, Literal => CatLit}
      val parsed = spark.sessionState.sqlParser.parseExpression(sql)
      val adapted = parsed match {
        case l: CatLit if l.dataType == dt => l
        case e if e.resolved && e.foldable => Cast(e, dt)
        case _ => return None
      }
      if (!adapted.resolved || !adapted.foldable) None
      else Option(toIceRaw(dt, adapted.eval(null)))
    } catch { case _: Exception => None }

  /** Iceberg partition-field naming convention. */
  def partName(col: String, t: IceTransform): String = t match {
    case IdentityTransform => col
    case BucketTransform(_) => s"${col}_bucket"
    case TruncateTransform(_) => s"${col}_trunc"
    case YearTransform => s"${col}_year"
    case MonthTransform => s"${col}_month"
    case DayTransform => s"${col}_day"
    case HourTransform => s"${col}_hour"
    case other => s"${col}_${other.toString.toLowerCase}"
  }
}
