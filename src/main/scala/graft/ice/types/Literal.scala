package graft.ice.types

import java.math.{BigDecimal => JBigDecimal, BigInteger}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

/** A typed literal value (reference: src/iceberg/expression/literal.h:39-167).
  *
  * Runtime representation per type:
  *   boolean -> java.lang.Boolean, int/date -> Int, long/time/timestamp(tz)
  *   -> Long, float -> Float, double -> Double, string -> String,
  *   binary/fixed -> Array[Byte], uuid -> java.util.UUID,
  *   decimal -> java.math.BigDecimal.
  *
  * `AboveMax` / `BelowMin` are range sentinels produced by narrowing casts
  * (literal.h:44-66); they are unordered and fold predicates to constants
  * at bind time (predicate.cc:201-227).
  */
sealed trait LiteralValue
object LiteralValue {
  final case class Value(v: Any) extends LiteralValue
  case object AboveMax extends LiteralValue
  case object BelowMin extends LiteralValue
}

final case class Literal(value: LiteralValue, tpe: IcePrimitive) {
  import LiteralValue._

  def isSentinel: Boolean = value != null && !value.isInstanceOf[Value]
  /** A SQL NULL constant: every comparison with it is NULL. */
  def isNull: Boolean = value == Value(null)
  def raw: Any = value match {
    case Value(v) => v
    case s => throw new IllegalStateException(s"sentinel literal: $s")
  }

  /** Binary single-value serialization, Iceberg spec Appendix D
    * (conversions.cc / literal.cc:316). */
  def serialize: Array[Byte] = Conversions.toBytes(tpe, raw)

  /** Typed cast (literal.cc:325, per-source helpers literal.cc:94-260).
    * Returns None for unsupported combinations. */
  def castTo(target: IcePrimitive): Option[Literal] = {
    if (target == tpe) return Some(this)
    if (isSentinel || isNull) return Some(Literal(value, target))
    val out: Option[LiteralValue] = (tpe, target) match {
      case (IntT, LongT) => Some(Value(raw.asInstanceOf[Int].toLong))
      case (IntT, FloatT) => Some(Value(raw.asInstanceOf[Int].toFloat))
      case (IntT, DoubleT) => Some(Value(raw.asInstanceOf[Int].toDouble))
      case (IntT, DateT) => Some(Value(raw.asInstanceOf[Int]))
      case (IntT, DecimalT(_, s)) =>
        Some(Value(new JBigDecimal(raw.asInstanceOf[Int]).setScale(s)))
      case (LongT, IntT) =>
        val v = raw.asInstanceOf[Long]
        if (v > Int.MaxValue) Some(AboveMax)
        else if (v < Int.MinValue) Some(BelowMin)
        else Some(Value(v.toInt))
      case (LongT, FloatT) => Some(Value(raw.asInstanceOf[Long].toFloat))
      case (LongT, DoubleT) => Some(Value(raw.asInstanceOf[Long].toDouble))
      case (LongT, TimeT | TimestampT | TimestampTzT) => Some(Value(raw))
      case (LongT, DecimalT(_, s)) =>
        Some(Value(new JBigDecimal(raw.asInstanceOf[Long]).setScale(s)))
      case (FloatT, DoubleT) => Some(Value(raw.asInstanceOf[Float].toDouble))
      case (DoubleT, FloatT) =>
        val v = raw.asInstanceOf[Double]
        if (v > Float.MaxValue) Some(AboveMax)
        else if (v < Float.MinValue) Some(BelowMin)
        else Some(Value(v.toFloat))
      case (DateT, TimestampT | TimestampTzT) =>
        Some(Value(raw.asInstanceOf[Int].toLong * 86400L * 1000000L))
      case (TimestampT | TimestampTzT, DateT) =>
        Some(Value(Math.floorDiv(raw.asInstanceOf[Long], 86400L * 1000000L).toInt))
      case (StringT, DateT) =>
        Some(Value(java.time.LocalDate.parse(raw.asInstanceOf[String]).toEpochDay.toInt))
      case (StringT, TimestampT | TimestampTzT) =>
        val s = raw.asInstanceOf[String].replace(' ', 'T')
        val ldt =
          if (s.contains('T')) java.time.LocalDateTime.parse(s)
          else java.time.LocalDate.parse(s).atStartOfDay
        Some(Value(ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000L))
      case (StringT, UuidT) =>
        Some(Value(java.util.UUID.fromString(raw.asInstanceOf[String])))
      case (StringT, DecimalT(_, s)) =>
        Some(Value(new JBigDecimal(raw.asInstanceOf[String]).setScale(s)))
      case _ => None
    }
    out.map(Literal(_, target))
  }

  /** Three-way compare against another literal of the same type
    * (literal.cc:349). Sentinels, NaN and NULL are unordered -> None, so
    * a comparison with a NULL constant proves nothing either way: the
    * evaluators keep the file (inclusive) or refuse the proof (strict). */
  def compareTo(other: Literal): Option[Int] = {
    if (isSentinel || other.isSentinel || isNull || other.isNull) return None
    (tpe, other.tpe) match {
      case (a, b) if a != b => None
      case _ =>
        val (x, y) = (raw, other.raw)
        tpe match {
          case BooleanT => Some(java.lang.Boolean.compare(x.asInstanceOf[Boolean], y.asInstanceOf[Boolean]))
          case IntT | DateT => Some(Integer.compare(x.asInstanceOf[Int], y.asInstanceOf[Int]))
          case LongT | TimeT | TimestampT | TimestampTzT =>
            Some(java.lang.Long.compare(x.asInstanceOf[Long], y.asInstanceOf[Long]))
          case FloatT =>
            val (a, b) = (x.asInstanceOf[Float], y.asInstanceOf[Float])
            if (a.isNaN || b.isNaN) None else Some(java.lang.Float.compare(a, b))
          case DoubleT =>
            val (a, b) = (x.asInstanceOf[Double], y.asInstanceOf[Double])
            if (a.isNaN || b.isNaN) None else Some(java.lang.Double.compare(a, b))
          case StringT => Some(x.asInstanceOf[String].compareTo(y.asInstanceOf[String]))
          case UuidT => Some(x.asInstanceOf[java.util.UUID].compareTo(y.asInstanceOf[java.util.UUID]))
          case BinaryT | FixedT(_) =>
            Some(java.util.Arrays.compareUnsigned(x.asInstanceOf[Array[Byte]], y.asInstanceOf[Array[Byte]]))
          case DecimalT(_, _) =>
            Some(x.asInstanceOf[JBigDecimal].compareTo(y.asInstanceOf[JBigDecimal]))
          case _ => None
        }
    }
  }
}

object Literal {
  import LiteralValue.Value
  def bool(v: Boolean): Literal = Literal(Value(v), BooleanT)
  def int(v: Int): Literal = Literal(Value(v), IntT)
  def long(v: Long): Literal = Literal(Value(v), LongT)
  def float(v: Float): Literal = Literal(Value(v), FloatT)
  def double(v: Double): Literal = Literal(Value(v), DoubleT)
  def string(v: String): Literal = Literal(Value(v), StringT)
  def binary(v: Array[Byte]): Literal = Literal(Value(v), BinaryT)
  def date(daysSinceEpoch: Int): Literal = Literal(Value(daysSinceEpoch), DateT)
  def timeMicros(v: Long): Literal = Literal(Value(v), TimeT)
  def timestampMicros(v: Long): Literal = Literal(Value(v), TimestampT)
  def decimal(v: JBigDecimal, precision: Int): Literal =
    Literal(Value(v), DecimalT(precision, v.scale))

  def deserialize(tpe: IcePrimitive, bytes: Array[Byte]): Literal =
    Literal(Value(Conversions.fromBytes(tpe, bytes)), tpe)

  /** A collected Spark row value as a literal of the given Iceberg type
    * (the bridge runtime join-key pruning uses to turn dim-side rows
    * into planning filters). None = null or a type this cannot map —
    * callers must treat that as "cannot prune", never drop the key. */
  def fromSparkValue(tpe: IcePrimitive, v: Any): Option[Literal] = Option(v).flatMap { x =>
    (tpe, x) match {
      case (BooleanT, b: java.lang.Boolean) => Some(bool(b))
      case (IntT, i: java.lang.Integer) => Some(int(i))
      case (LongT, l: java.lang.Long) => Some(long(l))
      case (LongT, i: java.lang.Integer) => Some(long(i.longValue))
      case (FloatT, f: java.lang.Float) => Some(float(f))
      case (DoubleT, d: java.lang.Double) => Some(double(d))
      case (StringT, s: String) => Some(string(s))
      case (DateT, d: java.sql.Date) => Some(date(d.toLocalDate.toEpochDay.toInt))
      case (DateT, d: java.time.LocalDate) => Some(date(d.toEpochDay.toInt))
      case (DecimalT(p, _), d: java.math.BigDecimal) => Some(decimal(d, p))
      case (DecimalT(p, _), d: scala.math.BigDecimal) => Some(decimal(d.bigDecimal, p))
      case (TimestampTzT, t: java.sql.Timestamp) =>
        Some(Literal(Value(t.toInstant.getEpochSecond * 1000000L +
          t.toInstant.getNano / 1000L), TimestampTzT))
      case (TimestampT, t: java.time.LocalDateTime) =>
        Some(Literal(Value(t.toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000L +
          t.getNano / 1000L), TimestampT))
      case _ => None
    }
  }
}

/** Iceberg spec Appendix D single-value binary serialization
  * (reference: src/iceberg/util/conversions.h:35-63, conversions.cc).
  * Little-endian primitives, UTF-8 strings, big-endian two's-complement
  * minimal bytes for decimal unscaled values, 16-byte big-endian UUID. */
object Conversions {

  def toBytes(tpe: IcePrimitive, value: Any): Array[Byte] = tpe match {
    case BooleanT => Array[Byte](if (value.asInstanceOf[Boolean]) 1 else 0)
    case IntT | DateT =>
      ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
        .putInt(value.asInstanceOf[Int]).array()
    case LongT | TimeT | TimestampT | TimestampTzT =>
      ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
        .putLong(value.asInstanceOf[Long]).array()
    case FloatT =>
      ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
        .putFloat(value.asInstanceOf[Float]).array()
    case DoubleT =>
      ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
        .putDouble(value.asInstanceOf[Double]).array()
    case StringT => value.asInstanceOf[String].getBytes(StandardCharsets.UTF_8)
    case BinaryT | FixedT(_) => value.asInstanceOf[Array[Byte]]
    case UuidT =>
      val u = value.asInstanceOf[java.util.UUID]
      ByteBuffer.allocate(16) // big-endian by default
        .putLong(u.getMostSignificantBits).putLong(u.getLeastSignificantBits).array()
    case DecimalT(_, _) =>
      value.asInstanceOf[JBigDecimal].unscaledValue.toByteArray // min-length BE
  }

  def fromBytes(tpe: IcePrimitive, bytes: Array[Byte]): Any = tpe match {
    case BooleanT => bytes(0) != 0
    case IntT | DateT => ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getInt
    case LongT | TimeT | TimestampT | TimestampTzT =>
      // widen 4-byte payloads: engines may serialize a long bound that fits
      // in int as 4 bytes (conversions.cc tolerates both)
      if (bytes.length == 4)
        ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getInt.toLong
      else ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getLong
    case FloatT => ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getFloat
    case DoubleT =>
      if (bytes.length == 4)
        ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getFloat.toDouble
      else ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getDouble
    case StringT => new String(bytes, StandardCharsets.UTF_8)
    case BinaryT | FixedT(_) => bytes
    case UuidT =>
      val bb = ByteBuffer.wrap(bytes)
      new java.util.UUID(bb.getLong, bb.getLong)
    case DecimalT(_, s) => new JBigDecimal(new BigInteger(bytes), s)
  }
}
