package graft.ice

import java.math.{BigDecimal => JBigDecimal}

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ice.catalog.{DirCatalog, TableIdentifier}
import graft.ice.expr.{Expr => E}
import graft.ice.meta.{PartitionField, PartitionSpec}
import graft.ice.transform.IdentityTransform
import graft.ice.types._

/** Comparisons with a NULL constant are NULL on every row, so no row
  * matches them, nor their negation. Planning must not throw, must keep
  * every file Spark could match (partition, manifest and file-metrics
  * pruning alike) and `countFromMetadata` must answer None or the SQL
  * count. Every primitive type, every comparison operator, plain and
  * under NOT, each checked against plain Spark over the same rows. */
class NullConstantSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.datetime.java8API.enabled", "true")
      .getOrCreate()
  }

  override def afterAll(): Unit = spark.stop()

  private val types: Seq[(String, IcePrimitive)] = Seq(
    "b" -> BooleanT, "i" -> IntT, "l" -> LongT, "f" -> FloatT, "d" -> DoubleT,
    "dt" -> DateT, "ts" -> TimestampT, "tz" -> TimestampTzT, "s" -> StringT,
    "dec" -> DecimalT(9, 2), "bin" -> BinaryT)

  private val schema = Schema(0, types.zipWithIndex.map { case ((n, t), i) =>
    NestedField(i + 1, n, t, required = false)
  }.toIndexedSeq)

  /** Row k's value of each column (k = 10..19; every 4th row null). */
  private def value(t: IcePrimitive, k: Int): Any = t match {
    case BooleanT => k % 2 == 0
    case IntT => k
    case LongT => k.toLong
    case FloatT => k + 0.5f
    case DoubleT => k + 0.25
    case DateT => java.time.LocalDate.ofEpochDay(19000L + k)
    case TimestampT => java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusHours(k)
    case TimestampTzT => java.time.Instant.ofEpochSecond(1700000000L + k * 3600L)
    case StringT => s"v$k"
    case DecimalT(_, s) => new JBigDecimal(k).setScale(s)
    case BinaryT => Array[Byte](0, k.toByte)
    case other => sys.error(s"$other")
  }

  /** The same value as an Iceberg literal. */
  private def literal(t: IcePrimitive, k: Int): Literal = value(t, k) match {
    case d: java.time.LocalDate => Literal.date(d.toEpochDay.toInt)
    case ts: java.time.LocalDateTime =>
      Literal(LiteralValue.Value(ts.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L), t)
    case in: java.time.Instant => Literal(LiteralValue.Value(in.getEpochSecond * 1000000L), t)
    case v => Literal(LiteralValue.Value(v), t)
  }

  private lazy val (table, raw) = {
    val sparkSchema = SparkConv.toSpark(schema)
    def frame(ks: Range) = spark.createDataFrame(
      spark.sparkContext.parallelize(ks.map(k => Row.fromSeq(types.map { case (_, t) =>
        if (k % 4 == 3) null else value(t, k) })), 1), sparkSchema)
    val cat = new DirCatalog(java.nio.file.Files.createTempDirectory("nullconst").toString)
    // identity partitions over three columns exercise the partition
    // tuple and manifest-summary evaluators; every column has file bounds
    val spec = PartitionSpec(0, IndexedSeq(
      PartitionField(2, 1000, "i_p", IdentityTransform),
      PartitionField(9, 1001, "s_p", IdentityTransform),
      PartitionField(6, 1002, "dt_p", IdentityTransform)))
    val t = IceTable.create(cat, TableIdentifier.parse("db.nulls"), schema, spec)
    t.append(spark).appendDataFrame(frame(10 until 15))
    t.refresh().append(spark).appendDataFrame(frame(15 until 20))
    (t.refresh(), frame(10 until 20))
  }

  private val ops = Seq("lt", "ltEq", "gt", "gtEq", "eq", "notEq", "in", "notIn")

  private def iceExpr(op: String, c: String, t: IcePrimitive): E = {
    val nul = Literal(LiteralValue.Value(null), t)
    op match {
      case "lt" => E.lt(c, nul)
      case "ltEq" => E.ltEq(c, nul)
      case "gt" => E.gt(c, nul)
      case "gtEq" => E.gtEq(c, nul)
      case "eq" => E.equal(c, nul)
      case "notEq" => E.notEqual(c, nul)
      case "in" => E.in(c, Seq(literal(t, 12), nul))
      case "notIn" => E.notIn(c, Seq(literal(t, 12), nul))
    }
  }

  private def sparkPred(op: String, c: String, t: IcePrimitive): Column = {
    val nul = lit(null).cast(SparkConv.toSparkType(t))
    val x = col(c)
    op match {
      case "lt" => x < nul
      case "ltEq" => x <= nul
      case "gt" => x > nul
      case "gtEq" => x >= nul
      case "eq" => x === nul
      case "notEq" => x =!= nul
      case "in" => x.isin(value(t, 12), null)
      case "notIn" => !x.isin(value(t, 12), null)
    }
  }

  for ((c, t) <- types) test(s"$c: every comparison with NULL, plain and under NOT") {
    val wrong = for (op <- ops; negated <- Seq(false, true)) yield {
      val name = s"${if (negated) "NOT " else ""}$c $op NULL"
      val e = if (negated) E.not(iceExpr(op, c, t)) else iceExpr(op, c, t)
      val pred = if (negated) !sparkPred(op, c, t) else sparkPred(op, c, t)
      val want = raw.filter(pred).count()
      val got = table.newScan().filter(e).toDF(spark).count()
      val counted = table.newScan().filter(e).countFromMetadata()
      val kept = table.newScan().filter(e).planFiles().map(_.file.filePath).toSet
      val matching = table.newScan().withMetadataColumns("_file").toDF(spark)
        .filter(pred).select("_file").distinct().collect().map(_.getString(0)).toSet
      Seq(
        Option.when(got != want)(s"$name: toDF count $got, SQL count $want"),
        Option.when(!counted.forall(_ == want))(s"$name: countFromMetadata $counted, SQL $want"),
        Option.when(!matching.subsetOf(kept))(s"$name: pruned ${matching -- kept}")).flatten
    }
    assert(wrong.flatten.isEmpty, wrong.flatten.mkString("\n"))
  }
}
