package graft.ice

import java.math.{BigDecimal => JBigDecimal}
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ice.catalog._
import graft.ice.expr.{Binder, Expr => E, ToColumn}
import graft.ice.types.{IcePrimitive, Literal, LiteralValue, SparkConv}

/** Reads and row-level operations whose filters differ only in their
  * constants reuse Spark's compiled classes: `ToColumn` passes every
  * comparison constant by reference (`ParamLiteral`), so a new constant
  * compiles nothing. The constants still reach the parquet reader as
  * pushed filters, and every operator over every primitive column type
  * answers like plain Spark. */
class CodegenReuseSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val warehouse =
    java.nio.file.Files.createTempDirectory("codegenwh").toString

  private lazy val spark = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.catalog.ice", "graft.ice.connector.GraftCatalogPlugin")
      .config("spark.sql.catalog.ice.warehouse", warehouse)
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  override def afterAll(): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def cat = new DirCatalog(warehouse)
  /** lineitem-shaped rows: 1,500 orders (keys 0-1499) of four lines each. */
  private lazy val lineitem = spark.range(6000).select(
    (col("id") / 4).cast("long").as("l_orderkey"),
    (col("id") % 4 + 1).cast("int").as("l_linenumber"),
    (col("id") % 50 + 1).cast("double").as("l_quantity"),
    substring(lit("ANR"), (col("id") % 3 + 1).cast("int"), lit(1)).as("l_returnflag"))

  private def mkTable(name: String, df: DataFrame, props: Map[String, String] = Map.empty) = {
    val t = IceTable.create(cat, TableIdentifier.parse(s"db.$name"),
      SparkConv.fromSpark(df.schema), properties = props + ("format-version" -> "2"))
    t.append(spark).appendDataFrame(df)
    t
  }

  private def load(name: String) = IceTable.load(cat, TableIdentifier.parse(s"db.$name"))

  private def keyRange(lo: Long, hi: Long) =
    E.and(E.gtEq("l_orderkey", Literal.long(lo)), E.lt("l_orderkey", Literal.long(hi)))

  /** Janino compiles (misses of Spark's compiled-class cache) during `body`. */
  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a toDF scan with new constants compiles no new classes") {
    mkTable("scan", lineitem.repartition(3))
    def read(lo: Long, hi: Long): Row = load("scan").newScan().filter(keyRange(lo, hi))
      .toDF(spark).agg(count(lit(1)), sum("l_quantity")).head()
    read(100, 300)
    var got: Row = null
    assert(compiles { got = read(500, 1200) } == 0)
    val want = lineitem.filter(col("l_orderkey") >= 500 && col("l_orderkey") < 1200)
      .agg(count(lit(1)), sum("l_quantity")).head()
    assert(got.getLong(0) == want.getLong(0) && got.getLong(0) > 0)
    assert(math.abs(got.getDouble(1) - want.getDouble(1)) < 1e-6)
  }

  test("a positional delete with new constants compiles no new classes") {
    mkTable("del", lineitem.repartition(3), Map("write.delete.mode" -> "merge-on-read"))
    load("del").delete(spark).deleteWherePositional(keyRange(100, 150))
    var snap: graft.ice.meta.Snapshot = null
    assert(compiles {
      snap = load("del").delete(spark).deleteWherePositional(keyRange(700, 740))
    } == 0)
    val deleted = lineitem.filter(col("l_orderkey").between(700, 739)).count()
    assert(deleted > 0 && snap.summary.get("added-delete-records").contains(deleted.toString))
    val dead = col("l_orderkey").between(100, 149) || col("l_orderkey").between(700, 739)
    assert(load("del").newScan().toDF(spark).count() == lineitem.filter(!dead).count())
  }

  test("the constants still reach the parquet reader as pushed filters") {
    mkTable("push", lineitem.repartition(3))
    def pushed(e: E): String = {
      val plan = load("push").newScan().filter(e).toDF(spark)
        .queryExecution.executedPlan.toString
      "PushedFilters: \\[.*?\\](?=, ReadSchema)".r.findFirstIn(plan).getOrElse(plan)
    }
    assert(pushed(keyRange(300, 800)) == "PushedFilters: [IsNotNull(l_orderkey), " +
      "GreaterThanOrEqual(l_orderkey,300), LessThan(l_orderkey,800)]")
    assert(pushed(E.in("l_linenumber", Seq(Literal.int(2), Literal.int(5)))) ==
      "PushedFilters: [In(l_linenumber, [2,5])]")
    assert(pushed(E.equal("l_returnflag", Literal.string("R"))) ==
      "PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)]")
  }

  test("per-split sequence numbers compile nothing new: 1 append, then 8") {
    val k = spark.range(40).select(col("id").as("k"), col("id").cast("string").as("v"))
    def appended(name: String, n: Int): Unit = {
      val t = IceTable.create(cat, TableIdentifier.parse(s"db.$name"),
        SparkConv.fromSpark(k.schema), properties = Map("format-version" -> "2"))
      (0 until n).foreach(_ => t.append(spark).appendDataFrame(k.coalesce(1)))
    }
    appended("seq1", 1)
    appended("seq8", 8)
    def read(name: String) = spark.sql(
      s"SELECT k, v, _last_updated_sequence_number FROM ice.db.$name").collect()
    read("seq1")
    var rows: Array[Row] = null
    assert(compiles { rows = read("seq8") } == 0)
    assert(rows.length == 8 * 40)
    assert(rows.map(_.getLong(2)).toSet == (1L to 8L).toSet)
  }

  test("a Hive import with other identity-partition values compiles nothing new") {
    def imported(name: String, parts: Seq[Int]): DataFrame = {
      val src = lineitem.limit(600).withColumn("part",
        element_at(array(parts.map(lit): _*), (col("l_orderkey") % parts.size + 1).cast("int")))
      val dir = java.nio.file.Files.createTempDirectory(s"hive_$name").toString + "/src"
      src.write.partitionBy("part").parquet(dir)
      spark.sql(s"CALL ice.system.snapshot_table(source_dir => '$dir', table => 'db.$name')")
        .collect()
      src
    }
    imported("hive_a", Seq(1, 2, 3, 4, 5, 6))
    val b = imported("hive_b", Seq(11, 12, 13, 14, 15, 16))
    def scan(name: String) = load(name).newScan().toDF(spark)
    scan("hive_a").collect()
    assert(compiles { scan("hive_b").collect() } == 0)
    def sorted(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(sorted(scan("hive_b").select(b.columns.map(col): _*)) == sorted(b))
  }

  // ---- every ToColumn operator over every primitive type, against plain Spark ----

  private val rows = 48
  private val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)

  /** (column, type, value of row `id`, three constants). Column k is
    * null where id % 11 == k; f and d also hold NaNs. */
  private val columns: Seq[(String, DataType, Int => Any, Seq[Any])] = Seq(
    ("i", IntegerType, id => id % 13 - 4, Seq(2, -1, 5)),
    ("l", LongType, id => id * 1000L - 7000L, Seq(3000L, -7000L, 12000L)),
    ("f", FloatType, id => if (id % 10 == 3) Float.NaN else (id % 9) * 0.5f - 1f,
      Seq(0.5f, -1f, 2f)),
    ("d", DoubleType, id => if (id % 10 == 4) Double.NaN else (id % 9) * 0.25 - 1.0,
      Seq(0.25, -1.0, 1.0)),
    ("dt", DateType, id => LocalDate.of(2024, 1, 1).plusDays(id % 17),
      Seq(LocalDate.of(2024, 1, 9), LocalDate.of(2024, 1, 1), LocalDate.of(2024, 1, 17))),
    ("ts", TimestampNTZType, id => t0.plusHours(id * 7L),
      Seq(t0.plusHours(70), t0, t0.plusHours(329))),
    ("tz", TimestampType, id => t0.plusHours(id * 5L).toInstant(ZoneOffset.UTC),
      Seq(t0.plusHours(50), t0.plusHours(5), t0.plusHours(235)).map(_.toInstant(ZoneOffset.UTC))),
    ("dec", DecimalType(9, 2), id => JBigDecimal.valueOf(id * 37L % 100 - 20, 2),
      Seq(JBigDecimal.valueOf(-5, 2), JBigDecimal.valueOf(17, 2), JBigDecimal.valueOf(79, 2))),
    ("s", StringType, id => s"k${id % 6}${"x" * (id % 3)}", Seq("k2", "k0x", "k5xx")),
    ("b", BooleanType, id => id % 3 == 0, Seq(true, false, true)))

  private lazy val source: DataFrame = {
    val schema = StructType(StructField("id", IntegerType, nullable = false) +:
      columns.map { case (n, t, _, _) => StructField(n, t) })
    val data = (0 until rows).map(id => Row(id +: columns.zipWithIndex.map {
      case ((_, _, v, _), k) => if (id % 11 == k) null else v(id)
    }: _*))
    spark.createDataFrame(spark.sparkContext.parallelize(data, 3), schema)
  }

  /** An external (Spark) value as an Iceberg literal of the column's type. */
  private def iceLit(t: IcePrimitive, v: Any): Literal = Literal(LiteralValue.Value(v match {
    case d: LocalDate => d.toEpochDay.toInt
    case ts: LocalDateTime => ts.toEpochSecond(ZoneOffset.UTC) * 1000000L + ts.getNano / 1000
    case i: Instant => i.getEpochSecond * 1000000L + i.getNano / 1000
    case x => x
  }), t)

  test("every ToColumn operator over every primitive type answers like plain Spark") {
    val t = mkTable("matrix", source)
    def ids(df: DataFrame): Seq[Int] = df.select("id").collect().map(_.getInt(0)).toSeq.sorted
    var checked = 0
    val wrong = Seq.newBuilder[String]
    // `planned` filters the scan (file pruning, then ToColumn as the
    // residual); otherwise ToColumn filters the whole scan's rows
    def check(what: String, e: E, oracle: Column, planned: Boolean = true): Unit = {
      val got = ids(
        if (planned) load("matrix").newScan().filter(e).toDF(spark)
        else load("matrix").newScan().toDF(spark).filter(ToColumn(Binder.bind(e, t.schema))))
      val want = ids(source.filter(oracle))
      checked += 1
      if (got != want) wrong += s"$what: got $got, want $want"
    }
    for ((n, dt, _, consts) <- columns) {
      val it = t.schema.findFieldByName(n).get.fieldType.asInstanceOf[IcePrimitive]
      val c = col(n)
      val nullConst = lit(null).cast(dt)
      val nan = dt match {
        case FloatType => Some(Float.NaN)
        case DoubleType => Some(Double.NaN)
        case _ => None
      }
      val cases: Seq[(Any, Column)] = ((consts.head: Any) -> lit(consts.head)) +:
        ((null: Any) -> nullConst) +: nan.map(v => (v: Any) -> lit(v)).toSeq
      for ((v, sv) <- cases) {
        val l = iceLit(it, v)
        // file pruning cannot order a null constant against column bounds
        val planned = v != null
        check(s"$n < $v", E.lt(n, l), c < sv, planned)
        check(s"$n <= $v", E.ltEq(n, l), c <= sv, planned)
        check(s"$n > $v", E.gt(n, l), c > sv, planned)
        check(s"$n >= $v", E.gtEq(n, l), c >= sv, planned)
        check(s"$n = $v", E.equal(n, l), c === sv, planned)
        check(s"$n != $v", E.notEqual(n, l), c =!= sv, planned)
      }
      val set = consts ++ nan
      check(s"$n in $set", E.in(n, set.map(iceLit(it, _))), c.isin(set: _*))
      check(s"$n not in $set", E.notIn(n, set.map(iceLit(it, _))), !c.isin(set: _*))
      check(s"$n is null", E.isNull(n), c.isNull)
      check(s"$n is not null", E.notNull(n), c.isNotNull)
      if (nan.isDefined) {
        check(s"$n is nan", E.isNan(n), c.isNaN)
        check(s"$n is not nan", E.notNan(n), !c.isNaN)
      }
      if (dt == StringType) {
        check(s"$n starts with k0", E.startsWith(n, "k0"), c.startsWith("k0"))
        check(s"$n not starts with k0", E.not(E.startsWith(n, "k0")), !c.startsWith("k0"))
      }
    }
    assert(wrong.result().isEmpty, s"${wrong.result().size} of $checked disagree:\n" +
      wrong.result().mkString("\n"))
  }
}
