package graft.ice

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, UnionExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ice.catalog._
import graft.ice.expr.{Expr => E}
import graft.ice.meta.{MappedField, NameMapping}
import graft.ice.types._

/** `ScanBuilder.toDF` and SQL over the `ice` catalog read through one
  * scan executor, so they answer alike over every kind of data file:
  * field-id parquet, id-less parquet under a name mapping, ORC, Avro and
  * files that predate a defaulted column, with position and equality
  * deletes. Each case checks both against plain Spark over the rows
  * written. */
class OneExecutorSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val warehouse =
    java.nio.file.Files.createTempDirectory("onexwh").toString

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
  private def load(name: String) = IceTable.load(cat, TableIdentifier.parse(s"db.$name"))

  /** Rows `lo` until `hi` of (record_id, label, amount). */
  private def rows(lo: Long, hi: Long): DataFrame = spark.range(lo, hi).select(
    col("id").as("record_id"), concat(lit("L"), (col("id") % 5).cast("string")).as("label"),
    (col("id") * 1.5).as("amount"))

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def assertSame(got: DataFrame, want: DataFrame, what: String): Unit =
    assert(sorted(got.select(want.columns.map(col): _*)) == sorted(want), what)

  private def scratch(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString + "/files"

  for (fmt <- Seq("orc", "avro")) {
    test(s"SQL over a table written as $fmt equals plain Spark and toDF") {
      val data = rows(0, 300)
      val t = IceTable.create(cat, TableIdentifier.parse(s"db.written_$fmt"),
        SparkConv.fromSpark(data.schema), properties = Map("write.format.default" -> fmt))
      t.append(spark).appendDataFrame(data.repartition(2))
      assert(load(s"written_$fmt").newScan().planFiles()
        .forall(_.file.fileFormat.equalsIgnoreCase(fmt)))
      assertSame(spark.sql(s"SELECT * FROM ice.db.written_$fmt"), data, s"$fmt SQL")
      assertSame(load(s"written_$fmt").newScan().toDF(spark), data, s"$fmt toDF")
      val cut = data.filter(col("record_id") >= 120 && col("label") =!= "L2")
      assertSame(spark.sql(
        s"SELECT * FROM ice.db.written_$fmt WHERE record_id >= 120 AND label != 'L2'"),
        cut, s"$fmt filtered SQL")
    }

    test(s"SQL over addFiles-registered $fmt files equals plain Spark and toDF") {
      val data = rows(0, 200)
      val t = IceTable.create(cat, TableIdentifier.parse(s"db.added_$fmt"),
        SparkConv.fromSpark(data.schema))
      t.append(spark).addFiles(FormatRegistry.writer(fmt)(data.repartition(2), scratch(fmt)),
        format = fmt)
      assertSame(spark.table(s"ice.db.added_$fmt"), data, s"$fmt SQL")
      assertSame(load(s"added_$fmt").newScan().toDF(spark), data, s"$fmt toDF")
    }
  }

  test("toDF plans one BatchScan over id, name-mapped, ORC and defaulted files with deletes") {
    val schema = Schema(0, IndexedSeq(
      NestedField(1, "record_id", LongT, required = false),
      NestedField(2, "label", StringT, required = false),
      NestedField(3, "amount", DoubleT, required = false)))
    val mapping = NameMapping(Seq(
      MappedField(Some(1), Seq("id")), MappedField(Some(2), Seq("name"))))
    val t = IceTable.create(cat, TableIdentifier.parse("db.mixed"), schema,
      properties = Map(NameMapping.PropertyKey -> mapping.toJson, "format-version" -> "2",
        "write.delete.mode" -> "merge-on-read"))
    // field-id parquet, an id-less parquet file under the mapping, and ORC
    t.append(spark).appendDataFrame(rows(0, 100))
    val idLess = scratch("idless")
    rows(100, 150).toDF("id", "name", "amount").coalesce(1).write.parquet(idLess)
    load("mixed").append(spark).addFiles(new java.io.File(idLess).listFiles()
      .map(_.getPath).filter(_.endsWith(".parquet")).toSeq)
    load("mixed").append(spark).addFiles(
      FormatRegistry.writer("ORC")(rows(150, 200).coalesce(1), scratch("orc")), format = "ORC")
    // every file so far predates `tier`, which reads as its initial-default
    load("mixed").updateSchema()
      .addColumnWithDefault("tier", StringT, Some("BASIC"), Some("GOLD")).commit()
    val late = rows(200, 260).withColumn("tier",
      when(col("record_id") % 2 === 0, lit("SILVER")).otherwise(lit("GOLD")))
    load("mixed").append(spark).appendDataFrame(late)
    load("mixed").delete(spark).deleteWherePositional(E.raw("record_id % 7 = 0"))
    import spark.implicits._
    load("mixed").delete(spark).deleteByEquality(Seq("L3").toDF("label"))

    val all = rows(0, 200).withColumn("tier", lit("BASIC")).unionByName(late)
    val live = all.filter(col("record_id") % 7 =!= 0 && col("label") =!= "L3")
    assert(load("mixed").newScan().planFiles().map(_.file.fileFormat.toUpperCase).toSet ==
      Set("PARQUET", "ORC"))

    val df = load("mixed").newScan().toDF(spark)
    val plan = df.queryExecution.sparkPlan
    assert(plan.collect { case b: BatchScanExec => b }.size == 1, plan)
    assert(plan.collect { case u: UnionExec => u }.isEmpty, plan)
    assert(plan.collect { case f: FileSourceScanExec => f }.isEmpty, plan)
    assertSame(df, live, "toDF")
    assertSame(spark.table("ice.db.mixed"), live, "SQL")
    // a filtered, projected scan of the same files agrees too
    assertSame(load("mixed").newScan().filter(E.raw("record_id >= 90"))
      .select("record_id", "tier").toDF(spark),
      live.filter(col("record_id") >= 90).select("record_id", "tier"), "filtered toDF")
  }
}
