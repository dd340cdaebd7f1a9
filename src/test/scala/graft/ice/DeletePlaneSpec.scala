package graft.ice

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ice.catalog._
import graft.ice.expr.{Expr => E}
import graft.ice.manifest._
import graft.ice.meta.{MappedField, NameMapping}
import graft.ice.types._

/** Every merge-on-read delete is applied inside the scan task and every
  * delete file is read by one task-side reader: equality deletes are a
  * mask (`EqualityDeletes`) in `toDF`, `_deleted`, the connector and the
  * changelog, and equal both a plain-Spark oracle and the join form they
  * replaced (`DeleteJoins`) across key types, float keys, composite and
  * mixed keys, initial-defaults and name-mapped id-less files. The
  * warehouse path holds a space, as Spark's encoded paths must meet the
  * manifests' plain ones. */
class DeletePlaneSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val warehouse = {
    val dir = java.nio.file.Files.createTempDirectory("planewh").resolve("w h")
    java.nio.file.Files.createDirectories(dir)
    dir.toString
  }

  private lazy val spark = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.catalog.ice", "graft.ice.connector.GraftCatalogPlugin")
      .config("spark.sql.catalog.ice.warehouse", warehouse)
      .config("spark.sql.shuffle.partitions", "4")
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

  /** 1,500 orders-shaped rows. */
  private def orders: DataFrame = spark.range(1, 1501).select(
    col("id").as("o_orderkey"), (col("id") * 7 % 101).as("o_custkey"),
    (col("id") % 997 / 4.0).as("o_totalprice"))

  /** 400 rows with long, string, decimal, date and double columns; every
    * key column holds nulls, and `x` holds NaN, -0.0 and 0.0. */
  private def base: DataFrame = spark.range(0, 400).select(
    col("id"),
    when(col("id") % 13 === 0, lit(null)).otherwise(concat(lit("s"), (col("id") % 37).cast("string")))
      .as("s"),
    when(col("id") % 17 === 0, lit(null)).otherwise((col("id") % 23 / 4).cast("decimal(12,2)")).as("d"),
    when(col("id") % 19 === 0, lit(null))
      .otherwise(date_add(lit("2020-01-01").cast("date"), (col("id") % 29).cast("int"))).as("dt"),
    when(col("id") % 11 === 0, lit(null).cast(DoubleType))
      .when(col("id") % 11 === 1, lit(Double.NaN))
      .when(col("id") % 11 === 2, lit(-0.0))
      .when(col("id") % 11 === 3, lit(0.0))
      .otherwise((col("id") % 7).cast(DoubleType)).as("x"),
    (col("id") % 5).as("k"))

  private def mkTable(name: String, df: DataFrame,
      props: Map[String, String] = Map.empty): IceTable = {
    val t = IceTable.create(cat, TableIdentifier.parse(s"db.$name"),
      SparkConv.fromSpark(df.schema), properties = Map("format-version" -> "2") ++ props)
    t.append(spark).appendDataFrame(df)
    load(name)
  }

  /** Rows of `got` and `want` agree as multisets. */
  private def assertSameRows(got: DataFrame, want: DataFrame, what: String): Unit = {
    val g = got.select(want.columns.map(col): _*)
    assert(g.exceptAll(want).isEmpty && want.exceptAll(g).isEmpty,
      s"$what: ${g.count()} rows, oracle ${want.count()}")
  }

  /** `rows` without those whose `keys` columns null-safely equal a row of
    * `keys`: the plain-Spark oracle of one equality delete. */
  private def minusKeys(rows: DataFrame, keys: DataFrame): DataFrame = {
    val k = keys.select(keys.columns.map(c => col(c).as(s"__k_$c")): _*)
    rows.join(k, keys.columns.map(c => rows(c) <=> k(s"__k_$c")).reduce(_ && _), "left_anti")
  }

  private def hasJoin(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst { case j: Join => j }.isDefined ||
      df.queryExecution.executedPlan.toString.contains("Join")

  /** Spark jobs `body` starts; the listener bus is async, so wait until
    * the count has held for a second. */
  private def jobsFor(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      var last = -1
      var stable = 0
      while (stable < 10) {
        Thread.sleep(100)
        val c = jobs.get
        if (c == last) stable += 1 else { stable = 0; last = c }
      }
      jobs.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Applies each of `deletes` to table `name` (rows `all`) as one
    * equality-delete commit, then checks `toDF`, `_deleted`, the
    * connector and `planChanges` against the plain-Spark oracle and the
    * join form. */
  private def checkEqualityDeletes(name: String, all: DataFrame,
      deletes: Seq[DataFrame]): Unit = {
    val from = load(name).currentSnapshot.get.snapshotId
    deletes.foreach(k => load(name).delete(spark).deleteByEquality(k))
    val t = load(name)
    val to = t.currentSnapshot.get.snapshotId
    val live = deletes.foldLeft(all)(minusKeys)
    val dead = all.exceptAll(live)
    assert(dead.count() > 0 && live.count() > 0, name)

    val got = t.newScan().toDF(spark)
    assert(!hasJoin(got), got.queryExecution.optimizedPlan.toString)
    assertSameRows(got, live, s"$name toDF")
    val eqEntries = t.planDeleteEntries(t.currentSnapshot.get)
    assert(eqEntries.size >= deletes.size &&
      eqEntries.forall(_.dataFile.content == FileContent.EqualityDeletes))
    assertSameRows(got, DeleteJoins.antiJoinEquality(spark,
      t.newScan().useSnapshot(from).toDF(spark), t.schema, eqEntries), s"$name join form")

    val marked = t.newScan().withMetadataColumns("_deleted").toDF(spark)
    assertSameRows(marked.filter(!col("_deleted")).drop("_deleted"), live, s"$name unmarked")
    assertSameRows(marked.filter(col("_deleted")).drop("_deleted"), dead, s"$name marked")

    assertSameRows(spark.table(s"ice.db.$name"), live, s"$name connector")

    val changes = t.planChanges(spark, from, to)
    assert(!hasJoin(changes), changes.queryExecution.optimizedPlan.toString)
    assert(changes.filter(col("_change_type") =!= "delete").isEmpty, s"$name inserts")
    assertSameRows(changes, dead, s"$name changelog")
  }

  test("equality deletes on long, string, decimal and date keys") {
    for (c <- Seq("id", "s", "d", "dt")) {
      val name = s"eq_$c"
      mkTable(name, base.repartition(2))
      // keys from five rows of the data, a null among them for the
      // nullable columns
      val keys = base.filter(col("id").isin(4, 26, 38, 51, 100)).select(c).distinct()
      checkEqualityDeletes(name, base, Seq(keys))
    }
  }

  test("equality deletes on double keys holding -0.0, NaN and null") {
    mkTable("eq_x", base.repartition(2))
    val keys = spark.createDataFrame(
      java.util.Arrays.asList(Row(-0.0), Row(Double.NaN), Row(null)),
      StructType(Seq(StructField("x", DoubleType))))
    checkEqualityDeletes("eq_x", base, Seq(keys))
    // -0.0 matched the 0.0 rows, NaN and null their own
    assert(load("eq_x").newScan().toDF(spark)
      .filter(col("x").isNull || isnan(col("x")) || col("x") === 0.0).isEmpty)
  }

  test("a two-column key and two delete files with different equality ids") {
    mkTable("eq_pair", base.repartition(2))
    checkEqualityDeletes("eq_pair", base,
      Seq(base.filter(col("id") % 6 === 1).select("k", "s").distinct()))

    mkTable("eq_mixed", base.repartition(3))
    checkEqualityDeletes("eq_mixed", base, Seq(
      base.filter(col("id") % 10 === 3).select("id"),
      base.filter(col("id") % 8 === 5).select("s", "dt").distinct()))
  }

  test("a key column whose initial-default a file predates matches the default") {
    val old = base.select("id", "s").filter(col("id") < 200)
    mkTable("eq_default", old, Map("format-version" -> "3"))
    load("eq_default").updateSchema()
      .addColumnWithDefault("tier", StringT, Some("BASIC"), Some("STANDARD")).commit()
    val late = base.select("id", "s").filter(col("id") >= 200)
      .withColumn("tier", when(col("id") % 2 === 0, lit("BASIC")).otherwise(lit("GOLD")))
    load("eq_default").append(spark).appendDataFrame(late)
    val all = old.withColumn("tier", lit("BASIC")).unionByName(late)
    import spark.implicits._
    checkEqualityDeletes("eq_default", all, Seq(Seq("BASIC").toDF("tier")))
  }

  test("equality deletes on an id-less addFiles file under a name mapping") {
    val dir = java.nio.file.Files.createTempDirectory("eqnm").toString + "/data"
    val src = spark.range(60).selectExpr("id", "concat('row-', id % 9) AS name")
    src.coalesce(1).write.parquet(dir)
    val file = new java.io.File(dir).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).head
    val schema = Schema(0, IndexedSeq(
      NestedField(1, "record_id", LongT, required = false),
      NestedField(2, "label", StringT, required = false)))
    val mapping = NameMapping(Seq(
      MappedField(Some(1), Seq("id")), MappedField(Some(2), Seq("name"))))
    val t = IceTable.create(cat, TableIdentifier.parse("db.eq_mapped"), schema,
      properties = Map(NameMapping.PropertyKey -> mapping.toJson, "format-version" -> "2"))
    t.append(spark).addFiles(Seq(file))
    import spark.implicits._
    checkEqualityDeletes("eq_mapped", src.toDF("record_id", "label"),
      Seq(Seq(3L, 7L, 11L).toDF("record_id"), Seq("row-2").toDF("label")))
  }

  test("an equality delete still applies after its key column is renamed") {
    mkTable("eq_renamed", base.repartition(2))
    val keys = base.filter(col("id").isin(4, 26, 38)).select("s")
    load("eq_renamed").delete(spark).deleteByEquality(keys)
    load("eq_renamed").updateSchema().renameColumn("s", "label").commit()
    val live = minusKeys(base, keys).withColumnRenamed("s", "label")
    assertSameRows(load("eq_renamed").newScan().toDF(spark), live, "toDF")
    assertSameRows(spark.table("ice.db.eq_renamed"), live, "connector")
  }

  test("toDF().select without the equality key column equals the oracle and SQL") {
    val t = mkTable("eq_select", orders.repartition(2))
    val keys = orders.filter(col("o_orderkey") < 100 && col("o_orderkey") % 7 === 0)
      .select("o_custkey").distinct()
    t.delete(spark).deleteByEquality(keys)
    val want = minusKeys(orders, keys).select("o_orderkey")
    assert(want.count() < orders.count() && !want.isEmpty)
    assertSameRows(load("eq_select").newScan().toDF(spark).select("o_orderkey"), want,
      "toDF().select")
    val projected = load("eq_select").newScan().select("o_orderkey").toDF(spark)
    assert(projected.columns.toSeq == Seq("o_orderkey"))
    assertSameRows(projected, want, "projected scan")
    assertSameRows(spark.sql("SELECT o_orderkey FROM ice.db.eq_select"), want, "SQL")
  }

  test("a toDF count over equality deletes runs as many jobs as over a delete-free table") {
    mkTable("jobs_free", orders.repartition(2))
    val t = mkTable("jobs_eq", orders.repartition(2))
    t.delete(spark).deleteByEquality(orders.filter(col("o_orderkey") % 5 === 0).select("o_orderkey"))
    val want = orders.filter(col("o_orderkey") % 5 =!= 0).count()
    var n = 0L
    val masked = jobsFor { n = load("jobs_eq").newScan().toDF(spark).count() }
    assert(n == want)
    val plain = jobsFor { load("jobs_free").newScan().toDF(spark).count() }
    assert(masked == plain, s"jobs with equality deletes $masked, delete-free $plain")
  }

  test("planChanges reads delete files in the task: fewer jobs than the join form, no join") {
    // the join form ran 16, 5 and 9 jobs for these three histories
    def changeJobs(t: IceTable, from: Long, want: DataFrame): Int = {
      val to = t.currentSnapshot.get.snapshotId
      var rows: DataFrame = null
      val n = jobsFor {
        rows = t.planChanges(spark, from, to)
        assert(!hasJoin(rows), rows.queryExecution.optimizedPlan.toString)
        rows.collect()
      }
      assertSameRows(rows, want, "changes")
      n
    }
    val dv = mkTable("cdc_dv", orders.repartition(2), Map("format-version" -> "3"))
    val dvFrom = dv.currentSnapshot.get.snapshotId
    dv.delete(spark).deleteWhereDV(E.raw("o_orderkey % 7 = 0"))
    load("cdc_dv").delete(spark).deleteWhereDV(E.raw("o_orderkey % 5 = 0"))
    val dvJobs = changeJobs(load("cdc_dv"), dvFrom,
      orders.filter("o_orderkey % 7 = 0 OR o_orderkey % 5 = 0"))
    assert(dvJobs < 16, s"two DV deletes: $dvJobs jobs")

    val pos = mkTable("cdc_pos", orders.repartition(2))
    val posFrom = pos.currentSnapshot.get.snapshotId
    pos.delete(spark).deleteWherePositional(E.raw("o_orderkey % 7 = 0"))
    val posJobs = changeJobs(load("cdc_pos"), posFrom, orders.filter("o_orderkey % 7 = 0"))
    assert(posJobs < 5, s"one positional delete: $posJobs jobs")

    val eq = mkTable("cdc_eq", orders.repartition(2))
    val eqFrom = eq.currentSnapshot.get.snapshotId
    val keys = orders.filter(col("o_orderkey") % 7 === 0).select("o_orderkey")
    eq.delete(spark).deleteByEquality(keys)
    val eqJobs = changeJobs(load("cdc_eq"), eqFrom, orders.filter("o_orderkey % 7 = 0"))
    assert(eqJobs < 9, s"one equality delete: $eqJobs jobs")
    info(s"planChanges jobs: two DVs $dvJobs, positional $posJobs, equality $eqJobs")
  }

  for (format <- Seq("avro", "orc")) {
    test(s"position_deletes reads $format delete files and reports their paths") {
      val name = s"pd_$format"
      val t = mkTable(name, orders.coalesce(1), Map("write.delete.format.default" -> format))
      t.delete(spark).deleteWherePositional(E.raw("o_orderkey % 9 = 2"))
      val dataFile = ManifestAvro.stripFileScheme(
        load(name).newScan().planFiles().map(_.file.filePath).loneElement)
      val del = load(name).planDeleteEntries(load(name).currentSnapshot.get).loneElement
      assert(del.dataFile.fileFormat.equalsIgnoreCase(format), del.dataFile.fileFormat)
      val want = spark.read.parquet(dataFile)
        .select(lit(dataFile).as("file_path"), col("_metadata.row_index").as("pos"),
          lit(del.dataFile.filePath).as("delete_file_path"), col("o_orderkey"))
        .filter(col("o_orderkey") % 9 === 2).drop("o_orderkey")
      val got = MetadataTables.positionDeletes(spark, load(name))
      assert(got.columns.toSeq == Seq("file_path", "pos", "delete_file_path"))
      assertSameRows(got, want, s"$format position_deletes")
    }
  }

  private implicit class Lone[A](xs: Seq[A]) {
    def loneElement: A = { assert(xs.size == 1, xs); xs.head }
  }
}
