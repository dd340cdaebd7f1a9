package graft.ice.connector

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{ColumnarToRowExec, SparkPlan}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.LoneElement._
import org.scalatest.funsuite.AnyFunSuite

import graft.ice.IceTable
import graft.ice.catalog.{DirCatalog, TableIdentifier}
import graft.ice.expr.{Expr => E}
import graft.ice.meta.{PartitionField, PartitionSpec}
import graft.ice.transform.IdentityTransform
import graft.ice.types.{Literal, SparkConv}

/** The connector's reader factory builds only the reader slots its
  * planned splits can reach. Every parquet/ORC reader build broadcasts
  * the session's Hadoop configuration, so the pinned count of broadcasts
  * per planned scan is the count of slots built. A scan whose splits are
  * all plain field-id parquet reads is read as columnar batches; every
  * other scan keeps row reads. Each case also checks the scan's answer
  * against plain Spark over the raw rows. */
class ReaderFactorySpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val warehouse =
    java.nio.file.Files.createTempDirectory("whreader").toString

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

  /** One file of orders rows, so every data split has the same delete
    * shape and the slot count is exact. */
  private lazy val raw = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    .select("o_orderkey", "o_orderstatus", "o_totalprice").coalesce(1).cache()

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def mkTable(name: String, props: Map[String, String] = Map.empty,
      spec: PartitionSpec = PartitionSpec.unpartitioned): IceTable = {
    val t = IceTable.create(cat, TableIdentifier.parse(s"db.$name"),
      SparkConv.fromSpark(raw.schema), spec,
      properties = props ++ Map("write.delete.mode" -> "merge-on-read"))
    t.append(spark).appendDataFrame(raw)
    t
  }

  /** Broadcasts made while `f` runs: the id of a probe broadcast before
    * and after, less the later probe itself. */
  private def broadcastsDuring[T](f: => T): (T, Long) = {
    val sc = spark.sparkContext
    val b0 = sc.broadcast(0)
    val out = f
    val b1 = sc.broadcast(0)
    b0.destroy(); b1.destroy()
    (out, b1.id - b0.id - 1)
  }

  /** Plans `SELECT *` over the table, with no exchange (so no adaptive
    * wrapper and no execution broadcasts), and returns the Hadoop-conf
    * broadcasts the whole planning made (Spark asks the scan for a
    * factory twice: for the physical plan and for its executed clone)
    * plus the scan's reader factory. */
  private def planScan(name: String): (Long, GraftReaderFactory) = {
    val df = spark.table(s"ice.db.$name")
    val (plan, n) = broadcastsDuring(df.queryExecution.executedPlan)
    (n, factoryOf(plan))
  }

  private def factoryOf(plan: SparkPlan): GraftReaderFactory =
    plan.collectFirst { case b: BatchScanExec => b.readerFactory } match {
      case Some(f: GraftReaderFactory) => f
      case other => fail(s"no graft reader factory in plan: $other\n$plan")
    }

  private def assertAnswer(name: String, oracle: DataFrame): Unit =
    assert(sortedRows(spark.table(s"ice.db.$name")) == sortedRows(oracle), name)

  /** A `ColumnarToRow` sits over the graft `BatchScan` in `df`'s plan. */
  private def readsColumnar(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.collect {
      case c: ColumnarToRowExec => c.child.collectFirst {
        case b: BatchScanExec if b.readerFactory.isInstanceOf[GraftReaderFactory] => b
      }
    }.flatten.nonEmpty

  /** `df` plans a row read (no `ColumnarToRow`, a row-only factory) and
    * equals `oracle`. */
  private def assertRowRead(df: DataFrame, oracle: DataFrame, what: String): Unit = {
    val plan = df.queryExecution.executedPlan
    assert(!factoryOf(plan).columnar && !readsColumnar(df), s"$what must read rows:\n$plan")
    assert(sortedRows(df) == sortedRows(oracle), what)
  }

  /** The built data and position-delete slots. */
  private def builtSlots(f: GraftReaderFactory): Set[String] =
    Seq(
      "readIds" -> f.readIds, "readIdsRaw" -> f.readIdsRaw,
      "readPlain" -> f.readPlain, "readPlainRaw" -> f.readPlainRaw,
      "readPosDeletes" -> f.readPosDeletes, "readPosDeletesOrc" -> f.readPosDeletesOrc
    ).collect { case (name, read) if built(read, "/nonexistent") => name }.toSet

  /** An unbuilt slot throws its own error on the first call; a built one
    * returns an iterator or fails to open the missing file. */
  private def built(read: PartitionedFile => Iterator[InternalRow], path: String): Boolean =
    try {
      read(PartitionedFile(InternalRow.empty, SparkPath.fromPathString(path), 0L, 1L,
        Array.empty[String], 0L, 1L, Map.empty))
      true
    } catch {
      case e: IllegalStateException if e.getMessage.contains("was not built") => false
      case _: Exception => true
    }

  test("delete-free scan builds one reader: one Hadoop-conf broadcast") {
    mkTable("free")
    val (n, f) = planScan("free")
    assert(n == 1, s"broadcasts per delete-free scan: $n")
    assert(builtSlots(f) == Set("readIds"))
    assert(f.readEqDeletes.isEmpty && f.readEqDeletesOrc.isEmpty)
    assert(f.columnar && readsColumnar(spark.table("ice.db.free")),
      spark.table("ice.db.free").queryExecution.executedPlan.toString)
    assertAnswer("free", raw)
  }

  test("row-path triggers keep row reads and match the oracle") {
    val all = raw.columns.map(col).toSeq
    val pos = mkTable("rp_pos")
    pos.delete(spark).deleteWherePositional(E.lt("o_orderkey", Literal.long(200)))
    assertRowRead(spark.table("ice.db.rp_pos"), raw.where(col("o_orderkey") >= 200),
      "position deletes")

    val dv = mkTable("rp_dv", Map("format-version" -> "3"))
    dv.delete(spark).deleteWhereDV(E.lt("o_orderkey", Literal.long(300)))
    assertRowRead(spark.table("ice.db.rp_dv"), raw.where(col("o_orderkey") >= 300), "DVs")

    import spark.implicits._
    val eq = mkTable("rp_eq")
    eq.delete(spark).deleteByEquality(Seq(1L, 2L, 3L).toDF("o_orderkey"))
    assertRowRead(spark.table("ice.db.rp_eq"), raw.where(!col("o_orderkey").isin(1L, 2L, 3L)),
      "equality deletes")

    // a file that predates a defaulted column reads its initial-default
    mkTable("rp_def").updateSchema()
      .addColumnWithDefault("tier", graft.ice.types.StringT, Some("STANDARD"), Some("BASIC"))
      .commit()
    assertRowRead(spark.table("ice.db.rp_def"), raw.withColumn("tier", lit("STANDARD")),
      "v3 initial-defaults")

    // a Hive import keeps its partition column in directory names only
    val hive = java.nio.file.Files.createTempDirectory("rphive").toString + "/src"
    raw.write.partitionBy("o_orderstatus").parquet(hive)
    spark.sql(s"CALL ice.system.snapshot_table(source_dir => '$hive', table => 'db.rp_hive')")
      .collect()
    assertRowRead(spark.table("ice.db.rp_hive").select(all: _*), raw, "Hive-import constants")

    mkTable("rp_file")
    val path = IceTable.load(cat, TableIdentifier.parse("db.rp_file")).newScan().planFiles()
      .map(t => GraftConnectorUtil.normPath(t.file.filePath)).loneElement
    assertRowRead(spark.table("ice.db.rp_file").select(col("o_orderkey"), col("_file")),
      raw.select(col("o_orderkey"), lit(path).as("_file")), "_file")

    mkTable("rp_novec", Map("read.parquet.vectorization.enabled" -> "false"))
    val before = spark.conf.getAll
    assertRowRead(spark.sql("SELECT * FROM ice.db.rp_novec"), raw, "disabled vectorization")
    assert(spark.conf.getAll == before)
  }

  test("vectorization overrides reach the scan's readers, never the caller's session") {
    mkTable("vec_over", Map("read.parquet.vectorization.batch-size" -> "777"))
    val before = spark.conf.getAll
    val df = spark.sql("SELECT * FROM ice.db.vec_over")
    val (f, n) = broadcastsDuring(factoryOf(df.queryExecution.executedPlan))
    assert(n == 1, s"broadcasts: $n")
    assert(f.columnar && readsColumnar(df))
    assert(sortedRows(df) == sortedRows(raw))
    assert(spark.conf.getAll == before,
      (spark.conf.getAll.toSet diff before.toSet).mkString(", "))
  }

  test("an unbuilt reader slot fails loudly") {
    mkTable("free_slot")
    val (_, f) = planScan("free_slot")
    val plainSplit = GraftFileSplit("/some/external.parquet", 10L,
      useFieldIds = false, GraftDeleteSpec(Nil, Nil, Nil))
    val e = intercept[IllegalStateException](f.createReader(plainSplit).next())
    assert(e.getMessage.contains("readPlain") && e.getMessage.contains("was not built"),
      e.getMessage)
  }

  test("parquet position deletes: raw id reader + parquet delete reader") {
    val t = mkTable("pos")
    t.delete(spark).deleteWherePositional(E.lt("o_orderkey", Literal.long(200)))
    val (n, f) = planScan("pos")
    assert(n == 2, s"broadcasts: $n")
    assert(builtSlots(f) == Set("readIdsRaw", "readPosDeletes"))
    assertAnswer("pos", raw.where(col("o_orderkey") >= 200))
  }

  test("equality deletes: filtered id reader + one parquet key reader") {
    val t = mkTable("eq")
    import spark.implicits._
    t.delete(spark).deleteByEquality(Seq(1L, 2L, 3L, 7L).toDF("o_orderkey"))
    val (n, f) = planScan("eq")
    assert(n == 2, s"broadcasts: $n")
    assert(builtSlots(f) == Set("readIds"))
    assert(f.readEqDeletes.keySet == Set(Seq("o_orderkey")))
    assert(built(f.readEqDeletes(Seq("o_orderkey")), "/nonexistent"))
    assert(!built(f.readEqDeletesOrc(Seq("o_orderkey")), "/nonexistent"))
    assertAnswer("eq", raw.where(!col("o_orderkey").isin(1L, 2L, 3L, 7L)))
  }

  test("avro delete plane needs no container reader; ORC builds only the ORC twin") {
    val ta = mkTable("avro_del", Map("write.delete.format.default" -> "avro"))
    ta.delete(spark).deleteWherePositional(E.lt("o_orderkey", Literal.long(300)))
    val (na, fa) = planScan("avro_del")
    assert(na == 1, s"avro broadcasts: $na")
    assert(builtSlots(fa) == Set("readIdsRaw"))
    assertAnswer("avro_del", raw.where(col("o_orderkey") >= 300))

    val to = mkTable("orc_del", Map("write.delete.format.default" -> "orc"))
    to.delete(spark).deleteWherePositional(E.lt("o_orderkey", Literal.long(100)))
    import spark.implicits._
    to.delete(spark).deleteByEquality(Seq(1000L, 1001L, 1002L).toDF("o_orderkey"))
    val (no, fo) = planScan("orc_del")
    assert(no == 3, s"orc broadcasts: $no")
    assert(builtSlots(fo) == Set("readIdsRaw", "readPosDeletesOrc"))
    assert(built(fo.readEqDeletesOrc(Seq("o_orderkey")), "/nonexistent"))
    assert(!built(fo.readEqDeletes(Seq("o_orderkey")), "/nonexistent"))
    assertAnswer("orc_del", raw.where(col("o_orderkey") >= 100 &&
      !col("o_orderkey").isin(1000L, 1001L, 1002L)))
  }

  test("id-less addFiles files read by name through the one plain reader") {
    val dir = java.nio.file.Files.createTempDirectory("idless").toString
    raw.write.mode("overwrite").parquet(dir)
    val file = new java.io.File(dir).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).head
    val t = IceTable.create(cat, TableIdentifier.parse("db.idless"),
      SparkConv.fromSpark(raw.schema))
    t.append(spark).addFiles(Seq(file))
    val (n, f) = planScan("idless")
    assert(n == 1, s"broadcasts: $n")
    assert(builtSlots(f) == Set("readPlain"))
    assertAnswer("idless", raw)
  }

  test("mixed: id and id-less files, with and without deletes") {
    val dir = java.nio.file.Files.createTempDirectory("mixed").toString
    val external = raw.withColumn("o_orderkey", col("o_orderkey") + 1000000L)
    external.write.mode("overwrite").parquet(dir)
    val file = new java.io.File(dir).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).head
    val t = mkTable("mixed")
    t.append(spark).addFiles(Seq(file))
    // the position delete file matches rows of the first file only, yet
    // applies to both earlier files; the later append is clean
    t.delete(spark).deleteWherePositional(E.lt("o_orderkey", Literal.long(300)))
    val late = raw.withColumn("o_orderkey", col("o_orderkey") + 2000000L)
    t.append(spark).appendDataFrame(late)
    import spark.implicits._
    t.delete(spark).deleteByEquality(Seq(3L, 1000005L, 2000006L).toDF("o_orderkey"))
    val (n, f) = planScan("mixed")
    assert(n == 5, s"broadcasts: $n")
    assert(builtSlots(f) ==
      Set("readIds", "readIdsRaw", "readPlainRaw", "readPosDeletes"))
    assert(built(f.readEqDeletes(Seq("o_orderkey")), "/nonexistent"))
    val all = raw.where(col("o_orderkey") >= 300).unionByName(external)
      .unionByName(late)
    assertAnswer("mixed", all.where(!col("o_orderkey").isin(3L, 1000005L, 2000006L)))
  }

  test("DPP join: a factory built before the runtime filter covers the narrowed splits") {
    val schema = SparkConv.fromSpark(raw.schema)
    val st = schema.findFieldByName("o_orderstatus").get.id
    val t = mkTable("dpp",
      spec = PartitionSpec(0, IndexedSeq(PartitionField(st, 1000, "status", IdentityTransform))))
    // every first-commit file carries the position deletes; the later
    // append is clean, so the partition the join keeps reads through both
    // the raw and the filtered id reader
    t.delete(spark).deleteWherePositional(E.raw("o_orderkey % 3 = 0"))
    val late = raw.withColumn("o_orderkey", col("o_orderkey") + 1000000L)
    t.append(spark).appendDataFrame(late)
    assert(t.newScan().planFiles().size >= 6, "one file per status partition and commit")

    val dimPath = java.nio.file.Files.createTempDirectory("dppdim").toString
    import spark.implicits._
    Seq(("F", 1), ("O", 2), ("P", 3)).toDF("st", "x")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter(col("x") === 1)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    // without AQE the executed plan is final: its scan node, and so its
    // reader factory, is the one the job runs
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = spark.table("ice.db.dpp")
        .join(dim, col("o_orderstatus") === col("st"))
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val filtersBefore = GraftRuntimeFilterStats.plansWithRuntimeFilter.get()
      val f = factoryOf(q.queryExecution.executedPlan)
      assert(GraftRuntimeFilterStats.plansWithRuntimeFilter.get() == filtersBefore,
        "the factory must be built before the runtime filter is pushed")
      assert(builtSlots(f) == Set("readIds", "readIdsRaw", "readPosDeletes"))
      val want = raw.where(col("o_orderkey") % 3 =!= 0).unionByName(late)
        .where(col("o_orderstatus") === "F")
      assert(sortedRows(q) == sortedRows(want))
      assert(GraftRuntimeFilterStats.plansWithRuntimeFilter.get() > filtersBefore,
        "execution must push a runtime filter into the scan")
      assert(GraftRuntimeFilterStats.lastAfter < GraftRuntimeFilterStats.lastBefore,
        s"runtime filter must prune splits " +
          s"(${GraftRuntimeFilterStats.lastBefore} -> ${GraftRuntimeFilterStats.lastAfter})")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }
}
