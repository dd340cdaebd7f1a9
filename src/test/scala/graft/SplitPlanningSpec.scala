package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ColumnarToRowExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ice._
import graft.ice.catalog._
import graft.ice.connector.{GraftDeleteSpec, GraftFileSplit, GraftPackedSplit,
  SplitPlanning}
import graft.ice.expr.{Expr => E}
import graft.ice.meta.{PartitionField, PartitionSpec, SortField, SortOrder}
import graft.ice.transform.{DayTransform, IdentityTransform, MonthTransform}
import graft.ice.types.{Literal, SparkConv}

/** read.split.* planning (reference table_properties.h:187-195):
  * oversized imported files cut into ranged sub-splits, tiny files
  * bin-packed by open-file cost, adaptive sizing, and the negative
  * controls — sorted scans and pre-planned LIMIT scans keep whole
  * single-file splits (their contracts are defined over them). Time and
  * identity specs plan like unpartitioned tables; only a bucket spec
  * keeps one key-grouped split per file for storage-partitioned joins. */
class SplitPlanningSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val warehouse =
    java.nio.file.Files.createTempDirectory("whsplit").toString

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

  private def fileSplit(path: String, size: Long): GraftFileSplit =
    GraftFileSplit(path, size, useFieldIds = true,
      GraftDeleteSpec(Nil, Nil, Nil))

  // ---- pure planning math ----

  test("subSplit cuts at row-group offsets, ranges cover the file exactly") {
    val s = fileSplit("/f", 1000)
    // 4 row groups at 4/300/600/900; target 300 -> cuts at 300, 600, 900
    val subs = SplitPlanning.subSplit(s, Seq(4L, 300L, 600L, 900L), 300L)
    assert(subs.map(x => (x.rangeStart, x.rangeLength)) ==
      Seq((0L, 300L), (300L, 300L), (600L, 300L), (900L, 100L)))
    // disjoint exact cover
    assert(subs.map(_.rangeLength).sum == 1000L)
    // no offsets -> fixed byte ranges, still an exact cover
    val fixed = SplitPlanning.subSplit(s, Nil, 256L)
    assert(fixed.map(_.rangeStart) == Seq(0L, 256L, 512L, 768L))
    assert(fixed.map(_.rangeLength).sum == 1000L)
    // already at/below target -> untouched
    assert(SplitPlanning.subSplit(s, Seq(4L, 300L), 1000L) == Seq(s))
  }

  test("pack charges open-file cost and seals bins at target") {
    val tiny = (1 to 100).map(i => fileSplit(s"/t$i", 1024L))
    // weight = max(1024, 4 MiB) = 4 MiB; 128 MiB bins hold 32 files each
    val packed = SplitPlanning.pack(tiny, 128L * 1024 * 1024,
      4L * 1024 * 1024, 10)
    assert(packed.size == 4)
    assert(packed.take(3).forall {
      case GraftPackedSplit(m) => m.size == 32
      case _ => false
    })
    assert(packed.last.asInstanceOf[GraftPackedSplit].members.size == 4)
    // packing never loses or duplicates a member
    val members = packed.flatMap {
      case GraftPackedSplit(m) => m
      case s: GraftFileSplit => Seq(s)
    }
    assert(members.map(_.path).sorted == tiny.map(_.path).sorted)
    // a single outsized item rides alone, unpacked
    val solo = SplitPlanning.pack(Seq(fileSplit("/big", 512L * 1024 * 1024)),
      128L * 1024 * 1024, 4L * 1024 * 1024, 10)
    assert(solo == Seq(fileSplit("/big", 512L * 1024 * 1024)))
    // Long.MaxValue target must not overflow the fit test into one bin:
    // open-file-cost == target seals every item into its own bin — the
    // "splitting disabled" configuration is one task per file
    val off = SplitPlanning.pack(tiny, Long.MaxValue, Long.MaxValue, 10)
    assert(off.size == tiny.size,
      s"disabled packing must keep one task per file, got ${off.size}")
    // huge target with small open cost packs by true byte weight without
    // wrapping negative: everything genuinely fits one bin here
    val one = SplitPlanning.pack(tiny, Long.MaxValue, 1L, 10)
    assert(one.size == 1)
  }

  test("adaptive target shrinks toward per-slot size, floored and capped") {
    val target = 128L * 1024 * 1024
    // plenty of splits already -> unchanged
    assert(SplitPlanning.adjustTarget(target, 100L * target, 32, adaptive = true)
      == target)
    // 2 GiB on 64 slots -> 32 MiB per slot
    assert(SplitPlanning.adjustTarget(target, 2048L * 1024 * 1024, 64,
      adaptive = true) == 32L * 1024 * 1024)
    // tiny scan -> floored at the 16 MiB minimum, never 0
    assert(SplitPlanning.adjustTarget(target, 1024L, 32, adaptive = true)
      == SplitPlanning.MinAdaptiveSplitSize)
    // disabled -> untouched
    assert(SplitPlanning.adjustTarget(target, 1024L, 32, adaptive = false)
      == target)
  }

  // ---- end-to-end through the V2 scan ----

  private def scanPartitions(name: String): Int =
    spark.table(s"ice.db.$name").rdd.getNumPartitions

  // a day spec plans like an unpartitioned table: one day's oversized
  // file is cut, not read as one task per partition value
  for ((what, oneDay) <- Seq("an oversized imported file" -> false,
      "a day-partitioned table with one oversized file" -> true)) {
    test(s"$what scans as one ranged sub-split per row group") {
      val orders = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
      val raw =
        if (oneDay) orders.withColumn("o_orderdate", lit(java.sql.Date.valueOf("1996-01-02")))
        else orders
      val schema = SparkConv.fromSpark(raw.schema)
      val spec =
        if (!oneDay) PartitionSpec.unpartitioned
        else PartitionSpec(0, IndexedSeq(PartitionField(
          schema.findFieldByName("o_orderdate").get.id, 1000, "o_orderdate_day", DayTransform)))
      // one file, many small row groups; 1-byte split target + 1-byte open
      // cost -> a cut at EVERY recorded row-group offset, no packing
      val name = if (oneDay) "one_day" else "big_file"
      val t = IceTable.create(cat, TableIdentifier.parse(s"db.$name"), schema, spec,
        properties = Map(
          "write.parquet.row-group-size-bytes" -> "65536",
          "read.split.target-size" -> "1",
          "read.split.open-file-cost" -> "1"))
      t.append(spark).appendDataFrame(raw.repartition(1))
      val entries = t.newScan().planFiles()
      assert(entries.size == 1)
      val offsets = entries.head.file.splitOffsets
      assert(offsets.size >= 4, s"want >=4 row groups, got ${offsets.size}")
      assert(scanPartitions(name) == offsets.size)
      // ranged reads cover every row exactly once
      val got = spark.table(s"ice.db.$name").agg(
        count(lit(1)), sum(col("o_orderkey"))).head
      val want = raw.agg(count(lit(1)), sum(col("o_orderkey"))).head
      assert(got == want)
    }
  }

  test("100 tiny files bin-pack by open-file cost; adaptive sizing splits finer") {
    val raw = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val t = IceTable.create(cat, TableIdentifier.parse("db.tiny_files"),
      SparkConv.fromSpark(raw.schema),
      properties = Map("read.split.adaptive-size.enabled" -> "false"))
    t.append(spark).appendDataFrame(raw.repartition(100))
    assert(t.newScan().planFiles().size == 100)
    // 4 MiB open cost vs 128 MiB target -> 32 files per task
    assert(scanPartitions("tiny_files") == 4)
    val got = spark.table("ice.db.tiny_files").agg(
      count(lit(1)), sum(col("o_orderkey"))).head
    val want = raw.agg(count(lit(1)), sum(col("o_orderkey"))).head
    assert(got == want)
    // adaptive on (the default): a small scan on 4 slots shrinks the
    // target to the 16 MiB floor -> 4 files per task -> 25 tasks
    t.commit(base => base.copy(properties =
      base.properties - "read.split.adaptive-size.enabled"))
    assert(scanPartitions("tiny_files") == 25)
  }

  test("a month-partitioned table of 24 small files packs into fewer columnar tasks") {
    val raw = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .filter("o_orderdate >= DATE'1995-01-01' AND o_orderdate < DATE'1997-01-01'")
    val schema = SparkConv.fromSpark(raw.schema)
    val t = IceTable.create(cat, TableIdentifier.parse("db.months"), schema,
      PartitionSpec(0, IndexedSeq(PartitionField(
        schema.findFieldByName("o_orderdate").get.id, 1000, "o_orderdate_month",
        MonthTransform))))
    t.append(spark).appendDataFrame(raw)
    assert(t.newScan().planFiles().size == 24)
    val prior = spark.conf.get("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val df = spark.table("ice.db.months")
      assert(scanPartitions("months") < 24, s"${scanPartitions("months")} tasks")
      val plan = df.queryExecution.executedPlan
      assert(plan.collect { case c: ColumnarToRowExec => c.child }
        .exists(_.exists(_.isInstanceOf[BatchScanExec])), plan.toString)
      assert(df.collect().map(_.toString).sorted.toSeq ==
        raw.collect().map(_.toString).sorted.toSeq)
      val q = "SELECT o_orderstatus, count(*), round(sum(o_totalprice), 2) FROM %s " +
        "WHERE o_orderdate < DATE'1996-03-15' GROUP BY o_orderstatus"
      raw.createOrReplaceTempView("months_oracle")
      assert(spark.sql(q.format("ice.db.months")).collect().map(_.toString).sorted.toSeq ==
        spark.sql(q.format("months_oracle")).collect().map(_.toString).sorted.toSeq)
    } finally spark.conf.set("spark.sql.sources.v2.bucketing.enabled", prior)
  }

  test("negative controls: sorted and positional-delete scans keep whole-file splits") {
    val raw = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    // sorted table: per-split ordering is a whole-single-file contract —
    // tiny target/cost must neither cut nor pack
    val schema = SparkConv.fromSpark(raw.schema)
    val keyId = schema.findFieldByName("o_orderkey").get.id
    val order = SortOrder(1, IndexedSeq(
      SortField(keyId, IdentityTransform, ascending = true, nullsFirst = true)))
    val ts = IceTable.create(cat, TableIdentifier.parse("db.sorted_ctl"),
      schema, PartitionSpec.unpartitioned, order,
      properties = Map(
        "read.split.target-size" -> "1",
        "read.split.open-file-cost" -> "1"))
    // two sorted appends -> two whole sorted files in the scan
    ts.append(spark).appendDataFrame(raw.filter("o_orderkey % 2 = 0"))
    ts.append(spark).appendDataFrame(raw.filter("o_orderkey % 2 = 1"))
    val nFiles = ts.newScan().planFiles().size
    assert(nFiles >= 2)
    assert(scanPartitions("sorted_ctl") == nFiles)

    // positional deletes: row positions count from the file start, so a
    // delete-bearing file stays whole even under a 1-byte target
    val td = IceTable.create(cat, TableIdentifier.parse("db.posdel_ctl"),
      SparkConv.fromSpark(raw.schema),
      properties = Map(
        "write.delete.mode" -> "merge-on-read",
        "read.split.target-size" -> "1",
        "read.split.open-file-cost" -> "1"))
    td.append(spark).appendDataFrame(raw.repartition(1))
    td.delete(spark).deleteWherePositional(E.lt("o_orderkey", Literal.long(100)))
    assert(scanPartitions("posdel_ctl") == 1)
    val got = spark.table("ice.db.posdel_ctl").agg(count(lit(1))).head.getLong(0)
    val want = raw.filter("o_orderkey >= 100").count()
    assert(got == want)
  }
}
