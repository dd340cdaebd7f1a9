package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ice._
import graft.ice.catalog._
import graft.ice.meta.{PartitionField, PartitionSpec, SortField, SortOrder}
import graft.ice.transform.{BucketTransform, IdentityTransform}
import graft.ice.types._

/** V2 connector (graft.ice.connector): catalog-plugin reads, executor-
  * side MoR delete application, pushdown, storage-partitioned joins and
  * CALL procedures. */
class ConnectorSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val warehouse =
    java.nio.file.Files.createTempDirectory("whconn").toString

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

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("metadata columns: _last_updated_sequence_number parity (V2 + scan API)") {
    val raw = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    val t = IceTable.create(cat, TableIdentifier.parse("db.seqcol"),
      SparkConv.fromSpark(raw.schema))
    // two appends -> data sequence numbers 1 and 2
    t.append(spark).appendDataFrame(raw.filter("o_orderkey % 2 = 0"))
    t.append(spark).appendDataFrame(raw.filter("o_orderkey % 2 = 1"))

    // V2 connector: the metadata column is selectable in SQL
    val v2 = spark.sql(
      "SELECT o_orderkey, _last_updated_sequence_number AS seq FROM db.seqcol"
        .replace("db.seqcol", "ice.db.seqcol"))
    val bySeq = v2.groupBy("seq").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bySeq.keySet == Set(1L, 2L), s"sequence numbers: $bySeq")
    assert(bySeq(1L) == raw.filter("o_orderkey % 2 = 0").count())
    assert(bySeq(2L) == raw.filter("o_orderkey % 2 = 1").count())
    // per-row correctness: even keys landed in commit 1, odd in commit 2
    assert(v2.filter(col("o_orderkey") % 2 === 0 && col("seq") =!= 1).count() == 0)

    // scan API serves the SAME values (parity between the two surfaces)
    val api = IceTable.load(cat, TableIdentifier.parse("db.seqcol")).newScan()
      .withMetadataColumns("_last_updated_sequence_number").toDF(spark)
    assert(api.groupBy("_last_updated_sequence_number").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == bySeq)
  }

  test("_last_updated_sequence_number is nullable; sequence-less tasks serve null") {
    // pre-lineage manifest entries (no sequence number) have no recorded
    // last update: the metadata column must DECLARE nullable and the
    // task's visibility comparand must still floor at 0 for delete math
    val raw = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    val t = IceTable.create(cat, TableIdentifier.parse("db.seqnull"),
      SparkConv.fromSpark(raw.schema))
    t.append(spark).appendDataFrame(raw)
    val sparkTable = new graft.ice.connector.GraftSparkTable(
      IceTable.load(cat, TableIdentifier.parse("db.seqnull")),
      "ice", "db.seqnull", warehouse.toString)
    val seqCol = sparkTable.metadataColumns()
      .find(_.name == "_last_updated_sequence_number").get
    assert(seqCol.isNullable,
      "_last_updated_sequence_number must be declared nullable")
    val task = graft.ice.FileScanTask(
      IceTable.load(cat, TableIdentifier.parse("db.seqnull"))
        .newScan().planFiles().head.file, specId = 0,
      dataSequenceNumber = None)
    assert(task.sequenceForVisibility == 0L)
  }

  test("catalog plugin: V2 read equals the scan API read") {
    val raw = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val t = IceTable.create(cat, TableIdentifier.parse("db.plain"),
      SparkConv.fromSpark(raw.schema))
    t.append(spark).appendDataFrame(raw)

    val viaCatalog = spark.table("ice.db.plain")
    assert(sortedRows(viaCatalog) == sortedRows(t.newScan().toDF(spark)))
    // filters + projection survive the connector contract
    val q = viaCatalog.filter(col("o_orderkey") < 100).select("o_orderkey", "o_totalprice")
    val api = t.newScan().toDF(spark).filter(col("o_orderkey") < 100)
      .select("o_orderkey", "o_totalprice")
    assert(sortedRows(q) == sortedRows(api))
  }

  test("V2 read applies positional deletes, deletion vectors and equality deletes") {
    val raw = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")

    // parquet position deletes (v2)
    val tp = IceTable.create(cat, TableIdentifier.parse("db.posdel"),
      SparkConv.fromSpark(raw.schema))
    tp.append(spark).appendDataFrame(raw)
    tp.delete(spark).deleteWherePositional(
      graft.ice.expr.Expr.lt("o_orderkey", Literal.long(200)))
    val tpNew = IceTable.load(cat, TableIdentifier.parse("db.posdel"))
    assert(sortedRows(spark.table("ice.db.posdel")) ==
      sortedRows(tpNew.newScan().toDF(spark)))
    assert(spark.table("ice.db.posdel").filter("o_orderkey < 200").count() == 0)

    // deletion vectors (v3)
    val tv = IceTable.create(cat, TableIdentifier.parse("db.dvdel"),
      SparkConv.fromSpark(raw.schema),
      properties = Map("format-version" -> "3"))
    tv.append(spark).appendDataFrame(raw)
    tv.delete(spark).deleteWhereDV(
      graft.ice.expr.Expr.lt("o_orderkey", Literal.long(150)))
    val tvNew = IceTable.load(cat, TableIdentifier.parse("db.dvdel"))
    assert(sortedRows(spark.table("ice.db.dvdel")) ==
      sortedRows(tvNew.newScan().toDF(spark)))
    assert(spark.table("ice.db.dvdel").filter("o_orderkey < 150").count() == 0)

    // equality deletes, keyed on a column the query then prunes away
    val te = IceTable.create(cat, TableIdentifier.parse("db.eqdel"),
      SparkConv.fromSpark(raw.schema))
    te.append(spark).appendDataFrame(raw)
    import spark.implicits._
    te.delete(spark).deleteByEquality(
      Seq(1L, 2L, 3L).toDF("o_orderkey"))
    val teNew = IceTable.load(cat, TableIdentifier.parse("db.eqdel"))
    assert(sortedRows(spark.table("ice.db.eqdel")) ==
      sortedRows(teNew.newScan().toDF(spark)))
    // projection WITHOUT the equality key still applies the delete
    val projected = spark.table("ice.db.eqdel").select("o_totalprice")
    assert(projected.count() == raw.count() - 3)
    assert(projected.schema.fieldNames.toSeq == Seq("o_totalprice"))
  }

  test("storage-partitioned join: co-bucketed tables join with zero shuffle") {
    val raw = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    def mkBucketed(name: String, df: DataFrame): IceTable = {
      val schema = SparkConv.fromSpark(df.schema)
      val key = schema.findFieldByName("o_orderkey").get.id
      val spec = PartitionSpec(0, IndexedSeq(
        PartitionField(key, 1000, "o_orderkey_bucket", BucketTransform(4))))
      val t = IceTable.create(cat, TableIdentifier.parse(s"db.$name"), schema, spec)
      t.append(spark).appendDataFrame(df)
      t
    }
    mkBucketed("spj_a", raw.select("o_orderkey", "o_custkey", "o_totalprice"))
    mkBucketed("spj_b", raw.select("o_orderkey", "o_orderstatus"))

    def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
      val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
      pairs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val a = spark.table("ice.db.spj_a")
      val b = spark.table("ice.db.spj_b")
      val joined = a.join(b, "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"expected a storage-partitioned (shuffle-free) join, got:\n$plan")
      // and it is CORRECT: equals the plain DataFrame join
      val expected = raw.select("o_orderkey", "o_custkey", "o_totalprice")
        .join(raw.select("o_orderkey", "o_orderstatus"), "o_orderkey")
      assert(sortedRows(joined) == sortedRows(expected))
    }

    // sanity: without v2 bucketing the same join shuffles — proves the
    // assertion above is load-bearing
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val plan = spark.table("ice.db.spj_a")
        .join(spark.table("ice.db.spj_b"), "o_orderkey")
        .queryExecution.executedPlan.toString
      assert(plan.contains("Exchange"))
    }

    // SPJ must survive AQE (the default on a real cluster): execute,
    // then inspect the FINAL adaptive plan
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "true") {
      val joined = spark.table("ice.db.spj_a")
        .join(spark.table("ice.db.spj_b"), "o_orderkey")
      joined.collect()
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(!finalPlan.contains("Exchange"),
        s"SPJ must hold under AQE, got:\n$finalPlan")
    }

    // after partition EVOLUTION the snapshot holds files of two specs —
    // grouping by tuple would be WRONG (different shapes), so the scan
    // must fall back to UnknownPartitioning: the join shuffles, results
    // stay exact
    val ta = IceTable.load(cat, TableIdentifier.parse("db.spj_a"))
    ta.updateSpec().fromCurrent().removeField("o_orderkey_bucket")
      .addField("o_custkey_bucket", "o_custkey", BucketTransform(4)).commit()
    val ta2 = IceTable.load(cat, TableIdentifier.parse("db.spj_a"))
    ta2.append(spark).appendDataFrame(
      raw.select("o_orderkey", "o_custkey", "o_totalprice").limit(50))
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val joined = spark.table("ice.db.spj_a")
        .join(spark.table("ice.db.spj_b"), "o_orderkey")
      assert(joined.queryExecution.executedPlan.toString.contains("Exchange"),
        "mixed-spec files must NOT claim key-grouped partitioning")
      val expected = raw.select("o_orderkey", "o_custkey", "o_totalprice")
        .unionAll(raw.select("o_orderkey", "o_custkey", "o_totalprice").limit(50))
        .join(raw.select("o_orderkey", "o_orderstatus"), "o_orderkey")
      assert(sortedRows(joined) == sortedRows(expected))
    }
  }

  test("reported ordering: bucketed + key-sorted tables SMJ with zero exchange AND zero sort") {
    val raw = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    def mkSorted(name: String, df: DataFrame): IceTable = {
      val schema = SparkConv.fromSpark(df.schema)
      val key = schema.findFieldByName("o_orderkey").get.id
      val spec = PartitionSpec(0, IndexedSeq(
        PartitionField(key, 1000, "o_orderkey_bucket", BucketTransform(4))))
      val order = SortOrder(1, IndexedSeq(
        SortField(key, IdentityTransform, ascending = true, nullsFirst = true)))
      val t = IceTable.create(cat, TableIdentifier.parse(s"db.$name"), schema,
        spec, order)
      t.append(spark).appendDataFrame(df)
      t
    }
    mkSorted("ord_a", raw.select("o_orderkey", "o_custkey"))
    mkSorted("ord_b", raw.select("o_orderkey", "o_orderstatus"))
    def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
      val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
      pairs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val joined = spark.table("ice.db.ord_a")
        .join(spark.table("ice.db.ord_b"), "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"),
        s"co-bucketed join must not shuffle:\n$plan")
      assert(!plan.contains("Sort "),
        s"key-sorted files must satisfy SMJ ordering without a Sort:\n$plan")
      val expected = raw.select("o_orderkey", "o_custkey")
        .join(raw.select("o_orderkey", "o_orderstatus"), "o_orderkey")
      assert(sortedRows(joined) == sortedRows(expected))
    }
    // negative control: identical tables WITHOUT a declared sort order
    // must re-sort — proves the no-Sort assertion above is load-bearing
    def mkUnsorted(name: String, df: DataFrame): IceTable = {
      val schema = SparkConv.fromSpark(df.schema)
      val key = schema.findFieldByName("o_orderkey").get.id
      val spec = PartitionSpec(0, IndexedSeq(
        PartitionField(key, 1000, "o_orderkey_bucket", BucketTransform(4))))
      val t = IceTable.create(cat, TableIdentifier.parse(s"db.$name"), schema, spec)
      t.append(spark).appendDataFrame(df)
      t
    }
    mkUnsorted("unord_a", raw.select("o_orderkey", "o_custkey"))
    mkUnsorted("unord_b", raw.select("o_orderkey", "o_orderstatus"))
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val plan = spark.table("ice.db.unord_a")
        .join(spark.table("ice.db.unord_b"), "o_orderkey")
        .queryExecution.executedPlan.toString
      assert(plan.contains("Sort "), plan)
    }
  }

  test("TopN pushdown plans only the end-run of range-disjoint files") {
    import graft.ice.connector.GraftTopNStats
    val raw = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val schema = SparkConv.fromSpark(raw.schema)
    val key = schema.findFieldByName("o_orderkey").get.id
    val order = SortOrder(1, IndexedSeq(
      SortField(key, IdentityTransform, ascending = true, nullsFirst = true)))
    val t = IceTable.create(cat, TableIdentifier.parse("db.topn"), schema,
      PartitionSpec.unpartitioned, order)
    // AQE would coalesce the tiny range shuffle to one partition — keep
    // several files so the end-run selection is observable
    val prevCoalesce = spark.conf.getOption("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try t.append(spark).appendDataFrame(raw)
    finally prevCoalesce match {
      case Some(v) => spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", v)
      case None => spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    }
    val total = IceTable.load(cat, TableIdentifier.parse("db.topn"))
      .newScan().planFiles().size
    assert(total > 1, "fixture needs multiple range-disjoint files")

    val before = GraftTopNStats.pushes.get()
    val got = spark.table("ice.db.topn")
      .orderBy(col("o_orderkey").desc).limit(7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(GraftTopNStats.pushes.get() == before + 1, "TopN push must fire")
    assert(GraftTopNStats.lastPlanned < GraftTopNStats.lastTotal,
      s"planned ${GraftTopNStats.lastPlanned} of ${GraftTopNStats.lastTotal}")
    val want = raw.orderBy(col("o_orderkey").desc).limit(7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == want)

    // ascending end too
    val beforeAsc = GraftTopNStats.pushes.get()
    val gotAsc = spark.table("ice.db.topn")
      .orderBy(col("o_orderkey")).limit(5)
      .collect().map(_.getLong(0)).toSeq
    assert(GraftTopNStats.pushes.get() == beforeAsc + 1)
    assert(gotAsc == raw.orderBy(col("o_orderkey")).limit(5)
      .collect().map(_.getLong(0)).toSeq)

    // negative control: a second append overlaps the first's ranges —
    // disjointness is unprovable, the push must REFUSE, results stay
    // correct through the normal sort
    val extra = raw.filter(col("o_orderkey") % 7 === 0)
    val t2 = IceTable.load(cat, TableIdentifier.parse("db.topn"))
    t2.append(spark).appendDataFrame(extra)
    val beforeOverlap = GraftTopNStats.pushes.get()
    val gotOverlap = spark.table("ice.db.topn")
      .orderBy(col("o_orderkey").desc, col("o_custkey")).limit(3)
      .collect().map(_.getLong(0)).toSeq
    assert(GraftTopNStats.pushes.get() == beforeOverlap,
      "overlapping files must refuse the TopN push")
    val wantOverlap = raw.unionAll(extra)
      .orderBy(col("o_orderkey").desc, col("o_custkey")).limit(3)
      .collect().map(_.getLong(0)).toSeq
    assert(gotOverlap == wantOverlap)
  }

  test("TopN pushdown fires on a timestamp column — latest N by ts") {
    import graft.ice.connector.GraftTopNStats
    val raw = graft.ops.Events.load(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts", "user_id")
    val schema = SparkConv.fromSpark(raw.schema)
    val key = schema.findFieldByName("ts").get.id
    val order = SortOrder(1, IndexedSeq(
      SortField(key, IdentityTransform, ascending = true, nullsFirst = true)))
    val t = IceTable.create(cat, TableIdentifier.parse("db.topnts"), schema,
      PartitionSpec.unpartitioned, order)
    val k = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, "false")
    try t.append(spark).appendDataFrame(raw)
    finally prev match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    }
    val before = GraftTopNStats.pushes.get()
    val got = spark.table("ice.db.topnts")
      .orderBy(col("ts").desc).limit(6)
      .collect().map(_.getAs[java.sql.Timestamp]("ts")).toSeq
    assert(GraftTopNStats.pushes.get() == before + 1, "ts TopN must push")
    assert(GraftTopNStats.lastPlanned < GraftTopNStats.lastTotal)
    // ties at the boundary would be split nondeterministically by any
    // engine; compare the ts multiset, which is deterministic
    val want = raw.orderBy(col("ts").desc).limit(6)
      .collect().map(_.getAs[java.sql.Timestamp]("ts")).toSeq
    assert(got == want)
  }

  test("filter pushdown reaches file pruning through the connector") {
    val raw = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    // month-partitioned by proxy: write three key-ranged files
    val t = IceTable.create(cat, TableIdentifier.parse("db.pruned"),
      SparkConv.fromSpark(raw.schema))
    t.append(spark).appendDataFrame(raw.filter("o_orderkey < 500").repartition(1))
    t.append(spark).appendDataFrame(
      raw.filter("o_orderkey >= 500 and o_orderkey < 1000").repartition(1))
    t.append(spark).appendDataFrame(raw.filter("o_orderkey >= 1000").repartition(1))

    val df = spark.table("ice.db.pruned").filter("o_orderkey < 10")
    // the executed scan reads ONE file: bounds pruning fired on the
    // translated pushed filter
    val scanDesc = df.queryExecution.executedPlan.toString
    assert(scanDesc.contains("graft"), scanDesc)
    assert(df.count() == raw.filter("o_orderkey < 10").count())
    val nSplits = df.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputPartitions.size
      }
    assert(nSplits.contains(1), s"expected 1 surviving split, got $nSplits")
  }

  test("unified read surface: readStream.table via catalog, batch via provider") {
    val raw = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    val t = IceTable.create(cat, TableIdentifier.parse("db.unified"),
      SparkConv.fromSpark(raw.schema))
    t.append(spark).appendDataFrame(raw.limit(100))

    // batch read through the PROVIDER (no catalog registration needed)
    val viaProvider = spark.read.format("graft-table")
      .option("warehouse", warehouse).option("table", "db.unified").load()
    assert(viaProvider.count() == 100)
    assert(sortedRows(viaProvider) == sortedRows(spark.table("ice.db.unified")))

    // streaming read through the CATALOG: follows appends via snapshots
    val out = java.nio.file.Files.createTempDirectory("unifout").toString
    val ckpt = java.nio.file.Files.createTempDirectory("unifckpt").toString
    def drain(): Unit = {
      val q = spark.readStream.table("ice.db.unified")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    assert(spark.read.parquet(out).count() == 100)
    t.append(spark).appendDataFrame(raw.limit(250))
    drain()
    assert(spark.read.parquet(out).count() == 350)
  }

  test("writes through the catalog: INSERT INTO, writeTo append, OVERWRITE") {
    val raw = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    val t = IceTable.create(cat, TableIdentifier.parse("db.writes"),
      SparkConv.fromSpark(raw.schema))
    t.append(spark).appendDataFrame(raw.limit(10))

    spark.sql("INSERT INTO ice.db.writes VALUES (100000, 1.5), (100001, 2.5)")
    assert(spark.table("ice.db.writes").count() == 12)

    raw.limit(5).writeTo("ice.db.writes").append()
    assert(spark.table("ice.db.writes").count() == 17)

    spark.sql("INSERT OVERWRITE ice.db.writes SELECT o_orderkey, o_totalprice " +
      "FROM ice.db.writes WHERE o_orderkey >= 100000")
    val left = spark.table("ice.db.writes")
    assert(left.count() == 2)
    // and the table's own history recorded each write as a snapshot
    val t2 = IceTable.load(cat, TableIdentifier.parse("db.writes"))
    assert(t2.metadata.snapshots.size == 4)
  }

  test("DELETE WHERE and inspection tables through the catalog") {
    val raw = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    val t = IceTable.create(cat, TableIdentifier.parse("db.delcat"),
      SparkConv.fromSpark(raw.schema))
    t.append(spark).appendDataFrame(raw)
    val total = raw.count()

    // copy-on-write DELETE through SupportsDelete
    spark.sql("DELETE FROM ice.db.delcat WHERE o_orderkey < 100")
    assert(spark.table("ice.db.delcat").count() ==
      raw.filter("o_orderkey >= 100").count())

    // merge-on-read: property dispatch writes delete files, not rewrites
    val tm = IceTable.create(cat, TableIdentifier.parse("db.delcat_mor"),
      SparkConv.fromSpark(raw.schema),
      properties = Map("write.delete.mode" -> "merge-on-read"))
    tm.append(spark).appendDataFrame(raw)
    spark.sql("DELETE FROM ice.db.delcat_mor WHERE o_orderkey < 100")
    assert(spark.table("ice.db.delcat_mor").count() ==
      raw.filter("o_orderkey >= 100").count())
    val tm2 = IceTable.load(cat, TableIdentifier.parse("db.delcat_mor"))
    assert(tm2.planDeleteEntries(tm2.currentSnapshot.get).nonEmpty,
      "merge-on-read DELETE must land delete files")

    // inspection tables resolve as catalog identifiers
    val snaps = spark.sql("SELECT * FROM ice.db.delcat.snapshots")
    assert(snaps.count() == 2) // append + delete
    assert(snaps.schema.fieldNames.contains("snapshot_id"))
    val files = spark.sql(
      "SELECT count(*) AS n FROM ice.db.delcat_mor.delete_files").head
    assert(files.getLong(0) >= 1)
  }

  test("time travel through the catalog: VERSION AS OF id/branch, TIMESTAMP AS OF") {
    val raw = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    val t = IceTable.create(cat, TableIdentifier.parse("db.tt"),
      SparkConv.fromSpark(raw.schema))
    t.append(spark).appendDataFrame(raw.limit(100))
    val v1 = t.currentSnapshot.get
    t.manageSnapshots().createBranch("audit", v1.snapshotId)
    Thread.sleep(5)
    t.append(spark).appendDataFrame(raw.limit(40))

    assert(spark.table("ice.db.tt").count() == 140)
    assert(spark.sql(
      s"SELECT count(*) AS n FROM ice.db.tt VERSION AS OF ${v1.snapshotId}")
      .head.getLong(0) == 100)
    assert(spark.sql(
      "SELECT count(*) AS n FROM ice.db.tt VERSION AS OF 'audit'")
      .head.getLong(0) == 100)
    val iso = java.time.Instant.ofEpochMilli(v1.timestampMs + 1).toString
    assert(spark.sql(
      s"SELECT count(*) AS n FROM ice.db.tt TIMESTAMP AS OF '$iso'")
      .head.getLong(0) == 100)

    // refs resolve BEFORE snapshot ids: a branch whose name is all
    // digits is still addressable (and an empty/garbage version fails
    // cleanly, not with a NumberFormatException)
    t.manageSnapshots().createBranch("2024", v1.snapshotId)
    assert(spark.sql(
      "SELECT count(*) AS n FROM ice.db.tt VERSION AS OF '2024'")
      .head.getLong(0) == 100)
    val err = intercept[Exception](
      spark.sql("SELECT * FROM ice.db.tt VERSION AS OF 'nope'").collect())
    assert(err.getMessage.contains("neither a ref nor a snapshot id"))
  }

  test("runtime DPP through the connector re-prunes files at execution time") {
    import graft.ice.meta.{PartitionField, PartitionSpec}
    import graft.ice.transform.IdentityTransform
    import graft.ice.connector.GraftRuntimeFilterStats
    val raw = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val schema = SparkConv.fromSpark(raw.schema)
    val st = schema.findFieldByName("o_orderstatus").get.id
    val t = IceTable.create(cat, TableIdentifier.parse("db.dppfact"), schema,
      PartitionSpec(0, IndexedSeq(PartitionField(st, 1000, "status", IdentityTransform))))
    t.append(spark).appendDataFrame(raw)
    val full = t.newScan().planFiles().size
    assert(full >= 2, "fixture needs one file per status partition")

    import spark.implicits._
    // the dim must be a real datasource: a LocalRelation folds its
    // filter away and DPP sees no selective predicate
    val dimPath = java.nio.file.Files.createTempDirectory("dppdim").toString
    Seq(("F", 1), ("O", 2), ("P", 3)).toDF("st", "x")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
    val joined = spark.table("ice.db.dppfact")
      .join(dim.filter(col("x") === 1), col("o_orderstatus") === col("st"))
    val countBefore = GraftRuntimeFilterStats.plansWithRuntimeFilter.get()
    val agg = joined.agg(count(lit(1)), round(sum("o_totalprice"), 2))
    val got = agg.collect().head
    val want = raw.filter(col("o_orderstatus") === "F")
      .agg(count(lit(1)), round(sum("o_totalprice"), 2)).collect().head
    assert(got == want, s"DPP-filtered join must be exact: $got vs $want")
    // the runtime filter actually REACHED the scan and pruned files
    assert(GraftRuntimeFilterStats.plansWithRuntimeFilter.get() > countBefore,
      "execution must have pushed a runtime filter into the V2 scan")
    assert(GraftRuntimeFilterStats.lastAfter < GraftRuntimeFilterStats.lastBefore,
      s"runtime filter must prune splits " +
        s"(${GraftRuntimeFilterStats.lastBefore} -> ${GraftRuntimeFilterStats.lastAfter})")
  }

  test("NDV statistics flip join selection to broadcast only when the build side is small") {
    val raw = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val t = IceTable.create(cat, TableIdentifier.parse("db.ndvstats"),
      SparkConv.fromSpark(raw.schema))
    t.append(spark).appendDataFrame(raw)
    graft.ice.write.Statistics.compute(t, spark, Seq("o_custkey"))
    val rawBytes = t.newScan().planFiles().map(_.file.fileSizeInBytes).sum
    val ndv = graft.ice.write.Statistics.ndvByName(t, None)("o_custkey")
    // threshold strictly between the ndv-scaled estimate and raw size
    val threshold = math.max(rawBytes / ndv * 4, 1024L)
    assert(threshold < rawBytes)
    val prev = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold.toString)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val fact = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .select("l_orderkey", "l_quantity")
      val filtered = spark.table("ice.db.ndvstats").filter(col("o_custkey") === 37)
      val plan = fact.join(filtered, fact("l_orderkey") === filtered("o_orderkey"))
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"ndv-scaled build side must broadcast under threshold $threshold:\n$plan")
      val unfiltered = spark.table("ice.db.ndvstats")
      val fullPlan = fact.join(unfiltered, fact("l_orderkey") === unfiltered("o_orderkey"))
        .queryExecution.executedPlan.toString
      assert(!fullPlan.contains("BroadcastHashJoin"),
        s"raw-size build side must NOT broadcast under threshold $threshold:\n$fullPlan")
      // the broadcast plan is also CORRECT (values pin)
      val viaV2 = fact.join(filtered, fact("l_orderkey") === filtered("o_orderkey"))
        .groupBy("o_custkey").count().collect().map(_.toString).sorted.toSeq
      val viaRaw = fact.join(raw.filter(col("o_custkey") === 37),
          fact("l_orderkey") === raw("o_orderkey"))
        .groupBy("o_custkey").count().collect().map(_.toString).sorted.toSeq
      assert(viaV2 == viaRaw && viaV2.nonEmpty)
    } finally {
      prev.fold(spark.conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
      prevAqe.fold(spark.conf.unset("spark.sql.adaptive.enabled"))(
        spark.conf.set("spark.sql.adaptive.enabled", _))
    }
  }

  test("SPJ shuffle-one-side: the V2 bucket function routes a plain side into our layout") {
    // a bucketed table joined against a PLAIN (non-bucketed) aggregate.
    // With shuffle-one-side enabled Spark must shuffle ONLY the plain
    // side, computing bucket values through OUR FunctionCatalog — if
    // produceResult diverged from the write-side murmur3, co-location
    // would be wrong and the join would silently drop matches.
    // Equality of results IS the pin.
    val raw = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val schema = SparkConv.fromSpark(
      raw.select("o_orderkey", "o_custkey", "o_totalprice").schema)
    val key = schema.findFieldByName("o_orderkey").get.id
    val tb = IceTable.create(cat, TableIdentifier.parse("db.spj_one"), schema,
      PartitionSpec(0, IndexedSeq(
        PartitionField(key, 1000, "o_orderkey_bucket", BucketTransform(4)))))
    tb.append(spark).appendDataFrame(
      raw.select("o_orderkey", "o_custkey", "o_totalprice"))
    // no aggregate: the plain side must need NO shuffle of its own, so
    // the single expected exchange is the join routing it into our layout
    val plain = raw.select("o_orderkey", "o_orderpriority")
    def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
      val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
      pairs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.shuffle.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val joined = spark.table("ice.db.spj_one").join(plain, "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      val exchanges = "Exchange".r.findAllIn(plan).size
      assert(exchanges == 1,
        s"expected exactly one exchange (the plain side), got $exchanges:\n$plan")
      val expected = raw.select("o_orderkey", "o_custkey", "o_totalprice")
        .join(plain, "o_orderkey")
      assert(sortedRows(joined) == sortedRows(expected))
    }
  }

  test("CTAS through the catalog, partitioned and plain") {
    spark.sql("""CREATE TABLE ice.db.ctas AS
      SELECT o_orderkey, o_totalprice FROM ice.db.plain WHERE o_orderkey < 500""")
    assert(spark.table("ice.db.ctas").count() ==
      spark.table("ice.db.plain").filter("o_orderkey < 500").count())

    spark.sql("""CREATE TABLE ice.db.ctasb PARTITIONED BY (bucket(4, o_orderkey)) AS
      SELECT o_orderkey, o_totalprice FROM ice.db.plain""")
    val t = IceTable.load(cat, TableIdentifier.parse("db.ctasb"))
    assert(t.metadata.defaultSpec.fields.map(_.name) == Seq("o_orderkey_bucket"))
    assert(spark.table("ice.db.ctasb").count() == spark.table("ice.db.plain").count())
  }

  test("ALTER TABLE schema evolution through the catalog") {
    val raw = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    val t = IceTable.create(cat, TableIdentifier.parse("db.alter"),
      SparkConv.fromSpark(raw.schema))
    t.append(spark).appendDataFrame(raw.limit(50))

    spark.sql("ALTER TABLE ice.db.alter ADD COLUMNS (note STRING COMMENT 'memo')")
    spark.sql("ALTER TABLE ice.db.alter RENAME COLUMN o_totalprice TO price")
    spark.sql("ALTER TABLE ice.db.alter ALTER COLUMN o_orderkey TYPE BIGINT")
    val df = spark.table("ice.db.alter")
    assert(df.schema.fieldNames.toSeq == Seq("o_orderkey", "price", "note"))
    // old files read through the rename (field-id resolution) with the
    // new column null
    assert(df.count() == 50)
    assert(df.filter(col("price").isNotNull).count() == 50)
    assert(df.filter(col("note").isNull).count() == 50)

    spark.sql("ALTER TABLE ice.db.alter DROP COLUMN note")
    assert(spark.table("ice.db.alter").schema.fieldNames.toSeq ==
      Seq("o_orderkey", "price"))
  }

  test("ALTER TABLE ADD COLUMN ... FIRST/AFTER is refused; the schema is unchanged") {
    val raw = spark.range(0, 5).selectExpr("id", "id * 2 AS v")
    IceTable.create(cat, TableIdentifier.parse("db.addpos"),
      SparkConv.fromSpark(raw.schema)).append(spark).appendDataFrame(raw)
    intercept[Exception](spark.sql("ALTER TABLE ice.db.addpos ADD COLUMN x INT FIRST"))
    intercept[Exception](spark.sql("ALTER TABLE ice.db.addpos ADD COLUMN x INT AFTER id"))
    assert(spark.table("ice.db.addpos").schema.fieldNames.toSeq == Seq("id", "v"))
    spark.sql("ALTER TABLE ice.db.addpos ADD COLUMN x INT")
    assert(spark.table("ice.db.addpos").schema.fieldNames.toSeq == Seq("id", "v", "x"))
  }

  test("DROP TABLE ... PURGE drops the table and deletes its files") {
    val raw = spark.range(0, 5).selectExpr("id")
    val t = IceTable.create(cat, TableIdentifier.parse("db.purged"),
      SparkConv.fromSpark(raw.schema))
    t.append(spark).appendDataFrame(raw)
    val dataFiles = t.newScan().planFiles().map(_.file.filePath)
    assert(dataFiles.nonEmpty)
    spark.sql("DROP TABLE ice.db.purged PURGE")
    assert(!cat.tableExists(TableIdentifier.parse("db.purged")))
    dataFiles.foreach(p => assert(!new java.io.File(
      graft.ice.manifest.ManifestAvro.stripFileScheme(p)).exists(), s"$p survived PURGE"))
    intercept[Exception](spark.table("ice.db.purged").collect())
  }

  test("ALTER TABLE DROP COLUMN refuses a partition source; the table stays appendable") {
    val raw = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val schema = SparkConv.fromSpark(raw.schema)
    val t = IceTable.create(cat, TableIdentifier.parse("db.dropsrc"), schema,
      PartitionSpec(0, IndexedSeq(PartitionField(
        schema.findFieldByName("o_orderstatus").get.id, 1000, "status",
        graft.ice.transform.IdentityTransform))))
    t.append(spark).appendDataFrame(raw.limit(50))
    val err = intercept[Exception](
      spark.sql("ALTER TABLE ice.db.dropsrc DROP COLUMN o_orderstatus"))
    val msgs = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).toSeq
    assert(msgs.exists(_.contains("partition field status")), msgs.mkString("; "))
    assert(spark.table("ice.db.dropsrc").schema.fieldNames.toSeq ==
      Seq("o_orderkey", "o_orderstatus", "o_totalprice"))
    spark.sql("INSERT INTO ice.db.dropsrc VALUES (900001, 'F', 1.5), (900002, 'O', 2.5)")
    val back = spark.table("ice.db.dropsrc")
    assert(back.count() == 52)
    assert(back.filter(col("o_orderkey") >= 900001).select("o_orderstatus")
      .collect().map(_.getString(0)).sorted.toSeq == Seq("F", "O"))
    // a non-source column still drops; IF EXISTS still skips a missing one
    spark.sql("ALTER TABLE ice.db.dropsrc DROP COLUMN IF EXISTS nope")
    spark.sql("ALTER TABLE ice.db.dropsrc DROP COLUMN o_totalprice")
    assert(spark.table("ice.db.dropsrc").schema.fieldNames.toSeq ==
      Seq("o_orderkey", "o_orderstatus"))
  }

  test("snapshot_table recurses nested layouts and imports Hive partitions") {
    import java.nio.file.{Files => JFiles}
    val raw = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    // nested NON-partitioned layout: files one level down must import
    val nested = JFiles.createTempDirectory("snap_nested").toString
    raw.limit(3).write.parquet(s"$nested/batch1")
    raw.write.parquet(s"$nested/batch2")
    val n = spark.sql(s"""CALL ice.system.snapshot_table(
      source_dir => '$nested', table => 'db.snapnest')""")
      .collect().head.getLong(0)
    assert(n >= 2)
    assert(spark.table("ice.db.snapnest").count() == raw.count() + 3)

    // Hive key=value layout: imports as an IDENTITY-partitioned table;
    // the partition column lives in directory names only, and scans
    // must serve it from the manifest tuples (constants-map injection)
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val hive = JFiles.createTempDirectory("snap_hive").toString + "/src"
    orders.write.partitionBy("o_orderstatus").parquet(hive)
    spark.sql(s"""CALL ice.system.snapshot_table(
      source_dir => '$hive', table => 'db.snaphive')""").collect()
    val t = spark.table("ice.db.snaphive")
    assert(t.count() == orders.count())
    // injected partition values round-trip exactly
    val got = t.select("o_orderkey", "o_orderstatus").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = orders.select("o_orderkey", "o_orderstatus").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == want, "partition column must come back from dir names")
    // partition pruning: a filter on the injected column prunes files
    val it = IceTable.load(cat, TableIdentifier.parse("db.snaphive"))
    val allFiles = it.newScan().planFiles().size
    val fFiles = it.newScan()
      .filter(graft.ice.expr.Expr.equal("o_orderstatus",
        graft.ice.types.Literal.string("F"))).planFiles().size
    assert(fFiles < allFiles, "identity tuple must prune partitions")
    assert(t.filter(col("o_orderstatus") === "F").count() ==
      orders.filter(col("o_orderstatus") === "F").count())
  }

  test("MoR DELETE on a snapshot_table Hive import matches the partition column") {
    import java.nio.file.{Files => JFiles}
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    // o_orderstatus lives in directory names only: the delete must see
    // the value the manifest tuple injects, as scans do
    val preds = Seq("o_orderstatus = 'P'",
      "o_orderstatus = 'F' AND o_totalprice > 150000")
    for ((name, dv) <- Seq("morhive_pos" -> false, "morhive_dv" -> true)) {
      val hive = JFiles.createTempDirectory(name).toString + "/src"
      orders.write.partitionBy("o_orderstatus").parquet(hive)
      spark.sql(s"""CALL ice.system.snapshot_table(
        source_dir => '$hive', table => 'db.$name')""").collect()
      val ident = TableIdentifier.parse(s"db.$name")
      if (dv) IceTable.load(cat, ident).upgradeFormatVersion(3)
      spark.sql(s"ALTER TABLE ice.db.$name SET TBLPROPERTIES " +
        "('write.delete.mode' = 'merge-on-read')")
      preds.foreach(p => spark.sql(s"DELETE FROM ice.db.$name WHERE $p"))
      val t = IceTable.load(cat, ident)
      val dels = t.planDeleteEntries(t.currentSnapshot.get)
      assert(dels.nonEmpty && dels.forall(e => (e.dataFile.fileFormat == "PUFFIN") == dv),
        dels.map(_.dataFile.fileFormat).mkString(","))
      val expected = orders.filter(preds.map(p => s"NOT ($p)").mkString(" AND "))
      assert(expected.count() < orders.count())
      assert(sortedRows(spark.table(s"ice.db.$name").select(
        expected.columns.map(col).toSeq: _*)) == sortedRows(expected), name)
    }
  }

  test("add_files appends a Hive directory into an existing table") {
    import java.nio.file.{Files => JFiles}
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val batch1 = orders.filter("o_orderkey % 2 = 0")
    val batch2 = orders.filter("o_orderkey % 2 = 1")
    val hive1 = JFiles.createTempDirectory("addf1").toString + "/src"
    val hive2 = JFiles.createTempDirectory("addf2").toString + "/src"
    batch1.write.partitionBy("o_orderstatus").parquet(hive1)
    batch2.write.partitionBy("o_orderstatus").parquet(hive2)
    spark.sql(s"""CALL ice.system.snapshot_table(
      source_dir => '$hive1', table => 'db.addf')""").collect()
    val added = spark.sql(s"""CALL ice.system.add_files(
      table => 'db.addf', source_dir => '$hive2')""")
      .collect().head.getLong(0)
    assert(added >= 1)
    val t = spark.table("ice.db.addf")
    assert(t.count() == orders.count())
    assert(t.filter(col("o_orderstatus") === "O").count() ==
      orders.filter(col("o_orderstatus") === "O").count())
  }

  test("snapshot procedures: cherrypick, ancestors_of, rollback_to_timestamp, set_current") {
    val raw = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    val t = IceTable.create(cat, TableIdentifier.parse("db.snapproc"),
      SparkConv.fromSpark(raw.schema))
    val evens = raw.filter("o_orderkey % 2 = 0")
    val s1 = t.append(spark).appendDataFrame(evens)
    // WAP-style staging: odd rows land on an audit branch, main unchanged
    t.manageSnapshots().createBranch("audit", s1.snapshotId)
    t.append(spark).toBranch("audit")
      .appendDataFrame(raw.filter("o_orderkey % 2 = 1"))
    val staged = IceTable.load(cat, TableIdentifier.parse("db.snapproc"))
      .refs("audit").snapshotId
    assert(spark.table("ice.db.snapproc").count() == evens.count())
    Thread.sleep(5) // distinct snapshot-log timestamps for the rollback
    // cherry-pick the staged append onto main: full table, new snapshot
    val cp = spark.sql(
      s"CALL ice.system.cherrypick_snapshot('db.snapproc', $staged)")
      .collect().head
    assert(cp.getLong(0) == staged)
    val cherryId = cp.getLong(1)
    assert(cherryId != staged, "cherrypick must mint a NEW snapshot")
    assert(spark.table("ice.db.snapproc").count() == raw.count())
    // ancestors_of walks main's lineage: cherry -> s1
    val anc = spark.sql("CALL ice.system.ancestors_of('db.snapproc')")
      .collect().map(_.getLong(0)).toSeq
    assert(anc == Seq(cherryId, s1.snapshotId))
    // rollback_to_timestamp to just before the cherry-pick
    val cherryTs = IceTable.load(cat, TableIdentifier.parse("db.snapproc"))
      .metadata.snapshotById(cherryId).get.timestampMs
    spark.sql(s"CALL ice.system.rollback_to_timestamp('db.snapproc', ${cherryTs - 1})")
    assert(spark.table("ice.db.snapproc").count() == evens.count())
    // set_current_snapshot jumps forward again (descendant, any snapshot ok)
    spark.sql(s"CALL ice.system.set_current_snapshot('db.snapproc', $cherryId)")
    assert(spark.table("ice.db.snapproc").count() == raw.count())
    // cherrypick refuses non-append snapshots (replaying a rewrite on a
    // diverged head could resurrect rows)
    val td = IceTable.load(cat, TableIdentifier.parse("db.snapproc"))
    td.delete(spark).deleteWherePositional(
      graft.ice.expr.Expr.lt("o_orderkey", Literal.long(10)))
    val delSnap = IceTable.load(cat, TableIdentifier.parse("db.snapproc"))
      .currentSnapshot.get.snapshotId
    val ex = intercept[Exception] {
      spark.sql(s"CALL ice.system.cherrypick_snapshot('db.snapproc', $delSnap)").collect()
    }
    assert(Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).mkString(" ")
      .contains("append snapshots only"))
  }

  test("staged WAP: wap.id snapshot invisible until publish_changes") {
    val raw = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    val t = IceTable.create(cat, TableIdentifier.parse("db.wapstage"),
      SparkConv.fromSpark(raw.schema))
    val evens = raw.filter("o_orderkey % 2 = 0")
    t.append(spark).appendDataFrame(evens)
    // stage the odd rows under a wap id: NO ref moves, readers see evens
    t.append(spark).stageWithWapId("audit-42")
      .appendDataFrame(raw.filter("o_orderkey % 2 = 1"))
    val t2 = IceTable.load(cat, TableIdentifier.parse("db.wapstage"))
    assert(spark.table("ice.db.wapstage").count() == evens.count(),
      "staged snapshot must be invisible to readers")
    val staged = t2.metadata.snapshots
      .find(_.summary.get("wap.id").contains("audit-42"))
    assert(staged.isDefined, "staged snapshot must exist with wap.id summary")
    assert(!t2.currentSnapshot.map(_.snapshotId).contains(staged.get.snapshotId))
    // audit passes -> publish by wap id
    val res = spark.sql(
      "CALL ice.system.publish_changes('db.wapstage', 'audit-42')")
      .collect().head
    assert(res.getLong(0) == staged.get.snapshotId)
    assert(spark.table("ice.db.wapstage").count() == raw.count())
    // unknown wap id refuses
    val ex = intercept[Exception] {
      spark.sql("CALL ice.system.publish_changes('db.wapstage', 'nope')").collect()
    }
    assert(Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).mkString(" ")
      .contains("no snapshot staged"))
  }

  test("spark.wap.id stages SQL INSERTs until publish_changes") {
    // staging is opt-in PER TABLE (write.wap.enabled, reference
    // table_properties.h:239) — a session conf alone must not hide commits
    spark.sql("CREATE TABLE ice.db.wapsql (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('write.wap.enabled'='true')")
    spark.sql("INSERT INTO ice.db.wapsql VALUES (1, 'a'), (2, 'b')")
    spark.conf.set("spark.wap.id", "w-7")
    try {
      spark.sql("INSERT INTO ice.db.wapsql VALUES (3, 'c')")
      assert(spark.table("ice.db.wapsql").count() == 2,
        "INSERT under spark.wap.id must be invisible")
      // overwrite under wap.id refuses (replaying a rewrite is unsound)
      val ex = intercept[Exception] {
        spark.sql("INSERT OVERWRITE ice.db.wapsql VALUES (9, 'z')")
      }
      assert(Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" ")
        .contains("append writes only"))
    } finally spark.conf.unset("spark.wap.id")
    spark.sql("CALL ice.system.publish_changes('db.wapsql', 'w-7')")
    assert(spark.table("ice.db.wapsql").count() == 3)
    assert(spark.table("ice.db.wapsql").filter(col("k") === 3).count() == 1)
    // duplicate-publication guard: a routine retry of the SAME
    // publish_changes must refuse, not silently re-append the files
    val dup = intercept[Exception] {
      spark.sql("CALL ice.system.publish_changes('db.wapsql', 'w-7')").collect()
    }
    assert(Iterator.iterate(dup: Throwable)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).mkString(" ")
      .contains("already"))
    assert(spark.table("ice.db.wapsql").count() == 3,
      "retried publish must not duplicate rows")
  }

  test("spark.wap.id without write.wap.enabled commits normally, stamped") {
    spark.sql("CREATE TABLE ice.db.wapoff (k BIGINT)")
    spark.conf.set("spark.wap.id", "w-off")
    try {
      spark.sql("INSERT INTO ice.db.wapoff VALUES (1), (2)")
      assert(spark.table("ice.db.wapoff").count() == 2,
        "without write.wap.enabled the INSERT must be immediately visible")
      val t = IceTable.load(cat, TableIdentifier.parse("db.wapoff"))
      assert(t.currentSnapshot.exists(_.summary.get("wap.id").contains("w-off")),
        "wap.id must still be stamped in the committed snapshot's summary")
      // publishing an already-committed wap.id refuses (it IS main)
      val ex = intercept[Exception] {
        spark.sql("CALL ice.system.publish_changes('db.wapoff', 'w-off')").collect()
      }
      assert(Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" ")
        .contains("already"))
    } finally spark.conf.unset("spark.wap.id")
  }

  test("CALL procedures: rollback, expire, rewrite_data_files") {
    val raw = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    val t = IceTable.create(cat, TableIdentifier.parse("db.proc"),
      SparkConv.fromSpark(raw.schema))
    t.append(spark).appendDataFrame(raw.limit(100))
    val first = t.currentSnapshot.get.snapshotId
    t.append(spark).appendDataFrame(raw.limit(50))

    // rollback via CALL
    val rb = spark.sql(s"CALL ice.system.rollback_to_snapshot('db.proc', $first)")
    assert(rb.collect().head.getLong(1) == first)
    val rolled = IceTable.load(cat, TableIdentifier.parse("db.proc"))
    assert(rolled.currentSnapshot.get.snapshotId == first)
    assert(spark.table("ice.db.proc").count() == 100)

    // compaction via CALL: several small files -> fewer, same rows
    val tc = IceTable.create(cat, TableIdentifier.parse("db.proc2"),
      SparkConv.fromSpark(raw.schema))
    (0 until 4).foreach(i =>
      tc.append(spark).appendDataFrame(raw.limit(200).repartition(2)))
    val before = tc.newScan().planFiles().size
    val res = spark.sql("CALL ice.system.rewrite_data_files('db.proc2')").collect().head
    assert(res.getLong(0) == before)
    val after = IceTable.load(cat, TableIdentifier.parse("db.proc2"))
    assert(after.newScan().planFiles().size < before)
    assert(spark.table("ice.db.proc2").count() == 800)

    // expire via CALL — a BARE call defaults older_than to now-5d, so
    // fresh history survives (maintenance-script safety, not silent
    // history loss); an explicit older_than_ms expires what it names
    val bare = spark.sql(
      "CALL ice.system.expire_snapshots('db.proc2', retain_last => 1)")
    assert(bare.collect().head.getLong(0) == 0,
      "bare CALL must not expire snapshots younger than the 5-day default")
    val exp = spark.sql("CALL ice.system.expire_snapshots('db.proc2', " +
      s"older_than_ms => ${System.currentTimeMillis()}, retain_last => 1)")
    assert(exp.collect().head.getLong(0) > 0)
    val left = IceTable.load(cat, TableIdentifier.parse("db.proc2"))
    assert(left.metadata.snapshots.size == 1)

    // statistics procedures: both register files that exist on disk
    val st = spark.sql("CALL ice.system.compute_table_stats('db.proc2', " +
      "columns => 'o_orderkey')").collect().head.getString(0)
    assert(new java.io.File(st).exists())
    val ps = spark.sql("CALL ice.system.compute_partition_stats('db.proc2')")
      .collect().head.getString(0)
    assert(new java.io.File(ps).exists())
  }

  test("CALL create_changelog_view: pairing, net changes, and exclusivity") {
    val raw = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    val t = IceTable.create(cat, TableIdentifier.parse("db.clv"),
      SparkConv.fromSpark(raw.schema))
    t.append(spark).appendDataFrame(raw)
    val src = raw.filter("o_orderkey % 7 = 0")
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    t.merge(spark, src, Seq("o_orderkey"))
      .whenMatchedUpdateAll().withMergeOnRead().commit()
    val nUpd = src.count()

    // identifier pairing: delete+insert of one key in one commit reads
    // as update pre/post through the SQL-registered view
    spark.sql("""CALL ice.system.create_changelog_view(
      table => 'db.clv', identifier_columns => 'o_orderkey')""")
    val byType = spark.table("clv_changes")
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType.get("update_preimage").contains(nUpd))
    assert(byType.get("update_postimage").contains(nUpd))
    // the initial append's rows ride along as plain inserts
    assert(byType.get("insert").contains(raw.count()))

    // net changes over the whole history = the current table as inserts
    spark.sql("""CALL ice.system.create_changelog_view(
      table => 'db.clv', changelog_view => 'clv_net', net_changes => true)""")
    val net = spark.table("clv_net")
    assert(net.filter("_change_type = 'insert'").count() == raw.count())
    assert(net.filter("_change_type = 'delete'").count() == 0)
    assert(!net.columns.contains("_commit_snapshot_id"))

    // the two options are mutually exclusive, as in the reference proc
    assertThrows[Exception](spark.sql(
      """CALL ice.system.create_changelog_view(table => 'db.clv',
        net_changes => true, identifier_columns => 'o_orderkey')""").collect())
  }

  test("SET IDENTIFIER FIELDS drives changelog pairing by default") {
    val raw = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"))
    // identifier fields must be REQUIRED columns
    val schema0 = SparkConv.fromSpark(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("o_orderkey",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("o_totalprice",
          org.apache.spark.sql.types.DoubleType))))
    val t = IceTable.create(cat, TableIdentifier.parse("db.idf"), schema0)
    t.append(spark).appendDataFrame(raw)
    t.updateSchema().setIdentifierFields(Seq("o_orderkey")).commit()
    val t1 = IceTable.load(cat, TableIdentifier.parse("db.idf"))
    val keyId = t1.schema.findFieldByName("o_orderkey").get.id
    assert(t1.schema.identifierFieldIds == Seq(keyId))

    // a nullable or float/double identifier is refused
    assertThrows[Exception](
      t1.updateSchema().setIdentifierFields(Seq("o_totalprice")).commit())

    // MoR merge + create_changelog_view WITHOUT identifier_columns:
    // the declared fields pair the delete+insert into update images
    val src = raw.filter("o_orderkey % 11 = 0")
      .withColumn("o_totalprice", col("o_totalprice") * 3)
    t1.merge(spark, src, Seq("o_orderkey"))
      .whenMatchedUpdateAll().withMergeOnRead().commit()
    spark.sql("""CALL ice.system.create_changelog_view(
      table => 'db.idf', changelog_view => 'idf_changes')""")
    val byType = spark.table("idf_changes")
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType.get("update_preimage").contains(src.count()))
    assert(byType.get("update_postimage").contains(src.count()))

    // clearing identifier fields reverts to the raw delete+insert stream
    IceTable.load(cat, TableIdentifier.parse("db.idf"))
      .updateSchema().clearIdentifierFields().commit()
    assert(IceTable.load(cat, TableIdentifier.parse("db.idf"))
      .schema.identifierFieldIds.isEmpty)
    spark.sql("""CALL ice.system.create_changelog_view(
      table => 'db.idf', changelog_view => 'idf_raw')""")
    val types = spark.table("idf_raw").select("_change_type").distinct()
      .collect().map(_.getString(0)).toSet
    assert(types == Set("insert", "delete"))
  }

  test("aggregate pushdown: COUNT/MIN/MAX answered from manifests, no data read") {
    import graft.ice.connector.GraftAggPushStats
    val raw = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val t = IceTable.create(cat, TableIdentifier.parse("db.aggpush"),
      SparkConv.fromSpark(raw.schema))
    t.append(spark).appendDataFrame(raw.filter("o_orderkey < 1000"))
    t.append(spark).appendDataFrame(raw.filter("o_orderkey >= 1000"))

    val before = GraftAggPushStats.pushes.get()
    val df = spark.sql(
      """SELECT count(*) AS n, count(o_custkey) AS nc,
        |       min(o_orderkey) AS mn, max(o_orderkey) AS mx,
        |       max(o_orderstatus) AS ms, min(o_orderdate) AS md
        |FROM ice.db.aggpush""".stripMargin)
    val got = df.collect().head
    val exp = raw.agg(count(lit(1)), count(col("o_custkey")),
      min("o_orderkey"), max("o_orderkey"),
      max("o_orderstatus"), min("o_orderdate")).collect().head
    assert(got == exp, s"pushed aggregate row $got != computed $exp")
    assert(GraftAggPushStats.pushes.get() == before + 1,
      "the aggregate was not served from metadata")
    // the whole scan is ONE metadata row — no parquet split survives
    val nSplits = df.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputPartitions.size
      }
    assert(nSplits.contains(1), s"expected the single metadata row, got $nSplits")
  }

  test("aggregate pushdown refuses when unprovable: deletes, floats, distinct, long strings") {
    import graft.ice.connector.GraftAggPushStats
    val raw = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .withColumn("widestr", concat(col("o_orderpriority"), lit("-"),
        col("o_orderstatus"), lit("-0123456789abcdef")))
    val t = IceTable.create(cat, TableIdentifier.parse("db.aggref"),
      SparkConv.fromSpark(raw.schema))
    t.append(spark).appendDataFrame(raw)

    def unpushed(sql: String, expected: org.apache.spark.sql.Row): Unit = {
      val before = GraftAggPushStats.pushes.get()
      val got = spark.sql(sql).collect().head
      assert(GraftAggPushStats.pushes.get() == before, s"[$sql] must not push")
      assert(got == expected, s"[$sql] gave $got, expected $expected")
    }
    // double: NaN counts unknown -> bounds cannot prove min/max
    unpushed("SELECT min(o_totalprice) AS m FROM ice.db.aggref",
      raw.agg(min("o_totalprice")).collect().head)
    // string bounds at/beyond the truncate width are inexact
    unpushed("SELECT max(widestr) AS m FROM ice.db.aggref",
      raw.agg(max("widestr")).collect().head)
    // distinct is not representable from per-file metrics
    unpushed("SELECT count(DISTINCT o_orderstatus) AS m FROM ice.db.aggref",
      raw.agg(countDistinct("o_orderstatus")).collect().head)

    // a row-level delete makes counts non-authoritative: refuse + stay correct
    t.delete(spark).deleteWherePositional(
      graft.ice.expr.Expr.lt("o_orderkey", graft.ice.types.Literal.long(100L)))
    val before = GraftAggPushStats.pushes.get()
    val n = spark.sql("SELECT count(*) AS n FROM ice.db.aggref").collect().head.getLong(0)
    assert(GraftAggPushStats.pushes.get() == before, "deletes must block the pushdown")
    assert(n == raw.filter("o_orderkey >= 100").count())
  }

  test("NaN-counted tables push float MIN/MAX; an actual NaN refuses it") {
    import graft.ice.connector.GraftAggPushStats
    val raw = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    val t = IceTable.create(cat, TableIdentifier.parse("db.flpush"),
      SparkConv.fromSpark(raw.schema),
      properties = Map("graft.write.nan-counts" -> "true"))
    t.append(spark).appendDataFrame(raw)
    val before = GraftAggPushStats.pushes.get()
    val got = spark.sql(
      "SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM ice.db.flpush")
      .collect().head
    assert(GraftAggPushStats.pushes.get() == before + 1,
      "zero NaN counts must make the double provable")
    val exp = raw.agg(min("o_totalprice"), max("o_totalprice")).collect().head
    assert(got == exp)

    // one NaN row: Spark's MAX is NaN (NaN sorts above all) — bounds
    // cannot express that, so the pushdown must refuse and the normal
    // plan must answer
    val withNan = raw.withColumn("o_totalprice",
      when(col("o_orderkey") === 1, lit(Double.NaN)).otherwise(col("o_totalprice")))
    val t2 = IceTable.create(cat, TableIdentifier.parse("db.flnan"),
      SparkConv.fromSpark(withNan.schema),
      properties = Map("graft.write.nan-counts" -> "true"))
    t2.append(spark).appendDataFrame(withNan)
    val before2 = GraftAggPushStats.pushes.get()
    val mx = spark.sql("SELECT max(o_totalprice) AS mx FROM ice.db.flnan")
      .collect().head.getDouble(0)
    assert(GraftAggPushStats.pushes.get() == before2, "NaN present: must not push")
    assert(mx.isNaN, "Spark MAX over a NaN-bearing column is NaN")
  }

  test("limit pushdown plans only enough files to cover the limit") {
    val raw = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    val t = IceTable.create(cat, TableIdentifier.parse("db.limited"),
      SparkConv.fromSpark(raw.schema))
    t.append(spark).appendDataFrame(raw.filter("o_orderkey < 500").repartition(1))
    t.append(spark).appendDataFrame(
      raw.filter("o_orderkey >= 500 and o_orderkey < 1000").repartition(1))
    t.append(spark).appendDataFrame(raw.filter("o_orderkey >= 1000").repartition(1))

    val df = spark.table("ice.db.limited").limit(5)
    assert(df.collect().length == 5)
    val nSplits = df.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputPartitions.size
      }
    assert(nSplits.contains(1), s"limit 5 should plan one file, got $nSplits")
    // with a residual filter Spark keeps the limit above the scan: all
    // files planned, result exact
    val filtered = spark.table("ice.db.limited")
      .filter("o_orderkey >= 990").limit(5)
    assert(filtered.collect().length == 5)
  }
}
