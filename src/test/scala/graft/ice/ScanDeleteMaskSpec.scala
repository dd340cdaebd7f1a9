package graft.ice

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ice.catalog._
import graft.ice.expr.{Binder, Expr => E, ToColumn}
import graft.ice.manifest._
import graft.ice.meta.DataOperation
import graft.ice.types.{Literal, SparkConv}

/** Merge-on-read position deletes and deletion vectors applied inside
  * the scan task of `ScanBuilder.toDF` (`PositionDeletes`): no join, no
  * extra job, and the same rows as a plain-Spark oracle across splits,
  * skipped row groups, overlapping delete files, sequence numbers,
  * `_deleted` marking and mixed position + equality deletes. The
  * warehouse path holds a space, so every case also checks that Spark's
  * percent-encoded file paths meet the plain manifest paths. */
class ScanDeleteMaskSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val warehouse = {
    val dir = java.nio.file.Files.createTempDirectory("maskwh").resolve("w h")
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
  private def raw = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")

  private def mkTable(name: String, version: Int, df: DataFrame = raw.repartition(3),
      props: Map[String, String] = Map.empty): IceTable = {
    val t = IceTable.create(cat, TableIdentifier.parse(s"db.$name"),
      SparkConv.fromSpark(df.schema),
      properties = props + ("format-version" -> version.toString))
    t.append(spark).appendDataFrame(df)
    t
  }

  private def load(name: String) = IceTable.load(cat, TableIdentifier.parse(s"db.$name"))

  /** Rows of `got` and `want` agree as multisets. */
  private def assertSameRows(got: DataFrame, want: DataFrame, what: String): Unit = {
    val g = got.select(want.columns.map(col): _*)
    assert(g.exceptAll(want).isEmpty && want.exceptAll(g).isEmpty,
      s"$what: ${g.count()} rows, oracle ${want.count()}")
  }

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

  for ((version, how) <- Seq(2 -> "position deletes", 3 -> "deletion vectors")) {
    test(s"v$version $how run as many jobs as the compacted table, with no join") {
      val name = s"jobs_v$version"
      val t = mkTable(name, version)
      val cond = E.raw("o_orderkey % 7 = 0")
      if (version == 2) t.delete(spark).deleteWherePositional(cond)
      else t.delete(spark).deleteWhereDV(cond)
      val keys = raw.filter("o_orderkey >= 100 AND o_orderkey < 4000")
      def agg(tt: IceTable) = tt.newScan()
        .filter(E.and(E.gtEq("o_orderkey", Literal.long(100)), E.lt("o_orderkey", Literal.long(4000))))
        .toDF(spark).agg(count(lit(1)), sum("o_totalprice"))
      val want = keys.filter("o_orderkey % 7 != 0")
        .agg(count(lit(1)), sum("o_totalprice")).head()

      val withDeletes = load(name)
      assert(withDeletes.planDeleteEntries(withDeletes.currentSnapshot.get).nonEmpty)
      val q = agg(withDeletes)
      assert(!q.queryExecution.optimizedPlan.toString.contains("Join"),
        q.queryExecution.optimizedPlan.toString)
      assert(q.queryExecution.optimizedPlan.toString.contains("graft_position_deletes"))
      var got: org.apache.spark.sql.Row = null
      val masked = jobsFor { got = agg(withDeletes).head() }
      assert(got.getLong(0) == want.getLong(0))
      assert(math.abs(got.getDouble(1) - want.getDouble(1)) < 1e-6)

      load(name).compact(spark).rewriteDataFiles()
      val compacted = load(name)
      assert(compacted.planDeleteEntries(compacted.currentSnapshot.get).isEmpty)
      var after: org.apache.spark.sql.Row = null
      val plain = jobsFor { after = agg(compacted).head() }
      assert(after.getLong(0) == want.getLong(0))
      assert(masked == plain, s"jobs with deletes $masked, after compaction $plain")
    }
  }

  test("several splits, skipped row groups and overlapping delete files match the oracle") {
    val big = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
      .orderBy("o_orderkey").coalesce(1)
    val t = IceTable.create(cat, TableIdentifier.parse("db.splits"),
      SparkConv.fromSpark(big.schema),
      properties = Map("write.parquet.row-group-size-bytes" -> "32768"))
    t.append(spark).appendDataFrame(big)
    val files = t.newScan().planFiles()
    assert(files.size == 1)
    val path = ManifestAvro.stripFileScheme(files.head.file.filePath)
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), new org.apache.hadoop.conf.Configuration()))
    val rowGroups = try footer.getRowGroups.size finally footer.close()
    assert(rowGroups >= 4, s"row groups: $rowGroups")

    // two delete files that both cover keys divisible by 15
    t.delete(spark).deleteWherePositional(E.raw("o_orderkey % 5 = 0"))
    load("splits").delete(spark).deleteWherePositional(E.raw("o_orderkey % 3 = 0"))
    val live = big.filter("o_orderkey % 5 != 0 AND o_orderkey % 3 != 0")

    val prior = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
    try {
      val all = load("splits").newScan().toDF(spark)
      assert(all.rdd.getNumPartitions > 1, "the file must read as several splits")
      assertSameRows(all, live, "whole table")
      // a key range inside the file: row groups outside it are skipped
      // by the parquet reader, and row_index stays file-relative
      val lo = 20000L; val hi = 30000L
      val ranged = load("splits").newScan()
        .filter(E.and(E.gtEq("o_orderkey", Literal.long(lo)), E.lt("o_orderkey", Literal.long(hi))))
        .toDF(spark)
      assertSameRows(ranged, live.filter(col("o_orderkey") >= lo && col("o_orderkey") < hi),
        "key range")
      assertSameRows(spark.table("ice.db.splits"), live, "connector read")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prior)
  }

  test("a position delete never applies to a data file added after it") {
    val t = mkTable("seq", 2, raw.coalesce(1))
    assert(t.newScan().planFiles().size == 1)
    val first = ManifestAvro.stripFileScheme(t.newScan().planFiles().head.file.filePath)
    val scratch = java.nio.file.Files.createTempDirectory("maskseq").toString
    val extPath = s"$scratch/ext"
    raw.limit(50).withColumn("o_orderkey", col("o_orderkey") + 1000000L)
      .coalesce(1).write.parquet(extPath)
    val ext = new java.io.File(extPath).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).head

    // one delete file naming positions of the first file and of a file
    // that joins the table only in the next commit
    import spark.implicits._
    val delDir = s"$scratch/del"
    ((0L until 3L).map(first -> _) ++ (0L until 5L).map(ext -> _))
      .toDF("file_path", "pos").coalesce(1).write.parquet(delDir)
    val delFile = new java.io.File(delDir).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).head
    write.SnapshotProducer.commit(t, spark, DataOperation.Delete, Nil,
      addedDeleteEntries = Seq(ManifestEntry(ManifestStatus.Added, None, None, None,
        DataFile(FileContent.PositionDeletes, delFile, "PARQUET", IndexedSeq.empty,
          recordCount = 8L, fileSizeInBytes = new java.io.File(delFile).length()))))
    load("seq").append(spark).addFiles(Seq(ext))

    val want = spark.read.parquet(first).filter(col("_metadata.row_index") >= 3)
      .unionByName(spark.read.parquet(ext))
    assertSameRows(load("seq").newScan().toDF(spark), want, "scan")
    assertSameRows(spark.table("ice.db.seq"), want, "connector read")
  }

  test("_deleted marks position and equality deletes on the same file") {
    val t = mkTable("mark", 2, raw.coalesce(1))
    assert(t.newScan().planFiles().size == 1)
    t.delete(spark).deleteWherePositional(E.raw("o_orderkey % 4 = 0"))
    import spark.implicits._
    val eqKeys = raw.filter("o_orderkey % 6 = 1").select("o_orderkey")
    load("mark").delete(spark).deleteByEquality(eqKeys)
    val dead = col("o_orderkey") % 4 === 0 || col("o_orderkey") % 6 === 1

    assertSameRows(load("mark").newScan().toDF(spark), raw.filter(!dead), "filtered")
    val marked = load("mark").newScan().withMetadataColumns("_deleted", "_pos").toDF(spark)
    assertSameRows(marked.drop("_pos"), raw.withColumn("_deleted", dead), "marked")
    // _pos stays the file position of each row
    val first = ManifestAvro.stripFileScheme(load("mark").newScan().planFiles().head.file.filePath)
    assertSameRows(marked.select("o_orderkey", "_pos"),
      spark.read.parquet(first).select(col("o_orderkey"), col("_metadata.row_index").as("_pos")),
      "positions")
    assertSameRows(spark.table("ice.db.mark"), raw.filter(!dead), "connector read")
  }

  for (version <- Seq(2, 3)) {
    test(s"v$version deletes under a warehouse path with a space: API and SQL reads agree") {
      val name = s"spaced_v$version"
      val hundred = raw.orderBy("o_orderkey").limit(100)
      val t = mkTable(name, version, hundred.repartition(3))
      assert(t.location.contains(" "), t.location)
      val cond = E.lt("o_orderkey", Literal.long(hundred.agg(min("o_orderkey")).head().getLong(0) + 30))
      if (version == 2) t.delete(spark).deleteWherePositional(cond)
      else t.delete(spark).deleteWhereDV(cond)
      val live = hundred.filter(!ToColumn(Binder.bind(cond, load(name).schema)))
      assert(live.count() < 100)
      assertSameRows(load(name).newScan().toDF(spark), live, "toDF")
      assert(spark.sql(s"SELECT count(*) FROM ice.db.$name").head().getLong(0) == live.count())
      assertSameRows(spark.table(s"ice.db.$name"), live, "SQL")
      // the written delete names the data file as its manifest does
      val dataPaths = load(name).newScan().planFiles()
        .map(f => ManifestAvro.stripFileScheme(f.file.filePath)).toSet
      val e = load(name).planDeleteEntries(load(name).currentSnapshot.get)
      if (version == 3)
        assert(e.flatMap(_.dataFile.referencedDataFile).map(ManifestAvro.stripFileScheme)
          .forall(dataPaths), e.flatMap(_.dataFile.referencedDataFile))
      else {
        val named = spark.read.parquet(e.map(x => ManifestAvro.stripFileScheme(x.dataFile.filePath)): _*)
          .select("file_path").distinct().collect().map(_.getString(0)).toSet
        assert(named.forall(dataPaths), named)
      }
    }
  }

  /** The orders rows shifted to new keys, written by plain Spark as one
    * parquet file without field ids, and that file's path. */
  private def idLessFile(): (DataFrame, String) = {
    val scratch = java.nio.file.Files.createTempDirectory("maskidless").toString
    val ext = raw.withColumn("o_orderkey", col("o_orderkey") + 1000000L)
    ext.coalesce(1).write.parquet(scratch + "/ext")
    (ext, new java.io.File(scratch + "/ext").listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).head)
  }

  test("compaction of a table holding an id-less addFiles file keeps every row") {
    val (ext, file) = idLessFile()
    val t = mkTable("idless", 2)
    load("idless").append(spark).addFiles(Seq(file))
    assert(load("idless").newScan().planFiles().size >= 2)
    load("idless").compact(spark).rewriteDataFiles(smallFileThreshold = Long.MaxValue)
    val after = load("idless")
    assert(after.currentSnapshot.get.summary.contains("compacted-files"))
    assertSameRows(after.newScan().toDF(spark), raw.unionByName(ext), "compacted")
  }

  test("a copy-on-write merge over a table holding an id-less addFiles file updates both files") {
    val (ext, file) = idLessFile()
    mkTable("mergeidless", 2, raw.coalesce(1))
    load("mergeidless").append(spark).addFiles(Seq(file))
    val all = raw.unionByName(ext)
    val updates = all.filter(col("o_orderkey") % 5 === 0)
      .withColumn("o_orderstatus", lit("M"))
    load("mergeidless").merge(spark, updates, Seq("o_orderkey")).whenMatchedUpdateAll().commit()
    assertSameRows(load("mergeidless").newScan().toDF(spark),
      all.filter(col("o_orderkey") % 5 =!= 0).unionByName(updates), "merged")
  }

  test("changes and net changes over an own append plus an id-less addFiles file") {
    val (ext, file) = idLessFile()
    mkTable("cdcidless", 2, raw.coalesce(1))
    val from = load("cdcidless").currentSnapshot.get.snapshotId
    load("cdcidless").append(spark).addFiles(Seq(file))
    load("cdcidless").delete(spark).deleteWherePositional(E.raw("o_orderkey % 5 = 0"))
    val t = load("cdcidless")
    val to = t.currentSnapshot.get.snapshotId
    val all = raw.unionByName(ext)
    def kind(df: DataFrame, k: String) = df.filter(col("_change_type") === k)
    val changes = t.planChanges(spark, from, to)
    assertSameRows(kind(changes, "insert"), ext, "inserted rows")
    assertSameRows(kind(changes, "delete"), all.filter(col("o_orderkey") % 5 === 0),
      "deleted rows")
    val net = t.planNetChanges(spark, from, to)
    assertSameRows(kind(net, "insert"), ext.filter(col("o_orderkey") % 5 =!= 0),
      "net inserts")
    assertSameRows(kind(net, "delete"), raw.filter(col("o_orderkey") % 5 === 0),
      "net deletes")
  }
}
