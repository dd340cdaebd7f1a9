package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ice._
import graft.ice.catalog._
import graft.ice.expr.{Expr => E}
import graft.ice.meta._
import graft.ice.transform._
import graft.ice.types._

/** End-to-end: catalog -> create -> append -> scan -> DataFrame, the
  * reference's flagship path (demo_example.cc:41-78 / SURVEY §3.1),
  * against real testdata. */
class TableSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmpWarehouse(): String =
    java.nio.file.Files.createTempDirectory("warehouse").toString

  private val sfDir = "/root/testdata/sf0.001"

  test("create + append unpartitioned + scan round trip (lineitem)") {
    val cat = new DirCatalog(tmpWarehouse())
    val raw = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val schema = SparkConv.fromSpark(raw.schema)
    val t = IceTable.create(cat, TableIdentifier.parse("db.lineitem"), schema)

    val snap = t.append(spark).appendDataFrame(raw)
    assert(snap.operation == Some("append"))
    assert(t.currentSnapshot.map(_.snapshotId) == Some(snap.snapshotId))

    val df = t.newScan().toDF(spark)
    assert(df.count() == raw.count())
    // column values survive the round trip
    val a = df.agg(org.apache.spark.sql.functions.sum("l_extendedprice")).head.getDouble(0)
    val b = raw.agg(org.apache.spark.sql.functions.sum("l_extendedprice")).head.getDouble(0)
    assert(math.abs(a - b) < 1e-6)
  }

  test("append twice -> snapshots chain + time travel") {
    val cat = new DirCatalog(tmpWarehouse())
    val raw = spark.read.parquet(s"$sfDir/orders.parquet")
    val schema = SparkConv.fromSpark(raw.schema)
    val t = IceTable.create(cat, TableIdentifier.parse("db.orders"), schema)

    val s1 = t.append(spark).appendDataFrame(raw.limit(100))
    val s2 = t.append(spark).appendDataFrame(raw.limit(50))
    assert(t.snapshots.size == 2)
    assert(s2.parentSnapshotId == Some(s1.snapshotId))
    assert(s2.sequenceNumber == s1.sequenceNumber + 1)

    assert(t.newScan().useSnapshot(s1.snapshotId).toDF(spark).count() == 100)
    assert(t.newScan().toDF(spark).count() == 150)
    // history log ordered
    assert(t.history.map(_.snapshotId) == Seq(s1.snapshotId, s2.snapshotId))
    // reload from catalog sees the same state
    val t2 = IceTable.load(cat, TableIdentifier.parse("db.orders"))
    assert(t2.currentSnapshot.map(_.snapshotId) == Some(s2.snapshotId))
  }

  test("partitioned append (bucket + day) + partition pruning") {
    val cat = new DirCatalog(tmpWarehouse())
    val raw = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val schema = SparkConv.fromSpark(raw.schema)
    val okId = schema.findFieldByName("l_orderkey").get.id
    val sdId = schema.findFieldByName("l_shipdate").get.id
    val spec = PartitionSpec(0, IndexedSeq(
      PartitionField(okId, 1000, "ok_bucket", BucketTransform(4)),
      PartitionField(sdId, 1001, "ship_year", YearTransform)))
    val t = IceTable.create(cat, TableIdentifier.parse("db.lineitem_part"), schema, spec)
    t.append(spark).appendDataFrame(raw)

    val all = t.newScan().planFiles()
    assert(all.nonEmpty)
    // every file has a 2-element partition tuple
    assert(all.forall(_.file.partition.size == 2))

    // filter on the bucketed source column: eq predicate prunes to 1 bucket
    val key = raw.select("l_orderkey").head.getLong(0)
    val expectedBucket = BucketTransform(4)(key, LongT)
    val prunedEq = t.newScan().filter(E.equal("l_orderkey", Literal.long(key))).planFiles()
    assert(prunedEq.nonEmpty)
    assert(prunedEq.forall(_.file.partition(0) == expectedBucket))
    assert(prunedEq.size < all.size)

    // year range prune
    val pruned = t.newScan()
      .filter(E.gtEq("l_shipdate", Literal.string("2001-01-01").castTo(TimestampT).get))
      .planFiles()
    assert(pruned.size < all.size)
    assert(pruned.forall(_.file.partition(1).asInstanceOf[Int] >= 30)) // >= year 2000

    // correctness: pruned scan == full filter on raw data
    val cnt = t.newScan()
      .filter(E.gtEq("l_shipdate", Literal.string("2001-01-01").castTo(TimestampT).get))
      .toDF(spark).count()
    val expected = raw.filter("l_shipdate >= timestamp_ntz'2001-01-01 00:00:00'").count()
    assert(cnt == expected)
  }

  test("metrics-based file pruning on unpartitioned table") {
    val cat = new DirCatalog(tmpWarehouse())
    val raw = spark.read.parquet(s"$sfDir/orders.parquet")
    val schema = SparkConv.fromSpark(raw.schema)
    val t = IceTable.create(cat, TableIdentifier.parse("db.orders_m"), schema)
    // two appends with disjoint key ranges -> bounds separate the files
    t.append(spark).appendDataFrame(raw.filter("o_orderkey < 1000"))
    t.append(spark).appendDataFrame(raw.filter("o_orderkey >= 1000"))

    val all = t.newScan().planFiles()
    val pruned = t.newScan().filter(E.lt("o_orderkey", Literal.long(500))).planFiles()
    assert(pruned.size < all.size, s"expected bounds pruning: ${pruned.size} < ${all.size}")

    // pruning safety: row counts agree with raw
    val cnt = t.newScan().filter(E.lt("o_orderkey", Literal.long(500))).toDF(spark).count()
    assert(cnt == raw.filter("o_orderkey < 500").count())
  }

  test("projection reads only selected columns") {
    val cat = new DirCatalog(tmpWarehouse())
    val raw = spark.read.parquet(s"$sfDir/nation.parquet")
    val schema = SparkConv.fromSpark(raw.schema)
    val t = IceTable.create(cat, TableIdentifier.parse("db.nation"), schema)
    t.append(spark).appendDataFrame(raw)
    val df = t.newScan().select("n_name").toDF(spark)
    assert(df.columns.toSeq == Seq("n_name"))
    assert(df.count() == raw.count())
  }

  test("addFiles registers external parquet without rewrite") {
    val cat = new DirCatalog(tmpWarehouse())
    val raw = spark.read.parquet(s"$sfDir/region.parquet")
    val schema = SparkConv.fromSpark(raw.schema)
    val t = IceTable.create(cat, TableIdentifier.parse("db.region"), schema)
    t.append(spark).addFiles(Seq(s"$sfDir/region.parquet"))
    val df = t.newScan().toDF(spark)
    assert(df.count() == raw.count())
    assert(df.columns.toSeq == raw.columns.toSeq)
  }

  test("metadata columns _file/_pos/_spec_id/_partition are selectable") {
    val cat = new DirCatalog(tmpWarehouse())
    val raw = spark.read.parquet(s"$sfDir/orders.parquet")
    val schema = SparkConv.fromSpark(raw.schema)
    val od = schema.findFieldByName("o_orderdate").get.id
    val spec = PartitionSpec(0, IndexedSeq(PartitionField(od, 1000, "order_year", YearTransform)))
    val t = IceTable.create(cat, TableIdentifier.parse("db.metacols"), schema, spec)
    t.append(spark).appendDataFrame(raw)
    val df = t.newScan()
      .withMetadataColumns("_file", "_pos", "_spec_id", "_partition").toDF(spark)
    assert(df.count() == raw.count())
    val files = t.newScan().planFiles()
    // _file values are exactly the planned data files
    val fileVals = df.select("_file").distinct().collect().map(_.getString(0)).toSet
    assert(fileVals == files.map(f =>
      graft.ice.manifest.ManifestAvro.stripFileScheme(f.file.filePath)).toSet)
    // _pos is a per-file row index starting at 0
    import org.apache.spark.sql.functions._
    val posAgg = df.groupBy("_file").agg(min("_pos").as("p0"), max("_pos").as("p1"),
      count(lit(1)).as("n")).collect()
    posAgg.foreach { r =>
      assert(r.getLong(r.fieldIndex("p0")) == 0L)
      assert(r.getLong(r.fieldIndex("p1")) == r.getLong(r.fieldIndex("n")) - 1)
    }
    // _partition carries the year transform value; _spec_id is 0
    assert(df.select("_spec_id").distinct().collect().map(_.getInt(0)).toSeq == Seq(0))
    val parts = df.select("_partition").distinct().collect().map(_.getString(0)).toSet
    assert(parts == files.map(_.file.partition.head.toString).toSet)
    // non-requested scans are unchanged
    assert(!t.newScan().toDF(spark).columns.contains("_file"))
  }

  test("namespace CRUD: create, list nested, properties, drop") {
    val cat = new DirCatalog(tmpWarehouse())
    cat.createNamespace(Seq("a"), Map("owner" -> "etl"))
    cat.createNamespace(Seq("a", "b"))
    cat.createNamespace(Seq("c"))
    assert(cat.namespaceExists(Seq("a")))
    assert(cat.listNamespaces().map(_.mkString(".")) == Seq("a", "c"))
    assert(cat.listNamespaces(Seq("a")) == Seq(Seq("a", "b")))
    assert(cat.loadNamespaceProperties(Seq("a")) == Map("owner" -> "etl"))
    cat.updateNamespaceProperties(Seq("a"), Map("retention" -> "30d"), Set("owner"))
    assert(cat.loadNamespaceProperties(Seq("a")) == Map("retention" -> "30d"))
    assertThrows[AlreadyExistsException](cat.createNamespace(Seq("a")))
    assertThrows[NoSuchNamespaceException](cat.loadNamespaceProperties(Seq("zz")))
    // non-empty namespaces refuse to drop; tables are not namespaces
    val raw = spark.read.parquet(s"$sfDir/region.parquet")
    val t = IceTable.create(cat, TableIdentifier.parse("a.b.reg"),
      SparkConv.fromSpark(raw.schema))
    assert(cat.listTables(Seq("a", "b")) == Seq(TableIdentifier(Seq("a", "b"), "reg")))
    assert(cat.listNamespaces(Seq("a", "b")).isEmpty)
    assertThrows[IllegalStateException](cat.dropNamespace(Seq("a", "b")))
    assertThrows[IllegalStateException](cat.dropNamespace(Seq("a")))
    cat.dropTable(TableIdentifier.parse("a.b.reg"), purge = true)
    assert(cat.dropNamespace(Seq("a", "b")))
    assert(cat.dropNamespace(Seq("a")))
    assert(!cat.namespaceExists(Seq("a")))
  }

  test("name mapping resolves id-less files after a rename") {
    import graft.ice.meta.{MappedField, NameMapping}
    // id-less parquet with the ORIGINAL column names
    val dir = java.nio.file.Files.createTempDirectory("nm").toString
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "false")
    spark.range(10).selectExpr("id", "concat('row-', id) AS name")
      .coalesce(1).write.parquet(s"$dir/data")
    val file = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$dir/data"))
      .iterator.asScala.map(_.toString).filter(_.endsWith(".parquet")).toSeq.head

    // table whose CURRENT names differ (as after a rename); the mapping
    // records the names the files were written under
    val mapping = NameMapping(Seq(
      MappedField(Some(1), Seq("id")),
      MappedField(Some(2), Seq("name"))))
    val schema = Schema(0, IndexedSeq(
      NestedField(1, "record_id", LongT, required = false),
      NestedField(2, "label", StringT, required = false)))
    val cat = new DirCatalog(tmpWarehouse())
    val t = IceTable.create(cat, TableIdentifier.parse("db.nm"), schema,
      properties = Map(NameMapping.PropertyKey -> mapping.toJson))
    t.append(spark).addFiles(Seq(file))

    val df = t.newScan().toDF(spark)
    assert(df.columns.toSeq == Seq("record_id", "label"))
    assert(df.count() == 10)
    assert(df.where("record_id = 3").select("label").head.getString(0) == "row-3")
    assert(df.where("label IS NULL").count() == 0, "mapping must resolve columns")

    // WITHOUT the mapping the same file name-matches nothing -> nulls
    val t2 = IceTable.create(cat, TableIdentifier.parse("db.nm2"), schema)
    t2.append(spark).addFiles(Seq(file))
    assert(t2.newScan().toDF(spark).where("label IS NULL").count() == 10)

    // serde round-trips the spec JSON shape (name_mapping.h:40-144)
    val json = mapping.toJson
    assert(NameMapping.fromJson(json) == mapping)
    val nested = NameMapping.fromJson(
      """[{"field-id":5,"names":["loc"],"fields":[{"field-id":6,"names":["lat","latitude"]}]}]""")
    assert(nested.fields.head.fields.head.names == Seq("lat", "latitude"))
    assert(NameMapping.fromJson(nested.toJson) == nested)
  }

  test("distributed planning matches driver planning and bounds driver memory") {
    val cat = new DirCatalog(tmpWarehouse())
    val raw = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val schema = SparkConv.fromSpark(raw.schema)
    val okId = schema.findFieldByName("l_orderkey").get.id
    val spec = PartitionSpec(0, IndexedSeq(
      PartitionField(okId, 1000, "ok_bucket", BucketTransform(4))))
    val t = IceTable.create(cat, TableIdentifier.parse("db.plandist"), schema, spec)
    t.append(spark).appendDataFrame(raw)
    t.append(spark).appendDataFrame(raw.limit(500))
    val filter = E.lt("l_orderkey", Literal.long(1000))
    val driverPlan = t.newScan().filter(filter).planFiles()
    assert(driverPlan.nonEmpty)
    // force the distributed path: same pruning decisions, same files, and
    // the surviving entries come back with metric maps STRIPPED (bounds
    // have served their purpose on the executors; at millions of files
    // they are the dominant share of driver planning memory)
    t.newTransaction(spark)
      .setProperty("graft.plan.distributed-threshold", "0").commitTransaction()
    val distPlan = t.newScan().filter(filter).planFiles()
    assert(distPlan.map(_.file.filePath).sorted == driverPlan.map(_.file.filePath).sorted)
    assert(distPlan.map(t => (t.specId, t.dataSequenceNumber, t.snapshotId)).toSet ==
      driverPlan.map(t => (t.specId, t.dataSequenceNumber, t.snapshotId)).toSet)
    assert(distPlan.forall(e => e.file.lowerBounds.isEmpty && e.file.upperBounds.isEmpty
      && e.file.valueCounts.isEmpty))
    // scan results identical through the distributed plan
    val cnt = t.newScan().filter(filter).toDF(spark).count()
    assert(cnt == raw.filter("l_orderkey < 1000").count() +
      raw.limit(500).filter("l_orderkey < 1000").count())
  }

  test("distributed planning handles a 100k-entry manifest") {
    val cat = new DirCatalog(tmpWarehouse())
    val raw = spark.read.parquet(s"$sfDir/region.parquet")
    val schema = SparkConv.fromSpark(raw.schema)
    val t = IceTable.create(cat, TableIdentifier.parse("db.bigplan"), schema)
    t.append(spark).appendDataFrame(raw)
    // hand-build a snapshot whose single manifest holds 100k FAT entries
    // (per-column bounds maps) — the shape of a ~10 TB single-partition
    // append — and plan it through the executor path
    import graft.ice.manifest._
    import graft.ice.meta.MetaJson
    val keyId = schema.fields.head.id
    val entries = (0 until 100000).map { i =>
      ManifestEntry(ManifestStatus.Added, Some(99L), Some(9L), Some(9L),
        DataFile(FileContent.Data, f"/data/big/f$i%06d.parquet", "PARQUET",
          IndexedSeq.empty, recordCount = 10L, fileSizeInBytes = 1000L,
          valueCounts = Map(keyId -> 10L),
          lowerBounds = Map(keyId -> Array[Byte](0, 0, 0, i.toByte)),
          upperBounds = Map(keyId -> Array[Byte](0, 0, 0, 127))))
    }
    val schemaJson = MetaJson.schemaToJson(schema).toString
    val specJson = MetaJson.specToJson(PartitionSpec.unpartitioned).get("fields").toString
    val mf = ManifestAvro.writeManifest(s"${t.metadataFileDir}/big-m0.avro",
      entries, graft.ice.types.StructT(IndexedSeq.empty), 0, 99L, 9L,
      schemaJson = schemaJson, specFieldsJson = specJson, formatVersion = 2)
    val listPath = s"${t.metadataFileDir}/snap-99-big.avro"
    ManifestAvro.writeManifestList(listPath, IndexedSeq(mf), 99L,
      t.currentSnapshot.map(_.snapshotId), 9L, formatVersion = 2)
    val snap = Snapshot(99L, t.currentSnapshot.map(_.snapshotId), 9L,
      System.currentTimeMillis(), listPath, Map("operation" -> "append"),
      schemaId = Some(0))
    t.commit(base => base.withSnapshot(snap))
    t.newTransaction(spark)
      .setProperty("graft.plan.distributed-threshold", "1000").commitTransaction()
    val planned = t.newScan().planFiles()
    // the crafted manifest list REPLACES the append's (hand-built snapshot)
    assert(planned.size == 100000)
    assert(planned.forall(e => e.file.lowerBounds.isEmpty && e.file.valueCounts.isEmpty),
      "entries must come back slim")
    assert(planned.map(_.file.recordCount).sum == 100000L * 10)
  }

  test("commit retry: max-wait caps one sleep, total-timeout bounds the loop") {
    // a catalog that loses every race once armed: the retry loop can only
    // end via num-retries or the total-timeout deadline
    class ConflictCatalog(dir: String) extends DirCatalog(dir) {
      @volatile var armed = false
      @volatile var attempts = 0
      override def commit(ident: TableIdentifier, baseVersion: Int,
          updated: graft.ice.meta.TableMetadata): Int = {
        if (armed) { attempts += 1; throw new CommitFailedException("induced conflict") }
        else super.commit(ident, baseVersion, updated)
      }
    }
    val raw = spark.read.parquet(s"$sfDir/region.parquet")
    val schema = SparkConv.fromSpark(raw.schema)

    // per-sleep cap: 4 retries at min-wait 50ms would back off 50+100+200+400
    // = 750ms uncapped; max-wait-ms 60 caps it at 50+60+60 = 170ms of sleep
    val cat1 = new ConflictCatalog(tmpWarehouse())
    val t1 = IceTable.create(cat1, TableIdentifier.parse("db.rw"), schema,
      properties = Map(
        "commit.retry.num-retries" -> "3",
        "commit.retry.min-wait-ms" -> "50",
        "commit.retry.max-wait-ms" -> "60"))
    cat1.armed = true
    val start1 = System.currentTimeMillis()
    intercept[CommitFailedException](t1.updateSchema().addColumn("x", IntT).commit())
    val elapsed1 = System.currentTimeMillis() - start1
    assert(cat1.attempts == 4) // 1 initial + 3 retries
    assert(elapsed1 < 600, s"uncapped backoff would sleep 750ms; took ${elapsed1}ms")

    // total-timeout: effectively unlimited retries, but the 150ms budget
    // must end the loop with a loud budget-exhausted failure
    val cat2 = new ConflictCatalog(tmpWarehouse())
    val t2 = IceTable.create(cat2, TableIdentifier.parse("db.rw2"), schema,
      properties = Map(
        "commit.retry.num-retries" -> "1000000",
        "commit.retry.min-wait-ms" -> "20",
        "commit.retry.max-wait-ms" -> "20",
        "commit.retry.total-timeout-ms" -> "150"))
    cat2.armed = true
    val start2 = System.currentTimeMillis()
    val e = intercept[CommitFailedException](
      t2.updateSchema().addColumn("x", IntT).commit())
    val elapsed2 = System.currentTimeMillis() - start2
    assert(e.getMessage.contains("total-timeout"), e.getMessage)
    assert(elapsed2 < 5000, s"deadline not enforced: ${elapsed2}ms")
    assert(cat2.attempts < 100, s"made ${cat2.attempts} attempts in 150ms budget")
  }

  test("concurrent-commit loser retries and succeeds") {
    val cat = new DirCatalog(tmpWarehouse())
    val raw = spark.read.parquet(s"$sfDir/region.parquet")
    val schema = SparkConv.fromSpark(raw.schema)
    val t1 = IceTable.create(cat, TableIdentifier.parse("db.cc"), schema)
    val t2 = IceTable.load(cat, TableIdentifier.parse("db.cc"))
    // both handles commit; the second sees a stale version and must retry
    t1.append(spark).addFiles(Seq(s"$sfDir/region.parquet"))
    t2.append(spark).addFiles(Seq(s"$sfDir/region.parquet"))
    val fresh = IceTable.load(cat, TableIdentifier.parse("db.cc"))
    assert(fresh.snapshots.size == 2)
    assert(fresh.newScan().toDF(spark).count() == raw.count() * 2)
  }

  test("file-list scan path (ManifestFileIndex) matches the default path") {
    import org.apache.spark.sql.functions._
    val cat = new DirCatalog(tmpWarehouse())
    val raw = spark.read.parquet(s"$sfDir/orders.parquet")
    val schema = SparkConv.fromSpark(raw.schema)
    // every parquet read of toDF goes through ManifestFileIndex
    val t = IceTable.create(cat, TableIdentifier.parse("db.flist"), schema)
    t.append(spark).appendDataFrame(raw.limit(400))
    t.append(spark).appendDataFrame(raw.limit(800).except(raw.limit(400)))

    val df = t.newScan().toDF(spark)
    assert(df.count() == 800)
    // oracle: the path-list read of the same planned files
    val paths = t.newScan().planFiles()
      .map(f => graft.ice.manifest.ManifestAvro.stripFileScheme(f.file.filePath))
    val oracle = spark.read.parquet(paths: _*)
    def sorted(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toString).sorted.toSeq
    assert(sorted(df) == sorted(oracle))
    // the plan carries the metadata-fed index, not an InMemoryFileIndex
    // path list (the driver-object bug this path removes)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ManifestFileIndex"), plan.take(2000))
    // parquet pushdown survives: filter reaches the scan
    val filtered = t.newScan()
      .filter(E.gt("o_totalprice", Literal.double(100000.0))).toDF(spark)
    val fplan = filtered.queryExecution.executedPlan.toString
    assert(fplan.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice"), fplan.take(3000))
    assert(filtered.count() ==
      raw.limit(800).where(col("o_totalprice") > 100000.0).count())
    assert(sorted(filtered) == sorted(oracle.where(col("o_totalprice") > 100000.0)))
    // values survive, not just counts
    val a = df.agg(sum("o_totalprice")).head.getDouble(0)
    val b = raw.limit(800).agg(sum("o_totalprice")).head.getDouble(0)
    assert(math.abs(a - b) < 1e-6)

    // metadata columns (_file/_pos feed the MoR delete join) still resolve
    // through the custom FileIndex
    val withMeta = t.newScan().withMetadataColumns("_file", "_pos").toDF(spark)
    val files = withMeta.select("_file").distinct().collect().map(_.getString(0))
    assert(files.length == 2, files.toSeq)
    assert(files.forall(f => f.endsWith(".parquet")))
    assert(withMeta.where(col("_pos") === 0).count() == 2)
    // _file/_pos agree with the path-list read's _metadata columns
    def filePos(d: org.apache.spark.sql.DataFrame, file: String, pos: String) =
      d.select(regexp_replace(col(file), "^file:/*", "/"), col(pos)).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(filePos(withMeta, "_file", "_pos") ==
      filePos(oracle, "_metadata.file_path", "_metadata.row_index"))
  }

  test("file-list scan path executes MoR position deletes") {
    import org.apache.spark.sql.functions._
    val cat = new DirCatalog(tmpWarehouse())
    val raw = spark.read.parquet(s"$sfDir/region.parquet")
    val schema = SparkConv.fromSpark(raw.schema)
    val t = IceTable.create(cat, TableIdentifier.parse("db.flistdel"), schema,
      properties = Map("write.delete.mode" -> "merge-on-read"))
    t.append(spark).appendDataFrame(raw)
    t.delete(spark).deleteWherePositional(E.lt("r_regionkey", Literal.long(2)))
    val after = t.newScan().toDF(spark)
    assert(after.count() == raw.where(col("r_regionkey") >= 2).count())
    assert(after.agg(min("r_regionkey")).head.getAs[Number](0).longValue >= 2L)
    // oracle: the path-list read of the planned data files, minus the
    // deleted rows
    val paths = t.newScan().planFiles()
      .map(f => graft.ice.manifest.ManifestAvro.stripFileScheme(f.file.filePath))
    val oracle = spark.read.parquet(paths: _*).where(col("r_regionkey") >= 2)
    assert(after.collect().map(_.toString).sorted.toSeq ==
      oracle.collect().map(_.toString).sorted.toSeq)
  }
}
