package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ice._
import graft.ice.catalog._
import graft.ice.expr.{Expr => E}
import graft.ice.manifest.FileContent
import graft.ice.meta._
import graft.ice.transform._
import graft.ice.types._

/** M5 write surface: schema evolution, deletes (CoW + MoR), compaction,
  * overwrite, branches/tags, snapshot expiry. */
class WriteOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val sfDir = "/root/testdata/sf0.001"
  private def freshTable(name: String, src: String = "orders",
      spec: Schema => PartitionSpec = _ => PartitionSpec.unpartitioned): (IceTable, org.apache.spark.sql.DataFrame) = {
    val cat = new DirCatalog(java.nio.file.Files.createTempDirectory("wh").toString)
    val raw = spark.read.parquet(s"$sfDir/$src.parquet")
    val schema = SparkConv.fromSpark(raw.schema)
    val t = IceTable.create(cat, TableIdentifier.parse(s"db.$name"), schema, spec(schema))
    t.append(spark).appendDataFrame(raw)
    (t, raw)
  }

  test("write.format.default=avro: engine writes avro files, scan dispatches") {
    val cat = new DirCatalog(java.nio.file.Files.createTempDirectory("whav").toString)
    val raw = spark.read.parquet(s"$sfDir/nation.parquet")
    val schema = SparkConv.fromSpark(raw.schema)
    val t = IceTable.create(cat, TableIdentifier.parse("db.avw"), schema,
      properties = Map("write.format.default" -> "avro"))
    t.append(spark).appendDataFrame(raw)
    val entries = t.newScan().planFiles()
    assert(entries.nonEmpty)
    assert(entries.forall(_.file.fileFormat == "AVRO"))
    assert(entries.forall(_.file.filePath.endsWith(".avro")))
    // counts were recorded at write time, no re-read
    assert(entries.map(_.file.recordCount).sum == raw.count())
    val back = t.newScan().toDF(spark)
    assert(back.count() == raw.count())
    assert(back.schema.fieldNames.sameElements(raw.schema.fieldNames))
    // partitioned avro writes are rejected loudly
    val t2 = IceTable.create(cat, TableIdentifier.parse("db.avwpart"), schema,
      spec = PartitionSpec(0, IndexedSeq(graft.ice.meta.PartitionField(
        schema.fields.head.id, 1000, "p", graft.ice.transform.IdentityTransform))),
      properties = Map("write.format.default" -> "avro"))
    intercept[IllegalArgumentException](t2.append(spark).appendDataFrame(raw))
  }

  test("avro data files resolve renamed columns by field id") {
    val cat = new DirCatalog(java.nio.file.Files.createTempDirectory("whavr").toString)
    val raw = spark.read.parquet(s"$sfDir/nation.parquet")
    val schema = SparkConv.fromSpark(raw.schema)
    val t = IceTable.create(cat, TableIdentifier.parse("db.avren"), schema,
      properties = Map("write.format.default" -> "avro"))
    t.append(spark).appendDataFrame(raw)
    // rename AFTER the files were written: the files still carry the old
    // name but the same field id, so id resolution must find the column
    t.updateSchema().renameColumn("n_name", "nation_name").commit()
    val back = t.newScan().toDF(spark)
    assert(back.schema.fieldNames.contains("nation_name"))
    import scala.jdk.CollectionConverters._
    val names = back.select("nation_name").collect().map(_.getString(0)).sorted
    val want = raw.select("n_name").collect().map(_.getString(0)).sorted
    assert(names.sameElements(want))
  }

  test("write.format.default=orc: engine writes orc files, scan dispatches") {
    val cat = new DirCatalog(java.nio.file.Files.createTempDirectory("whorc").toString)
    val raw = spark.read.parquet(s"$sfDir/nation.parquet")
    val t = IceTable.create(cat, TableIdentifier.parse("db.orcw"),
      SparkConv.fromSpark(raw.schema),
      properties = Map("write.format.default" -> "orc"))
    t.append(spark).appendDataFrame(raw)
    val files = t.newScan().planFiles()
    assert(files.nonEmpty && files.forall(_.file.fileFormat == "ORC"))
    assert(files.map(_.file.recordCount).sum == raw.count())
    val back = t.newScan().toDF(spark)
    assert(back.count() == raw.count())
    assert(back.orderBy("n_nationkey").collect().map(_.toSeq).toSeq ==
      raw.orderBy("n_nationkey").collect().map(_.toSeq).toSeq)
    // registered external orc files work too (addFiles path)
    val ext = FormatRegistry.writer("ORC")(raw.limit(5), s"${t.location}/ext")
    t.append(spark).addFiles(ext, format = "ORC")
    assert(t.newScan().toDF(spark).count() == raw.count() + 5)
  }

  test("orc data files resolve renamed columns via schema history") {
    val cat = new DirCatalog(java.nio.file.Files.createTempDirectory("whorcr").toString)
    val raw = spark.read.parquet(s"$sfDir/nation.parquet")
    val t = IceTable.create(cat, TableIdentifier.parse("db.orcren"),
      SparkConv.fromSpark(raw.schema),
      properties = Map("write.format.default" -> "orc"))
    t.append(spark).appendDataFrame(raw)
    // rename AFTER the files were written: ORC resolves by NAME, so the
    // old-name files must resolve through the schema-history mapping
    t.updateSchema().renameColumn("n_name", "nation_name").commit()
    val back = t.newScan().toDF(spark)
    assert(back.schema.fieldNames.contains("nation_name"))
    val names = back.select("nation_name").collect().map(_.getString(0)).sorted
    val want = raw.select("n_name").collect().map(_.getString(0)).sorted
    assert(names.sameElements(want), "renamed column must not be nulled on ORC files")
    // MIXED files: append again post-rename (files carry the new name) —
    // per-row coalesce resolves old-name and new-name files in one scan
    val raw2 = raw.withColumnRenamed("n_name", "nation_name")
    t.append(spark).appendDataFrame(raw2.limit(5))
    val mixed = t.newScan().toDF(spark)
    assert(mixed.count() == raw.count() + 5)
    assert(mixed.filter(col("nation_name").isNull).count() == 0)
    // double rename still resolves the oldest files
    t.updateSchema().renameColumn("nation_name", "nm2").commit()
    assert(t.newScan().toDF(spark).filter(col("nm2").isNull).count() == 0)
  }

  test("copy-on-write delete rewrites matching files") {
    val (t, raw) = freshTable("cow")
    val before = t.newScan().toDF(spark).count()
    t.delete(spark).deleteWhere(E.lt("o_orderkey", Literal.long(1000)))
    val after = t.newScan().toDF(spark)
    val expected = raw.filter("o_orderkey >= 1000")
    assert(after.count() == expected.count())
    assert(after.count() < before)
    assert(after.filter("o_orderkey < 1000").count() == 0)
    assert(t.currentSnapshot.get.operation == Some("delete"))
  }

  test("mergeInto updateAll + insertAll rewrites only matched files") {
    // multiple files so the affected-file pruning is observable
    val (t, raw) = freshTable("mrg1")
    // second append: a file guaranteed to contain NO matched key
    val spare = raw.withColumn("o_orderkey", col("o_orderkey") + 5000000L)
    t.append(spark).appendDataFrame(spare)
    val before = t.newScan().planFiles().map(_.file.filePath).toSet

    val src = raw.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_totalprice", lit(42.5))
      .unionByName(raw.limit(3).withColumn("o_orderkey", col("o_orderkey") + 9000000L))
    val snap = t.merge(spark, src, Seq("o_orderkey"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().commit()
    assert(snap.operation.contains("overwrite"))

    val after = t.newScan().toDF(spark)
    val n = raw.count(); val matched = raw.filter(col("o_orderkey") % 7 === 0).count()
    assert(after.count() == 2 * n + 3)
    assert(after.filter(col("o_totalprice") === 42.5).count() == matched)
    assert(after.filter(col("o_orderkey") >= 9000000L).count() == 3)
    // the spare file held no matched key: it must survive UNREWRITTEN
    val survivors = t.newScan().planFiles().map(_.file.filePath).toSet
    assert(before.intersect(survivors).nonEmpty,
      "unmatched files must not be rewritten")
  }

  test("mergeInto withProperty commits atomically on every path") {
    // MoR path: the (queryId,batchId)-style marker must survive the commit
    // — StreamOps.upsertStream's exactly-once skip depends on reading it back
    val (t, raw) = freshTable("mrgprop")
    val src = raw.filter(col("o_orderkey") % 6 === 0).withColumn("o_totalprice", lit(1.0))
    // CoW path first (a CoW merge refuses tables carrying live deletes)
    t.merge(spark, src, Seq("o_orderkey"))
      .whenMatchedDelete()
      .withProperty("graft.test.marker", "b1").commit()
    t.refresh()
    assert(t.metadata.properties.get("graft.test.marker").contains("b1"))

    // MoR path
    t.merge(spark, src.withColumn("o_totalprice", lit(2.0)), Seq("o_orderkey"))
      .whenNotMatchedInsertAll().withMergeOnRead()
      .withProperty("graft.test.marker", "b2").commit()
    t.refresh()
    assert(t.metadata.properties.get("graft.test.marker").contains("b2"))

    // CoW empty-table early-return path
    val cat = new DirCatalog(java.nio.file.Files.createTempDirectory("whmp").toString)
    val empty = IceTable.create(cat, TableIdentifier.parse("db.mrgprop2"),
      SparkConv.fromSpark(raw.schema))
    empty.merge(spark, src.limit(1), Seq("o_orderkey"))
      .whenMatchedDelete()
      .withProperty("graft.test.marker", "b0").commit()
    empty.refresh()
    assert(empty.metadata.properties.get("graft.test.marker").contains("b0"))
  }

  test("mergeInto updateSet expressions and delete actions") {
    val (t, raw) = freshTable("mrg2")
    val src = raw.filter(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey"), lit(7.0).as("bump"))
    t.merge(spark, src, Seq("o_orderkey"))
      .whenMatchedUpdate(Map("o_totalprice" -> "t.o_totalprice + s.bump"))
      .commit()
    val base = raw.select(sum("o_totalprice")).head.getDouble(0)
    val got = t.newScan().toDF(spark).select(sum("o_totalprice")).head.getDouble(0)
    val matched = raw.filter(col("o_orderkey") % 5 === 0).count()
    assert(math.abs(got - (base + 7.0 * matched)) < 1e-4)

    // delete action: matched rows vanish, row count drops exactly
    val delKeys = raw.filter(col("o_orderkey") % 3 === 0).select("o_orderkey")
    t.merge(spark, delKeys, Seq("o_orderkey")).whenMatchedDelete().commit()
    assert(t.newScan().toDF(spark).count() ==
      raw.count() - delKeys.count())
  }

  test("mergeInto withMergeOnRead supersedes rows via position deletes") {
    val (t, raw) = freshTable("mrgmor")
    val dataFilesBefore = t.newScan().planFiles().map(_.file.filePath).toSet

    val src = raw.filter(col("o_orderkey") % 4 === 0)
      .withColumn("o_totalprice", lit(11.25))
      .unionByName(raw.limit(2).withColumn("o_orderkey", col("o_orderkey") + 8000000L))
    val snap = t.merge(spark, src, Seq("o_orderkey"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll()
      .withMergeOnRead().commit()
    assert(snap.operation.contains("overwrite"))

    // NO pre-existing data file was rewritten — they all survive
    val filesAfter = t.newScan().planFiles().map(_.file.filePath).toSet
    assert(dataFilesBefore.subsetOf(filesAfter))
    // and a position-delete file now exists
    val delEntries = t.planDeleteEntries(t.currentSnapshot.get)
    assert(delEntries.exists(_.dataFile.content == FileContent.PositionDeletes))

    val matched = raw.filter(col("o_orderkey") % 4 === 0).count()
    val after = t.newScan().toDF(spark)
    assert(after.count() == raw.count() + 2)
    assert(after.filter(col("o_totalprice") === 11.25).count() == matched)

    // a SECOND MoR merge composes on the now-MoR table: re-update the
    // same keys; delete-aware (_file,_pos) must not resurrect anything
    val src2 = raw.filter(col("o_orderkey") % 4 === 0)
      .withColumn("o_totalprice", lit(99.75))
    t.merge(spark, src2, Seq("o_orderkey"))
      .whenMatchedUpdateAll().withMergeOnRead().commit()
    val after2 = t.newScan().toDF(spark)
    assert(after2.count() == raw.count() + 2)
    assert(after2.filter(col("o_totalprice") === 99.75).count() == matched)
    assert(after2.filter(col("o_totalprice") === 11.25).count() == 0)

    // compaction folds the accumulated deletes back into plain files
    t.compact(spark).rewriteDataFiles(smallFileThreshold = Long.MaxValue)
    assert(t.planDeleteEntries(t.currentSnapshot.get).isEmpty)
    assert(t.newScan().toDF(spark).count() == raw.count() + 2)
  }

  test("rewritePositionDeletes compacts delete files, data untouched") {
    val (t, raw) = freshTable("rpd")
    // three successive MoR merges -> three generations of delete files
    (1 to 3).foreach { i =>
      t.merge(spark,
        raw.filter(col("o_orderkey") % 6 === 0).withColumn("o_totalprice", lit(i.toDouble)),
        Seq("o_orderkey")).whenMatchedUpdateAll().withMergeOnRead().commit()
    }
    // identical positional deletes: the second raw-reads the same rows
    // again, producing EXACT duplicate (file, pos) tuples
    t.delete(spark).deleteWherePositional(E.lt("o_orderkey", Literal.long(50)))
    t.delete(spark).deleteWherePositional(E.lt("o_orderkey", Literal.long(50)))

    val delsBefore = t.planDeleteEntries(t.currentSnapshot.get)
      .filter(_.dataFile.content == FileContent.PositionDeletes)
    assert(delsBefore.size >= 5)
    val dataBefore = t.newScan().planFiles().map(_.file.filePath).toSet
    val rowsBefore = t.newScan().toDF(spark).count()
    val matched = raw.filter(col("o_orderkey") % 6 === 0 && col("o_orderkey") >= 50).count()

    t.compact(spark).rewritePositionDeletes()
    val delsAfter = t.planDeleteEntries(t.currentSnapshot.get)
      .filter(_.dataFile.content == FileContent.PositionDeletes)
    assert(delsAfter.nonEmpty && delsAfter.size < delsBefore.size)
    // the duplicated generation collapsed: strictly fewer tuples on disk
    assert(delsAfter.map(_.dataFile.recordCount).sum <
      delsBefore.map(_.dataFile.recordCount).sum)
    // data files untouched; scan result identical
    assert(t.newScan().planFiles().map(_.file.filePath).toSet == dataBefore)
    assert(t.newScan().toDF(spark).count() == rowsBefore)
    assert(t.newScan().toDF(spark)
      .filter(col("o_totalprice") === 3.0).count() == matched)
  }

  test("mergeInto refuses duplicate source keys and MoR-laden tables") {
    val (t, raw) = freshTable("mrg3")
    val dup = raw.limit(1).unionByName(raw.limit(1))
    val e = intercept[IllegalArgumentException] {
      t.merge(spark, dup, Seq("o_orderkey")).whenMatchedUpdateAll().commit()
    }
    assert(e.getMessage.contains("duplicate"))

    t.delete(spark).deleteWherePositional(E.lt("o_orderkey", Literal.long(10)))
    val e2 = intercept[IllegalArgumentException] {
      t.merge(spark, raw.limit(2), Seq("o_orderkey")).whenMatchedUpdateAll().commit()
    }
    assert(e2.getMessage.contains("merge-on-read"))
  }

  test("merge-on-read position delete via anti-join") {
    val (t, raw) = freshTable("mor_pos")
    t.delete(spark).deleteWherePositional(E.equal("o_orderstatus", Literal.string("F")))
    val after = t.newScan().toDF(spark)
    assert(after.count() == raw.filter("o_orderstatus <> 'F'").count())
    assert(after.filter("o_orderstatus = 'F'").count() == 0)
    // data files untouched (no rewrite): snapshot added a delete file only
    assert(t.currentSnapshot.get.summary("added-delete-files") == "1")
    assert(t.currentSnapshot.get.summary("removed-data-files") == "0")
  }

  test("merge-on-read equality delete by key") {
    val (t, raw) = freshTable("mor_eq")
    import spark.implicits._
    val keys = raw.select("o_custkey").distinct().limit(10)
    val keyVals = keys.as[Long].collect().toSet
    t.delete(spark).deleteByEquality(keys)
    val after = t.newScan().toDF(spark)
    assert(after.filter(col("o_custkey").isin(keyVals.toSeq: _*)).count() == 0)
    assert(after.count() == raw.filter(!col("o_custkey").isin(keyVals.toSeq: _*)).count())
    // a subsequent append is NOT affected by the older equality delete
    val reinserted = raw.filter(col("o_custkey").isin(keyVals.toSeq: _*)).limit(5)
    val n = reinserted.count()
    t.append(spark).appendDataFrame(reinserted)
    assert(t.newScan().toDF(spark).count() ==
      raw.filter(!col("o_custkey").isin(keyVals.toSeq: _*)).count() + n)
  }

  test("compaction merges small files and folds in deletes") {
    val (t, raw) = freshTable("compact")
    // create small files: 3 more tiny appends
    t.append(spark).appendDataFrame(raw.limit(10))
    t.append(spark).appendDataFrame(raw.limit(10))
    t.delete(spark).deleteWherePositional(E.lt("o_orderkey", Literal.long(100)))
    val expected = t.newScan().toDF(spark).count()
    val filesBefore = t.newScan().planFiles().size

    t.compact(spark).rewriteDataFiles(targetFileSizeBytes = 64L * 1024 * 1024)

    val filesAfter = t.newScan().planFiles().size
    assert(filesAfter < filesBefore, s"$filesAfter < $filesBefore")
    assert(t.newScan().toDF(spark).count() == expected)
    // delete files are gone after compaction
    assert(t.planDeleteEntries(t.currentSnapshot.get).isEmpty)
    assert(t.currentSnapshot.get.operation == Some("replace"))
  }

  test("schema evolution: add, rename, promote int->long survive on read") {
    val (t, raw) = freshTable("evolve", "nation")
    t.updateSchema()
      .addColumn("comment", StringT)
      .renameColumn("n_name", "nation_name")
      .updateColumnType("n_nationkey", LongT)
      .commit()
    assert(t.schema.fields.map(_.name).contains("nation_name"))
    val df = t.newScan().toDF(spark)
    // renamed column resolves by field id against old files
    assert(df.select("nation_name").distinct().count() ==
      raw.select("n_name").distinct().count())
    // promoted column reads as long
    assert(df.schema("n_nationkey").dataType.typeName == "long")
    assert(df.agg(sum("n_nationkey")).head.getLong(0) ==
      raw.agg(sum(col("n_nationkey").cast("long"))).head.getLong(0))
    // new column is null for old data
    assert(df.filter(col("comment").isNotNull).count() == 0)
    // appends under the new schema coexist with old files
    val extra = df.limit(3).withColumn("comment", lit("hello"))
    t.append(spark).appendDataFrame(extra)
    val df2 = t.newScan().toDF(spark)
    assert(df2.count() == raw.count() + 3)
    assert(df2.filter("comment = 'hello'").count() == 3)
  }

  test("dynamic partition overwrite replaces only touched partitions") {
    val cat = new DirCatalog(java.nio.file.Files.createTempDirectory("wh").toString)
    val raw = spark.read.parquet(s"$sfDir/orders.parquet")
    val schema = SparkConv.fromSpark(raw.schema)
    val od = schema.findFieldByName("o_orderdate").get.id
    val spec = PartitionSpec(0, IndexedSeq(PartitionField(od, 1000, "order_year", YearTransform)))
    val t = IceTable.create(cat, TableIdentifier.parse("db.dynov"), schema, spec)
    t.append(spark).appendDataFrame(raw)

    // overwrite year 2000 with a modified slice
    val slice = raw.filter("year(o_orderdate) = 2000")
      .withColumn("o_totalprice", lit(1.0))
    t.overwrite(spark).dynamic(slice)
    val df = t.newScan().toDF(spark)
    assert(df.count() == raw.count())
    assert(df.filter("year(o_orderdate) = 2000 and o_totalprice <> 1.0").count() == 0)
    assert(df.filter("year(o_orderdate) <> 2000 and o_totalprice = 1.0").count() == 0)
    assert(t.currentSnapshot.get.operation == Some("overwrite"))
  }

  test("partition-aligned delete is metadata-only: whole files drop unread") {
    import graft.ice.write.RowDeleteStats
    val (t, raw) = freshTable("mdonly", spec = s => PartitionSpec(0, IndexedSeq(
      PartitionField(s.findFieldByName("o_orderstatus").get.id, 1000,
        "status", IdentityTransform))))
    val before = t.newScan().planFiles().map(_.file.filePath).toSet
    assert(before.size >= 3, "identity partitioning should split by status")

    t.delete(spark).deleteWhere(E.equal("o_orderstatus", Literal.string("F")))
    assert(RowDeleteStats.lastMetadataDropped > 0,
      "status-aligned files must drop via strict metrics, not a rewrite")
    assert(RowDeleteStats.lastRewritten == 0)
    val after = t.newScan().planFiles().map(_.file.filePath).toSet
    assert(after.subsetOf(before), "a metadata-only delete must write no data file")
    assert(t.newScan().toDF(spark).count() == raw.filter("o_orderstatus <> 'F'").count())
    assert(t.newScan().toDF(spark).filter("o_orderstatus = 'F'").count() == 0)

    // a predicate cutting across partitions mixes both paths: the aligned
    // part still drops metadata-only, the straddling files rewrite
    val key = raw.filter("o_orderstatus = 'O'")
      .agg(org.apache.spark.sql.functions.expr("percentile(o_orderkey, 0.5)"))
      .collect().head.getDouble(0).toLong
    t.delete(spark).deleteWhere(E.or(
      E.equal("o_orderstatus", Literal.string("P")),
      E.and(E.equal("o_orderstatus", Literal.string("O")),
        E.lt("o_orderkey", Literal.long(key)))))
    assert(RowDeleteStats.lastMetadataDropped > 0, "the 'P' partition is still aligned")
    assert(RowDeleteStats.lastRewritten > 0, "the split 'O' partition needs a rewrite")
    assert(t.newScan().toDF(spark).count() ==
      raw.filter(s"o_orderstatus = 'O' AND o_orderkey >= $key").count())
  }

  test("CoW delete with live MoR deletes: whole-file drop ok, rewrite refuses") {
    val (t, raw) = freshTable("mdmor", spec = s => PartitionSpec(0, IndexedSeq(
      PartitionField(s.findFieldByName("o_orderstatus").get.id, 1000,
        "status", IdentityTransform))))
    t.delete(spark).deleteWherePositional(E.lt("o_orderkey", Literal.long(100)))
    // aligned predicate: strict drop is immune to resurrect hazards
    t.delete(spark).deleteWhere(E.equal("o_orderstatus", Literal.string("F")))
    assert(t.newScan().toDF(spark).count() ==
      raw.filter("o_orderstatus <> 'F' AND o_orderkey >= 100").count())
    // a rewrite would re-materialize the positionally-deleted rows: refuse
    // (mid-range key: files straddle it, so strict drop cannot cover)
    assertThrows[IllegalArgumentException](
      t.delete(spark).deleteWhere(E.lt("o_orderkey", Literal.long(700))))
  }

  test("copy-on-write delete keeps rows where predicate is NULL") {
    // rows with a null delete-key column must survive a CoW delete: the
    // predicate evaluates NULL there, and NULL is not TRUE
    val cat = new DirCatalog(java.nio.file.Files.createTempDirectory("wh").toString)
    val raw = spark.read.parquet(s"$sfDir/orders.parquet")
      .withColumn("maybe_status",
        when(col("o_orderkey") % 3 === 0, col("o_orderstatus")))
    val schema = SparkConv.fromSpark(raw.schema)
    val t = IceTable.create(cat, TableIdentifier.parse("db.cownull"), schema)
    t.append(spark).appendDataFrame(raw)
    val nNull = raw.filter(col("maybe_status").isNull).count()
    assert(nNull > 0)
    t.delete(spark).deleteWhere(E.equal("maybe_status", Literal.string("F")))
    val after = t.newScan().toDF(spark)
    assert(after.filter(col("maybe_status").isNull).count() == nNull,
      "null-predicate rows must not be silently deleted")
    assert(after.filter("maybe_status = 'F'").count() == 0)
    assert(after.count() == raw.filter("maybe_status IS NULL OR maybe_status <> 'F'").count())
  }

  test("identity partition field named like its source column round-trips") {
    val cat = new DirCatalog(java.nio.file.Files.createTempDirectory("wh").toString)
    val raw = spark.read.parquet(s"$sfDir/orders.parquet")
    val schema = SparkConv.fromSpark(raw.schema)
    val st = schema.findFieldByName("o_orderstatus").get.id
    // the Iceberg DEFAULT naming for identity partitions: same name
    val spec = PartitionSpec(0, IndexedSeq(
      PartitionField(st, 1000, "o_orderstatus", IdentityTransform)))
    val t = IceTable.create(cat, TableIdentifier.parse("db.idpart"), schema, spec)
    t.append(spark).appendDataFrame(raw)
    val df = t.newScan().toDF(spark)
    assert(df.count() == raw.count())
    // the source column must come back with real values, not nulls
    assert(df.filter(col("o_orderstatus").isNull).count() == 0)
    assert(df.select("o_orderstatus").distinct().count() ==
      raw.select("o_orderstatus").distinct().count())
    // partition pruning on the identity column still works
    val pruned = t.newScan().filter(E.equal("o_orderstatus", Literal.string("F"))).planFiles()
    assert(pruned.nonEmpty && pruned.size < t.newScan().planFiles().size)
  }

  test("concurrent commits: exactly one racer wins the version") {
    val cat = new DirCatalog(java.nio.file.Files.createTempDirectory("wh").toString)
    val raw = spark.read.parquet(s"$sfDir/nation.parquet")
    val schema = SparkConv.fromSpark(raw.schema)
    val ident = TableIdentifier.parse("db.race")
    val t = IceTable.create(cat, ident, schema)
    val base = cat.loadTable(ident)
    // two writers race the SAME base version through the barrier
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Int]]()
    val threads = (1 to 2).map { i =>
      new Thread(() => {
        val updated = base.metadata.copy(
          properties = base.metadata.properties + ("writer" -> i.toString))
        barrier.await()
        try results.add(Right(cat.commit(ident, base.version, updated)))
        catch { case e: Throwable => results.add(Left(e)) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val (losers, winners) = results.asScala.partition(_.isLeft)
    assert(winners.size == 1, s"exactly one commit must win, got $results")
    assert(losers.size == 1 && losers.forall(_.left.exists(_.isInstanceOf[CommitFailedException])))
    // winner's content is what's on disk (no silent replace)
    val reloaded = cat.loadTable(ident)
    assert(reloaded.metadata.properties.contains("writer"))
  }

  test("compaction rewrites only files a delete applies to") {
    val cat = new DirCatalog(java.nio.file.Files.createTempDirectory("wh").toString)
    val raw = spark.read.parquet(s"$sfDir/orders.parquet")
    val schema = SparkConv.fromSpark(raw.schema)
    val od = schema.findFieldByName("o_orderdate").get.id
    val spec = PartitionSpec(0, IndexedSeq(PartitionField(od, 1000, "order_year", YearTransform)))
    val t = IceTable.create(cat, TableIdentifier.parse("db.scoped"), schema, spec)
    t.append(spark).appendDataFrame(raw)
    val nPartitions = t.newScan().planFiles().map(_.file.partition).toSet.size
    assert(nPartitions > 2)

    // delete touches rows in exactly one year-partition
    t.delete(spark).deleteWherePositional(E.and(
      E.gtEq("o_orderdate", Literal.date(java.time.LocalDate.of(2000, 1, 1).toEpochDay.toInt)),
      E.lt("o_orderdate", Literal.date(java.time.LocalDate.of(2001, 1, 1).toEpochDay.toInt))))
    val expected = t.newScan().toDF(spark).count()
    val before = t.newScan().planFiles().map(_.file.filePath).toSet

    // threshold 0: nothing qualifies as "small" — only delete-touched
    // files may be rewritten
    t.compact(spark).rewriteDataFiles(smallFileThreshold = 0L)

    val after = t.newScan().planFiles().map(_.file.filePath).toSet
    val untouchedSurvivors = before & after
    val rewritten = before -- after
    assert(rewritten.nonEmpty, "the touched partition must be rewritten")
    assert(untouchedSurvivors.nonEmpty, "untouched partitions keep their files")
    assert(t.planDeleteEntries(t.currentSnapshot.get).isEmpty, "deletes folded in")
    assert(t.newScan().toDF(spark).count() == expected)
    assert(t.newScan().toDF(spark).filter(
      "o_orderdate >= '2000-01-01' and o_orderdate < '2001-01-01'").count() == 0)
  }

  test("equality-delete bounds let compaction skip disjoint files") {
    import spark.implicits._
    val cat = new DirCatalog(java.nio.file.Files.createTempDirectory("wh").toString)
    val raw = spark.read.parquet(s"$sfDir/orders.parquet")
    val schema = SparkConv.fromSpark(raw.schema)
    val ok = schema.findFieldByName("o_orderkey").get.id
    // bucket the table into ranges via truncate so files have disjoint
    // o_orderkey bounds
    val spec = PartitionSpec(0, IndexedSeq(
      PartitionField(ok, 1000, "okey_range", TruncateTransform(250))))
    val t = IceTable.create(cat, TableIdentifier.parse("db.eqscope"), schema, spec)
    t.append(spark).appendDataFrame(raw)
    assert(t.newScan().planFiles().size > 2)
    val lowKeys = raw.filter("o_orderkey < 250").select("o_orderkey").limit(20)
    t.delete(spark).deleteByEquality(lowKeys)
    val expected = t.newScan().toDF(spark).count()
    val before = t.newScan().planFiles().map(_.file.filePath).toSet

    t.compact(spark).rewriteDataFiles(smallFileThreshold = 0L)

    val after = t.newScan().planFiles().map(_.file.filePath).toSet
    assert((before & after).nonEmpty,
      "files with bounds disjoint from the deleted keys must survive untouched")
    assert((before -- after).nonEmpty)
    assert(t.planDeleteEntries(t.currentSnapshot.get).isEmpty)
    assert(t.newScan().toDF(spark).count() == expected)
    // exact row SET, not just count: the rewrite folded the equality
    // delete in (no resurrection through the dropped delete file) and
    // every surviving row is intact — oracle = raw anti-join keys
    val deletedKeys = lowKeys.collect().map(_.getLong(0)).toSet
    val scanKeys = t.newScan().toDF(spark).select("o_orderkey")
      .collect().map(_.getLong(0)).sorted.toSeq
    val oracleKeys = raw.select("o_orderkey").collect().map(_.getLong(0))
      .filterNot(deletedKeys.contains).sorted.toSeq
    assert(scanKeys == oracleKeys,
      "compacted row set must equal raw minus the equality-deleted keys")
  }

  test("format-version property selects manifest writer version on commit") {
    val raw = spark.read.parquet(s"$sfDir/nation.parquet")
    val schema = SparkConv.fromSpark(raw.schema)
    for (fv <- Seq(1, 3)) {
      val cat = new DirCatalog(java.nio.file.Files.createTempDirectory("wh").toString)
      val t = IceTable.create(cat, TableIdentifier.parse(s"db.fv$fv"), schema,
        properties = Map("format-version" -> fv.toString))
      assert(t.metadata.formatVersion == fv)
      assert(!t.properties.contains("format-version"), "creation property is consumed")
      t.append(spark).appendDataFrame(raw)
      t.append(spark).appendDataFrame(raw.limit(5))
      // manifests and list were written with the table's version
      val listPath = t.currentSnapshot.get.manifestList
      val listMeta = graft.ice.manifest.ManifestAvro.fileMetadata(listPath)
      assert(listMeta.get("format-version").contains(fv.toString),
        s"manifest list should be v$fv, got $listMeta")
      val mf = graft.ice.manifest.ManifestAvro.readManifestList(listPath).head
      val mMeta = graft.ice.manifest.ManifestAvro.fileMetadata(mf.manifestPath)
      assert(mMeta.get("format-version").contains(fv.toString))
      // data still reads back complete
      assert(t.newScan().toDF(spark).count() == raw.count() + 5)
      // v1 metadata JSON carries the version
      val reloaded = IceTable.load(cat, TableIdentifier.parse(s"db.fv$fv"))
      assert(reloaded.metadata.formatVersion == fv)
      assert(reloaded.newScan().toDF(spark).count() == raw.count() + 5)
      if (fv >= 3) {
        // row lineage: first_row_id assigned per file, next-row-id advanced
        assert(reloaded.metadata.nextRowId == Some(raw.count() + 5))
        val entries = reloaded.planEntries(reloaded.currentSnapshot.get, None)
        val ids = entries.map(_.dataFile.firstRowId)
        assert(ids.forall(_.isDefined), "every v3 data file carries first_row_id")
        assert(ids.flatten.distinct.size == ids.size, "ranges are distinct")
        val snaps = reloaded.snapshots.sortBy(_.sequenceNumber)
        assert(snaps.head.firstRowId == Some(0L))
        assert(snaps(1).firstRowId == Some(raw.count()))
      } else {
        assert(reloaded.metadata.nextRowId.isEmpty)
      }
    }
    // v1 tables reject merge-on-read deletes (no delete manifests in v1)
    val cat1 = new DirCatalog(java.nio.file.Files.createTempDirectory("wh").toString)
    val t1 = IceTable.create(cat1, TableIdentifier.parse("db.fv1del"), schema,
      properties = Map("format-version" -> "1"))
    t1.append(spark).appendDataFrame(raw)
    assertThrows[IllegalArgumentException](
      t1.delete(spark).deleteWherePositional(E.lt("n_nationkey", Literal.long(3))))
    // but copy-on-write deletes (no delete files) still work on v1
    t1.delete(spark).deleteWhere(E.lt("n_nationkey", Literal.long(3)))
    assert(t1.newScan().toDF(spark).count() == raw.filter("n_nationkey >= 3").count())
  }

  test("partition statistics file counts data AND delete files per partition") {
    val (t, raw) = freshTable("pstats")
    // add MoR deletes so the delete columns are exercised
    t.delete(spark).deleteWherePositional(E.lt("o_orderkey", Literal.long(100)))
    val psf = t.maintenance().computePartitionStatistics(spark)
    assert(t.metadata.partitionStatistics.exists(_.path == psf.path))

    val df = MetadataTables.partitionStatistics(spark, t)
    // unpartitioned: exactly one row, keyed by the empty tuple
    assert(df.count() == 1)
    val row = df.head
    val deleted = raw.filter(col("o_orderkey") < 100).count()
    assert(row.getAs[Long]("data_record_count") == raw.count())
    assert(row.getAs[Long]("position_delete_record_count") == deleted)
    assert(row.getAs[Long]("position_delete_file_count") >= 1)
    assert(row.getAs[Long]("total_record_count") == raw.count() - deleted)
    assert(row.getAs[Long]("last_updated_snapshot_id") ==
      t.currentSnapshot.get.snapshotId)
    // recompute replaces (not duplicates) the registration for a snapshot
    t.maintenance().computePartitionStatistics(spark)
    assert(t.metadata.partitionStatistics.size == 1)
  }

  test("fastForward publishes an audited branch; non-ancestor refuses") {
    val cat = new DirCatalog(java.nio.file.Files.createTempDirectory("whff").toString)
    val raw = spark.read.parquet(s"$sfDir/nation.parquet")
    val t = IceTable.create(cat, TableIdentifier.parse("db.wap"),
      SparkConv.fromSpark(raw.schema))
    val s0 = t.append(spark).appendDataFrame(raw.limit(10))
    t.manageSnapshots().createBranch("audit", s0.snapshotId)
    t.append(spark).toBranch("audit").appendDataFrame(raw.limit(5))

    // main still shows only the pre-audit rows
    assert(t.newScan().toDF(spark).count() == 10)
    t.manageSnapshots().fastForward("main", "audit")
    assert(t.newScan().toDF(spark).count() == 15)
    assert(t.metadata.currentSnapshotId == t.refs.get("audit").map(_.snapshotId))
    // history gained a log entry for the publish
    assert(t.history.last.snapshotId == t.refs("audit").snapshotId)

    // diverge main past audit: fast-forwarding main BACK must refuse
    t.append(spark).appendDataFrame(raw.limit(1))
    val e = intercept[IllegalArgumentException] {
      t.manageSnapshots().fastForward("main", "audit")
    }
    assert(e.getMessage.contains("not an ancestor"))
    // fast-forward may CREATE a missing branch at the target
    t.manageSnapshots().fastForward("release", "main")
    assert(t.refs("release").snapshotId == t.metadata.currentSnapshotId.get)
  }

  test("writers on different branches both succeed; schema races fail fast") {
    val cat = new DirCatalog(java.nio.file.Files.createTempDirectory("wh").toString)
    val raw = spark.read.parquet(s"$sfDir/nation.parquet")
    val schema = SparkConv.fromSpark(raw.schema)
    val ident = TableIdentifier.parse("db.branches")
    val t = IceTable.create(cat, ident, schema)
    val s0 = t.append(spark).appendDataFrame(raw)
    t.manageSnapshots().createBranch("dev", s0.snapshotId)

    // two handles, each writing to a DIFFERENT branch from the same base
    val tMain = IceTable.load(cat, ident)
    val tDev = IceTable.load(cat, ident)
    tMain.append(spark).appendDataFrame(raw.limit(3))
    tDev.append(spark).toBranch("dev").appendDataFrame(raw.limit(7))
    val fresh = IceTable.load(cat, ident)
    assert(fresh.newScan().toDF(spark).count() == raw.count() + 3, "main kept its append")
    assert(fresh.newScan().useRef("dev").toDF(spark).count() == raw.count() + 7,
      "dev kept its independent append")
    // dev's snapshot parents off the branch head, not main's head
    val devHead = fresh.refs("dev").snapshotId
    assert(fresh.metadata.snapshotById(devHead).get.parentSnapshotId == Some(s0.snapshotId))

    // an append racing a schema change retries against the NEW schema
    val tAppend = IceTable.load(cat, ident) // stale handle
    fresh.updateSchema().addColumn("note", StringT).commit()
    tAppend.append(spark).appendDataFrame(raw.limit(2)) // retries internally
    val after = IceTable.load(cat, ident)
    assert(after.schema.fields.exists(_.name == "note"))
    assert(after.newScan().toDF(spark).count() == raw.count() + 5)

    // but a schema BUILDER from a stale schema must fail, not clobber
    val staleBuilder = IceTable.load(cat, ident).updateSchema().addColumn("a", StringT)
    IceTable.load(cat, ident).updateSchema().addColumn("b", StringT).commit()
    assertThrows[graft.ice.meta.RequirementFailedException](staleBuilder.commit())
    val finalT = IceTable.load(cat, ident)
    assert(finalT.schema.fields.exists(_.name == "b"))
    assert(!finalT.schema.fields.exists(_.name == "a"))
  }

  test("_deleted metadata column marks rows instead of filtering them") {
    val (t, raw) = freshTable("marked")
    t.delete(spark).deleteWherePositional(E.equal("o_orderstatus", Literal.string("F")))
    val keys = raw.filter("o_custkey % 97 = 0").select("o_custkey").distinct()
    t.delete(spark).deleteByEquality(keys)
    val visible = t.newScan().toDF(spark)
    val marked = t.newScan().withMetadataColumns("_deleted").toDF(spark)
    // marking keeps EVERY physical row
    assert(marked.count() == raw.count())
    // non-deleted rows equal the filtered scan
    assert(marked.filter(!col("_deleted")).count() == visible.count())
    // every 'F' row is marked; so is every eq-deleted key's row
    assert(marked.filter(col("o_orderstatus") === "F" && !col("_deleted")).count() == 0)
    val keyVals = keys.collect().map(_.getLong(0)).toSeq
    if (keyVals.nonEmpty)
      assert(marked.filter(col("o_custkey").isin(keyVals: _*) && !col("_deleted")).count() == 0)
    // no-delete tables mark everything false
    val (t2, raw2) = freshTable("marked_clean", "nation")
    val m2 = t2.newScan().withMetadataColumns("_deleted").toDF(spark)
    assert(m2.filter(col("_deleted")).count() == 0)
    assert(m2.count() == raw2.count())
  }

  test("partition spec evolution: old files keep their spec, both prune") {
    val cat = new DirCatalog(java.nio.file.Files.createTempDirectory("wh").toString)
    val raw = spark.read.parquet(s"$sfDir/orders.parquet")
    val schema = SparkConv.fromSpark(raw.schema)
    val od = schema.findFieldByName("o_orderdate").get.id
    val yearSpec = PartitionSpec(0, IndexedSeq(PartitionField(od, 1000, "order_year", YearTransform)))
    val t = IceTable.create(cat, TableIdentifier.parse("db.specevo"), schema, yearSpec)
    t.append(spark).appendDataFrame(raw.filter("o_orderkey % 2 = 0"))

    val newSpec = t.updateSpec()
      .addField("order_month", "o_orderdate", MonthTransform).commit()
    assert(t.spec.specId == newSpec.specId)
    assert(t.metadata.partitionSpecs.size == 2)
    t.append(spark).appendDataFrame(raw.filter("o_orderkey % 2 = 1"))

    // full content across both specs
    assert(t.newScan().toDF(spark).count() == raw.count())
    // a date filter prunes files written under BOTH specs
    val all = t.newScan().planFiles().size
    val pruned = t.newScan().filter(E.and(
      E.gtEq("o_orderdate", Literal.string("2000-01-01")),
      E.lt("o_orderdate", Literal.string("2000-02-01")))).planFiles()
    assert(pruned.size < all)
    // pruning loses no rows
    assert(t.newScan()
      .filter(E.gtEq("o_orderdate", Literal.string("2000-01-01")))
      .filter(E.lt("o_orderdate", Literal.string("2000-02-01")))
      .toDF(spark).count() ==
      raw.filter("o_orderdate >= '2000-01-01' and o_orderdate < '2000-02-01'").count())
    // a stale spec builder fails fast after a concurrent spec change
    val stale = IceTable.load(cat, TableIdentifier.parse("db.specevo"))
      .updateSpec().addField("order_day", "o_orderdate", DayTransform)
    t.updateSpec().addField("okey_b", "o_orderkey", BucketTransform(4)).commit()
    assertThrows[graft.ice.meta.RequirementFailedException](stale.commit())
  }

  test("changes scan emits inserts and deletes between snapshots") {
    val cat = new DirCatalog(java.nio.file.Files.createTempDirectory("wh").toString)
    val raw = spark.read.parquet(s"$sfDir/orders.parquet")
    val t = IceTable.create(cat, TableIdentifier.parse("db.cdc"),
      SparkConv.fromSpark(raw.schema))
    val s1 = t.append(spark).appendDataFrame(raw.filter("o_orderkey % 2 = 0"))
    t.delete(spark).deleteWherePositional(
      E.lt("o_orderkey", Literal.long(100)))
    val s3 = t.append(spark).appendDataFrame(raw.filter("o_orderkey % 2 = 1"))
    val keys = raw.filter("o_custkey % 101 = 0").select("o_custkey").distinct()
    t.delete(spark).deleteByEquality(keys)
    val s4 = t.currentSnapshot.get

    val changes = t.planChanges(spark, s1.snapshotId, s4.snapshotId)
    assert(changes.columns.contains("_change_type"))
    val inserts = changes.filter("_change_type = 'insert'")
    val deletes = changes.filter("_change_type = 'delete'")
    assert(inserts.count() == raw.filter("o_orderkey % 2 = 1").count())
    // position deletes: even keys < 100; equality deletes: rows visible at
    // s3 whose custkey matches (deletes can overlap the pos-deleted rows)
    val posDeleted = raw.filter("o_orderkey % 2 = 0 and o_orderkey < 100").count()
    val keyVals = keys.collect().map(_.getLong(0)).toSeq
    val eqDeleted = t.newScan().useSnapshot(s3.snapshotId).toDF(spark)
      .filter(col("o_custkey").isin(keyVals: _*)).count()
    assert(deletes.count() == posDeleted + eqDeleted)
    // compaction preserves content: extending the range over it adds
    // NO change rows (replace snapshots emit nothing)
    val before = changes.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    t.compact(spark).rewriteDataFiles()
    val after = t.planChanges(spark, s1.snapshotId,
        t.currentSnapshot.get.snapshotId)
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after == before)
  }

  test("_change_ordinal stays dense across compaction snapshots") {
    val cat = new DirCatalog(java.nio.file.Files.createTempDirectory("wh").toString)
    val raw = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    val t = IceTable.create(cat, TableIdentifier.parse("db.cdcord"),
      SparkConv.fromSpark(raw.schema))
    val s1 = t.append(spark).appendDataFrame(raw.filter("o_orderkey % 2 = 0"))
    // change-producing commit #0: a CoW delete
    t.delete(spark).deleteWherePositional(E.lt("o_orderkey", Literal.long(100)))
    // REPLACE in the middle of the history: emits no changelog rows and
    // must not consume an ordinal (create_changelog_view keeps ordinals
    // dense over change-producing commits)
    t.compact(spark).rewriteDataFiles()
    // change-producing commit #1: an append
    t.append(spark).appendDataFrame(raw.filter("o_orderkey % 2 = 1").limit(10))
    val head = IceTable.load(cat, TableIdentifier.parse("db.cdcord"))
      .currentSnapshot.get.snapshotId
    val ords = t.planChanges(spark, s1.snapshotId, head)
      .select("_change_ordinal").distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(ords == Seq(0, 1), s"ordinals must be dense 0,1 — got $ords")
  }

  test("changelog pairs a MoR merge's delete+insert into update pre/post images") {
    val cat = new DirCatalog(java.nio.file.Files.createTempDirectory("wh").toString)
    val raw = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val t = IceTable.create(cat, TableIdentifier.parse("db.cdcu"),
      SparkConv.fromSpark(raw.schema))
    val s1 = t.append(spark).appendDataFrame(raw)
    val src = raw.filter("o_orderkey % 5 = 0")
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .unionByName(raw.filter("o_orderkey % 100 = 3")
        .withColumn("o_orderkey", col("o_orderkey") + 7000000L))
    t.merge(spark, src, Seq("o_orderkey"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll()
      .withMergeOnRead().commit()
    val s2 = t.currentSnapshot.get
    val log = t.planChangelog(spark, s1.snapshotId, s2.snapshotId, Seq("o_orderkey"))
    val byType = log.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nUpd = raw.filter("o_orderkey % 5 = 0").count()
    val nIns = raw.filter("o_orderkey % 100 = 3").count()
    assert(byType.get("update_preimage").contains(nUpd))
    assert(byType.get("update_postimage").contains(nUpd))
    assert(byType.get("insert").contains(nIns))
    assert(!byType.contains("delete"))
    // pre-image carries the OLD value, post-image the new one
    val k = raw.filter("o_orderkey % 5 = 0").select("o_orderkey")
      .orderBy("o_orderkey").limit(1).collect().head.getLong(0)
    val oldPrice = raw.filter(col("o_orderkey") === k)
      .collect().head.getAs[Double]("o_totalprice")
    val rows = log.filter(col("o_orderkey") === k)
      .select("_change_type", "o_totalprice").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rows("update_preimage") == oldPrice)
    assert(rows("update_postimage") == oldPrice * 2)
    // a raw planChanges over the same range reports them as delete+insert
    val rawTypes = t.planChanges(spark, s1.snapshotId, s2.snapshotId)
      .filter(col("o_orderkey") === k)
      .select("_change_type").collect().map(_.getString(0)).sorted.toSeq
    assert(rawTypes == Seq("delete", "insert"))
    // compaction in range adds no change rows (content-preserving)
    val nBefore = t.planChanges(spark, s1.snapshotId, s2.snapshotId).count()
    t.compact(spark).rewriteDataFiles()
    assert(t.planChanges(spark, s1.snapshotId,
      t.currentSnapshot.get.snapshotId).count() == nBefore)
  }

  test("CoW operations diff at the file level with carry-over cancelation") {
    val raw = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val cat = new DirCatalog(java.nio.file.Files.createTempDirectory("wh").toString)
    val t2 = IceTable.create(cat, TableIdentifier.parse("db.cowcdc"),
      SparkConv.fromSpark(raw.schema))
    val s1 = t2.append(spark).appendDataFrame(raw)

    // CoW UPDATE: rewrites every file containing a match; carried rows
    // must cancel, leaving delete(old)+insert(new) for touched rows only
    t2.delete(spark).updateWhere(
      E.equal("o_orderstatus", Literal.string("F")),
      Map("o_totalprice" -> "o_totalprice + 50.0"))
    val s2 = t2.currentSnapshot.get
    val ch = t2.planChanges(spark, s1.snapshotId, s2.snapshotId)
    val nTouched = raw.filter("o_orderstatus = 'F'").count()
    assert(ch.filter("_change_type = 'delete'").count() == nTouched)
    assert(ch.filter("_change_type = 'insert'").count() == nTouched)
    // the pre-images carry the OLD price, post-images the new one
    val sumOld = raw.filter("o_orderstatus = 'F'")
      .agg(round(sum("o_totalprice"), 2)).head.getDouble(0)
    val sumDel = ch.filter("_change_type = 'delete'")
      .agg(round(sum("o_totalprice"), 2)).head.getDouble(0)
    val sumIns = ch.filter("_change_type = 'insert'")
      .agg(round(sum("o_totalprice"), 2)).head.getDouble(0)
    assert(sumDel == sumOld)
    assert(math.abs(sumIns - (sumOld + 50.0 * nTouched)) < 0.01)

    // CoW DELETE: survivors cancel, deleted rows surface as deletes
    t2.delete(spark).deleteWhere(
      E.equal("o_orderstatus", Literal.string("P")))
    val s3 = t2.currentSnapshot.get
    val ch2 = t2.planChanges(spark, s2.snapshotId, s3.snapshotId)
    val nDel = raw.filter("o_orderstatus = 'P'").count()
    assert(ch2.filter("_change_type = 'delete'").count() == nDel)
    assert(ch2.filter("_change_type = 'insert'").count() == 0)

    // changelog pairing composes: the CoW update reads as update pre/post
    val log = t2.planChangelog(spark, s1.snapshotId, s2.snapshotId,
      Seq("o_orderkey"))
    val byType = log.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType.get("update_preimage").contains(nTouched))
    assert(byType.get("update_postimage").contains(nTouched))
  }

  test("net changes collapse intermediate images across commits") {
    val raw = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    val cat = new DirCatalog(java.nio.file.Files.createTempDirectory("wh").toString)
    val t = IceTable.create(cat, TableIdentifier.parse("db.netcdc"),
      SparkConv.fromSpark(raw.schema))
    val s1 = t.append(spark).appendDataFrame(raw)
    // two successive CoW updates of the same rows
    t.delete(spark).updateWhere(
      E.lt("o_orderkey", Literal.long(100)),
      Map("o_totalprice" -> "o_totalprice + 1.0"))
    t.delete(spark).updateWhere(
      E.lt("o_orderkey", Literal.long(100)),
      Map("o_totalprice" -> "o_totalprice + 1.0"))
    val sEnd = t.currentSnapshot.get
    val net = t.planNetChanges(spark, s1.snapshotId, sEnd.snapshotId)
    val nTouched = raw.filter("o_orderkey < 100").count()
    // intermediate (+1.0) images vanish: one delete of the initial image,
    // one insert of the final (+2.0) image per touched row
    assert(net.count() == 2 * nTouched)
    val sumOld = raw.filter("o_orderkey < 100")
      .agg(round(sum("o_totalprice"), 2)).head.getDouble(0)
    val sumDel = net.filter("_change_type = 'delete'")
      .agg(round(sum("o_totalprice"), 2)).head.getDouble(0)
    val sumIns = net.filter("_change_type = 'insert'")
      .agg(round(sum("o_totalprice"), 2)).head.getDouble(0)
    assert(sumDel == sumOld)
    assert(math.abs(sumIns - (sumOld + 2.0 * nTouched)) < 0.01)
    // raw per-commit changes in the same range carry both update steps
    assert(t.planChanges(spark, s1.snapshotId, sEnd.snapshotId).count()
      == 4 * nTouched)
    // r18 equivalence pin: planNetChanges skips the per-commit carry-over
    // cancelation (cancelPerCommit = false) — its output must equal the
    // range-wide cancelation of the FULL per-commit changes stream,
    // multiset-wise (net weight per distinct content row)
    def netWeights(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("__w", when(col("_change_type") === "insert", 1L).otherwise(-1L))
      .groupBy("o_orderkey", "o_totalprice").agg(sum("__w").as("__n"))
      .filter("__n != 0")
    val ref = netWeights(t.planChanges(spark, s1.snapshotId, sEnd.snapshotId)
      .drop("_commit_snapshot_id", "_change_ordinal"))
    val got = netWeights(net)
    assert(got.except(ref).count() == 0 && ref.except(got).count() == 0)
  }

  test("incremental append scan returns exactly the rows added in range") {
    val cat = new DirCatalog(java.nio.file.Files.createTempDirectory("wh").toString)
    val raw = spark.read.parquet(s"$sfDir/orders.parquet")
    val t = IceTable.create(cat, TableIdentifier.parse("db.inc"),
      SparkConv.fromSpark(raw.schema))
    val s1 = t.append(spark).appendDataFrame(raw.filter("o_orderkey % 3 = 0"))
    val s2 = t.append(spark).appendDataFrame(raw.filter("o_orderkey % 3 = 1"))
    val s3 = t.append(spark).appendDataFrame(raw.filter("o_orderkey % 3 = 2"))
    // (s1, s3] = the second and third appends
    val inc = t.newScan().appendsBetween(s1.snapshotId, s3.snapshotId).toDF(spark)
    assert(inc.count() == raw.filter("o_orderkey % 3 <> 0").count())
    assert(inc.filter("o_orderkey % 3 = 0").count() == 0)
    // (s2, s3] = only the third
    val inc2 = t.newScan().appendsBetween(s2.snapshotId, s3.snapshotId).toDF(spark)
    assert(inc2.count() == raw.filter("o_orderkey % 3 = 2").count())
    // a delete between appends does not leak into the incremental view
    t.delete(spark).deleteWherePositional(E.lt("o_orderkey", Literal.long(100)))
    val s5 = t.append(spark).appendDataFrame(raw.limit(7))
    val inc3 = t.newScan().appendsBetween(s3.snapshotId, s5.snapshotId).toDF(spark)
    assert(inc3.count() == 7)
  }

  test("upgradeFormatVersion bumps manifests written by later commits") {
    val cat = new DirCatalog(java.nio.file.Files.createTempDirectory("wh").toString)
    val raw = spark.read.parquet(s"$sfDir/nation.parquet")
    val t = IceTable.create(cat, TableIdentifier.parse("db.upg"),
      SparkConv.fromSpark(raw.schema),
      properties = Map("format-version" -> "1"))
    t.append(spark).appendDataFrame(raw)
    assert(graft.ice.manifest.ManifestAvro.fileMetadata(
      t.currentSnapshot.get.manifestList).get("format-version").contains("1"))
    t.upgradeFormatVersion(2)
    assert(t.metadata.formatVersion == 2)
    t.append(spark).appendDataFrame(raw.limit(3))
    assert(graft.ice.manifest.ManifestAvro.fileMetadata(
      t.currentSnapshot.get.manifestList).get("format-version").contains("2"))
    assert(t.newScan().toDF(spark).count() == raw.count() + 3)
    assertThrows[IllegalArgumentException](t.upgradeFormatVersion(1))
    // v3 upgrade starts row lineage for subsequent commits
    t.upgradeFormatVersion(3)
    val s = t.append(spark).appendDataFrame(raw.limit(2))
    assert(s.firstRowId == Some(0L))
    assert(t.metadata.nextRowId == Some(2L))
    // _row_id selects lineage where assigned, null for pre-upgrade files
    val withRowId = t.newScan().withMetadataColumns("_row_id").toDF(spark)
    assert(withRowId.filter(col("_row_id").isNotNull).count() == 2)
    assert(withRowId.count() == raw.count() + 5)
  }

  test("sort order range-clusters writes into bound-disjoint files") {
    val cat = new DirCatalog(java.nio.file.Files.createTempDirectory("wh").toString)
    val raw = spark.read.parquet(s"$sfDir/orders.parquet")
    val schema = SparkConv.fromSpark(raw.schema)
    val ok = schema.findFieldByName("o_orderkey").get.id
    val order = SortOrder(1, IndexedSeq(
      SortField(ok, IdentityTransform, ascending = true, nullsFirst = true)))
    val t = IceTable.create(cat, TableIdentifier.parse("db.sorted"), schema,
      PartitionSpec.unpartitioned, order)
    // shuffle the input so clustering must come from the write path
    // (AQE would coalesce this tiny range-shuffle to one partition,
    // hiding the multi-file clustering under test)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try t.append(spark).appendDataFrame(raw.repartition(8))
    finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    val files = t.newScan().planFiles()
    assert(files.size > 1, "range repartition should emit multiple files")
    // per-file o_orderkey bounds are pairwise disjoint
    val bounds = files.map { f =>
      (Literal.deserialize(LongT, f.file.lowerBounds(ok)).raw.asInstanceOf[Long],
        Literal.deserialize(LongT, f.file.upperBounds(ok)).raw.asInstanceOf[Long])
    }.sortBy(_._1)
    bounds.sliding(2).foreach {
      case Seq(a, b) => assert(a._2 <= b._1, s"overlapping bounds: $a vs $b")
      case _ =>
    }
    // a point filter opens exactly one file; content stays complete
    val pruned = t.newScan().filter(E.equal("o_orderkey", Literal.long(42))).planFiles()
    assert(pruned.size == 1)
    assert(t.newScan().toDF(spark).count() == raw.count())
  }

  test("manifest merging bounds the manifest list across many appends") {
    val cat = new DirCatalog(java.nio.file.Files.createTempDirectory("wh").toString)
    val raw = spark.read.parquet(s"$sfDir/nation.parquet")
    val schema = SparkConv.fromSpark(raw.schema)
    val t = IceTable.create(cat, TableIdentifier.parse("db.merge"), schema,
      properties = Map("commit.manifest.min-count-to-merge" -> "8"))
    val slices = (0 until 20).map(i => raw.limit(1))
    slices.foreach(s => t.append(spark).appendDataFrame(s))
    val list = graft.ice.manifest.ManifestAvro.readManifestList(
      t.currentSnapshot.get.manifestList)
    assert(list.size < 20, s"list has ${list.size} manifests — merging never fired")
    // every row is still visible exactly once
    assert(t.newScan().toDF(spark).count() == 20)
    // and a fresh load sees the same
    val re = IceTable.load(cat, TableIdentifier.parse("db.merge"))
    assert(re.newScan().toDF(spark).count() == 20)
  }

  test("rewriteManifests merges to one data manifest; orphan removal is safe") {
    val cat = new DirCatalog(java.nio.file.Files.createTempDirectory("wh").toString)
    val raw = spark.read.parquet(s"$sfDir/nation.parquet")
    val t = IceTable.create(cat, TableIdentifier.parse("db.maint"),
      SparkConv.fromSpark(raw.schema),
      properties = Map("commit.manifest-merge.enabled" -> "false"))
    for (i <- 0 until 5) t.append(spark).appendDataFrame(raw.limit(2))
    val before = graft.ice.manifest.ManifestAvro.readManifestList(
      t.currentSnapshot.get.manifestList)
    assert(before.size == 5)

    t.maintenance().rewriteManifests()
    val after = graft.ice.manifest.ManifestAvro.readManifestList(
      t.currentSnapshot.get.manifestList)
    assert(after.size == 1, s"expected one merged manifest, got ${after.size}")
    assert(t.newScan().toDF(spark).count() == 10)
    // reload sees the rewritten list too
    assert(IceTable.load(cat, TableIdentifier.parse("db.maint"))
      .newScan().toDF(spark).count() == 10)

    // orphan removal: a stray file in the data dir goes, data files stay
    val stray = java.nio.file.Paths.get(t.dataFileDir, "stray-leftover.parquet")
    java.nio.file.Files.createDirectories(stray.getParent)
    java.nio.file.Files.writeString(stray, "junk")
    val removed = t.maintenance().removeOrphanFiles(
      olderThanMs = System.currentTimeMillis() + 1000)
    assert(removed.exists(_.endsWith("stray-leftover.parquet")))
    assert(!java.nio.file.Files.exists(stray))
    assert(t.newScan().toDF(spark).count() == 10, "live data untouched")
    // files referenced only by OLDER snapshots also survive
    assert(t.snapshots.size == 5)
    val oldSnap = t.snapshots.minBy(_.sequenceNumber)
    assert(t.newScan().useSnapshot(oldSnap.snapshotId).toDF(spark).count() == 2)
  }

  test("puffin DV blobs round-trip with direct access, footer listing, CRC") {
    import graft.ice.manifest.Puffin
    val dir = java.nio.file.Files.createTempDirectory("puffin").toString
    val path = s"$dir/dv.puffin"
    val posA = Seq(0L, 1L, 7L, 1000000L, (1L << 33) + 5)
    val posB = 0L until 10000L by 3L
    val (bmA, cardA) = Puffin.serializePositions(posA.iterator)
    val (bmB, cardB) = Puffin.serializePositions(posB.iterator)
    assert(cardA == posA.size && cardB == posB.size)
    val refs = Puffin.writeDVFile(path,
      Seq(("/data/a.parquet", bmA, cardA), ("/data/b.parquet", bmB, cardB)))
    assert(refs.map(_.referencedDataFile) == Seq("/data/a.parquet", "/data/b.parquet"))
    // direct access (the manifest path): exact positions back
    val gotA = Puffin.readDV(path, refs(0).offset, refs(0).length)
    val gotB = Puffin.readDV(path, refs(1).offset, refs(1).length)
    import scala.jdk.CollectionConverters._
    assert(gotA.iterator().asScala.map(_.toLong).toSeq == posA.sorted)
    assert(gotB.getLongCardinality == cardB && gotB.contains(9999L))
    // footer listing agrees with the refs
    assert(Puffin.listDVBlobs(path) == refs)
    // corrupting one vector byte must fail the CRC, not resurrect rows
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    bytes(refs(0).offset.toInt + 10) = (bytes(refs(0).offset.toInt + 10) ^ 0x7f).toByte
    val corrupt = s"$dir/corrupt.puffin"
    java.nio.file.Files.write(java.nio.file.Paths.get(corrupt), bytes)
    intercept[IllegalArgumentException](
      Puffin.readDV(corrupt, refs(0).offset, refs(0).length))
  }

  test("deletion-vector delete: scan applies puffin bitmaps, marking works") {
    val (t, raw) = freshTable("dvdel")
    t.upgradeFormatVersion(3)
    // spread data over several files so the puffin holds multiple vectors
    t.append(spark).appendDataFrame(raw.limit(200))
    val expr = graft.ice.expr.Expr.raw("o_orderkey % 4 = 1")
    t.delete(spark).deleteWhereDV(expr)
    val total = raw.count() + 200
    val kept = t.newScan().toDF(spark).count()
    val deleted = t.newScan().withMetadataColumns("_deleted").toDF(spark)
      .filter(col("_deleted")).count()
    assert(kept + deleted == total, s"kept=$kept deleted=$deleted total=$total")
    // cross-check against a dataframe recomputation of the predicate
    val delExpected = raw.filter("o_orderkey % 4 = 1").count() +
      raw.limit(200).filter("o_orderkey % 4 = 1").count()
    assert(deleted == delExpected, s"deleted=$deleted expected=$delExpected")
    // v3 requirement is enforced
    val (t2, _) = freshTable("dvdel_v2")
    intercept[IllegalArgumentException](
      t2.delete(spark).deleteWhereDV(expr))
    // DV delete composes with compaction: folding the vectors preserves rows
    t.compact(spark).rewriteDataFiles(smallFileThreshold = 0L)
    assert(t.newScan().toDF(spark).count() == kept)
  }

  test("concurrent DV writers: losing writer aborts instead of resurrecting rows") {
    // Two handles race DV deletes touching the SAME data file. The loser's
    // bitmap ORed a stale prior vector, so a silent retry would supersede
    // the winner's DV and resurrect its deleted rows — the commit must
    // detect the changed DV state and abort.
    val cat = new DirCatalog(java.nio.file.Files.createTempDirectory("whdvr").toString)
    val raw = spark.read.parquet(s"$sfDir/orders.parquet")
    val schema = SparkConv.fromSpark(raw.schema)
    val t1 = IceTable.create(cat, TableIdentifier.parse("db.dvrace"), schema)
    t1.upgradeFormatVersion(3)
    t1.append(spark).appendDataFrame(raw)
    val t2 = IceTable.load(cat, TableIdentifier.parse("db.dvrace"))

    t1.delete(spark).deleteWhereDV(graft.ice.expr.Expr.raw("o_orderkey % 3 = 0"))
    // t2 plans against its stale snapshot (no DVs visible)
    intercept[graft.ice.meta.RequirementFailedException](
      t2.delete(spark).deleteWhereDV(graft.ice.expr.Expr.raw("o_orderkey % 3 = 1")))
    // winner's deletes are intact
    t2.refresh()
    assert(t2.newScan().toDF(spark).count() == raw.filter("o_orderkey % 3 != 0").count())
    // refreshed retry succeeds and composes both deletes
    t2.delete(spark).deleteWhereDV(graft.ice.expr.Expr.raw("o_orderkey % 3 = 1"))
    assert(t2.newScan().toDF(spark).count() == raw.filter("o_orderkey % 3 = 2").count())
  }

  test("parquet position deletes and deletion vectors compose in one scan") {
    val (t, raw) = freshTable("dvmix")
    t.upgradeFormatVersion(3)
    t.delete(spark).deleteWherePositional(
      graft.ice.expr.Expr.raw("o_orderkey % 6 = 1"))
    t.delete(spark).deleteWhereDV(
      graft.ice.expr.Expr.raw("o_orderkey % 6 = 2"))
    val expected = raw.filter("NOT (o_orderkey % 6 = 1 OR o_orderkey % 6 = 2)").count()
    assert(t.newScan().toDF(spark).count() == expected)
    // overlapping deletes (same rows in both formats) must not double-drop
    t.delete(spark).deleteWhereDV(
      graft.ice.expr.Expr.raw("o_orderkey % 6 = 1"))
    assert(t.newScan().toDF(spark).count() == expected)
    // and _deleted marking counts each row once
    val marked = t.newScan().withMetadataColumns("_deleted").toDF(spark)
    assert(marked.count() == raw.count())
    assert(marked.filter(col("_deleted")).count() == raw.count() - expected)
  }

  test("position_deletes reports the puffin path for DV rows") {
    val (t, raw) = freshTable("dvpdt")
    t.upgradeFormatVersion(3)
    t.delete(spark).deleteWhereDV(
      graft.ice.expr.Expr.raw("o_orderkey % 7 = 3"))
    val pd = graft.ice.MetadataTables.positionDeletes(spark, t)
    val rows = pd.collect()
    assert(rows.length == raw.filter("o_orderkey % 7 = 3").count())
    val dfpIdx = pd.schema.fieldIndex("delete_file_path")
    rows.foreach { r =>
      val p = r.getString(dfpIdx)
      assert(p != null && p.endsWith(".puffin"),
        s"DV row must carry its puffin delete_file_path, got '$p'")
    }
  }

  test("changes scan and orphan removal handle deletion-vector tables") {
    val (t, raw) = freshTable("dvcdc")
    t.upgradeFormatVersion(3)
    val s0 = t.currentSnapshot.get
    t.delete(spark).deleteWhereDV(graft.ice.expr.Expr.raw("o_orderkey % 10 = 2"))
    val s1 = t.currentSnapshot.get
    // CDC: the DV snapshot's deletes surface as _change_type='delete'
    val changes = t.planChanges(spark, s0.snapshotId, s1.snapshotId)
    val deleted = changes.filter(col("_change_type") === "delete").count()
    assert(deleted == raw.filter("o_orderkey % 10 = 2").count(),
      s"CDC deletes $deleted != predicate matches")
    assert(changes.filter(col("_change_type") === "insert").count() == 0)
    // orphan removal treats the puffin files as reachable
    val dataDir = java.nio.file.Paths.get(t.dataFileDir)
    import scala.jdk.CollectionConverters._
    def puffins = java.nio.file.Files.walk(dataDir).iterator.asScala
      .count(_.toString.endsWith(".puffin"))
    val written = puffins
    assert(written >= 1)
    val removed = t.maintenance().removeOrphanFiles(olderThanMs = System.currentTimeMillis() + 1000)
    assert(puffins == written, s"orphan removal deleted a DV file (removed: $removed)")
    assert(t.newScan().toDF(spark).count() ==
      raw.count() - raw.filter("o_orderkey % 10 = 2").count())
  }

  test("puffin statistics: standard theta blobs round-trip, NDV exact below k") {
    import graft.ice.write.Statistics
    val cat = new DirCatalog(java.nio.file.Files.createTempDirectory("whst").toString)
    val raw = spark.read.parquet(s"$sfDir/orders.parquet")
    val schema = SparkConv.fromSpark(raw.schema)
    val t = IceTable.create(cat, TableIdentifier.parse("db.stats"), schema)
    t.append(spark).appendDataFrame(raw)
    val sf = t.maintenance().computeStatistics(spark,
      Seq("o_orderstatus", "o_custkey"))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(sf.path)))
    assert(sf.blobMetadata.size == 2)
    // footer listing agrees with the committed blob metadata
    val blobs = graft.ice.manifest.Puffin.listBlobs(sf.path)
    assert(blobs.map(_.blobType) ==
      Seq(Statistics.ThetaBlobType, Statistics.ThetaBlobType))
    assert(blobs.map(_.snapshotId).distinct == Seq(t.currentSnapshot.get.snapshotId))
    // standard-format compact theta blobs read back and re-estimate
    // EXACTLY (ndv < k here, so theta = 2^63 and the sketch is the set)
    val exact = Map(
      "o_orderstatus" -> raw.select("o_orderstatus").distinct().count(),
      "o_custkey" -> raw.select("o_custkey").distinct().count())
    blobs.foreach { b =>
      val bytes = graft.ice.manifest.Puffin.readBlob(sf.path, b.offset, b.length)
      // preamble conforms: serVer 3, family compact, ordered+compact flags
      assert(bytes(1) == 3 && bytes(2) == 3)
      assert((bytes(5) & 0x18) == 0x18, "COMPACT|ORDERED flags")
      val (theta, values) = Statistics.thetaFromBytes(bytes)
      val name = b.properties("column-name")
      assert(theta == Long.MaxValue, "sub-k sketch must be exact mode")
      assert(Statistics.thetaNdv(theta, values) == exact(name),
        s"ndv mismatch for $name")
      assert(b.properties(Statistics.NdvProperty).toLong == exact(name))
      assert(values.sorted.sameElements(values), "sketch values must be ordered")
      assert(values.forall(v => v > 0 && v < Long.MaxValue),
        "theta values are 63-bit positive longs")
    }
    // legacy KMV serde still round-trips (old blobs stay readable)
    val legacy = Statistics.kmvBytes(8, Array(1L, 5L, 9L))
    val (lk, lh) = Statistics.kmvFromBytes(legacy)
    assert(lk == 8 && lh.toSeq == Seq(1L, 5L, 9L))
    // mergeability of the pre-serialization state is lossless
    assert(Statistics.kmvMerge(8, Array(1L, 9L), Array(5L))
      .sameElements(Array(1L, 5L, 9L)))
    // estimating mode: the k-th smallest becomes theta, k-1 retained, and
    // the theta estimator agrees with the KMV estimator it re-encodes
    val rnd = new scala.util.Random(7)
    val hs = Array.fill(4096)(rnd.nextLong()).distinct.sorted.take(256)
    val (th, vs) = Statistics.thetaFromBytes(Statistics.thetaBytes(256, hs))
    assert(vs.length == 255 && th > 0 && th < Long.MaxValue)
    val est = Statistics.thetaNdv(th, vs)
    val kest = Statistics.kmvNdv(256, hs)
    assert(math.abs(est - kest) <= math.max(2L, kest / 1000),
      s"theta estimate $est vs kmv $kest")
    // metadata JSON round-trip: a fresh load sees the same statistics
    val t2 = IceTable.load(cat, TableIdentifier.parse("db.stats"))
    assert(t2.metadata.statistics.map(s => (s.snapshotId, s.path)) ==
      Seq((sf.snapshotId, sf.path)))
    // statistics metadata table surfaces (column, ndv)
    val rows = MetadataTables.statistics(spark, t2)
      .select("column_name", "ndv").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows == exact)
    // recompute on the same snapshot REPLACES (one entry per snapshot)
    t.maintenance().computeStatistics(spark, Seq("o_orderstatus"))
    assert(t.metadata.statistics.count(_.snapshotId == sf.snapshotId) == 1)
    // orphan sweep keeps the (new) statistics file
    val kept = t.metadata.statistics.head.path
    t.maintenance().removeOrphanFiles(olderThanMs = System.currentTimeMillis() + 1000)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(kept)))
  }

  test("DV writes are distributed: executors write per-partition puffin files") {
    val (t, raw) = freshTable("dvdist")
    t.upgradeFormatVersion(3)
    // spread the table over many data files so the delete shuffles into
    // multiple partitions, each of which writes its OWN puffin file
    (1 to 8).foreach(i => t.append(spark).appendDataFrame(
      raw.filter(col("o_orderkey") % 8 === i % 8).limit(150)))
    val nDataFiles = t.newScan().planFiles().size
    assert(nDataFiles >= 8, s"fixture should have >=8 data files, has $nDataFiles")
    t.delete(spark).deleteWhereDV(graft.ice.expr.Expr.raw("o_orderkey % 2 = 0"))
    val dvEntries = t.planDeleteEntries(t.currentSnapshot.get)
      .filter(_.dataFile.fileFormat == "PUFFIN")
    // >1 puffin file proves the write did not funnel through one
    // driver-side file; nothing bitmap-sized crossed the driver
    val puffinFiles = dvEntries.map(_.dataFile.filePath).distinct
    assert(puffinFiles.size > 1,
      s"expected multiple executor-written puffin files, got $puffinFiles")
    puffinFiles.foreach(p => assert(java.nio.file.Files.exists(java.nio.file.Paths.get(p))))
    // no torn temp files left behind by the task-commit protocol
    import scala.jdk.CollectionConverters._
    assert(!java.nio.file.Files.walk(java.nio.file.Paths.get(t.dataFileDir))
      .iterator.asScala.exists(_.toString.endsWith(".tmp")))
    // at most one DV per data file, and offsets/lengths read back exactly
    val byRef = dvEntries.groupBy(_.dataFile.referencedDataFile.get)
    assert(byRef.values.forall(_.size == 1))
    dvEntries.foreach { e =>
      val bm = graft.ice.manifest.Puffin.readDV(e.dataFile.filePath,
        e.dataFile.contentOffset.get, e.dataFile.contentSizeInBytes.get)
      assert(bm.getLongCardinality == e.dataFile.recordCount)
    }
    // scan agrees with a dataframe recomputation
    val expected = (raw.count() - raw.filter("o_orderkey % 2 = 0").count()) +
      (1 to 8).map(i => raw.filter(col("o_orderkey") % 8 === i % 8).limit(150)
        .filter("NOT (o_orderkey % 2 = 0)").count()).sum
    assert(t.newScan().toDF(spark).count() == expected)
  }

  test("re-delete replaces the deletion vector: one DV per data file") {
    val (t, raw) = freshTable("dvreplace")
    t.upgradeFormatVersion(3)
    val s0 = t.currentSnapshot.get
    t.delete(spark).deleteWhereDV(graft.ice.expr.Expr.raw("o_orderkey % 4 = 1"))
    val s1 = t.currentSnapshot.get
    // second DV delete hits the SAME data files: v3 requires the new
    // vector to union the old one and the old entry to be superseded
    t.delete(spark).deleteWhereDV(graft.ice.expr.Expr.raw("o_orderkey % 4 = 2"))
    val s2 = t.currentSnapshot.get
    val dvEntries = t.planDeleteEntries(s2).filter(_.dataFile.fileFormat == "PUFFIN")
    val byRef = dvEntries.groupBy(_.dataFile.referencedDataFile.get)
    assert(byRef.values.forall(_.size == 1),
      s"files with >1 live DV: ${byRef.filter(_._2.size > 1).keys.toSeq}")
    // cardinalities are exact (no double-count of re-deleted positions):
    // the sum over DVs equals the union of both predicates
    val delExpected = raw.filter("o_orderkey % 4 = 1 OR o_orderkey % 4 = 2").count()
    assert(dvEntries.map(_.dataFile.recordCount).sum == delExpected)
    assert(t.newScan().toDF(spark).count() == raw.count() - delExpected)
    // replacement is recorded in the snapshot summary
    assert(s2.summary.get("replaced-deletion-vectors").exists(_.toInt > 0))
    // CDC: the replacement snapshot reports ONLY newly-deleted rows
    val changes12 = t.planChanges(spark, s1.snapshotId, s2.snapshotId)
    assert(changes12.filter(col("_change_type") === "delete").count() ==
      raw.filter("o_orderkey % 4 = 2").count())
    // and the full range still reports the union exactly once per row
    val changes02 = t.planChanges(spark, s0.snapshotId, s2.snapshotId)
    assert(changes02.filter(col("_change_type") === "delete").count() == delExpected)
  }

  test("per-branch maxSnapshotAgeMs overrides the global expiry cutoff") {
    val (t, raw) = freshTable("retage")
    val s1 = t.currentSnapshot.get
    t.append(spark).appendDataFrame(raw.limit(5))
    val s2 = t.currentSnapshot.get
    t.append(spark).appendDataFrame(raw.limit(5))
    val head = t.currentSnapshot.get // chain head->s2->s1
    t.manageSnapshots()
      .createBranch("dev", head.snapshotId)
      .setMaxSnapshotAgeMs("dev", 1) // expire dev ancestors older than 1ms
      .rollbackTo(s1.snapshotId) // main back to s1; s2/head now dev-exclusive
    Thread.sleep(10)
    // the global cutoff keeps EVERYTHING (olderThanMs=0); the branch's own
    // age policy must still expire its exclusive ancestors — previously
    // the global timestamp rule resurrected them and per-branch aggressive
    // retention never expired anything
    t.manageSnapshots().expireSnapshots(olderThanMs = 0L)
    val ids = t.snapshots.map(_.snapshotId).toSet
    assert(ids.contains(s1.snapshotId), "main's head must survive")
    assert(ids.contains(head.snapshotId), "the dev ref target must survive")
    assert(!ids.contains(s2.snapshotId),
      "dev's maxSnapshotAgeMs must expire its aged dev-exclusive ancestor")
  }

  test("expiry honors minSnapshotsToKeep on a branch while main expires") {
    val (t, raw) = freshTable("retmin")
    val s1 = t.currentSnapshot.get
    t.append(spark).appendDataFrame(raw.limit(5))
    t.append(spark).appendDataFrame(raw.limit(5))
    t.append(spark).appendDataFrame(raw.limit(5))
    val head = t.currentSnapshot.get // s4: chain s4->s3->s2->s1
    t.manageSnapshots()
      .createBranch("dev", head.snapshotId)
      .setMinSnapshotsToKeep("dev", 3)
      .rollbackTo(s1.snapshotId) // main back to s1
    assert(t.snapshots.size == 4)
    t.manageSnapshots().expireSnapshots(System.currentTimeMillis() + 1000)
    // dev keeps its 3 newest ancestors even though all are "old"
    val keptIds = t.snapshots.map(_.snapshotId).toSet
    val chain = Iterator.iterate(Option(head))(
      _.flatMap(_.parentSnapshotId).flatMap(id => t.snapshots.find(_.snapshotId == id)))
      .takeWhile(_.isDefined).flatten.map(_.snapshotId).toSeq
    assert(chain.size >= 3, s"dev lost configured history: kept $keptIds")
    assert(keptIds.contains(s1.snapshotId)) // main head always kept
  }

  test("expiry honors per-branch maxSnapshotAgeMs over the global cutoff") {
    val (t, raw) = freshTable("retage")
    t.append(spark).appendDataFrame(raw.limit(5))
    t.append(spark).appendDataFrame(raw.limit(5))
    val head = t.currentSnapshot.get
    t.manageSnapshots()
      .createBranch("dev", head.snapshotId)
      .setMaxSnapshotAgeMs("dev", 24L * 3600 * 1000) // keep a day of history
    // a global cutoff that would expire everything
    t.manageSnapshots().expireSnapshots(System.currentTimeMillis() + 1000)
    // all three snapshots are within dev's one-day window -> all survive
    assert(t.snapshots.size == 3,
      s"branch age policy ignored: ${t.snapshots.size} kept")
  }

  test("an aged-out tag is removed by expiry; main never expires") {
    val (t, raw) = freshTable("retref")
    val s1 = t.currentSnapshot.get
    t.manageSnapshots().createTag("old-tag", s1.snapshotId)
      .setMaxRefAgeMs("old-tag", 1L)
      .setMaxRefAgeMs("main", 1L) // must be ignored for main
    t.append(spark).appendDataFrame(raw.limit(5))
    Thread.sleep(10) // let the tag age past 1 ms
    t.manageSnapshots().expireSnapshots(System.currentTimeMillis() + 1000)
    assert(!t.refs.contains("old-tag"), "aged-out tag should be removed")
    assert(t.refs.contains("main"), "main must never expire")
    // with the tag gone its snapshot is unreferenced and old -> dropped
    assert(!t.snapshots.exists(_.snapshotId == s1.snapshotId))
    assert(t.newScan().toDF(spark).count() == raw.count() + 5)
  }

  test("branch + tag refs and expiry keep referenced snapshots") {
    val (t, raw) = freshTable("refs")
    val s1 = t.currentSnapshot.get
    t.manageSnapshots().createTag("v1", s1.snapshotId)
    t.append(spark).appendDataFrame(raw.limit(10))
    val s2 = t.currentSnapshot.get
    t.manageSnapshots().createBranch("dev", s2.snapshotId)
    assert(t.refs.keySet == Set("main", "v1", "dev"))
    // scan a tag
    assert(t.newScan().useRef("v1").toDF(spark).count() == raw.count())
    // expire everything old; tag target must survive
    t.manageSnapshots().expireSnapshots(System.currentTimeMillis() + 1000, retainLast = 1)
    assert(t.snapshots.exists(_.snapshotId == s1.snapshotId)) // kept by tag
    assert(t.newScan().useRef("v1").toDF(spark).count() == raw.count())
  }

  test("MoR position and DV deletes match rows in own and id-less addFiles files") {
    for (dv <- Seq(false, true)) {
      val (t, raw) = freshTable(if (dv) "idless_dv" else "idless_pos")
      if (dv) t.upgradeFormatVersion(3)
      // an external file written by plain Spark carries no field ids
      val dir = java.nio.file.Files.createTempDirectory("idless").toString
      val external = raw.withColumn("o_orderkey", col("o_orderkey") + 1000000L)
      external.write.mode("overwrite").parquet(dir)
      val files = new java.io.File(dir).listFiles().map(_.getPath)
        .filter(_.endsWith(".parquet")).toSeq
      t.append(spark).addFiles(files)
      // the filter matches rows in the own file and in the external one
      val pred = "o_orderkey % 5 = 2"
      assert(raw.filter(pred).count() > 0 && external.filter(pred).count() > 0)
      val del = t.delete(spark)
      if (dv) del.deleteWhereDV(E.raw(pred)) else del.deleteWherePositional(E.raw(pred))
      val expected = raw.unionByName(external).filter(s"NOT ($pred)")
      val got = t.newScan().toDF(spark).select(expected.columns.map(col).toSeq: _*)
      assert(got.count() == expected.count(), s"dv=$dv")
      assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
        s"dv=$dv")
    }
  }

  test("MoR position and DV deletes resolve id-less files through the name mapping") {
    // id-less parquet written under the ORIGINAL names; the table's
    // current names differ (as after a rename) and the mapping records
    // the names the file was written under
    val dir = java.nio.file.Files.createTempDirectory("nmdel").toString
    val src = spark.range(20).selectExpr("id", "concat('row-', id) AS name")
    src.coalesce(1).write.parquet(s"$dir/data")
    val files = new java.io.File(s"$dir/data").listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).toSeq
    val schema = Schema(0, IndexedSeq(
      NestedField(1, "record_id", LongT, required = false),
      NestedField(2, "label", StringT, required = false)))
    val mapping = NameMapping(Seq(
      MappedField(Some(1), Seq("id")), MappedField(Some(2), Seq("name"))))
    for (dv <- Seq(false, true)) {
      val cat = new DirCatalog(java.nio.file.Files.createTempDirectory("wh").toString)
      val t = IceTable.create(cat, TableIdentifier.parse(s"db.nmdel_$dv"), schema,
        properties = Map(NameMapping.PropertyKey -> mapping.toJson) ++
          (if (dv) Map("format-version" -> "3") else Map.empty))
      t.append(spark).addFiles(files)
      val pred = "label IN ('row-3', 'row-7') OR record_id = 11"
      val del = t.delete(spark)
      if (dv) del.deleteWhereDV(E.raw(pred)) else del.deleteWherePositional(E.raw(pred))
      val expected = src.toDF("record_id", "label").filter(s"NOT ($pred)")
      val got = t.newScan().toDF(spark)
      assert(got.count() == 17, s"dv=$dv")
      assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
        s"dv=$dv")
    }
  }

  test("CoW delete and update rewrite rows of own and id-less addFiles files") {
    for (update <- Seq(false, true)) {
      val (t, raw) = freshTable(if (update) "cow_idless_upd" else "cow_idless_del")
      // an external file written by plain Spark carries no field ids
      val dir = java.nio.file.Files.createTempDirectory("cowidless").toString
      val external = raw.withColumn("o_orderkey", col("o_orderkey") + 1000000L)
      external.write.mode("overwrite").parquet(dir)
      val files = new java.io.File(dir).listFiles().map(_.getPath)
        .filter(_.endsWith(".parquet")).toSeq
      t.append(spark).addFiles(files)
      // the filter matches rows in the own file and in the external one
      // without covering either whole, so both are read and rewritten
      val pred = "o_orderkey % 5 = 2"
      assert(raw.filter(pred).count() > 0 && external.filter(pred).count() > 0)
      val all = raw.unionByName(external)
      val expected =
        if (update) {
          t.delete(spark).updateWhere(E.raw(pred),
            Map("o_totalprice" -> "o_totalprice + 1000.0"))
          all.withColumn("o_totalprice", when(org.apache.spark.sql.functions.expr(pred),
            col("o_totalprice") + 1000.0).otherwise(col("o_totalprice")))
        } else {
          t.delete(spark).deleteWhere(E.raw(pred))
          all.filter(s"NOT ($pred)")
        }
      val got = t.newScan().toDF(spark).select(expected.columns.map(col).toSeq: _*)
      assert(got.count() == expected.count(), s"update=$update")
      assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
        s"update=$update")
    }
  }

  test("CoW delete and update resolve id-less files through the name mapping") {
    // id-less parquet written under the ORIGINAL names; the table's
    // current names differ (as after a rename) and the mapping records
    // the names the file was written under
    val dir = java.nio.file.Files.createTempDirectory("nmcow").toString
    val src = spark.range(20).selectExpr("id", "concat('row-', id) AS name")
    src.coalesce(1).write.parquet(s"$dir/data")
    val files = new java.io.File(s"$dir/data").listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).toSeq
    val schema = Schema(0, IndexedSeq(
      NestedField(1, "record_id", LongT, required = false),
      NestedField(2, "label", StringT, required = false)))
    val mapping = NameMapping(Seq(
      MappedField(Some(1), Seq("id")), MappedField(Some(2), Seq("name"))))
    val pred = "label IN ('row-3', 'row-7') OR record_id = 11"
    val base = src.toDF("record_id", "label")
    for (update <- Seq(false, true)) {
      val cat = new DirCatalog(java.nio.file.Files.createTempDirectory("wh").toString)
      val t = IceTable.create(cat, TableIdentifier.parse(s"db.nmcow_$update"), schema,
        properties = Map(NameMapping.PropertyKey -> mapping.toJson))
      t.append(spark).addFiles(files)
      val expected =
        if (update) {
          t.delete(spark).updateWhere(E.raw(pred), Map("label" -> "upper(label)"))
          base.withColumn("label",
            when(org.apache.spark.sql.functions.expr(pred), upper(col("label"))).otherwise(col("label")))
        } else {
          t.delete(spark).deleteWhere(E.raw(pred))
          base.filter(s"NOT ($pred)")
        }
      val got = t.newScan().toDF(spark)
      assert(got.count() == (if (update) 20 else 17), s"update=$update")
      assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
        s"update=$update")
    }
  }

  test("deleteColumn refuses unknown names and partition or sort-order sources") {
    val (t, raw) = freshTable("dropsrc", spec = s => PartitionSpec(0,
      IndexedSeq(PartitionField(s.findFieldByName("o_orderstatus").get.id,
        1000, "status", IdentityTransform))))
    t.replaceSortOrder(Seq(SortField(t.schema.findFieldByName("o_orderdate").get.id,
      IdentityTransform, ascending = true, nullsFirst = true)))
    val schemaId = t.metadata.currentSchemaId
    val part = intercept[IllegalArgumentException](
      t.updateSchema().deleteColumn("o_orderstatus").commit())
    assert(part.getMessage.contains("partition field status"), part.getMessage)
    val sort = intercept[IllegalArgumentException](
      t.updateSchema().deleteColumn("o_orderdate").commit())
    assert(sort.getMessage.contains("sort order"), sort.getMessage)
    val unknown = intercept[IllegalArgumentException](
      t.updateSchema().deleteColumn("nope").commit())
    assert(unknown.getMessage.contains("no such column nope"))
    // nothing committed; any other column still drops
    assert(IceTable.load(t.catalog, t.ident).metadata.currentSchemaId == schemaId)
    t.updateSchema().deleteColumn("o_orderpriority").commit()
    // the table stays appendable and partitioned
    t.append(spark).appendDataFrame(raw.drop("o_orderpriority"))
    val back = t.newScan().toDF(spark)
    assert(back.count() == 2 * raw.count())
    assert(!back.columns.contains("o_orderpriority"))
    assert(t.newScan().planFiles().forall(_.file.partition.size == 1))
  }
}
