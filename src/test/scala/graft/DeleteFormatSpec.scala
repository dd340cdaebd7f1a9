package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ice._
import graft.ice.catalog._
import graft.ice.expr.{Expr => E}
import graft.ice.manifest.FileContent
import graft.ice.meta.{PartitionField, PartitionSpec}
import graft.ice.transform.IdentityTransform
import graft.ice.types.{Literal, SparkConv}

/** `write.delete.format.default` (reference table_properties.h:106): the
  * position/equality delete plane dispatches through FormatRegistry like
  * data files — avro delete files round-trip through every read surface
  * (IceTable scan, the V2 SQL connector, CDC changes, delete-plane
  * compaction), with path/key bounds still stamped for pruning. */
class DeleteFormatSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val warehouse =
    java.nio.file.Files.createTempDirectory("whdf").toString

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

  private def mkTable(name: String, extra: Map[String, String] = Map.empty,
      partitioned: Boolean = false): IceTable = {
    val schema = SparkConv.fromSpark(raw.schema)
    val spec =
      if (!partitioned) PartitionSpec.unpartitioned
      else PartitionSpec(0, IndexedSeq(PartitionField(
        schema.findFieldByName("o_orderstatus").get.id, 1000,
        "o_orderstatus", IdentityTransform)))
    val t = IceTable.create(cat, TableIdentifier.parse(s"db.$name"), schema,
      spec, properties = extra ++ Map(
        "write.delete.mode" -> "merge-on-read",
        "write.delete.format.default" -> "avro"))
    t.append(spark).appendDataFrame(raw)
    t
  }

  private def deleteEntries(t: IceTable) =
    t.planDeleteEntries(t.currentSnapshot.get)

  test("avro position deletes: entries, bounds, scan + SQL connector reads") {
    val t = mkTable("df_pos")
    t.delete(spark).deleteWherePositional(E.raw("o_orderkey % 3 = 0"))
    val dels = deleteEntries(t).filter(
      _.dataFile.content == FileContent.PositionDeletes)
    assert(dels.nonEmpty)
    assert(dels.forall(_.dataFile.fileFormat == "AVRO"))
    assert(dels.forall(_.dataFile.filePath.endsWith(".avro")))
    // path bounds stamped at write time (no footer to harvest)
    dels.foreach { e =>
      assert(e.dataFile.lowerBounds.contains(
        graft.ice.write.RowDelete.PathBoundFieldId), "missing path bounds")
    }
    val want = raw.filter("o_orderkey % 3 != 0").count()
    assert(t.newScan().toDF(spark).count() == want, "IceTable scan path")
    assert(spark.sql("SELECT count(*) FROM ice.db.df_pos").head.getLong(0) ==
      want, "V2 connector path")
  }

  test("avro delete plane honors file granularity and partition clustering") {
    val t = mkTable("df_gran",
      Map("write.delete.granularity" -> "file"))
    val nData = t.newScan().planFiles().size
    t.delete(spark).deleteWherePositional(E.raw("o_orderkey % 2 = 0"))
    val dels = deleteEntries(t).filter(
      _.dataFile.content == FileContent.PositionDeletes)
    assert(dels.size == nData,
      s"file granularity: want $nData avro delete files, got ${dels.size}")
    dels.foreach { e =>
      assert(java.util.Arrays.equals(
        e.dataFile.lowerBounds(graft.ice.write.RowDelete.PathBoundFieldId),
        e.dataFile.upperBounds(graft.ice.write.RowDelete.PathBoundFieldId)),
        "file-granularity avro delete file spans more than one data file")
    }
    assert(t.newScan().toDF(spark).count() ==
      raw.filter("o_orderkey % 2 != 0").count())

    // partition granularity on a partitioned table
    val tp = mkTable("df_part", partitioned = true)
    val statuses = raw.select("o_orderstatus").distinct().count()
    tp.delete(spark).deleteWherePositional(E.raw("o_orderkey % 3 = 0"))
    val pdels = deleteEntries(tp).filter(
      _.dataFile.content == FileContent.PositionDeletes)
    assert(pdels.size == statuses,
      s"partition granularity: want $statuses files, got ${pdels.size}")
    assert(tp.newScan().toDF(spark).count() ==
      raw.filter("o_orderkey % 3 != 0").count())
  }

  test("avro equality deletes: key bounds + scan correctness + conflict pruning") {
    val t = mkTable("df_eq")
    val keys = raw.filter("o_orderkey % 5 = 0").select("o_orderkey").distinct()
    t.delete(spark).deleteByEquality(keys)
    val dels = deleteEntries(t).filter(
      _.dataFile.content == FileContent.EqualityDeletes)
    assert(dels.nonEmpty)
    assert(dels.forall(_.dataFile.fileFormat == "AVRO"))
    val keyId = t.schema.findFieldByName("o_orderkey").get.id
    dels.foreach { e =>
      assert(e.dataFile.equalityIds == Seq(keyId))
      assert(e.dataFile.lowerBounds.contains(keyId) &&
        e.dataFile.upperBounds.contains(keyId),
        "avro equality delete must stamp key bounds")
    }
    assert(t.newScan().toDF(spark).count() ==
      raw.filter("o_orderkey % 5 != 0").count())
    assert(spark.sql("SELECT count(*) FROM ice.db.df_eq").head.getLong(0) ==
      raw.filter("o_orderkey % 5 != 0").count())
  }

  test("CDC changes and delete-plane compaction read avro delete files") {
    val t = mkTable("df_cdc")
    val before = t.currentSnapshot.get.snapshotId
    t.delete(spark).deleteWherePositional(E.lt("o_orderkey", Literal.long(100)))
    val after = t.currentSnapshot.get.snapshotId
    val deleted = raw.filter("o_orderkey < 100").count()
    val changes = t.planChanges(spark, before, after)
    assert(changes.filter("_change_type = 'delete'").count() == deleted)

    // second delete, then compact the avro delete plane
    t.delete(spark).deleteWherePositional(E.raw("o_orderkey % 7 = 0"))
    val preCount = t.newScan().toDF(spark).count()
    val preFiles = deleteEntries(t).size
    assert(preFiles >= 2)
    t.compact(spark).rewritePositionDeletes()
    val fresh = IceTable.load(cat, TableIdentifier.parse("db.df_cdc"))
    assert(fresh.newScan().toDF(spark).count() == preCount,
      "compaction over avro delete files must preserve visible rows")
    val postDels = deleteEntries(fresh).filter(
      _.dataFile.content == FileContent.PositionDeletes)
    assert(postDels.forall(_.dataFile.fileFormat == "AVRO"),
      "rewritten delete plane keeps the configured format")
    assert(postDels.size < preFiles)
  }

  test("orc delete plane: position + equality deletes round-trip both scan paths") {
    val schema = SparkConv.fromSpark(raw.schema)
    val t = IceTable.create(cat, TableIdentifier.parse("db.df_orc"), schema,
      properties = Map("write.delete.mode" -> "merge-on-read",
        "write.delete.format.default" -> "orc"))
    t.append(spark).appendDataFrame(raw)
    t.delete(spark).deleteWherePositional(E.raw("o_orderkey % 3 = 0"))
    t.delete(spark).deleteByEquality(
      raw.filter("o_custkey % 41 = 0").select("o_custkey").distinct())
    val dels = deleteEntries(t)
    assert(dels.nonEmpty && dels.forall(_.dataFile.fileFormat == "ORC"))
    dels.filter(_.dataFile.content == FileContent.PositionDeletes).foreach { e =>
      assert(e.dataFile.lowerBounds.contains(
        graft.ice.write.RowDelete.PathBoundFieldId),
        "orc position deletes must stamp path bounds")
    }
    val want = raw
      .filter("o_orderkey % 3 != 0")
      .join(raw.filter("o_custkey % 41 = 0").select("o_custkey").distinct(),
        Seq("o_custkey"), "left_anti").count()
    assert(t.newScan().toDF(spark).count() == want, "IceTable scan path")
    assert(spark.sql("SELECT count(*) FROM ice.db.df_orc").head.getLong(0) ==
      want, "V2 connector path")
  }

  for (fmt <- Seq("avro", "orc")) {
    test(s"data compaction folds a v2 $fmt position-delete plane in") {
      val name = s"df_compact_$fmt"
      val t = IceTable.create(cat, TableIdentifier.parse(s"db.$name"),
        SparkConv.fromSpark(raw.schema),
        properties = Map("format-version" -> "2",
          "write.delete.mode" -> "merge-on-read",
          "write.delete.format.default" -> fmt))
      t.append(spark).appendDataFrame(raw.repartition(3))
      t.delete(spark).deleteWherePositional(E.raw("o_orderkey % 5 = 0"))
      assert(deleteEntries(t).forall(_.dataFile.fileFormat == fmt.toUpperCase))
      val live = raw.filter("o_orderkey % 5 != 0")
      def rows(tt: IceTable) = tt.newScan().toDF(spark).select(raw.columns.map(col): _*)
      def same(a: org.apache.spark.sql.DataFrame) =
        a.exceptAll(live).isEmpty && live.exceptAll(a).isEmpty
      assert(same(rows(t)), "before compaction")
      t.compact(spark).rewriteDataFiles()
      val fresh = IceTable.load(cat, TableIdentifier.parse(s"db.$name"))
      assert(deleteEntries(fresh).isEmpty, "compaction folds the delete files in")
      assert(same(rows(fresh)), "after compaction")
    }
  }

  test("unsupported delete format is rejected at the property boundary") {
    val e = intercept[IllegalArgumentException] {
      graft.ice.meta.TableProperties.get(
        Map("write.delete.format.default" -> "csv"),
        graft.ice.meta.TableProperties.DeleteFormatDefault)
    }
    assert(e.getMessage.contains("write.delete.format.default"))
  }
}
