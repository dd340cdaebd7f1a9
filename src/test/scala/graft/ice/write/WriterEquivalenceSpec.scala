package graft.ice.write

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ice.IceTable
import graft.ice.catalog.{DirCatalog, TableIdentifier}
import graft.ice.manifest.ManifestEntry
import graft.ice.meta.{PartitionField, PartitionSpec, SortField, SortOrder}
import graft.ice.transform.{DayTransform, IdentityTransform, MonthTransform}
import graft.ice.types._

/** The task-side writer against the driver-side V1 writers it replaced
  * ([[V1Writers]], kept as the oracle): the same input gives the same
  * manifest entries — file count, row counts, value/null counts, bounds,
  * partition tuples, split offsets, sort order id and equality ids — for
  * data files of every table shape and for both kinds of delete file. */
class WriterEquivalenceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  private lazy val catalog =
    new DirCatalog(java.nio.file.Files.createTempDirectory("writereq").toString)

  override def afterAll(): Unit = spark.stop()

  private val schema = Schema(0, IndexedSeq(
    NestedField(1, "l_orderkey", LongT, required = false),
    NestedField(2, "l_quantity", DoubleT, required = false),
    NestedField(3, "l_shipdate", DateT, required = false),
    NestedField(4, "l_comment", StringT, required = false)))

  /** `n` rows from `lo`, spread over `days` days and `parts` input partitions. */
  private def rows(lo: Long, n: Long, days: Int, parts: Int): DataFrame =
    spark.range(lo, lo + n, 1, parts).select(
      col("id").as("l_orderkey"),
      (col("id") % 50).cast("double").as("l_quantity"),
      date_add(lit("2024-01-01").cast("date"), (col("id") % days).cast("int")).as("l_shipdate"),
      concat(lit("comment number "), col("id")).as("l_comment"))

  private def table(name: String, spec: PartitionSpec = PartitionSpec.unpartitioned,
      props: Map[String, String] = Map.empty,
      order: SortOrder = SortOrder.unsorted): IceTable =
    IceTable.create(catalog, TableIdentifier.parse(s"db.$name"), schema, spec, order,
      properties = Map("format-version" -> "2") ++ props)

  private def specOf(t: graft.ice.transform.Transform, name: String) =
    PartitionSpec(0, IndexedSeq(PartitionField(3, 1000, name, t)))

  private def hex(b: Array[Byte]) = b.map("%02x".format(_)).mkString
  private def render(v: Any): String = v match {
    case b: Array[Byte] => hex(b)
    case null => "null"
    case x => s"$x:${x.getClass.getSimpleName}"
  }

  /** Everything an entry says about its file except its name and size. */
  private def key(e: ManifestEntry): String = {
    val f = e.dataFile
    Seq(f.content, f.fileFormat, f.partition.map(render).mkString("/"), f.recordCount,
      f.valueCounts.toSeq.sorted, f.nullValueCounts.toSeq.sorted,
      f.lowerBounds.toSeq.sortBy(_._1).map(kv => kv._1 -> hex(kv._2)),
      f.upperBounds.toSeq.sortBy(_._1).map(kv => kv._1 -> hex(kv._2)),
      f.splitOffsets, f.sortOrderId, f.equalityIds).mkString(" | ")
  }

  private def assertSame(got: Seq[ManifestEntry], oracle: Seq[ManifestEntry]): Unit = {
    assert(got.nonEmpty)
    assert(got.map(key).sorted == oracle.map(key).sorted)
  }

  /** Append shape: `writeEntries` against V1 over the same clustered rows. */
  private def appendEquals(t: IceTable, df: DataFrame): Seq[ManifestEntry] = {
    val op = t.append(spark)
    val (got, _) = op.writeEntries(df)
    assertSame(got, V1Writers.dataFiles(t, spark, op.shape(df)._2))
    got
  }

  test("day-partitioned ingest append: one file per day, same entries") {
    val t = table("ingest", specOf(DayTransform, "l_shipdate_day"))
    val got = appendEquals(t, rows(0, 2000, 5, 1))
    assert(got.size == 5)
  }

  test("multi-task month-partitioned append") {
    val t = table("months", specOf(MonthTransform, "l_shipdate_month"))
    val got = appendEquals(t, rows(0, 6000, 180, 4))
    assert(got.size == 6)
  }

  test("unpartitioned sorted table: range-clustered rewrite at a target size") {
    val t = table("sorted", order = SortOrder(1, IndexedSeq(
      SortField(1, IdentityTransform, ascending = true, nullsFirst = true))))
    val df = rows(0, 8000, 30, 3)
    // range boundaries come from a sample seeded by RDD id, so each run
    // cuts them a little differently: both writers take one materialized
    // clustering
    val (aligned, shaped0) = SnapshotProducer.shape(t, df, 40000L, 120000L, None)
    val shaped = shaped0.localCheckpoint()
    val got = FileWriter.write(shaped, FileWriter.dataConf(spark, t, shaped.schema,
        aligned.schema)).map(f => ManifestEntry(1, None, None, None, f))
    assertSame(got, V1Writers.dataFiles(t, spark, shaped))
    assert(got.size == 3 && got.forall(_.dataFile.sortOrderId.contains(1)))
    val ids = got.map(e => graft.ice.types.Conversions.fromBytes(LongT,
      e.dataFile.lowerBounds(1)).asInstanceOf[Long] -> graft.ice.types.Conversions
      .fromBytes(LongT, e.dataFile.upperBounds(1)).asInstanceOf[Long]).sorted
    assert(ids.sliding(2).forall { case Seq(a, b) => a._2 < b._1 }, s"overlapping: $ids")
  }

  test("object-store layout: files placed under hash prefixes in the task") {
    for (partitioned <- Seq("true", "false")) {
      val t = table(s"objstore_$partitioned", specOf(DayTransform, "d"),
        Map("write.object-storage.enabled" -> "true",
          "write.object-storage.partitioned-paths" -> partitioned))
      val got = appendEquals(t, rows(0, 3000, 3, 2))
      val hashDirs = "/([01]{4}/){4}".r
      assert(got.forall(e => hashDirs.findFirstIn(e.dataFile.filePath).isDefined),
        got.map(_.dataFile.filePath))
      assert(got.forall(e =>
        e.dataFile.filePath.contains(s"/${PartitionPaths.dirCol("d")}=") == (partitioned == "true")))
    }
  }

  test("v3 write-defaults fill a column the input lacks") {
    val t = table("v3defaults", props = Map("format-version" -> "3"))
    t.updateSchema().addColumnWithDefault("l_tag", StringT, initialDefault = Some("old"),
      writeDefault = Some("fresh")).commit()
    val t3 = t.refresh()
    val got = appendEquals(t3, rows(0, 1000, 5, 2))
    val tagId = t3.schema.findFieldByName("l_tag").get.id
    assert(got.forall(e => e.dataFile.lowerBounds.get(tagId).map(new String(_, "UTF-8"))
      .contains("fresh")))
  }

  test("avro and orc data: same files and counts; bounds now equal parquet's") {
    val df = rows(0, 1500, 10, 1)
    val parquet = table("fmt_parquet").append(spark).writeEntries(df)._1
    for (fmt <- Seq("avro", "orc")) {
      val t = table(s"fmt_$fmt", props = Map("write.format.default" -> fmt))
      val op = t.append(spark)
      val got = op.writeEntries(df)._1
      val oracle = V1Writers.dataFiles(t, spark, op.shape(df)._2)
      def shape(es: Seq[ManifestEntry]) = es.map(e => (e.dataFile.fileFormat,
        e.dataFile.recordCount, e.dataFile.partition.map(render).mkString("/"),
        e.dataFile.sortOrderId.getOrElse(-1))).sorted
      assert(shape(got) == shape(oracle))
      // the V1 writers recorded no bounds for these formats; the task
      // tracks them while writing, equal to the parquet footer's
      def bounds(es: Seq[ManifestEntry]) = es.map(e => (
        e.dataFile.lowerBounds.toSeq.sortBy(_._1).map(kv => kv._1 -> hex(kv._2)),
        e.dataFile.upperBounds.toSeq.sortBy(_._1).map(kv => kv._1 -> hex(kv._2)),
        e.dataFile.valueCounts, e.dataFile.nullValueCounts))
      assert(bounds(got) == bounds(parquet), fmt)
      assert(oracle.forall(_.dataFile.lowerBounds.isEmpty))
    }
  }

  private def positionDeletes(granularity: String): Unit = {
    val t0 = table(s"pos_$granularity", specOf(DayTransform, "d"),
      Map("write.delete.granularity" -> granularity,
        // a small target turns into a record cap: files roll inside a group
        "write.delete.target-file-size-bytes" -> "3000"))
    t0.append(spark).appendDataFrame(rows(0, 3000, 4, 2))
    val t = t0.refresh()
    t.append(spark).appendDataFrame(rows(3000, 3000, 4, 2))
    val tr = t.refresh()
    val tasks = tr.newScan().planFiles()
    val dels = tr.newScan().withMetadataColumns("_file", "_pos").toDF(spark)
      .filter(col("l_orderkey") % 7 === 0)
      .select(col("_file").as("file_path"), col("_pos").as("pos"))
    val partitionOf = RowDelete.partitionKeys(tr, tasks)
    val got = RowDelete.writePositionDeleteEntries(tr, spark, dels, tasks.size, partitionOf)
    assertSame(got, V1Writers.positionDeletes(tr, spark, dels, tasks.size, partitionOf))
    assert(got.map(_.dataFile.recordCount).sum == 6000 / 7 + 1)
    assert(got.size > tasks.size, "the record cap rolls files")
  }

  test("file-granularity position deletes") { positionDeletes("file") }
  test("partition-granularity position deletes") { positionDeletes("partition") }

  test("equality deletes: parquet, and avro with one file") {
    import spark.implicits._
    val t = table("eq", specOf(DayTransform, "d"))
    val keys = (0L until 200L by 3).toDF("l_orderkey").repartition(2)
    val del = t.delete(spark)
    assertSame(del.equalityDeleteEntries(keys), V1Writers.equalityDeletes(t, spark, keys))
    val ta = table("eq_avro", props = Map("write.delete.format.default" -> "avro"))
    val one = keys.coalesce(1)
    assertSame(ta.delete(spark).equalityDeleteEntries(one),
      V1Writers.equalityDeletes(ta, spark, one))
  }
}
