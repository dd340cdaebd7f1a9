package graft.ice.write

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ice.IceTable
import graft.ice.catalog.{DirCatalog, TableIdentifier}
import graft.ice.expr.{Expr => E}
import graft.ice.manifest.FileContent
import graft.ice.types._

/** An input row that throws while the task-side writer runs: the op
  * fails, the table keeps its snapshot and its answer, and no file the
  * op wrote survives — the failed task deletes its own in `abort`, the
  * driver deletes those of the tasks that had finished. A re-run then
  * commits the rows exactly once. Covers the writes of an append, a
  * compaction and a positional delete. */
class WriterCrashSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  private lazy val catalog =
    new DirCatalog(java.nio.file.Files.createTempDirectory("writercrash").toString)

  override def afterAll(): Unit = spark.stop()

  private val schema = Schema(0, IndexedSeq(
    NestedField(1, "id", LongT, required = false),
    NestedField(2, "v", StringT, required = false)))

  private def rows(lo: Long, n: Long, parts: Int): DataFrame =
    spark.range(lo, lo + n, 1, parts)
      .select(col("id"), concat(lit("value "), col("id")).as("v"))

  /** `df` with its row `id == k` throwing when the row is produced. */
  private def throwingAt(df: DataFrame, k: Long): DataFrame = {
    val boom = udf { (id: Long) =>
      if (id == k) throw new IllegalStateException(s"injected failure at row $k")
      id
    }
    df.withColumn("id", boom(col("id")))
  }

  private def files(dir: String): Set[String] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) Set.empty
    else {
      val s = java.nio.file.Files.walk(root)
      try s.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(_.toString).toSet
      finally s.close()
    }
  }

  private def noNewFiles(dir: String, before: Set[String]): Unit =
    assert((files(dir) -- before).isEmpty, s"left behind: ${files(dir) -- before}")

  private def ids(t: IceTable): Seq[Long] =
    t.newScan().toDF(spark).select("id").collect().map(_.getLong(0)).toSeq.sorted

  private def failsWith(body: => Any): Unit = {
    val e = intercept[Exception](body)
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(c => String.valueOf(c.getMessage).contains("injected failure")), e)
  }

  test("append: a row failing mid-write leaves no file and no snapshot") {
    val t = IceTable.create(catalog, TableIdentifier.parse("db.append"), schema)
    t.append(spark).appendDataFrame(rows(0, 100, 1))
    val base = t.refresh()
    val before = files(base.dataFileDir)
    // four write tasks; the last fails at its 1500th row, while the
    // others finish their files
    failsWith(base.append(spark).appendDataFrame(throwingAt(rows(100, 8000, 4), 7600)))
    val after = base.refresh()
    assert(after.currentSnapshot.map(_.snapshotId) == base.currentSnapshot.map(_.snapshotId))
    assert(ids(after) == (0L until 100L))
    noNewFiles(base.dataFileDir, before)
    after.append(spark).appendDataFrame(rows(100, 8000, 4))
    assert(ids(after.refresh()) == (0L until 8100L))
  }

  test("compaction: a row failing in the rewrite's write stage leaves no file") {
    val t = IceTable.create(catalog, TableIdentifier.parse("db.compact"), schema)
    for (i <- 0 until 4) t.refresh().append(spark).appendDataFrame(rows(i * 1000L, 1000, 1))
    val base = t.refresh()
    val before = files(base.dataFileDir)
    val input = base.newScan().toDF(spark)
    // the compaction's clustering (a repartition to the target file
    // count), with the failing row produced after the shuffle, inside
    // the write tasks
    failsWith(SnapshotProducer.writeDataFiles(base, spark, input,
      targetFileSizeBytes = 1L, inputBytes = 4L,
      shapeOverride = Some((df, n, _) => throwingAt(df.repartition(n), 2500))))
    val after = base.refresh()
    assert(after.currentSnapshot.map(_.snapshotId) == base.currentSnapshot.map(_.snapshotId))
    assert(ids(after) == (0L until 4000L))
    noNewFiles(base.dataFileDir, before)
    val snap = after.compact(spark).rewriteDataFiles(smallFileThreshold = Long.MaxValue)
    assert(snap.summary.get("compacted-files").contains("4"))
    assert(ids(after.refresh()) == (0L until 4000L))
  }

  test("positional delete: a row failing in the delete writer leaves no file") {
    val t = IceTable.create(catalog, TableIdentifier.parse("db.posdel"), schema,
      properties = Map("format-version" -> "2"))
    t.append(spark).appendDataFrame(rows(0, 4000, 4))
    val base = t.refresh()
    val before = files(base.dataFileDir)
    // (file_path, pos) of the rows to delete, clustered the way the
    // delete clusters them, the failing row produced in the write tasks
    val dels = base.newScan().withMetadataColumns("_file", "_pos").toDF(spark)
      .filter(col("id") % 3 === 0)
      .select(col("_file").as("file_path"), col("_pos").as("pos"), col("id"))
      .repartition(4, col("file_path")).sortWithinPartitions("file_path", "pos")
    val pathOf = udf { (path: String, id: Long) =>
      if (id == 2700L) throw new IllegalStateException("injected failure at row 2700")
      path
    }
    val boom = dels.withColumn("file_path", pathOf(col("file_path"), col("id"))).drop("id")
    val conf = FileWriter.deleteConf(spark, base, FileContent.PositionDeletes,
      boom.schema, boom.schema, "-deletes")
    failsWith(FileWriter.write(boom, conf))
    noNewFiles(base.dataFileDir, before)
    val after = base.refresh()
    assert(after.currentSnapshot.map(_.snapshotId) == base.currentSnapshot.map(_.snapshotId))
    assert(ids(after) == (0L until 4000L))
    after.delete(spark).deleteWherePositional(E.lt("id", Literal.long(2000)))
    assert(ids(after.refresh()) == (2000L until 4000L))
  }
}
