package graft.ice

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ice.catalog.{DirCatalog, TableIdentifier}
import graft.ice.expr.{Expr => E}
import graft.ice.meta.{PartitionField, PartitionSpec}
import graft.ice.transform.DayTransform
import graft.ice.types._

/** Table operations leave the caller's session conf as they found it:
  * write settings ride in each write's own job conf and field-id reads
  * in each relation's options or each connector reader's Hadoop conf,
  * never in `spark.conf`, which other users of a shared session see. */
class SessionHygieneSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val warehouse = java.nio.file.Files.createTempDirectory("hygiene").toString

  /** The session, and its conf before any table operation ran on it. */
  private lazy val (spark, initial) = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.catalog.ice", "graft.ice.connector.GraftCatalogPlugin")
      .config("spark.sql.catalog.ice.warehouse", warehouse)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    (s, s.conf.getAll)
  }

  override def afterAll(): Unit = spark.stop()

  private val schema = Schema(0, IndexedSeq(
    NestedField(1, "id", LongT, required = false),
    NestedField(2, "ts", TimestampTzT, required = false)))

  private lazy val table = {
    val cat = new DirCatalog(warehouse)
    val t = IceTable.create(cat, TableIdentifier.parse("db.t"), schema,
      PartitionSpec(0, IndexedSeq(PartitionField(2, 1000, "ts_day", DayTransform))),
      properties = Map("format-version" -> "2"))
    t.append(spark).appendDataFrame(rows(0, 500))
    t.refresh()
  }

  private def rows(lo: Long, n: Long) = spark.range(lo, lo + n)
    .select(col("id"), timestamp_seconds(lit(1700000000L) + col("id") * 3600L).as("ts"))

  /** Run `op` on a session whose conf is back at its initial state (the
    * table's setup ran ops too) and check it stays there. */
  private def unchanged(op: IceTable => Any): Unit = {
    val t = table.refresh()
    val now = spark.conf.getAll
    (now.keySet -- initial.keySet).foreach(spark.conf.unset)
    initial.foreach { case (k, v) => if (!now.get(k).contains(v)) spark.conf.set(k, v) }
    op(t)
    val after = spark.conf.getAll
    assert(after == initial, (after.toSet diff initial.toSet).mkString(", "))
  }

  test("appendDataFrame leaves spark.conf unchanged") {
    unchanged(_.append(spark).appendDataFrame(rows(500, 200)))
  }

  test("deleteWherePositional leaves spark.conf unchanged") {
    unchanged(_.delete(spark).deleteWherePositional(E.lt("id", Literal.long(50))))
  }

  test("equalityDeleteEntries leaves spark.conf unchanged") {
    import spark.implicits._
    unchanged(_.delete(spark).equalityDeleteEntries(Seq(60L, 61L).toDF("id")))
  }

  test("rewriteDataFiles leaves spark.conf unchanged") {
    unchanged(_.compact(spark).rewriteDataFiles(smallFileThreshold = Long.MaxValue))
  }

  test("a connector SELECT leaves spark.conf unchanged") {
    unchanged(t => assert(spark.sql("SELECT count(*) FROM ice.db.t WHERE id < 100")
      .head().getLong(0) == t.newScan().filter(E.lt("id", Literal.long(100))).toDF(spark).count()))
  }
}
