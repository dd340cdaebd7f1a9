package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ice._
import graft.ice.catalog._
import graft.ice.meta._
import graft.ice.transform._
import graft.ice.types._

/** Shared Iceberg-table fixtures for the driver contract: each testdata
  * parquet table is appended once into an Iceberg table in a per-SF temp
  * warehouse, and every SparkEntry query runs over the Iceberg-planned
  * scan while the DuckDB oracle runs on the raw parquet. This exercises
  * the full metadata/manifest/scan stack on every query. The load-or-build
  * helpers below are the one way every driver fixture (`Fixtures`) is
  * built. */
object Tables {

  /** One cell per `once` key. The cell's own monitor guards its build, so
    * a slow build blocks only callers of the same key, and a build may
    * call `once` for another key (a build run inside the map's
    * `computeIfAbsent` could do neither). */
  private final class Cell { var value: Option[Any] = None }
  private val cells = new java.util.concurrent.ConcurrentHashMap[String, Cell]()

  /** `value`, computed at most once per JVM per `key`. A computation that
    * throws memoises nothing, so the next call computes again. */
  def once[T](key: String)(value: => T): T = {
    val cell = cells.computeIfAbsent(key, _ => new Cell)
    cell.synchronized {
      if (cell.value.isEmpty) cell.value = Some(value)
      cell.value.get.asInstanceOf[T]
    }
  }

  /** Load `ident`, or run `build` to create it when it does not exist yet.
    * A build that throws has its partly built table dropped (purged) and
    * its error rethrown, so a later call, in this JVM or the next, builds
    * again instead of loading a table that never passed its build's
    * checks. A failed drop is kept as a suppressed error. */
  def fixture(cat: Catalog, ident: TableIdentifier)(build: => IceTable): IceTable =
    if (cat.tableExists(ident)) IceTable.load(cat, ident)
    else dropOnFailure(cat, ident)(build)

  /** `fixture` for callers that do not need the table: an existing table
    * is not loaded. */
  def ensure(cat: Catalog, ident: TableIdentifier)(build: => Unit): Unit =
    if (!cat.tableExists(ident)) dropOnFailure(cat, ident)(build)

  private def dropOnFailure[T](cat: Catalog, ident: TableIdentifier)(build: => T): T =
    try build
    catch {
      case e: Throwable =>
        try cat.dropTable(ident, purge = true)
        catch { case d: Throwable => e.addSuppressed(d) }
        throw e
    }

  /** The directory `out`, which `write` fills unless an earlier call left
    * it there. A `write` that throws (a gate `require` included) has `out`
    * and `scratch` (its checkpoint, say) deleted before its error is
    * rethrown, so a later call, in this JVM or the next, runs it and its
    * gate again instead of reusing what a failed run left. */
  def sidecar(out: String, scratch: String*)(write: => Unit): String = {
    if (!Files.exists(Paths.get(out)))
      try write
      catch {
        case e: Throwable =>
          (out +: scratch).foreach(d =>
            org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
          throw e
      }
    out
  }

  def warehouseDir(sfDir: String): String = {
    val tag = sfDir.replaceAll("[^a-zA-Z0-9]", "_")
    s"${System.getProperty("java.io.tmpdir")}/graft_wh$tag"
  }

  def catalog(sfDir: String): DirCatalog = new DirCatalog(warehouseDir(sfDir))

  /** Partition specs chosen for scale: facts partition on time (+bucket
    * for the biggest), dims stay unpartitioned. At 100 TB this is the
    * layout that keeps scans pruned and writes clustered. */
  private def specFor(name: String, schema: Schema): PartitionSpec = name match {
    case "lineitem" =>
      val sd = schema.findFieldByName("l_shipdate").get.id
      PartitionSpec(0, IndexedSeq(PartitionField(sd, 1000, "ship_month", MonthTransform)))
    case "orders" =>
      val od = schema.findFieldByName("o_orderdate").get.id
      PartitionSpec(0, IndexedSeq(PartitionField(od, 1000, "order_month", MonthTransform)))
    case "events" =>
      val ts = schema.findFieldByName("ts").get.id
      PartitionSpec(0, IndexedSeq(PartitionField(ts, 1000, "event_day", DayTransform)))
    case _ => PartitionSpec.unpartitioned
  }

  /** Load (building on first use) the Iceberg table for a testdata table. */
  def ice(spark: SparkSession, sfDir: String, name: String): IceTable =
    tpch(sfDir, name) { (cat, ident) =>
      val raw = spark.read.parquet(s"$sfDir/$name.parquet")
      val schema = SparkConv.fromSpark(raw.schema)
      val t = IceTable.create(cat, ident, schema, specFor(name, schema))
      t.append(spark).appendDataFrame(raw)
      t
    }

  /** `fixture` for `tpch.<name>` in `sfDir`'s warehouse, once per JVM. */
  def tpch(sfDir: String, name: String)(
      build: (DirCatalog, TableIdentifier) => IceTable): IceTable =
    once(s"$sfDir/tpch.$name") {
      val cat = catalog(sfDir)
      val ident = TableIdentifier(Seq("tpch"), name)
      fixture(cat, ident)(build(cat, ident))
    }

  /** The Iceberg-planned scan as a DataFrame. */
  def scan(spark: SparkSession, sfDir: String, name: String): DataFrame =
    ice(spark, sfDir, name).newScan().toDF(spark)

  /** Raw parquet (for operators where the table layer isn't under test). */
  def raw(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")
}
