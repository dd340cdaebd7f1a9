package perfbench

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ice.meta.{PartitionField, PartitionSpec}
import graft.ice.transform.Transform
import graft.ice.types._

/** One lineitem-shaped row. Field names follow TPC-H so the SQL reads
  * like the queries Spark users run. */
final case class Line(
    l_orderkey: Long,
    l_partkey: Long,
    l_suppkey: Long,
    l_linenumber: Int,
    l_quantity: Double,
    l_extendedprice: Double,
    l_discount: Double,
    l_tax: Double,
    l_returnflag: String,
    l_linestatus: String,
    l_shipdate: LocalDate,
    l_shipmode: String,
    l_comment: String)

/** How a row id maps to its ship day (days after [[Gen.Day0]]). The
  * mapping is what gives each workload its table shape. */
sealed trait DayOf extends Serializable { def apply(seed: Long, id: Long): Int }

/** Streaming shape: commit `id / rowsPerCommit` holds rows of `spread`
  * consecutive days starting at its own index. */
final case class CommitDays(rowsPerCommit: Int, spread: Int) extends DayOf {
  def apply(seed: Long, id: Long): Int =
    (id / rowsPerCommit).toInt + Gen.pick(seed, id, 11, spread)
}

/** Bulk-load shape: ship days uniform over `days`. */
final case class UniformDays(days: Int) extends DayOf {
  def apply(seed: Long, id: Long): Int = Gen.pick(seed, id, 11, days)
}

/** Time-ordered ingest: `rowsPerDay` consecutive ids share a day. */
final case class OrderedDays(rowsPerDay: Int) extends DayOf {
  def apply(seed: Long, id: Long): Int = (id / rowsPerDay).toInt
}

/** Seeded row generator. Every column is a pure function of
  * (seed, row id), so set-up can recompute any row, or any aggregate over
  * rows, without reading the table back. */
object Gen {
  val Day0: Int = LocalDate.of(1995, 1, 1).toEpochDay.toInt

  private val Flags = Array("A", "N", "R")
  private val Statuses = Array("F", "O")
  private val Modes = Array("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
  private val Comments = Array("carefully final deposits", "quickly ironic packages",
    "blithely regular accounts", "furiously even requests", "slyly bold pinto beans",
    "express theodolites haggle", "pending foxes sleep", "silent asymptotes wake")

  /** splitmix64 finaliser over (seed, id, salt). */
  def mix(seed: Long, id: Long, salt: Int): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + id * 0xBF58476D1CE4E5B9L + salt * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform in [0, n). */
  def pick(seed: Long, id: Long, salt: Int, n: Int): Int =
    java.lang.Math.floorMod(mix(seed, id, salt), n.toLong).toInt

  /** Draw `draw` of a seeded value in the `k`-th of `strata` equal slices
    * of [0, n): op parameters drawn this way cover the range alike for
    * every seed, so runs with different seeds do comparable work. */
  def stratum(seed: Long, draw: Long, salt: Int, k: Int, strata: Int, n: Int): Int = {
    val lo = (k.toLong * n / strata).toInt
    val hi = ((k + 1).toLong * n / strata).toInt
    lo + pick(seed, draw, salt, math.max(1, hi - lo))
  }

  def quantity(seed: Long, id: Long): Double = (pick(seed, id, 5, 50) + 1).toDouble

  def row(seed: Long, id: Long, dayOf: DayOf): Line = {
    val qty = quantity(seed, id)
    val price = qty * (900 + pick(seed, id, 6, 1100)) + pick(seed, id, 7, 100) / 100.0
    Line(
      l_orderkey = id,
      l_partkey = pick(seed, id, 2, 200000) + 1L,
      l_suppkey = pick(seed, id, 3, 10000) + 1L,
      l_linenumber = (id % 7).toInt + 1,
      l_quantity = qty,
      l_extendedprice = price,
      l_discount = pick(seed, id, 8, 11) / 100.0,
      l_tax = pick(seed, id, 9, 9) / 100.0,
      l_returnflag = Flags(pick(seed, id, 10, Flags.length)),
      l_linestatus = Statuses(pick(seed, id, 13, Statuses.length)),
      l_shipdate = LocalDate.ofEpochDay((Day0 + dayOf(seed, id)).toLong),
      l_shipmode = Modes(pick(seed, id, 14, Modes.length)),
      l_comment = Comments(pick(seed, id, 12, Comments.length)))
  }

  /** Rows [lo, hi) as a DataFrame over `parts` input partitions. This is
    * the only input the table layer receives, and the oracle aggregates
    * the same frame with plain Spark. */
  def frame(spark: SparkSession, seed: Long, lo: Long, hi: Long, parts: Int,
      dayOf: DayOf): DataFrame = {
    import spark.implicits._
    spark.range(lo, hi, 1, parts).as[Long].map(id => row(seed, id, dayOf)).toDF()
  }

  val schema: Schema = Schema(0, IndexedSeq(
    NestedField(1, "l_orderkey", LongT, required = false),
    NestedField(2, "l_partkey", LongT, required = false),
    NestedField(3, "l_suppkey", LongT, required = false),
    NestedField(4, "l_linenumber", IntT, required = false),
    NestedField(5, "l_quantity", DoubleT, required = false),
    NestedField(6, "l_extendedprice", DoubleT, required = false),
    NestedField(7, "l_discount", DoubleT, required = false),
    NestedField(8, "l_tax", DoubleT, required = false),
    NestedField(9, "l_returnflag", StringT, required = false),
    NestedField(10, "l_linestatus", StringT, required = false),
    NestedField(11, "l_shipdate", DateT, required = false),
    NestedField(12, "l_shipmode", StringT, required = false),
    NestedField(13, "l_comment", StringT, required = false)))

  /** Partition spec on l_shipdate with the given transform name. */
  def shipdateSpec(transform: String): PartitionSpec =
    PartitionSpec(0, IndexedSeq(PartitionField(11, 1000, s"l_shipdate_$transform",
      Transform.fromString(transform))))

  def date(day: Int): LocalDate = LocalDate.ofEpochDay((Day0 + day).toLong)
}
