package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ice.IceTable
import graft.ice.catalog.{DirCatalog, TableIdentifier}
import graft.ice.expr.Expr
import graft.ice.manifest.ManifestAvro
import graft.ice.types.Literal

/** Outcome of one op. `wallNs` covers only the calls into the program;
  * answer checks and bookkeeping run outside it. `rows` is the number of
  * rows passing the op's filter, taken from the oracle. */
final case class OpResult(kind: String, wallNs: Long, ok: Boolean, rows: Long,
    isRead: Boolean, detail: String = "")

/** Table shape at the end of set-up. */
final case class Shape(rows: Long, dataFiles: Int, manifests: Int,
    dataBytes: Long, metadataBytes: Long) {
  override def toString: String =
    s"rows=$rows data_files=$dataFiles manifests=$manifests " +
      s"data_bytes=$dataBytes metadata_bytes=$metadataBytes"
}

object Shape {
  def of(t: IceTable): Shape = {
    val files = t.newScan().planFiles()
    val manifests = t.currentSnapshot.map(s => ManifestAvro.readManifestList(s.manifestList).size)
    Shape(files.map(_.file.recordCount).sum, files.size, manifests.getOrElse(0),
      files.map(_.file.fileSizeInBytes).sum, Disk.bytesUnder(Paths.get(t.metadataFileDir)))
  }
}

object Disk {
  def files(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).toVector finally s.close()
    }
  def bytesUnder(root: Path): Long = files(root).map(Files.size).sum
  def delete(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator.asScala.toVector.reverse.foreach(Files.deleteIfExists) finally s.close()
    }
}

/** What every workload shares: the session, the seed, the timed catalog
  * over the run's private warehouse, and the tracer. */
final class Ctx(val spark: SparkSession, val seed: Long, val warehouse: String,
    val tracer: Tracer) {
  val catalog = new TimedCatalog(new DirCatalog(warehouse), tracer)
  val parallelism: Int = spark.sparkContext.defaultParallelism

  /** Run the op's program calls under one root span; returns the wall
    * time in ns. */
  def timed[A](kind: String)(body: => A): (A, Long) = {
    val t0 = System.nanoTime()
    val a = tracer.span(kind)(body)
    (a, System.nanoTime() - t0)
  }

  /** Collect an action's rows; when traced, record Catalyst's phase
    * times for it (graft.ice.connector + Catalyst layer). */
  def collect(df: DataFrame): Array[Row] = {
    val rows = tracer.span("ice.action")(df.collect())
    if (tracer.active) {
      val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
      qe.tracker.phases.foreach { case (phase, p) =>
        tracer.count(s"catalyst.${phase}_ms", p.durationMs.toDouble)
        tracer.addSpan(s"catalyst.$phase", tracer.current, tracer.msToNs(p.startTimeMs),
          tracer.msToNs(p.endTimeMs))
      }
    }
    rows
  }

  def drop(round: Int): Unit = Disk.delete(Paths.get(warehouse, s"r$round"))
}

object Check {
  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))
  def dbl(r: Row, i: Int): Double = if (r.isNullAt(i)) 0.0 else r.getDouble(i)
  def lng(r: Row, i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
}

trait Workload {
  /** Build the table and every expected answer in namespace `r<round>`. */
  def setup(round: Int): Shape
  /** Run op `i` (ops cycle deterministically through the seeded set). */
  def run(i: Long): OpResult
  /** Workload-specific end-to-end figures after the timed phase:
    * (name, value, unit). */
  def report(timedOps: Seq[OpResult]): Seq[(String, Double, String)] = Nil
  /** Called once, just before the first timed op. */
  def beginTimed(): Unit = ()
  /** Whether `n` ops since the start of the timed phase make whole
    * cycles of the op mix. Warm-up runs at least one cycle (so every
    * query shape is compiled before timing) and the timed phase ends on a
    * boundary, so every run measures the same mix. */
  def cycleDone(n: Long): Boolean
  /** Make the next answer check compare against a wrong expected value. */
  var corruptNext = false
  protected def bias(): Long = if (corruptNext) { corruptNext = false; 1L } else 0L
}

/** Per-query fixed cost: load, plan through ScanBuilder, build the
  * DataFrame, aggregate, collect — over a fast-append streaming table
  * (one manifest per commit, four day partitions per commit). */
final class PointReads(c: Ctx) extends Workload {
  private val Commits = 8
  private val RowsPerCommit = 2000
  private val Rows = Commits.toLong * RowsPerCommit
  private val days = CommitDays(RowsPerCommit, 4)
  private val Instances = 8

  private final case class Q(expr: Expr, cond: Column)
  // half day ranges (0-2 extra days), half key ranges of 500-5000 keys,
  // both stratified over their range
  private val queries: IndexedSeq[Q] = (0 until Instances).map { k =>
    val j = k / 2
    if (k % 2 == 0) {
      val w = j % 3
      val d = Gen.stratum(c.seed, j, 32, j, Instances / 2, Commits + 3 - w)
      Q(Expr.and(Expr.gtEq("l_shipdate", Literal.date(Gen.Day0 + d)),
          Expr.ltEq("l_shipdate", Literal.date(Gen.Day0 + d + w))),
        col("l_shipdate").between(lit(Gen.date(d)), lit(Gen.date(d + w))))
    } else {
      val w = 500 + Gen.stratum(c.seed, j, 33, j, Instances / 2, 4501)
      val a = Gen.pick(c.seed, k, 34, (Rows - w).toInt).toLong
      Q(Expr.and(Expr.gtEq("l_orderkey", Literal.long(a)),
          Expr.ltEq("l_orderkey", Literal.long(a + w - 1))),
        col("l_orderkey").between(a, a + w - 1))
    }
  }
  private var ident: TableIdentifier = _
  private var expected: IndexedSeq[(Long, Double, Double)] = _

  def setup(round: Int): Shape = {
    ident = TableIdentifier(Seq(s"r$round"), "lineitem")
    val t = IceTable.create(c.catalog, ident, Gen.schema, Gen.shipdateSpec("day"),
      properties = Map("commit.manifest-merge.enabled" -> "false"))
    (0 until Commits).foreach { k =>
      t.append(c.spark).appendDataFrame(
        Gen.frame(c.spark, c.seed, k * RowsPerCommit, (k + 1) * RowsPerCommit, 1, days))
    }
    val aggs = queries.flatMap(q => Seq(
      sum(when(q.cond, 1L).otherwise(0L)),
      sum(when(q.cond, col("l_quantity"))),
      sum(when(q.cond, col("l_extendedprice")))))
    val r = Gen.frame(c.spark, c.seed, 0, Rows, c.parallelism, days)
      .agg(aggs.head, aggs.tail: _*).head()
    expected = queries.indices.map(k =>
      (Check.lng(r, 3 * k), Check.dbl(r, 3 * k + 1), Check.dbl(r, 3 * k + 2)))
    Shape.of(t)
  }

  def cycleDone(n: Long): Boolean = n % Instances == 0

  def run(i: Long): OpResult = {
    val k = (i % Instances).toInt
    val q = queries(k)
    val ((t, got), ns) = c.timed("read") {
      val t = IceTable.load(c.catalog, ident)
      val df = c.tracer.span("ice.to_df")(t.newScan().filter(q.expr).toDF(c.spark))
      (t, c.collect(df.agg(count(lit(1)), sum("l_quantity"), sum("l_extendedprice"))).head)
    }
    val (n, qty, price) = expected(k)
    val ok = got.getLong(0) == n + bias() && Check.close(Check.dbl(got, 1), qty) &&
      Check.close(Check.dbl(got, 2), price)
    val consistent = !c.tracer.active || { val (kept, planned) = Replay(t, q.expr, c.tracer); kept == planned }
    OpResult("read", ns, ok && consistent, n, isRead = true,
      if (!consistent) "replay disagrees with planFiles" else if (!ok) s"query $k: got $got" else "")
  }
}

/** TPC-H Q1/Q6-style aggregates through the `ice` SQL catalog over one
  * bulk-loaded, month-partitioned table: Spark execution and connector
  * planning dominate, manifest work is negligible. */
final class WideScans(c: Ctx) extends Workload {
  private val rows = 300000L
  private val Days = 1096
  private val days = UniformDays(Days)
  // one cycle: three Q1 and one Q6. Q1 is the slower shape, so the median
  // read falls inside one latency mode rather than between two
  private val Q1s = 3
  private val Q6s = 1

  private sealed trait Q { def expr: Expr; def cond: Column; def where: String }
  private final case class Q1(cut: Int) extends Q {
    val expr: Expr = Expr.ltEq("l_shipdate", Literal.date(Gen.Day0 + cut))
    val cond: Column = col("l_shipdate") <= lit(Gen.date(cut))
    val where = s"l_shipdate <= DATE '${Gen.date(cut)}'"
  }
  private final case class Q6(from: Int, until: Int, disc: Int, qty: Int) extends Q {
    val expr: Expr = Expr.and(Expr.and(
      Expr.gtEq("l_shipdate", Literal.date(Gen.Day0 + from)),
      Expr.lt("l_shipdate", Literal.date(Gen.Day0 + until))), Expr.and(
      Expr.gtEq("l_discount", Literal.double(disc / 100.0)),
      Expr.lt("l_quantity", Literal.double(qty.toDouble))))
    val cond: Column = col("l_shipdate") >= lit(Gen.date(from)) &&
      col("l_shipdate") < lit(Gen.date(until)) &&
      col("l_discount") >= disc / 100.0 && col("l_quantity") < qty.toDouble
    val where = s"l_shipdate >= DATE '${Gen.date(from)}' AND " +
      s"l_shipdate < DATE '${Gen.date(until)}' AND l_discount >= ${disc / 100.0} AND " +
      s"l_quantity < $qty"
  }
  // every filter keeps 30-100% of the rows, stratified: Q1 cuts at 30-100%
  // of the days; Q6 keeps 45-100% of the days, >= 9/11 of the discounts
  // and >= 41/50 of the quantities
  private val q1s = (0 until Q1s).map(k =>
    Q1(Days * 3 / 10 + Gen.stratum(c.seed, k, 41, k, Q1s, Days * 7 / 10)))
  private val q6s = (0 until Q6s).map { k =>
    val len = Days * 45 / 100 + Gen.stratum(c.seed, k, 42, k, Q6s, Days * 55 / 100)
    val from = Gen.pick(c.seed, k, 43, Days - len + 1)
    Q6(from, from + len, Gen.pick(c.seed, k, 44, 3), 42 + Gen.stratum(c.seed, k, 45, k, Q6s, 10))
  }
  private val groups = for (f <- Seq("A", "N", "R"); s <- Seq("F", "O")) yield (f, s)
  private var table: String = _
  private var ident: TableIdentifier = _
  // per query, per (returnflag, linestatus): count, qty, price, disc_price,
  // charge, discount, revenue
  private var expected: Map[Q, Map[(String, String), IndexedSeq[Double]]] = _

  def setup(round: Int): Shape = {
    ident = TableIdentifier(Seq(s"r$round"), "lineitem")
    table = s"ice.r$round.lineitem"
    val t = IceTable.create(c.catalog, ident, Gen.schema, Gen.shipdateSpec("month"))
    // generated once: the append and the oracle read the same cached rows
    val raw = Gen.frame(c.spark, c.seed, 0, rows, c.parallelism, days).cache()
    t.append(c.spark).appendDataFrame(raw)
    val qs: Seq[Q] = q1s ++ q6s
    val price = col("l_extendedprice")
    val discPrice = price * (lit(1) - col("l_discount"))
    val measures = Seq(lit(1.0), col("l_quantity"), price, discPrice,
      discPrice * (lit(1) + col("l_tax")), col("l_discount"), price * col("l_discount"))
    val aggs = qs.flatMap(q => measures.map(m => sum(when(q.cond, m))))
    val got = raw.groupBy("l_returnflag", "l_linestatus").agg(aggs.head, aggs.tail: _*).collect()
    raw.unpersist(blocking = true)
    expected = qs.zipWithIndex.map { case (q, k) =>
      q -> got.map(r => (r.getString(0), r.getString(1)) ->
        measures.indices.map(j => Check.dbl(r, 2 + k * measures.size + j))).toMap
    }.toMap
    Shape.of(t)
  }

  def cycleDone(n: Long): Boolean = n % (Q1s + Q6s) == 0

  def run(i: Long): OpResult = {
    val j = (i % (Q1s + Q6s)).toInt
    val q: Q = if (j % 4 == 3) q6s(j / 4) else q1s(j - (j + 1) / 4)
    val sql = q match {
      case _: Q1 =>
        s"""SELECT l_returnflag, l_linestatus, sum(l_quantity), sum(l_extendedprice),
           |sum(l_extendedprice * (1 - l_discount)),
           |sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)),
           |avg(l_quantity), avg(l_extendedprice), avg(l_discount), count(*)
           |FROM $table WHERE ${q.where}
           |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin
      case _: Q6 =>
        s"SELECT sum(l_extendedprice * l_discount), count(*) FROM $table WHERE ${q.where}"
    }
    val (got, ns) = c.timed("read") {
      c.collect(c.tracer.span("sql.parse_analyze")(c.spark.sql(sql)))
    }
    val exp = expected(q)
    val passing = exp.values.map(_(0)).sum.toLong
    val b = bias()
    val ok = q match {
      case _: Q1 =>
        val want = groups.flatMap(g => exp.get(g).filter(_(0) > 0).map(g -> _))
        got.map(_.getLong(9)).sum == passing + b && got.length == want.length &&
          got.zip(want).forall { case (r, ((f, s), e)) =>
            val n = e(0)
            r.getString(0) == f && r.getString(1) == s && r.getLong(9) == n.toLong &&
              Seq(e(1), e(2), e(3), e(4), e(1) / n, e(2) / n, e(5) / n).zipWithIndex
                .forall { case (v, j) => Check.close(r.getDouble(2 + j), v) }
          }
      case _: Q6 =>
        got.length == 1 && got(0).getLong(1) == passing + b &&
          Check.close(Check.dbl(got(0), 0), exp.values.map(_(6)).sum)
    }
    val consistent = !c.tracer.active || {
      val (kept, planned) = Replay(IceTable.load(c.catalog, ident), q.expr, c.tracer)
      kept == planned
    }
    OpResult("read", ns, ok && consistent, passing, isRead = true,
      if (!consistent) "replay disagrees with planFiles"
      else if (!ok) s"$sql: got ${got.mkString(";")}" else "")
  }
}

/** Writes beside reads on a format-v2 merge-on-read table with manifest
  * merging on: time-ordered appends, positional deletes of small key
  * ranges, selective reads that apply the accumulated delete files, and a
  * compaction + expiry run after every four commits. The op kinds follow
  * one fixed cycle, and the read and delete widths are stratified by their
  * place in it, so every seed and every cycle runs the same mix. Expected
  * answers come from the generator's own model of which ids are live. */
final class IngestMor(c: Ctx) extends Workload {
  private val BaseRows = 50000
  private val AppendRows = 2000
  private val days = OrderedDays(5000)
  private val Cycle = IndexedSeq("append", "read", "read", "delete", "read", "read",
    "append", "read", "read", "delete", "read", "read", "maint")
  private val ReadsPerCycle = Cycle.count(_ == "read")
  private val DeletesPerCycle = Cycle.count(_ == "delete")

  private var ident: TableIdentifier = _
  private var t: IceTable = _
  private val live = scala.collection.mutable.BitSet()
  private var nextId = 0L
  private var step = 0
  private var reads = 0
  private var deletes = 0
  // every file ever seen under the table location, and bytes created
  // since the timed phase began
  private val seen = scala.collection.mutable.HashSet.empty[String]
  private var written = 0L
  private var appended = 0L

  def setup(round: Int): Shape = {
    ident = TableIdentifier(Seq(s"r$round"), "events")
    t = IceTable.create(c.catalog, ident, Gen.schema, Gen.shipdateSpec("day"),
      properties = Map(
        "format-version" -> "2",
        "write.delete.mode" -> "merge-on-read",
        "commit.manifest-merge.enabled" -> "true",
        "write.metadata.delete-after-commit.enabled" -> "true",
        "write.metadata.previous-versions-max" -> "10",
        // a day's compacted file (5000 rows, ~78 KB) is larger than this;
        // an append's file (<= 2000 rows, ~32 KB) is smaller, so compaction
        // rewrites new files and delete-touched ones, not the whole table
        "write.compact.small-file-threshold-bytes" -> "50000"))
    t.append(c.spark).appendDataFrame(Gen.frame(c.spark, c.seed, 0, BaseRows, c.parallelism, days))
    live.clear(); live ++= 0 until BaseRows
    nextId = BaseRows; step = 0; reads = 0; deletes = 0
    seen.clear(); newFiles()
    Shape.of(t)
  }

  override def beginTimed(): Unit = { written = 0L; appended = 0L }
  /** A cycle is the ops between two maintenance runs. */
  def cycleDone(n: Long): Boolean = step % Cycle.size == 0

  private def keyRange(a: Long, w: Long): Expr =
    Expr.and(Expr.gtEq("l_orderkey", Literal.long(a)), Expr.lt("l_orderkey", Literal.long(a + w)))

  /** Files created under the table location since the last call. */
  private def newFiles(): Seq[(String, Long)] = {
    val fresh = Disk.files(Paths.get(t.location)).map(_.toString).filter(seen.add)
      .flatMap(p => scala.util.Try(p -> Files.size(Paths.get(p))).toOption)
    written += fresh.map(_._2).sum
    fresh
  }

  /** write.* counters of a traced op, from the files it created. */
  private def account(kind: String, files: Seq[(String, Long)]): Unit = {
    val data = files.filter(f => f._1.endsWith(".parquet") && f._1.contains("/data/"))
    val (deletes, dataFiles) = data.partition(_._1.contains("-deletes/"))
    val meta = files.filter(_._1.contains("/metadata/"))
    if (kind == "maint") {
      c.tracer.count("maint.bytes_rewritten", dataFiles.map(_._2).sum.toDouble)
    } else {
      if (kind == "append") {
        c.tracer.count("write.data_files", dataFiles.size)
        c.tracer.count("write.data_bytes", dataFiles.map(_._2).sum.toDouble)
      }
      if (kind == "delete") {
        c.tracer.count("write.delete_files", deletes.size)
        c.tracer.count("write.delete_bytes", deletes.map(_._2).sum.toDouble)
      }
      if (kind != "read") {
        c.tracer.count("write.manifests_written", meta.count { case (p, _) =>
          p.endsWith(".avro") && !Paths.get(p).getFileName.toString.startsWith("snap-") })
        c.tracer.count("write.metadata_bytes", meta.map(_._2).sum.toDouble)
      }
    }
  }

  private def liveIn(a: Long, w: Long): Iterator[Int] =
    live.rangeImpl(Some(a.toInt), Some((a + w).toInt)).iterator

  def run(i: Long): OpResult = {
    val kind = Cycle(step % Cycle.size)
    step += 1
    val res = kind match {
      case "append" =>
        val lo = nextId
        val df = Gen.frame(c.spark, c.seed, lo, lo + AppendRows, 1, days)
        val (snap, ns) = c.timed(kind)(t.append(c.spark).appendDataFrame(df))
        live ++= lo.toInt until (lo + AppendRows).toInt
        nextId += AppendRows; appended += AppendRows
        val ok = snap.summary.get("added-records").contains(AppendRows.toString)
        OpResult(kind, ns, ok, AppendRows, isRead = false, if (ok) "" else s"append summary ${snap.summary}")
      case "delete" =>
        val w = 20L + Gen.stratum(c.seed, i, 96, deletes % DeletesPerCycle, DeletesPerCycle, 181)
        deletes += 1
        val a = Gen.pick(c.seed, i, 95, (nextId - w).toInt).toLong
        val n = liveIn(a, w).size
        val (snap, ns) = c.timed(kind) {
          c.tracer.span("write.delete")(t.delete(c.spark).deleteWherePositional(keyRange(a, w)))
        }
        live --= a.toInt until (a + w).toInt
        val ok = snap.summary.get("added-delete-records").contains(n.toString)
        OpResult(kind, ns, ok, n, isRead = false, if (ok) "" else s"delete of $n rows: ${snap.summary}")
      case "read" =>
        val w = 2000L + Gen.stratum(c.seed, i, 94, reads % ReadsPerCycle, ReadsPerCycle, 18001)
        reads += 1
        val a = Gen.pick(c.seed, i, 93, (nextId - w).toInt).toLong
        val filter = keyRange(a, w)
        val ((rt, got), ns) = c.timed(kind) {
          val rt = IceTable.load(c.catalog, ident)
          val df = c.tracer.span("ice.to_df")(rt.newScan().filter(filter).toDF(c.spark))
          (rt, c.collect(df.agg(count(lit(1)), sum("l_quantity"))).head)
        }
        val ids = liveIn(a, w).toVector
        val ok = got.getLong(0) == ids.size + bias() &&
          Check.close(Check.dbl(got, 1), ids.map(id => Gen.quantity(c.seed, id)).sum)
        val consistent = !c.tracer.active || { val (k, p) = Replay(rt, filter, c.tracer); k == p }
        OpResult(kind, ns, ok && consistent, ids.size, isRead = true,
          if (!consistent) "replay disagrees with planFiles" else if (!ok) s"read [$a,+$w): got $got" else "")
      case "maint" =>
        val (compacted, ns) = c.timed(kind) {
          val snap = c.tracer.span("maint.compact")(t.compact(c.spark).rewriteDataFiles())
          c.tracer.span("maint.expire") {
            val now = System.currentTimeMillis()
            t.manageSnapshots().expireSnapshots(now, retainLast = 5)
            c.tracer.count("maint.files_removed", t.maintenance().removeOrphanFiles(now).size)
          }
          snap
        }
        c.tracer.count("maint.files_rewritten",
          compacted.summary.get("compacted-files").map(_.toDouble).getOrElse(0.0))
        // compaction folds every delete in, so the live-row count is
        // provable from metadata alone
        val planned = t.newScan().planFiles().map(_.file.recordCount).sum
        val folded = t.currentSnapshot.forall(s => t.planDeleteEntries(s).isEmpty)
        val ok = !folded || planned == live.size
        OpResult(kind, ns, ok, 0, isRead = false, if (ok) "" else s"after maintenance $planned rows, model ${live.size}")
    }
    val files = newFiles()
    if (c.tracer.active) account(kind, files)
    res
  }

  override def report(timedOps: Seq[OpResult]): Seq[(String, Double, String)] = {
    def p(kind: String, q: Double) = Stats.percentile(timedOps.filter(_.kind == kind).map(_.wallNs / 1e6), q)
    Seq(
      ("append_p50_ms", p("append", 0.5), "ms"),
      ("append_p90_ms", p("append", 0.9), "ms"),
      ("delete_p50_ms", p("delete", 0.5), "ms"),
      ("maint_p50_ms", p("maint", 0.5), "ms"),
      ("bytes_written_per_row", if (appended > 0) written.toDouble / appended else 0.0, "B/row"),
      ("stored_bytes_per_row", Disk.bytesUnder(Paths.get(t.location)).toDouble / live.size, "B/row"),
      ("live_rows", live.size.toDouble, "rows"),
      ("maint_cycles", timedOps.count(_.kind == "maint").toDouble, "count"))
  }
}
