package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._

import graft.ice.IceTable
import graft.ice.catalog._
import graft.ice.expr._
import graft.ice.manifest.{ManifestAvro, ManifestContent}
import graft.ice.meta._
import graft.ice.types.Schema

/** One timed interval of an op. `parent` is -1 for a root. */
final case class Span(op: Long, id: Int, parent: Int, name: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder for the client thread. Spans and per-op
  * counters are recorded only while `active`; an inactive tracer adds a
  * flag test per call and nothing else. Every span also adds its
  * duration to the counter `<name>_ms` of the current op. */
final class Tracer {
  private val owner = Thread.currentThread()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack: List[Int] = Nil
  private var op: Long = -1L
  private var counters = mutable.LinkedHashMap.empty[String, Double]
  var active = false

  /** Start op `id`, traced or not, with fresh counters. */
  def beginOp(id: Long, traced: Boolean): Unit = {
    op = id; active = traced; stack = Nil
    counters = mutable.LinkedHashMap.empty
  }
  def opCounters: collection.Map[String, Double] = counters

  def count(name: String, v: Double): Unit =
    if (active) counters(name) = counters.getOrElse(name, 0.0) + v

  def span[A](name: String)(body: => A): A =
    if (!active || (Thread.currentThread() ne owner)) body
    else {
      val id = nextId; nextId += 1
      val parent = current
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(op, id, parent, name, t0, t1)
        count(name + "_ms", (t1 - t0) / 1e6)
      }
    }

  /** Record an interval measured elsewhere (listener, Catalyst). */
  def addSpan(name: String, parent: Int, startNs: Long, endNs: Long): Unit =
    if (active) { spans += Span(op, nextId, parent, name, startNs, endNs); nextId += 1 }

  /** Id of the innermost open span (-1 outside any). */
  def current: Int = stack.headOption.getOrElse(-1)

  private val epochOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  /** An epoch-millisecond instant on the span clock. */
  def msToNs(ms: Long): Long = ms * 1000000L + epochOffsetNs

  def spansOfOp(id: Long): Seq[Span] = spans.filter(_.op == id).toSeq
  def root(id: Long, name: String): Option[Span] =
    spans.reverseIterator.find(s => s.op == id && s.parent == -1 && s.name == name)

  def write(path: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    val w = Files.newBufferedWriter(Paths.get(path))
    try spans.foreach { s =>
      w.write(s"""{"op":${s.op},"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      w.newLine()
    } finally w.close()
  }
}

/** Sum and count per metric name across traced ops. */
final class Stats {
  private val sums = mutable.LinkedHashMap.empty[String, (Double, Long)]
  def add(name: String, v: Double): Unit = {
    val (s, n) = sums.getOrElse(name, (0.0, 0L))
    sums(name) = (s + v, n + 1)
  }
  def addAll(m: collection.Map[String, Double]): Unit = m.foreach { case (k, v) => add(k, v) }
  def sum(name: String): Double = sums.get(name).map(_._1).getOrElse(0.0)
  /** Mean over the ops that recorded `name`; 0 when none did. */
  def mean(name: String): Double = sums.get(name).map(p => p._1 / p._2).getOrElse(0.0)
  def ratio(num: String, den: String): Double =
    if (sum(den) > 0) sum(num) / sum(den) else 0.0
}

/** Timing decorator over a catalog: table loads, creates and commits
  * become spans of the current op, and lost commit races are counted. */
final class TimedCatalog(inner: Catalog, tracer: Tracer) extends Catalog {
  def createTable(ident: TableIdentifier, schema: Schema, spec: PartitionSpec,
      sortOrder: SortOrder, properties: Map[String, String],
      location: Option[String]): TableRef =
    rebind(tracer.span("catalog.create") {
      inner.createTable(ident, schema, spec, sortOrder, properties, location)
    })
  def loadTable(ident: TableIdentifier): TableRef = {
    tracer.count("catalog.loads", 1)
    val ref = rebind(tracer.span("catalog.load")(inner.loadTable(ident)))
    observe(ident, ref.metadata)
    ref
  }
  def commit(ident: TableIdentifier, baseVersion: Int, updated: TableMetadata): Int = {
    tracer.count("catalog.commits", 1)
    val v =
      try tracer.span("catalog.commit")(inner.commit(ident, baseVersion, updated))
      catch {
        case e: CommitFailedException =>
          tracer.count("catalog.commit_conflicts", 1); throw e
      }
    observe(ident, updated)
    v
  }

  /** meta.* : size of the current metadata JSON and snapshot count,
    * observed at every traced load and commit. */
  private def observe(ident: TableIdentifier, m: TableMetadata): Unit =
    if (tracer.active) {
      inner.metadataLocation(ident).foreach { p =>
        tracer.count("meta.json_bytes", Files.size(Paths.get(p)).toDouble)
        tracer.count("meta.snapshots", m.snapshots.size.toDouble)
        tracer.count("meta.observations", 1)
      }
    }

  private def rebind(r: TableRef): TableRef = r.copy(catalog = this)

  def tableExists(ident: TableIdentifier): Boolean = inner.tableExists(ident)
  def dropTable(ident: TableIdentifier, purge: Boolean): Boolean = inner.dropTable(ident, purge)
  def listTables(namespace: Seq[String]): Seq[TableIdentifier] = inner.listTables(namespace)
  def listNamespaces(parent: Seq[String]): Seq[Seq[String]] = inner.listNamespaces(parent)
  def createNamespace(namespace: Seq[String], properties: Map[String, String]): Unit =
    inner.createNamespace(namespace, properties)
  def dropNamespace(namespace: Seq[String]): Boolean = inner.dropNamespace(namespace)
  def namespaceExists(namespace: Seq[String]): Boolean = inner.namespaceExists(namespace)
  def loadNamespaceProperties(namespace: Seq[String]): Map[String, String] =
    inner.loadNamespaceProperties(namespace)
  def updateNamespaceProperties(namespace: Seq[String], updates: Map[String, String],
      removals: Set[String]): Unit = inner.updateNamespaceProperties(namespace, updates, removals)
  def registerTable(ident: TableIdentifier, metadataLocation: String): TableRef =
    rebind(inner.registerTable(ident, metadataLocation))
  def currentVersion(ident: TableIdentifier): Int = inner.currentVersion(ident)
  override def commitLanded(ident: TableIdentifier, attemptedVersion: Int,
      attempted: TableMetadata, base: TableMetadata): Option[Boolean] =
    inner.commitLanded(ident, attemptedVersion, attempted, base)
  override def metadataLocation(ident: TableIdentifier): Option[String] =
    inner.metadataLocation(ident)
  def stageCreateTable(ident: TableIdentifier, schema: Schema, spec: PartitionSpec,
      sortOrder: SortOrder, properties: Map[String, String],
      location: Option[String]): TableRef =
    rebind(inner.stageCreateTable(ident, schema, spec, sortOrder, properties, location))
}

/** Spark job accounting per job group. Each traced op runs under its own
  * group; listener events arrive asynchronously, so the op's numbers are
  * read only after the listener bus has drained. */
final class JobListener extends SparkListener {
  final class Agg {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, inBytes, inRecords, shuffleWrite, spill = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  private val groups = new ConcurrentHashMap[String, Agg]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()

  private def agg(g: String): Agg = groups.computeIfAbsent(g, _ => new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        jobStart.put(e.jobId, (g, e.time))
        e.stageIds.foreach(stageGroup.put(_, g))
        val a = agg(g); a.synchronized(a.jobs += 1)
      }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (g, t0) =>
      val a = agg(g); a.synchronized(a.intervals += ((t0, e.time)))
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
      val a = agg(g); a.synchronized(a.stages += 1)
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val a = agg(g)
      a.synchronized {
        a.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.inBytes += m.inputMetrics.bytesRead
          a.inRecords += m.inputMetrics.recordsRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  def take(group: String): Agg = Option(groups.remove(group)).getOrElse(new Agg)
}

/** Post-op replay of a scan's planning through the table layer's own
  * modules: manifest list and manifest reads (`graft.ice.manifest`), then
  * the three pruning levels (`graft.ice.expr`), then `planFiles` itself.
  * Returns (files the replay kept, files `planFiles` returned). */
object Replay {
  def apply(table: IceTable, filter: Expr, tracer: Tracer): (Int, Int) = tracer.span("replay") {
    val snap = table.currentSnapshot.getOrElse(throw new IllegalStateException("empty table"))
    val meta = table.metadata
    val bound = Binder.bind(filter, table.schema)
    val manifests = tracer.span("manifest.list_read")(ManifestAvro.readManifestList(snap.manifestList))
    tracer.count("manifest.files_read", 1)
    tracer.count("manifest.bytes_read",
      Files.size(Paths.get(ManifestAvro.stripFileScheme(snap.manifestList))).toDouble)
    def specOf(id: Int) = meta.specById(id).getOrElse(PartitionSpec.unpartitioned)
    val data = manifests.filter(_.content == ManifestContent.Data)
    val kept = tracer.span("expr.prune") {
      data.filter { m =>
        val spec = specOf(m.partitionSpecId)
        spec.isUnpartitioned ||
          new ManifestEvaluator(spec).canContainRows(InclusiveProjection.project(bound, spec), m)
      }
    }
    tracer.count("expr.manifests_considered", data.size)
    tracer.count("expr.manifests_kept", kept.size)
    val metricsEval = new MetricsEvaluator
    val survivors = kept.map { m =>
      val spec = specOf(m.partitionSpecId)
      val entries = tracer.span("manifest.read") {
        ManifestAvro.readManifest(m.manifestPath, spec.partitionType(table.schema), Some(m))
      }
      tracer.count("manifest.files_read", 1)
      tracer.count("manifest.bytes_read", m.manifestLength.toDouble)
      tracer.count("manifest.entries_decoded", entries.size)
      tracer.span("expr.prune") {
        val live = entries.filter(_.isLive)
        val partExpr = InclusiveProjection.project(bound, spec)
        val tupleEval = new PartitionTupleEvaluator(spec)
        val byPartition = live.filter(e => tupleEval.eval(partExpr, e.dataFile.partition))
        val byMetrics = byPartition.filter(e => metricsEval.canContainRows(bound, e.dataFile))
        tracer.count("expr.partition_considered", live.size)
        tracer.count("expr.partition_kept", byPartition.size)
        tracer.count("expr.metrics_considered", byPartition.size)
        tracer.count("expr.metrics_kept", byMetrics.size)
        byMetrics.size
      }
    }.sum
    val planned = tracer.span("ice.plan")(table.newScan().filter(filter).planFiles().size)
    tracer.count("ice.files_planned", planned)
    tracer.count("ice.delete_files_planned", table.planDeleteEntries(snap).size)
    (survivors, planned)
  }
}

object Stats {
  /** Linearly interpolated quantile `q` of `xs` (0 when empty). */
  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
