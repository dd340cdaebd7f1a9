package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Paths

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

/** Table-layer benchmark: one JVM, one closed-loop client thread, Spark
  * local[N]. Set-up builds the workload's table from the seed three
  * times, warms up, then runs ops for the given seconds and prints every
  * metric, the last line being one JSON object. `setup_s` is the time
  * from JVM start to the first timed op, with the table builds counted
  * once, at their median, and rescaled by the host reference like the
  * other gated wall-clock metrics.
  *
  * {{{
  * perfbench.Main --workload point_reads|wide_scans|ingest_mor --seed N
  *   --seconds S --trace 0|1 --work-dir DIR --trace-dir DIR
  *   [--cores N] [--corrupt-expected 1]
  * }}}
  *
  * With `--trace 1` every other cycle of the op mix runs traced; the JSON
  * then holds the per-layer metrics, and `trace.overhead_pct` compares
  * traced with untraced read latency inside the same run. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opt.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val workDir = need("work-dir")
    val traceDir = need("trace-dir")
    val cores = opt.get("cores").map(_.toInt).getOrElse(4)
    val corrupt = opt.get("corrupt-expected").contains("1")

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def mark(phase: String): Unit =
      println(f"phase $phase%-10s ends ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.3f s after JVM start")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/spark-warehouse")
      .config("spark.sql.catalog.ice", "graft.ice.connector.GraftCatalogPlugin")
      .config("spark.sql.catalog.ice.warehouse", s"$workDir/warehouse")
      // Spark's status store keeps every finished job, stage, task and SQL
      // execution up to these limits; at the defaults it grows with the
      // number of ops a run completes, so `live_heap_mb` would follow the
      // host's speed rather than the program's state
      .config("spark.ui.retainedJobs", "10")
      .config("spark.ui.retainedStages", "10")
      .config("spark.ui.retainedTasks", "100")
      .config("spark.sql.ui.retainedExecutions", "10")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    mark("session")
    val sc = spark.sparkContext

    val tracer = new Tracer
    val listener = new JobListener
    if (traced) sc.addSparkListener(listener)
    val ctx = new Ctx(spark, seed, s"$workDir/warehouse", tracer)
    val w: Workload = workload match {
      case "point_reads" => new PointReads(ctx)
      case "wide_scans" => new WideScans(ctx)
      case "ingest_mor" => new IngestMor(ctx)
      case other => sys.error(s"unknown workload $other")
    }

    // ---- set-up: build the table `SetupRounds` times, keep the last ----
    val setupNs = (1 to SetupRounds).map { r =>
      val t0 = System.nanoTime()
      val shape = w.setup(r)
      val ns = System.nanoTime() - t0
      if (r > 1) ctx.drop(r - 1)
      println(f"setup round $r: ${ns / 1e9}%.3f s, $shape")
      ns
    }
    // ---- warm-up (JIT, codegen, first-job costs): one whole cycle of the
    // op mix, after the later set-up rounds have warmed the write path. A
    // fixed op count, so every run has done the same work when the heap is
    // read. Its first read proves that the answer check rejects a wrong
    // expected value ----
    var nextOp = 0L
    var warmFailures = 0
    var probe: Option[OpResult] = None
    w.corruptNext = true
    while (nextOp == 0 || !w.cycleDone(nextOp)) {
      val r = w.run(nextOp); nextOp += 1
      if (probe.isEmpty && !w.corruptNext) probe = Some(r)
      else if (!r.ok) { warmFailures += 1; println(s"warm-up op failed: ${r.detail}") }
    }
    val checkerRejects = !probe.get.ok
    hostReferenceMs(spark, cores)
    mark("warm-up")
    if (!checkerRejects) println("answer check accepted a corrupted expected value")

    val firstOpMs = System.currentTimeMillis()
    val setupWallS = ((firstOpMs - jvmStartMs) * 1e6 - setupNs.sum + median(setupNs.map(_.toDouble))) / 1e9

    // ---- timed phase ----
    if (corrupt) w.corruptNext = true
    w.beginTimed()
    val gcBefore = gcTotals()
    val cpuBefore = hostCpu()
    val results = mutable.ArrayBuffer.empty[OpResult]
    val tracedFlags = mutable.ArrayBuffer.empty[Boolean]
    val stats = new Stats
    val reference = mutable.ArrayBuffer(hostReferenceMs(spark, cores))
    var exceptions = 0
    var heapMb = Double.NaN
    var heapGc = (0L, 0L) // collections the heap reading forced
    var end = System.nanoTime() + (seconds * 1e9).toLong
    // at least two whole cycles; a traced run traces every other cycle, so
    // its traced and untraced halves run the same op mix
    var n = 0L
    var cycles = 0
    while (cycles < 2 || System.nanoTime() < end || !w.cycleDone(n)) {
      val i = nextOp; nextOp += 1; n += 1
      val traceOp = traced && cycles % 2 == 1
      tracer.beginOp(i, traceOp)
      if (traceOp) sc.setJobGroup(s"op-$i", "perfbench op", interruptOnCancel = false)
      try {
        val r = w.run(i)
        if (!r.ok) println(s"op $i failed: ${r.detail}")
        results += r; tracedFlags += traceOp
        if (traceOp) {
          PerfbenchBridge.drainListeners(sc)
          stats.addAll(tracer.opCounters)
          stats.addAll(opLayers(tracer, listener.take(s"op-$i"), i, r).toMap)
        }
      } catch {
        case e: Exception =>
          exceptions += 1
          println(s"op $i threw: $e")
      } finally if (traceOp) sc.clearJobGroup()
      if (w.cycleDone(n)) {
        cycles += 1
        // the heap is read after a fixed number of ops, since the program's
        // retained state may grow with every op and the ops a run completes
        // follow the host's speed; the pause does not count as measured time
        if (cycles == HeapAfterCycles) {
          val t0 = System.nanoTime()
          val g0 = gcTotals()
          heapMb = liveHeapMb()
          val g1 = gcTotals()
          heapGc = (g1._1 - g0._1, g1._2 - g0._2)
          end += System.nanoTime() - t0
        }
        reference += hostReferenceMs(spark, cores)
      }
    }
    val gcAfter = gcTotals()
    val cpuAfter = hostCpu()
    mark("timed")

    // ---- end of timed phase ----
    val attempted = results.size + exceptions
    val failed = results.count(!_.ok) + exceptions
    val reads = results.filter(_.isRead)
    val readMs = reads.map(_.wallNs / 1e6)
    val extra = w.report(results.toSeq)
    val opSeconds = results.map(_.wallNs).sum / 1e9

    val hostRefMs = median(reference.toSeq)
    val hostAdjust = ReferenceNominalMs / hostRefMs
    val scanP50 = Stats.percentile(readMs.toSeq, 0.5)
    val opsPerS = results.size / opSeconds
    // gated in BENCHMARK.json, so the JSON of every workload carries them
    val e2e = Seq(
      ("setup_s", setupWallS * hostAdjust, "s"),
      ("scan_p50_host_ms", scanP50 * hostAdjust, "ms"),
      ("ops_per_s_host", opsPerS / hostAdjust, "ops/s"),
      ("live_heap_mb", heapMb, "MB"))
    val printed = Seq(
      ("setup_wall_s", setupWallS, "s"),
      ("scan_p50_ms", scanP50, "ms"),
      ("scan_p90_ms", Stats.percentile(readMs.toSeq, 0.9), "ms"),
      ("scan_rows_per_s", reads.map(_.rows).sum / (readMs.sum / 1e3), "rows/s"),
      ("ops_per_s", opsPerS, "ops/s"),
      ("failed_op_ratio", failed.toDouble / math.max(1, attempted), "ratio"),
      ("read_samples", reads.size.toDouble, "count"),
      ("ops", results.size.toDouble, "count"),
      ("host_ref_ms", hostRefMs, "ms"),
      ("host_steal_pct", stealPct(cpuBefore, cpuAfter), "%"))

    val layers: Seq[(String, Double, String)] =
      if (!traced) Nil
      else {
        def p50(tracedOps: Boolean) = Stats.percentile(results.zip(tracedFlags).collect {
          case (r, t) if r.isRead && t == tracedOps => r.wallNs / 1e6 }.toSeq, 0.5)
        val (p50t, p50u) = (p50(true), p50(false))
        val perOp = 1.0 / math.max(1, results.size)
        val ingest = extra.map(e => e._1 -> e._2).toMap
        perLayer(stats) ++ Seq(
          ("jvm.gc_ms", (gcAfter._1 - gcBefore._1 - heapGc._1) * perOp, "ms"),
          ("jvm.gc_count", (gcAfter._2 - gcBefore._2 - heapGc._2) * perOp, "count"),
          ("trace.overhead_ms", p50t - p50u, "ms"),
          ("trace.overhead_pct", if (p50u > 0) (p50t / p50u - 1) * 100 else 0.0, "%")) ++
          IngestFigures.map { case (k, u) => (s"ingest.$k", ingest.getOrElse(k, 0.0), u) }
      }
    if (traced) tracer.write(s"$traceDir/$workload-seed$seed.spans.jsonl")

    spark.stop()
    Disk.delete(Paths.get(workDir, "warehouse"))

    (e2e ++ printed ++ extra).foreach { case (k, v, u) => println(f"$k%-24s $v%.4f $u") }
    layers.foreach { case (k, v, u) => println(f"$k%-34s $v%.4f $u") }
    val correct = failed == 0 && warmFailures == 0 && checkerRejects
    val metrics = if (traced) layers else e2e
    require(metrics.forall(m => java.lang.Double.isFinite(m._2)), s"non-finite metric in $metrics")
    val body = metrics.map { case (k, v, u) => s""""$k": {"value": $v, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
  }

  /** How many times set-up runs; `setup_s` counts its median once. */
  private val SetupRounds = 3

  /** Timed cycles after which `live_heap_mb` is read: every run does at
    * least this many. */
  private val HeapAfterCycles = 1

  private def median(xs: Seq[Double]): Double = Stats.percentile(xs, 0.5)

  /** Host speed reference: a fixed CPU-bound Spark job that touches no
    * `graft` code, timed after warm-up and after every cycle of the timed
    * phase; each time the fastest of three tries counts, so a momentary
    * stall does not pass for a slow host. The host's speed drifts by up to
    * 2x over minutes on a shared 4-vCPU guest; `setup_s` and the `*_host`
    * metrics rescale a figure to a host on which this job takes
    * `ReferenceNominalMs`, so the drift cancels while a change in the
    * program still shows. */
  private val ReferenceNominalMs = 100.0
  private def hostReferenceMs(spark: SparkSession, cores: Int): Double =
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, 3000000L, 1L, cores).selectExpr("sum(hash(id) % 1000)").collect()
      (System.nanoTime() - t0) / 1e6
    }.min

  /** Heap in use right after a full collection, as the collector
    * reports it (allocations between the collection and the reading do
    * not count). Spark frees broadcast and shuffle state from its cleaner
    * thread once a collection has found it unreachable, so collect at
    * least three times, until the figure stops falling, and keep the
    * lowest. */
  private def liveHeapMb(): Double = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case b: com.sun.management.GarbageCollectorMXBean => b }
    def afterFullGc(): Long = {
      System.gc()
      val last = beans.flatMap(b => Option(b.getLastGcInfo)).maxBy(_.getEndTime)
      last.getMemoryUsageAfterGc.asScala.collect { case (k, u) if heapPools(k) => u.getUsed }.sum
    }
    val seen = mutable.ArrayBuffer(afterFullGc())
    while (seen.size < 10 && (seen.size < 3 || seen.last < seen(seen.size - 2) * 0.99)) {
      Thread.sleep(100)
      seen += afterFullGc()
    }
    seen.min / 1048576.0
  }

  /** (steal, total) jiffies of all CPUs from /proc/stat, when readable. */
  private def hostCpu(): Option[(Long, Long)] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
    (f(7), f.take(8).sum)
  }.toOption

  /** Share of CPU time the hypervisor gave to other guests during the
    * timed phase: a diagnostic for noisy-host runs, -1 when unknown. */
  private def stealPct(a: Option[(Long, Long)], b: Option[(Long, Long)]): Double =
    (a, b) match {
      case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 => 100.0 * (s1 - s0) / (t1 - t0)
      case _ => -1.0
    }

  private def gcTotals(): (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).sum, beans.map(_.getCollectionCount).sum)
  }

  /** Interval arithmetic for one traced op: Spark jobs become child spans
    * of the op's root, and the op's wall is split into job time, driver
    * gap, and time no child span covers. */
  private def opLayers(tracer: Tracer, jobs: JobListener#Agg, i: Long,
      r: OpResult): Seq[(String, Double)] = {
    val root = tracer.root(i, r.kind).getOrElse(sys.error(s"op $i has no root span"))
    def clip(iv: (Long, Long)) = (math.max(iv._1, root.startNs), math.min(iv._2, root.endNs))
    val jobIvs = jobs.intervals.toSeq.map { case (s, e) => clip((tracer.msToNs(s), tracer.msToNs(e))) }
    jobIvs.foreach { case (s, e) => tracer.addSpan("spark.job", root.id, s, e) }
    val children = tracer.spansOfOp(i).filter(_.parent == root.id).map(s => clip((s.startNs, s.endNs)))
    val wallMs = (root.endNs - root.startNs) / 1e6
    val jobMs = union(jobIvs) / 1e6
    val commitMs = tracer.opCounters.getOrElse("catalog.commit_ms", 0.0)
    Seq(
      "spark.jobs" -> jobs.jobs.toDouble, "spark.stages" -> jobs.stages.toDouble,
      "spark.tasks" -> jobs.tasks.toDouble, "spark.job_ms" -> jobMs,
      "spark.executor_run_ms" -> jobs.runMs.toDouble,
      "spark.executor_cpu_ms" -> jobs.cpuNs / 1e6,
      "spark.input_bytes" -> jobs.inBytes.toDouble,
      "spark.input_records" -> jobs.inRecords.toDouble,
      "spark.shuffle_write_bytes" -> jobs.shuffleWrite.toDouble,
      "spark.spill_bytes" -> jobs.spill.toDouble,
      "spark.driver_gap_ms" -> (wallMs - jobMs),
      "trace.unattributed_ms" -> (wallMs - union(children ++ jobIvs) / 1e6)) ++
      (if (r.kind == "append") Seq("write.append_job_ms" -> jobMs,
        "write.append_driver_ms" -> (wallMs - jobMs - commitMs)) else Nil)
  }

  /** Total length covered by a set of intervals. */
  private def union(ivs: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.filter(iv => iv._2 > iv._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  /** ingest_mor's own end-to-end figures, carried into the traced run. */
  private val IngestFigures = Seq("append_p50_ms" -> "ms", "append_p90_ms" -> "ms",
    "delete_p50_ms" -> "ms", "maint_p50_ms" -> "ms", "bytes_written_per_row" -> "B/row",
    "stored_bytes_per_row" -> "B/row")

  /** The per-layer metrics of a traced run: per-op means over the traced
    * ops that exercised the layer, and ratios of totals with their bases. */
  private def perLayer(s: Stats): Seq[(String, Double, String)] = {
    val means = Seq(
      "catalog.load_ms" -> "ms", "catalog.loads" -> "count", "catalog.commit_ms" -> "ms",
      "catalog.commits" -> "count", "catalog.commit_conflicts" -> "count",
      "manifest.list_read_ms" -> "ms", "manifest.read_ms" -> "ms",
      "manifest.files_read" -> "count", "manifest.bytes_read" -> "B",
      "manifest.entries_decoded" -> "count",
      "expr.prune_ms" -> "ms", "expr.manifests_considered" -> "count",
      "expr.partition_considered" -> "count", "expr.metrics_considered" -> "count",
      "ice.to_df_ms" -> "ms", "ice.plan_ms" -> "ms", "ice.files_planned" -> "count",
      "ice.delete_files_planned" -> "count",
      "catalyst.parsing_ms" -> "ms", "catalyst.analysis_ms" -> "ms",
      "catalyst.optimization_ms" -> "ms", "catalyst.planning_ms" -> "ms",
      "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.job_ms" -> "ms", "spark.executor_run_ms" -> "ms",
      "spark.executor_cpu_ms" -> "ms", "spark.input_bytes" -> "B",
      "spark.input_records" -> "count", "spark.shuffle_write_bytes" -> "B",
      "spark.spill_bytes" -> "B", "spark.driver_gap_ms" -> "ms",
      "write.append_job_ms" -> "ms", "write.append_driver_ms" -> "ms",
      "write.data_files" -> "count", "write.data_bytes" -> "B",
      "write.manifests_written" -> "count", "write.metadata_bytes" -> "B",
      "write.delete_files" -> "count", "write.delete_bytes" -> "B", "write.delete_ms" -> "ms",
      "maint.compact_ms" -> "ms", "maint.files_rewritten" -> "count",
      "maint.bytes_rewritten" -> "B", "maint.expire_ms" -> "ms",
      "maint.files_removed" -> "count",
      "trace.unattributed_ms" -> "ms").map { case (k, u) => (k, s.mean(k), u) }
    means ++ Seq(
      ("meta.json_bytes", s.ratio("meta.json_bytes", "meta.observations"), "B"),
      ("meta.snapshots", s.ratio("meta.snapshots", "meta.observations"), "count"),
      ("expr.manifests_kept_ratio", s.ratio("expr.manifests_kept", "expr.manifests_considered"), "ratio"),
      ("expr.partition_kept_ratio", s.ratio("expr.partition_kept", "expr.partition_considered"), "ratio"),
      ("expr.metrics_kept_ratio", s.ratio("expr.metrics_kept", "expr.metrics_considered"), "ratio"))
  }
}
