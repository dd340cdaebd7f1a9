package graft.streaming

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{Metadata, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

import graft.ice.IceTable
import graft.ice.catalog.{DirCatalog, TableIdentifier}
import graft.ice.manifest.ManifestAvro
import graft.ice.meta.DataOperation

/** Structured Streaming SOURCE over an Ice table — the read side of the
  * streaming story (StreamOps covers the write side). Offsets are
  * snapshot ids, so a micro-batch is exactly the files APPENDED in a
  * snapshot range `(start, end]` via `planAppendsBetween`: deterministic
  * under offset-range replay, which is what Spark's exactly-once
  * contract needs from a source. Non-append snapshots in a range fail
  * the stream by default (their row-level effects are not representable
  * as an append batch); `skip-non-append-snapshots=true` opts into
  * skipping them, same knob Iceberg's Spark source exposes.
  *
  * Scale shape: `latestOffset`/`planInputPartitions` are driver
  * metadata reads (one table load + the range's manifests); each data
  * file becomes one InputPartition read on executors through Spark's
  * own parquet reader closure (`buildReaderWithPartitionValues`), so
  * the data plane is identical to a batch scan's.
  *
  * Usage:
  * {{{
  *   spark.readStream.format("graft-table")
  *     .option("warehouse", "/path/to/warehouse")
  *     .option("table", "db.events")
  *     .load()
  * }}}
  * Options: `warehouse`, `table` (ns.name), `from-snapshot-id`
  * (exclusive start; default = everything), `skip-non-append-snapshots`.
  */
final class GraftTableSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-table"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    if (GraftTableStream.isCdc(options))
      GraftTableStream.cdcSchema(GraftTableStream.load(options))
    else GraftTableStream.plainSchema(GraftTableStream.load(options))
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new GraftStreamTable(schema, new CaseInsensitiveStringMap(properties))
}

private[graft] object GraftTableStream {
  def catalogAndIdent(options: CaseInsensitiveStringMap): (DirCatalog, TableIdentifier) = {
    val wh = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException("graft-table source requires option 'warehouse'"))
    val name = Option(options.get("table")).getOrElse(
      throw new IllegalArgumentException("graft-table source requires option 'table'"))
    (new DirCatalog(wh), TableIdentifier.parse(name))
  }
  def load(options: CaseInsensitiveStringMap): IceTable = {
    val (cat, ident) = catalogAndIdent(options)
    IceTable.load(cat, ident)
  }
  /** Spark schema with field-id metadata stripped (files resolve by
    * name — they were written with these names by our own sink). */
  def plainSchema(t: IceTable): StructType =
    StructType(t.schema.toSpark.fields.map(_.copy(metadata = Metadata.empty)))

  def isCdc(options: CaseInsensitiveStringMap): Boolean =
    Option(options.get("mode")).exists(_.equalsIgnoreCase("cdc"))

  /** CDC output schema: table columns + the changelog metadata columns,
    * in exactly planChanges' column order (the staged batches are read
    * back by name against this schema). */
  def cdcSchema(t: IceTable): StructType =
    plainSchema(t)
      .add("_change_type", org.apache.spark.sql.types.StringType)
      .add("_commit_snapshot_id", org.apache.spark.sql.types.LongType)
      .add("_change_ordinal", org.apache.spark.sql.types.IntegerType)
}

private[streaming] final class GraftStreamTable(schema0: StructType,
    options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  override def name(): String = s"graft.${options.get("table")}"
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    if (GraftTableStream.isCdc(options))
      java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
    else
      java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)
  // the connector scan serves BOTH modes: spark.read.format("graft-table")
  // gets the batch path (pushdown + MoR deletes), readStream the
  // snapshot-offset MicroBatchStream (via the scan's toMicroBatchStream).
  // mode=cdc bypasses the connector scan (its pushdown machinery is
  // anchored on the ice schema, which has no _change_type column) and
  // serves the changelog MicroBatchStream directly.
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder = {
    if (GraftTableStream.isCdc(options))
      new GraftCdcScanBuilder(schema0, options)
    else {
      val t = GraftTableStream.load(options)
      new graft.ice.connector.GraftScanBuilder(t, t.schema, Some(options))
    }
  }
}

/** Minimal scan surface for mode=cdc: micro-batch only (a batch CDC
  * read is planChanges/planChangelog directly — no pushdown applies to
  * derived changelog rows). */
private[streaming] final class GraftCdcScanBuilder(schema: StructType,
    options: CaseInsensitiveStringMap) extends ScanBuilder {
  override def build(): Scan = new Scan {
    override def readSchema(): StructType = schema
    override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
      new GraftMicroBatchStream(schema, options)
    override def description(): String =
      s"graft cdc changelog stream ${options.get("table")}"
  }
}

/** Snapshot-id offset. `-1` = before the first snapshot. */
private[streaming] final case class SnapshotOffset(snapshotId: Long) extends Offset {
  override def json(): String = s"""{"snapshotId":$snapshotId}"""
}
private[streaming] object SnapshotOffset {
  private val P = """\{\s*"snapshotId"\s*:\s*(-?\d+)\s*\}""".r
  def fromJson(json: String): SnapshotOffset = json.trim match {
    case P(id) => SnapshotOffset(id.toLong)
    case other => throw new IllegalArgumentException(s"bad offset: $other")
  }
}

private[graft] final class GraftMicroBatchStream(schema: StructType,
    options: CaseInsensitiveStringMap) extends MicroBatchStream
    with SupportsTriggerAvailableNow {

  // Version-keyed metadata memo: every `table` access pays ONE cheap
  // freshness probe (the catalog's current-version lookup — a hint-file
  // read) and reuses the parsed TableMetadata until the version
  // advances, instead of a full metadata-JSON parse per method call.
  // New commits stay visible (the probe notices the version bump);
  // per-micro-batch driver work drops from O(metadata size) to O(1).
  @volatile private var cachedTable: Option[(Int, IceTable)] = None
  private[graft] var metadataLoads = 0L // observability for specs
  private def table: IceTable = {
    val (cat, ident) = GraftTableStream.catalogAndIdent(options)
    val v = cat.currentVersion(ident)
    cachedTable match {
      case Some((cv, t)) if cv == v => t
      case _ => synchronized {
        cachedTable match {
          case Some((cv, t)) if cv == v => t
          case _ =>
            val ref = cat.loadTable(ident)
            val t = IceTable.from(ref)
            metadataLoads += 1
            cachedTable = Some((ref.version, t))
            t
        }
      }
    }
  }
  private val skipNonAppends =
    Option(options.get("skip-non-append-snapshots")).exists(_.toBoolean)
  private val cdcMode = GraftTableStream.isCdc(options)

  override def initialOffset(): Offset =
    Option(options.get("from-snapshot-id")) match {
      case Some(id) => SnapshotOffset(id.toLong)
      case None => Option(options.get("from-timestamp")) match {
        // Iceberg's stream-from-timestamp: start AFTER the last snapshot
        // committed at-or-before the timestamp (exclusive offset), so the
        // stream replays exactly the commits younger than the mark; a
        // timestamp before the first snapshot replays everything
        case Some(ts) =>
          val ms = ts.toLong
          table.metadata.snapshotLog.filter(_.timestampMs <= ms)
            .lastOption.map(e => SnapshotOffset(e.snapshotId))
            .getOrElse(SnapshotOffset(-1L))
        case None => SnapshotOffset(-1L)
      }
    }

  private def currentLatest(): Offset =
    table.currentSnapshot.map(s => SnapshotOffset(s.snapshotId))
      .getOrElse(SnapshotOffset(-1L))

  // SupportsTriggerAvailableNow: without it, an AvailableNow restart
  // that recovers a planned-but-failed batch treats THAT batch as the
  // run's whole target (Spark's wrapper pins the WAL offset), so
  // snapshots committed after the failure need a second run to drain.
  // Capturing the table's latest at query start makes one run finish
  // the recovered batch AND read through to the capture point — the
  // semantics Iceberg's Spark source implements.
  private var availableNowTarget: Option[Offset] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(currentLatest())

  // Admission control (SupportsAdmissionControl via TriggerAvailableNow):
  // `max-files-per-trigger` / `max-rows-per-trigger` cap each micro-batch
  // by walking the snapshot chain forward and stopping BEFORE the
  // snapshot that would blow the cap (always admitting at least one, so
  // the stream makes progress). Offsets stay snapshot ids — a batch is
  // a whole snapshot range, which keeps range replay deterministic; the
  // cap chooses how many snapshots, never a partial one. Backfilling a
  // huge table through a stream without this reads EVERY file in one
  // batch.
  override def getDefaultReadLimit: ReadLimit = {
    val maxFiles = Option(options.get("max-files-per-trigger")).map(_.toInt)
    val maxRows = Option(options.get("max-rows-per-trigger")).map(_.toLong)
    (maxFiles, maxRows) match {
      case (Some(f), Some(r)) =>
        ReadLimit.compositeLimit(Array(ReadLimit.maxFiles(f), ReadLimit.maxRows(r)))
      case (Some(f), None) => ReadLimit.maxFiles(f)
      case (None, Some(r)) => ReadLimit.maxRows(r)
      case _ => ReadLimit.allAvailable()
    }
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val target = availableNowTarget.getOrElse(currentLatest())
      .asInstanceOf[SnapshotOffset]
    admit(start.asInstanceOf[SnapshotOffset], target, limit)
  }
  override def reportLatestOffset(): Offset = currentLatest()

  private def limitCaps(l: ReadLimit): (Option[Int], Option[Long]) = {
    import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ReadMaxFiles, ReadMaxRows}
    l match {
      case f: ReadMaxFiles => (Some(f.maxFiles), None)
      case r: ReadMaxRows => (None, Some(r.maxRows))
      case c: CompositeReadLimit =>
        c.getReadLimits.map(limitCaps).foldLeft((Option.empty[Int], Option.empty[Long])) {
          case ((f1, r1), (f2, r2)) =>
            (Seq(f1, f2).flatten.minOption, Seq(r1, r2).flatten.minOption)
        }
      case _ => (None, None)
    }
  }

  private def admit(start: SnapshotOffset, target: SnapshotOffset,
      limit: ReadLimit): SnapshotOffset = {
    val (maxFiles, maxRows) = limitCaps(limit)
    if (maxFiles.isEmpty && maxRows.isEmpty) return target
    if (target.snapshotId == -1L || target.snapshotId == start.snapshotId) return target
    val t = table
    val chain = Iterator.iterate(t.metadata.snapshotById(target.snapshotId))(
      _.flatMap(_.parentSnapshotId).flatMap(t.metadata.snapshotById))
      .takeWhile(s => s.isDefined && !s.exists(_.snapshotId == start.snapshotId))
      .flatten.toSeq.reverse
    if (chain.isEmpty) return target

    def addedCounts(s: graft.ice.meta.Snapshot): (Long, Long) =
      if (!s.operation.contains(DataOperation.Append)) (0L, 0L)
      else {
        val f = s.summary.get("added-data-files").map(_.toLong)
        val r = s.summary.get("added-records").map(_.toLong)
        (f, r) match {
          case (Some(ff), Some(rr)) => (ff, rr)
          case _ => // foreign commit without summaries: one manifest read
            val es = t.planAppendsBetween(
              s.parentSnapshotId.getOrElse(-1L), s.snapshotId)
            (es.size.toLong, es.map(_.dataFile.recordCount).sum)
        }
      }

    // CDC batches are priced by the commit's CHURN, not its appends: a
    // huge MoR delete adds one tiny delete file but plans a changelog
    // batch sized by the rows it killed, and a CoW overwrite's removed
    // files all come back as `delete` changelog rows. Replace snapshots
    // are content-preserving and emit nothing, so they cost nothing.
    // The summary keys are written by our own commits (Ops.scala); a
    // foreign commit without them falls back to the append estimate —
    // under-pricing is safe (one over-full batch), never wrong results.
    def churnCounts(s: graft.ice.meta.Snapshot): (Long, Long) =
      if (s.operation.contains(DataOperation.Replace)) (0L, 0L)
      else {
        def n(k: String): Long = s.summary.get(k).map(_.toLong).getOrElse(0L)
        val (af, ar) =
          (s.summary.get("added-data-files").map(_.toLong),
           s.summary.get("added-records").map(_.toLong)) match {
            case (Some(ff), Some(rr)) => (ff, rr)
            case _ =>
              val es = t.planAppendsBetween(
                s.parentSnapshotId.getOrElse(-1L), s.snapshotId)
              (es.size.toLong, es.map(_.dataFile.recordCount).sum)
          }
        (af + n("removed-data-files") + n("added-delete-files"),
         ar + n("deleted-records") + n("added-delete-records"))
      }

    var files = 0L; var rows = 0L
    var end = start.snapshotId; var took = 0
    val it = chain.iterator
    while (it.hasNext) {
      val s = it.next()
      val (f, r) = if (cdcMode) churnCounts(s) else addedCounts(s)
      if (took > 0 &&
          (maxFiles.exists(files + f > _) || maxRows.exists(rows + r > _)))
        return SnapshotOffset(end)
      files += f; rows += r; end = s.snapshotId; took += 1
      if (maxFiles.exists(files >= _) || maxRows.exists(rows >= _))
        return SnapshotOffset(end)
    }
    SnapshotOffset(end)
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is the admission-control entry point")

  override def deserializeOffset(json: String): Offset = SnapshotOffset.fromJson(json)

  // ---------- CDC mode (mode=cdc): changelog micro-batches ----------

  /** Staging dirs written for not-yet-committed batches (cleaned on
    * commit). Changelog rows are JOIN/anti-join products (MoR delete
    * application, CoW carry-over cancelation), not raw file bytes — so
    * a CDC batch is materialized ONCE as a distributed planChanges job
    * into a range-keyed staging dir, and the staged parquet files are
    * served as the batch's input partitions. Overwrite keyed by the
    * offset range makes range replay after a failure deterministic.
    *
    * ALL staging I/O goes through `org.apache.hadoop.fs.FileSystem`
    * resolved from the staging path itself — the table location can be
    * any scheme the cluster's Hadoop conf knows (file:, hdfs:, s3a:),
    * same as the data plane. A failed listing THROWS: an unreadable
    * staging dir must fail the batch, never silently emit zero rows. */
  private val stagedDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  private def hadoopConf(): org.apache.hadoop.conf.Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  /** Best-effort once-per-stream sweep of staging leftovers from prior
    * runs (a driver crash mid-batch leaks its UUID-suffixed dir — nothing
    * else ever deletes it). Only entries older than the stream's
    * stale-staging cutoff are swept so a CONCURRENT stream's in-flight
    * staging on the same table is never clobbered. The cutoff is
    * per-stream configurable (`stale-staging-ms` option) because the
    * default floor only covers batches that plan+read+commit inside
    * 15 min — a long-trigger workload sharing the table must raise it
    * above its own batch lifetime or risk a sibling sweeping its
    * in-flight dir. */
  private val staleStagingMs: Long =
    Option(options.get("stale-staging-ms")).map(_.toLong)
      .getOrElse(GraftMicroBatchStream.StaleStagingMs)
  @volatile private var sweptStale = false
  private def sweepStaleStaging(t: IceTable): Unit =
    if (!sweptStale) {
      sweptStale = true
      try {
        val root = new org.apache.hadoop.fs.Path(s"${t.metadata.location}/_cdc_staging")
        val fs = root.getFileSystem(hadoopConf())
        if (fs.exists(root)) {
          val cutoff = System.currentTimeMillis() - staleStagingMs
          fs.listStatus(root).filter(_.getModificationTime < cutoff)
            .foreach(s => try { fs.delete(s.getPath, true); () }
              catch { case _: java.io.IOException => () })
        }
      } catch { case _: java.io.IOException => () }
    }

  private def planCdcPartitions(from: Long, to: Long): Array[InputPartition] = {
    val spark = SparkSession.active
    val t = table
    sweepStaleStaging(t)
    // one FRESH dir per plan call: Spark may instantiate the scan (and
    // re-plan the same range) more than once per batch, and an overwrite
    // of a shared range-keyed dir would delete files the first plan's
    // partitions still reference mid-read. Replay stays deterministic
    // because planChanges recomputes the same ROWS for the range — the
    // file layout is free to differ, Spark replays whole batches.
    val dir =
      s"${t.metadata.location}/_cdc_staging/${from}_${to}_${java.util.UUID.randomUUID()}"
    t.planChanges(spark, from, to).write.mode("overwrite").parquet(dir)
    stagedDirs.add(dir)
    val p = new org.apache.hadoop.fs.Path(dir)
    // listStatus throws FileNotFoundException if the just-written dir is
    // missing — a staging failure is an ERROR, not an empty batch
    p.getFileSystem(spark.sessionState.newHadoopConf()).listStatus(p)
      .filter(f => f.getPath.getName.endsWith(".parquet") && f.getLen > 0)
      .sortBy(_.getPath.getName)
      .map(f => GraftInputPartition(f.getPath.toString, f.getLen): InputPartition)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[SnapshotOffset].snapshotId
    val to = end.asInstanceOf[SnapshotOffset].snapshotId
    if (to == -1L || from == to) return Array.empty
    if (cdcMode) return planCdcPartitions(from, to)
    val t = table
    if (!skipNonAppends) {
      // walk (from, to]: row-level deletes/overwrites cannot be streamed
      // as an append batch — refuse rather than silently drop semantics
      val chain = Iterator.iterate(t.metadata.snapshotById(to))(
        _.flatMap(_.parentSnapshotId).flatMap(t.metadata.snapshotById))
        .takeWhile(s => s.isDefined && !s.exists(_.snapshotId == from))
        .flatten.toSeq
      val nonAppend = chain.filterNot(_.operation.contains(DataOperation.Append))
      require(nonAppend.isEmpty,
        s"snapshot range ($from, $to] contains non-append snapshots " +
          s"${nonAppend.map(s => s"${s.snapshotId}:${s.operation.getOrElse("?")}").mkString(", ")}; " +
          "set skip-non-append-snapshots=true to stream past them")
    }
    t.planAppendsBetween(from, to).map { e =>
      GraftInputPartition(ManifestAvro.stripFileScheme(e.dataFile.filePath),
        e.dataFile.fileSizeInBytes): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = SparkSession.active
    // Spark's own parquet reader closure — built on the driver, runs on
    // executors (it broadcasts its hadoop conf internally). Row-returning
    // (OPTION_RETURNING_BATCH=false): the DSv2 scan exec projects every
    // row to unsafe immediately, so the mutable vectorized row is safe.
    val readFunc = new ParquetFileFormat().buildReaderWithPartitionValues(
      sparkSession = spark,
      dataSchema = schema,
      partitionSchema = new StructType(),
      requiredSchema = schema,
      filters = Nil,
      options = Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      hadoopConf = spark.sessionState.newHadoopConfWithOptions(Map.empty))
    GraftReaderFactory(readFunc)
  }

  /** Batches are planned/run/committed strictly in sequence, so at
    * commit time every recorded staging dir belongs to a finished batch
    * — drop them all (the WAL owns replay; a re-planned range rewrites
    * its staging anyway). */
  override def commit(end: Offset): Unit = drainStaged()
  override def stop(): Unit = drainStaged() // a stopped query replans its range

  private def drainStaged(): Unit = {
    val conf = hadoopConf()
    var d = stagedDirs.poll()
    while (d != null) {
      try {
        val p = new org.apache.hadoop.fs.Path(d)
        p.getFileSystem(conf).delete(p, true); ()
      } catch { case _: java.io.IOException => () }
      d = stagedDirs.poll()
    }
  }
}

private[graft] object GraftMicroBatchStream {
  /** Default stale-staging cutoff (`stale-staging-ms` option overrides
    * per stream): entries older than this are treated as crash leftovers,
    * safe to sweep — a live batch plans, reads, and commits well inside
    * it at default trigger intervals. */
  val StaleStagingMs: Long = 15L * 60 * 1000
}

private[streaming] final case class GraftInputPartition(path: String,
    fileSize: Long) extends InputPartition

private[streaming] final case class GraftReaderFactory(
    readFunc: PartitionedFile => Iterator[InternalRow]) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val gp = p.asInstanceOf[GraftInputPartition]
    val pf = PartitionedFile(InternalRow.empty,
      SparkPath.fromPathString(gp.path), 0L, gp.fileSize,
      Array.empty[String], 0L, gp.fileSize, Map.empty)
    new PartitionReader[InternalRow] {
      // a row-returning reader can still hand back ColumnarBatch under
      // erasure on some paths — unwrap defensively
      private val it: Iterator[InternalRow] =
        readFunc(pf).asInstanceOf[Iterator[Any]].flatMap {
          case b: ColumnarBatch => b.rowIterator().asScala
          case r: InternalRow => Iterator.single(r)
        }
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}
