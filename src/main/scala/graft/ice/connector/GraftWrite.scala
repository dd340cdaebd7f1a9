package graft.ice.connector

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, NullOrdering, SortDirection, SortOrder => V2SortOrder}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, SupportsDynamicOverwrite, SupportsOverwrite, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.{AlwaysTrue, Filter => V1Filter}
import org.apache.spark.sql.types._

import graft.ice.IceTable
import graft.ice.expr.{Binder, Bound, BAnd, BNot, BOr, BPred, BRaw, Expr => IceExpr, InclusiveProjection, PartitionTupleEvaluator}
import graft.ice.manifest.{DataFile, ManifestEntry, ManifestStatus}
import graft.ice.meta.{DataOperation, TableProperties}
import graft.ice.transform.IdentityTransform
import graft.ice.types.SparkConv
import graft.ice.write.{FileWriteConf, FileWriter, GraftDataWriter, SnapshotProducer}

/** Native DataSourceV2 write path (replaces the former `V1Write`
  * fallback).
  *
  * Why a bespoke `BatchWrite` when the V1 shim already wrote files from
  * executors: two things only this contract can express.
  *
  *  - **The TABLE declares its write shape.** `RequiresDistributionAndOrdering`
  *    hands Catalyst the partition transforms as a clustered
  *    distribution plus the table sort order as required ordering, so
  *    the shuffle that co-locates rows per partition is planned by
  *    Spark (AQE-sized, coalescible) instead of a fixed
  *    `repartition(dirCols)` inside the op. An input that is ALREADY
  *    clustered (e.g. read storage-partitioned from another table with
  *    the same bucketing) satisfies the distribution with no exchange
  *    at all — the write-side mirror of the storage-partitioned join.
  *  - **Commit metadata flows through commit messages.** Tasks run the
  *    library's one file writer (`graft.ice.write.GraftDataWriter`, the
  *    same one behind appends, compaction and deletes): each writes its
  *    files at their final paths, computes their metrics and ships
  *    complete `DataFile` entries (counts, bounds, split offsets,
  *    partition tuple) in its `WriterCommitMessage`. The driver opens no
  *    file — on an object store with a 100k-file commit that is the
  *    difference between an O(1) commit and minutes of sequential
  *    HEAD/GET traffic. The format is the table's `write.format.default`.
  *
  * The same builder serves batch (INSERT INTO / df.writeTo /
  * INSERT OVERWRITE static+dynamic / CTAS) and Structured Streaming
  * (`writeStream.toTable("ice.db.t")`), with per-epoch exactly-once
  * commits keyed on (queryId, epochId) in table properties.
  *
  * Reference anchor: the C++ reference has writer interfaces but no
  * engine to run them (file_writer.h:90-100); this is the Spark-native
  * execution of that surface. */
final class GraftWriteBuilder(table: IceTable, identName: String,
    warehouse: String, info: LogicalWriteInfo) extends WriteBuilder
    with SupportsTruncate with SupportsOverwrite with SupportsDynamicOverwrite {

  private var mode: String = GraftWriteModes.Append
  private var overwriteFilters: Array[V1Filter] = Array.empty

  override def truncate(): WriteBuilder = { mode = GraftWriteModes.Truncate; this }

  override def overwrite(filters: Array[V1Filter]): WriteBuilder = {
    if (filters.forall(_.isInstanceOf[AlwaysTrue])) return truncate()
    mode = GraftWriteModes.OverwriteFilter
    overwriteFilters = filters
    this
  }

  override def overwriteDynamicPartitions(): WriteBuilder = {
    mode = GraftWriteModes.OverwriteDynamic; this
  }

  override def build(): Write =
    new GraftWrite(table, identName, warehouse, info, mode, overwriteFilters)
}

private[connector] object GraftWriteModes {
  val Append = "append"
  val Truncate = "truncate"
  val OverwriteFilter = "overwrite-filter"
  val OverwriteDynamic = "overwrite-dynamic"
  /** Row-level CoW: replace exactly the files the operation's scan
    * planned (see GraftRowLevel.scala). */
  val ReplaceGroups = "replace-groups"
}

final class GraftWrite(table: IceTable, identName: String, warehouse: String,
    info: LogicalWriteInfo, mode: String, overwriteFilters: Array[V1Filter],
    // replace-groups (row-level CoW): the files this write replaces and
    // the delete files the scan applied, resolved at COMMIT time from
    // the operation's scan (after runtime group filtering) — validated
    // against the current base on every commit attempt
    replacedFiles: Option[() => graft.ice.write.ReplaceGroupsState] = None)
    extends Write with RequiresDistributionAndOrdering {

  private val spec = table.spec
  private val schema = table.schema
  private val sortOrder = table.metadata.defaultSortOrder

  // keyless upsert tables refuse BEFORE any task writes a file (the
  // commit-time check remains as the backstop for races on the property)
  if (mode == GraftWriteModes.Append &&
      graft.ice.meta.TableProperties.get(table.metadata.properties,
        graft.ice.meta.TableProperties.UpsertEnabled)) {
    require(schema.identifierFieldIds.nonEmpty,
      "write.upsert.enabled requires identifier fields on the schema " +
        "(identifier-field-ids) to key the upsert")
  }

  /** Partition transforms as connector expressions (None when a field
    * uses a transform the grammar can't express, e.g. void — then we
    * request nothing and the writer handles interleaved partitions by
    * rolling files). */
  private def partitionExprs =
    GraftConnectorUtil.toV2Transforms(table).getOrElse(Array.empty)

  private def sortExprs: Array[V2SortOrder] = sortOrder.fields.flatMap { sf =>
    schema.findFieldById(sf.sourceId).map(_.name).map { col =>
      val term = sf.transform match {
        case IdentityTransform => Expressions.column(col)
        case other =>
          // express transform sort terms through the same grammar as
          // partitioning where possible; fall back to the raw column
          // (coarser clustering, still correct)
          Expressions.column(col)
      }
      Expressions.sort(term,
        if (sf.ascending) SortDirection.ASCENDING else SortDirection.DESCENDING,
        if (sf.nullsFirst) NullOrdering.NULLS_FIRST else NullOrdering.NULLS_LAST)
    }
  }.toArray

  override def requiredDistribution(): Distribution =
    if (!spec.isUnpartitioned && partitionExprs.nonEmpty)
      Distributions.clustered(partitionExprs.map(_.asInstanceOf[org.apache.spark.sql.connector.expressions.Expression]))
    else if (sortOrder.fields.nonEmpty && sortExprs.nonEmpty)
      Distributions.ordered(sortExprs)
    else Distributions.unspecified()

  /** Not strict: clustering is a file-count optimization, not a
    * correctness requirement (the writer rolls a new file when a
    * partition tuple reappears), and non-strict lets AQE coalesce the
    * write shuffle to the data's actual size. */
  override def distributionStrictlyRequired(): Boolean = false

  override def requiredOrdering(): Array[V2SortOrder] = {
    val partOrder = partitionExprs.map(t => Expressions.sort(
      t.asInstanceOf[org.apache.spark.sql.connector.expressions.Expression],
      SortDirection.ASCENDING))
    partOrder ++ sortExprs
  }

  private def taskConf(): FileWriteConf = {
    // align the query schema (InternalRow layout) with table field ids so
    // executor parquet footers carry ids for id-based projection on read
    val byName = schema.fields.map(f => f.name -> f).toMap
    val writeSchema = StructType(info.schema().fields.map { sf =>
      byName.get(sf.name) match {
        case Some(f) =>
          val t = SparkConv.toSparkField(f)
          StructField(f.name, t.dataType, sf.nullable, t.metadata)
        case None => sf // shouldn't happen post output-resolution
      }
    })
    FileWriter.dataConf(SparkSession.active, table, writeSchema, writeSchema)
  }

  override def toBatch: BatchWrite =
    new GraftBatchWrite(identName, warehouse, mode, overwriteFilters, taskConf(),
      replacedFiles)

  override def toStreaming: StreamingWrite =
    new GraftStreamingWrite(identName, warehouse, mode, info.queryId(), taskConf())

  override def description(): String = s"GraftWrite($identName, mode=$mode)"
}

final case class GraftWriteMessage(files: Seq[DataFile]) extends WriterCommitMessage

private[connector] object GraftCommit {

  def freshTable(warehouse: String, identName: String): IceTable =
    IceTable.load(new graft.ice.catalog.DirCatalog(warehouse),
      graft.ice.catalog.TableIdentifier.parse(identName))

  def entriesOf(messages: Array[WriterCommitMessage]): Seq[ManifestEntry] =
    messages.toSeq.flatMap {
      case GraftWriteMessage(files) => files.map(f =>
        ManifestEntry(ManifestStatus.Added, None, None, None, f))
      case _ => Nil
    }

  /** Commit `entries` under `mode`. Shared by batch and streaming
    * (streaming passes an idempotency property). */
  def commit(warehouse: String, identName: String, mode: String,
      overwriteFilters: Array[V1Filter], entries: Seq[ManifestEntry],
      extraProps: Map[String, String] = Map.empty,
      replacedFiles: Option[() => graft.ice.write.ReplaceGroupsState] = None): Unit = {
    val t = freshTable(warehouse, identName)
    val spark = SparkSession.active
    // Iceberg's session-level WAP staging: with spark.wap.id set, an
    // INSERT commits a STAGED snapshot (wap.id summary, no ref moves)
    // that publish_changes later cherry-picks onto main. Row-level and
    // overwrite writes refuse — replaying a rewrite is unsound; stage
    // those on a branch.
    // Staging is gated on the TABLE property write.wap.enabled
    // (table_properties.h:239, default false): without it the session
    // conf only stamps wap.id in the summary and the commit proceeds
    // normally — otherwise setting spark.wap.id once would silently
    // make every subsequent append on every table invisible.
    val sessionWapId = spark.conf.getOption("spark.wap.id").filter(_.nonEmpty)
    val wapEnabled = graft.ice.meta.TableProperties.get(
      t.metadata.properties, graft.ice.meta.TableProperties.WriteWapEnabled)
    val wapId = if (wapEnabled) sessionWapId else None
    val wapStamp = if (wapEnabled) Map.empty[String, String]
      else sessionWapId.map("wap.id" -> _).toMap
    if (wapId.isDefined && mode != GraftWriteModes.Append)
      throw new UnsupportedOperationException(
        s"spark.wap.id staging supports append writes only, not '$mode'; " +
          "use a branch (toBranch/fast_forward) to stage row-level changes")
    mode match {
      case GraftWriteModes.ReplaceGroups =>
        val st = replacedFiles.map(_.apply())
          .getOrElse(graft.ice.write.ReplaceGroupsState(Set.empty, Set.empty))
        SnapshotProducer.commit(t, spark, DataOperation.Overwrite, entries,
          removedPaths = st.replaced,
          expectedReplaced = Some(st),
          extraProps = extraProps, extraSummary = wapStamp)
      case GraftWriteModes.Append =>
        // `write.upsert.enabled` (table_properties.h:271): the V2 surface
        // honors the table's declaration exactly like the Scala append
        // API — SQL `INSERT INTO` an upsert table supersedes matched
        // keys instead of silently appending duplicates. Shape: ONE
        // commit of the new data files + an equality-delete file of
        // their distinct keys (churn-sized; the strict
        // dataSeq < deleteSeq rule keeps same-commit data unaffected) —
        // no corpus-sized join, the 100-TB upsert path.
        val upsert = graft.ice.meta.TableProperties.get(
          t.metadata.properties, graft.ice.meta.TableProperties.UpsertEnabled)
        val keyCols =
          if (!upsert) Nil
          else t.schema.identifierFieldIds
            .flatMap(id => t.schema.findFieldById(id).map(_.name))
        if (upsert) {
          require(keyCols.nonEmpty,
            "write.upsert.enabled requires identifier fields on the schema " +
              "(identifier-field-ids) to key the upsert")
          require(wapId.isEmpty,
            "write.upsert.enabled routes appends through keyed upsert, " +
              "which targets main directly — WAP staging of upserts is " +
              "not supported")
        }
        if (upsert && t.currentSnapshot.isDefined && entries.nonEmpty) {
          // the key columns of the files just written, read through the
          // scan: no deletes apply to them yet
          val keys = GraftPlannedTable.read(spark, t, t.schema, PlannedFiles(
              entries.map(e => graft.ice.FileScanTask(e.dataFile, e.specId)), Nil, None))
            .select(keyCols.map(org.apache.spark.sql.functions.col): _*).distinct()
          val delEntries = t.delete(spark).equalityDeleteEntries(keys)
          SnapshotProducer.commit(t, spark, DataOperation.Overwrite, entries,
            addedDeleteEntries = delEntries,
            extraProps = extraProps, extraSummary = wapStamp)
        } else
          SnapshotProducer.commit(t, spark, DataOperation.Append, entries,
            extraProps = extraProps, stageWapId = wapId,
            extraSummary = wapStamp)
      case GraftWriteModes.Truncate =>
        val removed = t.newScan().planFiles().map(_.file.filePath).toSet
        SnapshotProducer.commit(t, spark, DataOperation.Overwrite, entries,
          removedPaths = removed, extraProps = extraProps,
          extraSummary = wapStamp)
      case GraftWriteModes.OverwriteDynamic =>
        val touched = entries.map(_.dataFile.partition).toSet
        val removed = t.newScan().planFiles()
          .filter(task => touched.contains(task.file.partition))
          .map(_.file.filePath).toSet
        SnapshotProducer.commit(t, spark, DataOperation.Overwrite, entries,
          removedPaths = removed, extraProps = extraProps,
          extraSummary = wapStamp)
      case GraftWriteModes.OverwriteFilter =>
        val removed = filesMatchedExactly(t, overwriteFilters)
        SnapshotProducer.commit(t, spark, DataOperation.Overwrite, entries,
          removedPaths = removed, extraProps = extraProps,
          extraSummary = wapStamp)
    }
    ()
  }

  /** Files whose rows are ALL matched by the overwrite filter. Exactness
    * requires every referenced column to be an identity partition source
    * — then the partition tuple determines the predicate for the whole
    * file and inclusive == strict. Anything else is "some but not all
    * rows might match" and must be rejected, not silently deleted. */
  def filesMatchedExactly(t: IceTable, filters: Array[V1Filter]): Set[String] = {
    val exprs = filters.map { f =>
      V1FilterToIce.convert(f, t).getOrElse(throw new UnsupportedOperationException(
        s"INSERT OVERWRITE filter not expressible on ${t.location}: $f"))
    }
    val expr = exprs.reduceOption(IceExpr.and).getOrElse(IceExpr.raw("true"))
    val bound = Binder.bind(expr, t.schema)
    val identitySources = t.spec.fields
      .filter(_.transform == IdentityTransform).map(_.sourceId).toSet
    def check(b: Bound): Unit = b match {
      case BAnd(l, r) => check(l); check(r)
      case BOr(l, r) => check(l); check(r)
      case BNot(c) => check(c)
      case BRaw(sql) => throw new UnsupportedOperationException(
        s"INSERT OVERWRITE by opaque predicate '$sql' cannot be matched " +
          "to whole files; use dynamic overwrite or DELETE + INSERT")
      case p: BPred if !identitySources.contains(p.fieldId) =>
        throw new UnsupportedOperationException(
          s"INSERT OVERWRITE filter references '${p.sourceName}', which is " +
            "not an identity partition column: some files could match only " +
            "part of their rows; use dynamic overwrite or DELETE + INSERT")
      case _ => ()
    }
    check(bound)
    val partPred = InclusiveProjection.project(bound, t.spec)
    val eval = new PartitionTupleEvaluator(t.spec)
    t.newScan().planFiles()
      .filter(task => eval.eval(partPred, task.file.partition))
      .map(_.file.filePath).toSet
  }

  def abortFiles(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case GraftWriteMessage(files) => files.foreach(f => FileWriter.deleteQuietly(f.filePath))
      case _ => ()
    }
}

final class GraftBatchWrite(identName: String, warehouse: String, mode: String,
    overwriteFilters: Array[V1Filter], conf: FileWriteConf,
    replacedFiles: Option[() => graft.ice.write.ReplaceGroupsState] = None)
    extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GraftDataWriterFactory(conf)

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    GraftCommit.commit(warehouse, identName, mode, overwriteFilters,
      GraftCommit.entriesOf(messages), replacedFiles = replacedFiles)

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftCommit.abortFiles(messages)
}

/** Streaming flavor: same task writers, per-epoch commits. Exactly-once
  * across restarts via a (queryId -> epochId) watermark in table
  * properties — a replayed epoch (sink committed, checkpoint didn't)
  * skips its duplicate commit and removes the replay's files. */
final class GraftStreamingWrite(identName: String, warehouse: String,
    mode: String, queryId: String, conf: FileWriteConf) extends StreamingWrite {

  private def epochKey = s"graft.stream.epoch.$queryId"

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new GraftStreamingDataWriterFactory(conf)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val t = GraftCommit.freshTable(warehouse, identName)
    val committed = t.properties.get(epochKey).flatMap(_.toLongOption)
    if (committed.exists(_ >= epochId)) {
      // epoch already landed in a previous run — drop the replay's files
      GraftCommit.abortFiles(messages)
      return
    }
    val streamMode =
      if (mode == GraftWriteModes.Truncate) GraftWriteModes.Truncate
      else GraftWriteModes.Append
    GraftCommit.commit(warehouse, identName, streamMode, Array.empty,
      GraftCommit.entriesOf(messages),
      extraProps = Map(epochKey -> epochId.toString))
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    GraftCommit.abortFiles(messages)
}

final class GraftDataWriterFactory(conf: FileWriteConf) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(conf, partitionId, taskId, epochId = -1L)
}

final class GraftStreamingDataWriterFactory(conf: FileWriteConf)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(conf, partitionId, taskId, epochId)
}
