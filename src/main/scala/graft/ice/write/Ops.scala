package graft.ice.write

import java.nio.file.{Files, Paths}
import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ice._
import graft.ice.expr.{Binder, Expr, MetricsEvaluator, StrictMetricsEvaluator, ToColumn}
import graft.ice.manifest._
import graft.ice.meta._
import graft.ice.types._

/** Write-surface operations beyond plain append: schema evolution,
  * row-level deletes (copy-on-write and merge-on-read), compaction,
  * overwrite, snapshot/ref management. These are the TableUpdate /
  * Transaction pieces the reference declares but leaves unimplemented
  * (table_update.h:41-360, transaction.h:31-51, C5-C7). */

/** Shared snapshot production: build the next manifest list from the
  * current one, removing `removedPaths` data files (manifests that lose
  * entries are rewritten with survivors as EXISTING; untouched manifests
  * are reused as-is — important at scale: a commit touching one partition
  * rewrites one manifest, not thousands) and adding new manifests. */
/** Scan-time state a replace-groups (row-level rewrite) commit validates
  * against the CURRENT table base on every attempt: the files the scan
  * planned (and the write therefore replaces) and the live delete-file
  * paths the scan already applied. */
final case class ReplaceGroupsState(replaced: Set[String],
    expectedDeletePaths: Set[String])

private[ice] object SnapshotProducer {

  def commit(table: IceTable, spark: SparkSession, operation: String,
      addedDataEntries: Seq[ManifestEntry],
      removedPaths: Set[String] = Set.empty,
      addedDeleteEntries: Seq[ManifestEntry] = Nil,
      removedDVForFiles: Set[String] = Set.empty,
      extraSummary: Map[String, String] = Map.empty,
      extraProps: Map[String, String] = Map.empty,
      // expected DV state per referenced data file, captured at planning
      // time: re-checked against the CURRENT base on every commit attempt
      // (incl. after a lost race + refresh), because a retried DV commit
      // that supersedes a concurrently-written vector would resurrect the
      // concurrent writer's deleted rows (validateNoNewDeleteFiles-style)
      expectedDVs: Option[Map[String, Set[String]]] = None,
      // replace-groups conflict validation, captured at scan time:
      // every replaced file must still be LIVE, and no delete file that
      // could cover one may have appeared since planning — re-checked
      // per attempt like expectedDVs (see the validation block below)
      expectedReplaced: Option[ReplaceGroupsState] = None,
      // write-audit-publish staging: the snapshot is created with
      // `wap.id` in its summary but NO ref/current/log moves — readers
      // see nothing until publish_changes cherry-picks it. Appends only
      // (cherry-picking a rewrite is unsound; see ManageSnapshots).
      stageWapId: Option[String] = None,
      // serializable-isolation conflict check (write.*.isolation-level):
      // (predicate bound — None = whole-table scope, planned sequence
      // number). Re-checked per attempt: any LIVE data entry newer than
      // the planned sequence that the predicate cannot exclude is a row
      // the operation WOULD have affected had it seen it — abort, don't
      // silently miss it. Partition-tuple + metrics evaluation keeps the
      // check metadata-only; unprovable predicates conflict conservatively.
      serializableCheck: Option[(Option[graft.ice.expr.Bound], Long)] = None): Snapshot = {
    stageWapId.foreach(_ => require(operation == DataOperation.Append,
      s"wap.id staging supports append commits only, not '$operation'; " +
        "stage row-level operations on a branch instead"))
    var result: Snapshot = null
    table.commit { base =>
      val commitUuid = UUID.randomUUID().toString
      val snapshotId = math.abs(UUID.randomUUID().getMostSignificantBits)
      val seq = base.lastSequenceNumber + 1
      // the table's format-version selects the manifest schema version on
      // every write (reference: manifest_writer.h:36-93 adapter choice)
      val fv = base.formatVersion
      if (addedDeleteEntries.nonEmpty)
        require(fv >= 2, "row-level deletes require format-version >= 2")
      val metaDir = s"${base.location}/metadata"
      Files.createDirectories(Paths.get(metaDir))
      val schema = base.currentSchema
      val spec = base.defaultSpec
      val partType = spec.partitionType(schema)
      val schemaJson = MetaJson.schemaToJson(schema).toString
      val specJson = MetaJson.specToJson(spec).get("fields").toString

      val previous = base.currentSnapshot
        .map(s => ManifestAvro.readManifestList(s.manifestList))
        .getOrElse(IndexedSeq.empty)

      // per-attempt manifest read memo: the DV check, the replace-groups
      // check, and the survivor rewrite below may each touch the same
      // manifests — read each at most ONCE per commit attempt (the base
      // is fixed within an attempt, so caching by path is sound)
      val liveCache = collection.mutable.Map.empty[String, Seq[ManifestEntry]]
      def liveEntries(m: ManifestFile): Seq[ManifestEntry] =
        liveCache.getOrElseUpdate(m.manifestPath, {
          val mSpec = base.specById(m.partitionSpecId)
            .getOrElse(PartitionSpec.unpartitioned)
          ManifestAvro.readManifest(m.manifestPath,
            mSpec.partitionType(base.currentSchema), Some(m)).filter(_.isLive)
        })

      // DV conflict detection: the set of live deletion vectors for every
      // data file we are about to write a (superseding) DV for must be
      // exactly what the planner saw — a concurrent DV commit for the
      // same file is a REAL conflict (our bitmap ORed a stale prior), so
      // abort instead of retrying into silent row resurrection
      expectedDVs.foreach { expected =>
        val current: Map[String, Set[String]] = previous
          .filter(_.content == ManifestContent.Deletes)
          .flatMap { m =>
            liveEntries(m)
              .filter(e =>
                e.dataFile.content == FileContent.PositionDeletes &&
                e.dataFile.fileFormat == "PUFFIN" &&
                e.dataFile.referencedDataFile.isDefined)
              .map(e => ManifestAvro.stripFileScheme(
                e.dataFile.referencedDataFile.get) ->
                ManifestAvro.stripFileScheme(e.dataFile.filePath))
          }
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        expected.foreach { case (ref, expPaths) =>
          val cur = current.getOrElse(ref, Set.empty)
          if (cur != expPaths)
            throw new graft.ice.meta.RequirementFailedException(
              s"concurrent deletion-vector change for data file $ref " +
                s"(expected DVs $expPaths, found $cur): refresh and retry " +
                "the delete")
        }
      }

      // serializable isolation: scan the manifests a CONCURRENT commit
      // added since the operation planned (sequence-pruned — an untouched
      // table reads zero manifests here) for live data entries the
      // predicate cannot exclude
      serializableCheck.foreach { case (bound, plannedSeq) =>
        val metricsEval = new MetricsEvaluator
        // an entry newer than the planned sequence conflicts unless the
        // predicate provably excludes it; shared by the data scan and the
        // delete scan below (both are new rows/row-removals this
        // operation planned blind to)
        def conflictsWith(m: ManifestFile): Seq[ManifestEntry] = {
          val mSpec = base.specById(m.partitionSpecId)
            .getOrElse(PartitionSpec.unpartitioned)
          liveEntries(m).filter { e =>
            e.sequenceNumber.forall(_ > plannedSeq) &&
              bound.forall { b =>
                val partExpr = graft.ice.expr.InclusiveProjection.project(b, mSpec)
                new graft.ice.expr.PartitionTupleEvaluator(mSpec)
                  .eval(partExpr, e.dataFile.partition) &&
                  // file metrics exclude only when they speak the
                  // predicate's columns: data files and equality deletes
                  // (bounds over equality columns) can prune; position
                  // deletes carry path/pos bounds only, so the field-id
                  // lookup misses and they conflict conservatively
                  metricsEval.canContainRows(b, e.dataFile)
              }
          }
        }
        val conflicting = previous
          .filter(m => m.content == ManifestContent.Data &&
            m.sequenceNumber > plannedSeq)
          .flatMap(conflictsWith)
        if (conflicting.nonEmpty)
          throw new graft.ice.meta.RequirementFailedException(
            s"serializable isolation violated: ${conflicting.size} data " +
              s"file(s) committed concurrently (sequence > $plannedSeq) " +
              "may match this operation's predicate — e.g. " +
              conflicting.head.dataFile.filePath +
              "; re-run the operation, or set the write.*.isolation-level " +
              "property to 'snapshot'")
        // concurrent DELETE files (position/equality/DV) are conflicts
        // too (Iceberg validateNoConflictingDeleteFiles): a row-level
        // operation that re-appends rows a concurrent delete removed
        // would resurrect them — the re-appended copies carry new paths
        // and a higher data sequence, escaping the concurrent delete.
        // The v3 DV path is additionally covered by expectedDVs; v2
        // position and equality deletes are only caught here.
        // position deletes carry NO column bounds (canContainRows can't
        // prune), but they DO carry file scope: referenced-data-file or
        // file_path bounds. Narrow against the data files this
        // operation's predicate can actually touch in the base snapshot
        // (the same partition+metrics pruning planners use) — a
        // concurrent position delete on a provably-disjoint file or
        // partition must not abort the operation (availability, not
        // correctness: dropping the prune would only over-abort).
        lazy val inScopePaths: Set[String] = previous
          .filter(_.content == ManifestContent.Data)
          .flatMap { m =>
            val mSpec = base.specById(m.partitionSpecId)
              .getOrElse(PartitionSpec.unpartitioned)
            liveEntries(m).filter { e =>
              bound.forall { b =>
                val partExpr = graft.ice.expr.InclusiveProjection.project(b, mSpec)
                new graft.ice.expr.PartitionTupleEvaluator(mSpec)
                  .eval(partExpr, e.dataFile.partition) &&
                  metricsEval.canContainRows(b, e.dataFile)
              }
            }.map(e => ManifestAvro.stripFileScheme(e.dataFile.filePath))
          }.toSet
        def posDeleteInScope(e: ManifestEntry): Boolean =
          e.dataFile.referencedDataFile match {
            case Some(r) => inScopePaths.contains(ManifestAvro.stripFileScheme(r))
            case None =>
              (e.dataFile.lowerBounds.get(RowDelete.PathBoundFieldId),
                e.dataFile.upperBounds.get(RowDelete.PathBoundFieldId)) match {
                case (Some(lo), Some(hi)) =>
                  val utf8 = java.nio.charset.StandardCharsets.UTF_8
                  val l = new String(lo, utf8); val h = new String(hi, utf8)
                  inScopePaths.exists(p =>
                    AvroData.utf8Compare(l, p) <= 0 && AvroData.utf8Compare(p, h) <= 0)
                case _ => true // unscoped: conservative
              }
          }
        val conflictingDeletes = previous
          .filter(m => m.content == ManifestContent.Deletes &&
            m.sequenceNumber > plannedSeq)
          .flatMap(conflictsWith)
          .filter(e => e.dataFile.content != FileContent.PositionDeletes ||
            posDeleteInScope(e))
        if (conflictingDeletes.nonEmpty)
          throw new graft.ice.meta.RequirementFailedException(
            s"serializable isolation violated: ${conflictingDeletes.size} " +
              s"delete file(s) committed concurrently (sequence > $plannedSeq) " +
              "may cover rows in this operation's scope — e.g. " +
              conflictingDeletes.head.dataFile.filePath +
              "; re-run the operation, or set the write.*.isolation-level " +
              "property to 'snapshot'")
      }

      // Replace-groups conflict validation (mirrors expectedDVs): the
      // rewrite was computed from the replaced files' content AS PLANNED.
      // (a) A concurrent commit that removed/rewrote a replaced file
      // would be silently absorbed (paths absent from manifests shrink
      // nothing) and its rows DUPLICATED by ours. (b) A delete file
      // committed since planning that could cover a replaced file would
      // be erased by the rewrite, RESURRECTING concurrently-deleted rows.
      // Both are real conflicts: abort, never retry into them.
      expectedReplaced.filter(_.replaced.nonEmpty).foreach { st =>
        val replacedStripped = st.replaced.map(ManifestAvro.stripFileScheme)
        def normTuple(t: IndexedSeq[Any]): Seq[Any] =
          t.map { case b: Array[Byte] => b.toSeq; case x => x }
        var foundLive = Set.empty[String]
        // (spec id, partition tuple) of each still-live replaced file —
        // the overlap target for partition-scoped delete files
        val replacedParts = collection.mutable.Set.empty[(Int, Seq[Any])]
        previous.filter(_.content == ManifestContent.Data).foreach { m =>
          liveEntries(m).foreach { e =>
            if (st.replaced.contains(e.dataFile.filePath)) {
              foundLive += e.dataFile.filePath
              replacedParts += ((e.specId, normTuple(e.dataFile.partition)))
            }
          }
        }
        val missing = st.replaced -- foundLive
        if (missing.nonEmpty)
          throw new graft.ice.meta.RequirementFailedException(
            s"concurrent commit removed ${missing.size} file(s) this " +
              s"row-level operation rewrites (e.g. ${missing.head}): " +
              "refresh and re-run the operation")
        // A new delete file conflicts only if it MAY COVER a replaced
        // file — narrowed, not assumed: file-scoped deletes must name
        // one; pos deletes with file_path bounds must bracket one
        // lexicographically; partition-scoped deletes (same spec,
        // concrete tuple) must share a replaced file's partition. Only
        // a genuinely unscoped delete is conservatively treated as
        // covering — a concurrent delete in a disjoint partition no
        // longer aborts the row-level op.
        def mayCover(e: ManifestEntry): Boolean =
          e.dataFile.referencedDataFile match {
            case Some(r) =>
              replacedStripped.contains(ManifestAvro.stripFileScheme(r))
            case None =>
              val utf8 = java.nio.charset.StandardCharsets.UTF_8
              val boundsOverlap = (
                e.dataFile.lowerBounds.get(RowDelete.PathBoundFieldId),
                e.dataFile.upperBounds.get(RowDelete.PathBoundFieldId)) match {
                case (Some(lo), Some(hi)) =>
                  val l = new String(lo, utf8); val h = new String(hi, utf8)
                  replacedStripped.exists(p => l <= p && p <= h)
                case _ => true
              }
              val partOverlap = {
                val nSpecFields =
                  base.specById(e.specId).map(_.fields.size).getOrElse(0)
                val tuple = e.dataFile.partition
                if (nSpecFields > 0 && tuple.size == nSpecFields &&
                    tuple.forall(_ != null))
                  replacedParts.exists { case (sid, pt) =>
                    sid == e.specId && pt == normTuple(tuple) }
                else true // unpartitioned spec or null tuple: global scope
              }
              boundsOverlap && partOverlap
          }
        var coveringNew = Set.empty[String]
        previous.filter(_.content == ManifestContent.Deletes).foreach { m =>
          coveringNew ++= liveEntries(m).filter(e =>
            !st.expectedDeletePaths.contains(e.dataFile.filePath) &&
              mayCover(e)).map(_.dataFile.filePath)
        }
        if (coveringNew.nonEmpty)
          throw new graft.ice.meta.RequirementFailedException(
            s"concurrent delete file(s) cover data this row-level " +
              s"operation rewrites (e.g. ${coveringNew.head}): committing " +
              "would resurrect concurrently-deleted rows; refresh and " +
              "re-run the operation")
      }

      var mIdx = 0
      def nextManifestPath(): String = {
        val p = s"$metaDir/$commitUuid-m$mIdx.avro"; mIdx += 1; p
      }

      // keep / rewrite previous manifests (data AND delete manifests —
      // compaction removes folded-in delete files too)
      // a DV entry is superseded when a NEW deletion vector replaces it for
      // the same data file (v3 invariant: at most one DV per data file —
      // the new vector ORs the old one in, so dropping the old entry loses
      // nothing; manifest_entry.h:157-177)
      def dvSuperseded(e: ManifestEntry): Boolean =
        e.dataFile.content == FileContent.PositionDeletes &&
          e.dataFile.fileFormat == "PUFFIN" &&
          e.dataFile.referencedDataFile.exists(r =>
            removedDVForFiles.contains(ManifestAvro.stripFileScheme(r)))
      // churn accounting for the summary: removed data-file record counts
      // feed CDC admission control (a delete-heavy commit adds few files
      // but plans a changelog batch sized by what it REMOVED)
      var removedDataRecords = 0L
      // removed data files with their OWN spec, for per-partition
      // summaries (write.summary.partition-limit)
      val removedForSummary =
        collection.mutable.Buffer[(PartitionSpec, graft.ice.manifest.DataFile)]()
      val survivors: Seq[ManifestFile] = previous.flatMap { m =>
        val mayShrink = removedPaths.nonEmpty ||
          (removedDVForFiles.nonEmpty && m.content == ManifestContent.Deletes)
        if (!mayShrink) Some(m)
        else {
          val mSpec = base.specById(m.partitionSpecId).getOrElse(PartitionSpec.unpartitioned)
          val mPartType = mSpec.partitionType(schema)
          val entries = liveEntries(m)
          val (removed, kept) = entries.partition(e =>
            removedPaths.contains(e.dataFile.filePath) || dvSuperseded(e))
          val removedData = removed.filter(_.dataFile.content == FileContent.Data)
          removedDataRecords += removedData.map(_.dataFile.recordCount).sum
          removedForSummary ++= removedData.map(e => mSpec -> e.dataFile)
          if (removed.isEmpty) Some(m)
          else if (kept.isEmpty) None
          else Some(ManifestAvro.writeManifest(nextManifestPath(),
            kept.map(_.copy(status = ManifestStatus.Existing)),
            mPartType, mSpec.specId, snapshotId, m.sequenceNumber,
            content = m.content,
            schemaJson = schemaJson, specFieldsJson = specJson,
            formatVersion = fv)
            .copy(minSequenceNumber = m.minSequenceNumber))
        }
      }

      // v3 row lineage: added files get first_row_id ranges (spec v3)
      val baseRowId = if (fv >= 3) Some(base.nextRowId.getOrElse(0L)) else None
      var rowCursor = baseRowId.getOrElse(0L)
      val assignedData =
        if (fv >= 3) addedDataEntries.map { e =>
          val w = e.copy(dataFile = e.dataFile.copy(firstRowId = Some(rowCursor)))
          rowCursor += e.dataFile.recordCount
          w
        } else addedDataEntries

      val newManifests = Seq(
        if (assignedData.nonEmpty)
          Some(ManifestAvro.writeManifest(nextManifestPath(), assignedData,
            partType, spec.specId, snapshotId, seq,
            schemaJson = schemaJson, specFieldsJson = specJson,
            formatVersion = fv)
            .copy(firstRowId = baseRowId))
        else None,
        if (addedDeleteEntries.nonEmpty)
          Some(ManifestAvro.writeManifest(nextManifestPath(), addedDeleteEntries,
            partType, spec.specId, snapshotId, seq,
            content = ManifestContent.Deletes,
            schemaJson = schemaJson, specFieldsJson = specJson,
            formatVersion = fv))
        else None).flatten

      val all = newManifests ++ survivors
      val listPath = s"$metaDir/snap-$snapshotId-1-$commitUuid.avro"
      ManifestAvro.writeManifestList(listPath, all, snapshotId,
        base.currentSnapshotId, seq, formatVersion = fv)

      val addedRecords = addedDataEntries.map(_.dataFile.recordCount).sum
      val snap = Snapshot(
        snapshotId = snapshotId,
        parentSnapshotId = base.currentSnapshotId,
        sequenceNumber = seq,
        timestampMs = System.currentTimeMillis(),
        manifestList = listPath,
        summary = Map(
          "operation" -> operation,
          "added-data-files" -> addedDataEntries.size.toString,
          "added-records" -> addedRecords.toString,
          "removed-data-files" -> removedPaths.size.toString,
          "added-delete-files" -> addedDeleteEntries.size.toString,
          // row-level churn (Iceberg core's deleted-records /
          // added-position/equality-deletes analogue): lets a changelog
          // consumer price a commit without reading its manifests
          "deleted-records" -> removedDataRecords.toString,
          "added-delete-records" ->
            addedDeleteEntries.map(_.dataFile.recordCount).sum.toString)
          ++ PartitionSummaries.build(base.properties,
            addedDataEntries.map(e => spec -> e.dataFile),
            removedForSummary.toSeq)
          ++ extraSummary ++ stageWapId.map("wap.id" -> _),
        schemaId = Some(base.currentSchemaId),
        firstRowId = baseRowId)
      result = snap
      // extraProps ride the SAME atomic commit (transactional-sink
      // markers: the (queryId, batchId) key of a streaming upsert)
      val next0 =
        if (stageWapId.isDefined) base.withStagedSnapshot(snap)
        else base.withSnapshot(snap)
      val next1 = if (extraProps.isEmpty) next0
        else next0.copy(properties = next0.properties ++ extraProps)
      // monotone bound-width floor: once this table's metrics config can
      // write truncated bounds at a width below the recorded floor,
      // ratchet the floor down IN THE SAME COMMIT — exactness proofs
      // (MIN/MAX answer, TopN end-runs) may then only call a bound exact
      // when it is shorter than every width that could have truncated it,
      // across the table's whole property history
      val next = MetricsConfig.from(next1.properties, schema).minTruncateWidth match {
        case Some(w) if w < TableProperties.get(next1.properties,
            TableProperties.MetricsBoundWidthFloor) =>
          next1.copy(properties = next1.properties +
            (TableProperties.MetricsBoundWidthFloor.name -> w.toString))
        case _ => next1
      }
      if (fv >= 3) next.copy(nextRowId = Some(rowCursor)) else next
    }
    result
  }

  /** Write a DataFrame as data files using the table's layout and return
    * manifest entries without committing (compaction, overwrite, CoW and
    * MoR row-level ops). The rows are clustered here and written by the
    * one task-side writer ([[FileWriter]]), the same one appends use.
    *
    * shapeOverride replaces the default clustering: called with the
    * aligned frame, the computed target file count (0 = unsized) and
    * the partition DIRECTORY columns (empty for unpartitioned tables;
    * when present they are already materialized on the frame and MUST
    * stay the leading sort keys so each task writes one file run per
    * partition). */
  def writeDataFiles(table: IceTable, spark: SparkSession, df: DataFrame,
      targetFileSizeBytes: Long = 0L, inputBytes: Long = -1L,
      shapeOverride: Option[(DataFrame, Int, Seq[String]) => DataFrame] = None): Seq[ManifestEntry] = {
    val (aligned, shaped) = shape(table, df, targetFileSizeBytes, inputBytes, shapeOverride)
    val entries = FileWriter.write(shaped,
        FileWriter.dataConf(spark, table, shaped.schema, aligned.schema))
      .map(f => ManifestEntry(ManifestStatus.Added, None, None, None, f))
    enrichNanCounts(table, spark, entries)
  }

  /** `df` aligned to the table schema, and the aligned rows clustered
    * for [[writeDataFiles]]. */
  private[ice] def shape(table: IceTable, df: DataFrame, targetFileSizeBytes: Long,
      inputBytes: Long, shapeOverride: Option[(DataFrame, Int, Seq[String]) => DataFrame])
      : (DataFrame, DataFrame) = {
    val schema = table.schema
    val spec = table.spec
    val aligned = df.select(schema.fields.map { f =>
      col(f.name).cast(SparkConv.toSparkType(f.fieldType))
        .as(f.name, SparkConv.toSparkField(f).metadata)
    }: _*)

    val order = table.metadata.defaultSortOrder
    val shaped = if (spec.isUnpartitioned) {
      // pick file count from input size so output files land near target;
      // callers rewriting a SUBSET pass its byte size explicitly — sizing
      // from the whole table would scatter a small rewrite over many
      // near-empty files
      val n =
        if (targetFileSizeBytes > 0) {
          val bytes =
            if (inputBytes >= 0) inputBytes
            else table.newScan().planFiles().map(_.file.fileSizeInBytes).sum
          math.max(1, math.ceil(bytes.toDouble / targetFileSizeBytes).toInt)
        } else 0
      shapeOverride match {
        case Some(shape) => shape(aligned, n, Nil)
        case None =>
          if (order.fields.nonEmpty) {
            val cols = WriteShape.sortCols(schema, order)
            val ranged = if (n > 0) aligned.repartitionByRange(n, cols: _*)
              else aligned.repartitionByRange(cols: _*)
            ranged.sortWithinPartitions(cols: _*)
          } else if (n > 0) aligned.repartition(n)
          else aligned
      }
    } else {
      val partCols = spec.fields.map { pf =>
        val src = schema.findFieldById(pf.sourceId).get
        pf.transform.toColumn(col(src.name), src.fieldType.asInstanceOf[IcePrimitive])
      }
      // partition tuples ride in reserved __gp_ columns for clustering;
      // the writer computes each file's tuple from the source columns
      val dirCols = spec.fields.map(pf => PartitionPaths.dirCol(pf.name))
      val withDirs = aligned.withColumns(dirCols.zip(partCols).toMap)
      shapeOverride match {
        case Some(shape) =>
          val n =
            if (targetFileSizeBytes > 0 && inputBytes >= 0)
              math.max(1, math.ceil(inputBytes.toDouble / targetFileSizeBytes).toInt)
            else 0
          shape(withDirs, n, dirCols.toSeq)
        case None =>
          WriteShape.sortForPartitionedWrite(
            withDirs.repartition(dirCols.map(col): _*),
            schema, order, dirCols)
      }
    }
    (aligned, shaped)
  }

  /** Opt-in (graft.write.nan-counts): per-file NaN counts for float and
    * double columns, from ONE column-pruned executor read of the files
    * just written. parquet footers cannot carry NaN statistics, yet SQL
    * orders NaN above every value — so without these counts every
    * metadata-proved operation on a float column must refuse. With a
    * recorded zero, MIN/MAX pushdown and strict comparisons become
    * provable. Costs a re-read of only the float columns of only the
    * new files; tables that want free float pushdown pay it here. */
  private[ice] def enrichNanCounts(table: IceTable, spark: SparkSession,
      entries: Seq[ManifestEntry]): Seq[ManifestEntry] = {
    if (!TableProperties.get(table.properties, TableProperties.WriteNanCounts))
      return entries
    val cfg = MetricsConfig.from(table.properties, table.schema)
    val floatFields = table.schema.fields.filter(f =>
      (f.fieldType == FloatT || f.fieldType == DoubleT) &&
        // a `none`-mode column persists no counts of any kind — NaN
        // counts included (float pushdown on it refuses, as it must)
        cfg.modeFor(f.id) != MetricsMode.NoMetrics)
    val parquetPaths = entries.filter(_.dataFile.fileFormat == "PARQUET")
      .map(_.dataFile.filePath)
    if (floatFields.isEmpty || parquetPaths.isEmpty) return entries
    val readSchema = org.apache.spark.sql.types.StructType(
      floatFields.map(SparkConv.toSparkField))
    val aggs = floatFields.map(f =>
      sum(when(isnan(col(f.name)), 1L).otherwise(0L)).as(f.name))
    val counts: Map[String, Map[Int, Long]] = spark.read.schema(readSchema)
      .parquet(parquetPaths: _*)
      .groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map(r => ManifestAvro.stripFileScheme(r.getString(0)) ->
        floatFields.zipWithIndex.map { case (f, i) => f.id -> r.getLong(i + 1) }.toMap)
      .toMap
    entries.map { e =>
      counts.get(ManifestAvro.stripFileScheme(e.dataFile.filePath)) match {
        case Some(m) => e.copy(dataFile = e.dataFile.copy(nanValueCounts = m))
        case None => e
      }
    }
  }
}

/** Schema evolution builder (reference: TableUpdate AddSchema/
  * SetCurrentSchema, table_update.h; promotion rules schema_util.cc:38-80).
  * Renames and promotions are safe because files are resolved by field ID
  * on read (P3). */
final class UpdateSchema(table: IceTable) {
  private val baseSchemaId: Int = table.metadata.currentSchemaId
  private var fields: IndexedSeq[NestedField] = table.schema.fields
  private var nextId: Int = table.metadata.lastColumnId
  private var identifierIds: Seq[Int] = table.schema.identifierFieldIds

  /** Iceberg SetIdentifierFields (`ALTER TABLE ... SET IDENTIFIER
    * FIELDS`): names the row-identity columns — the default identifier
    * set for changelog update pairing and upsert keys. Spec rules
    * enforced: fields must exist, be REQUIRED, and be primitive but not
    * float/double (NaN and -0.0/0.0 make float identity ill-defined). */
  def setIdentifierFields(names: Seq[String]): UpdateSchema = {
    identifierIds = names.map { n =>
      val f = fields.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"no such column $n"))
      require(f.required, s"identifier field $n must be a required column")
      f.fieldType match {
        case FloatT | DoubleT => throw new IllegalArgumentException(
          s"identifier field $n may not be float/double")
        case _: IcePrimitive => ()
        case _ => throw new IllegalArgumentException(
          s"identifier field $n must be a primitive column")
      }
      f.id
    }
    this
  }

  def clearIdentifierFields(): UpdateSchema = { identifierIds = Nil; this }

  def addColumn(name: String, t: IceType, doc: Option[String] = None): UpdateSchema =
    addColumnWithDefault(name, t, None, None, doc)

  /** Add an optional column with v3 default values: `initialDefault` is
    * what scans return for rows in files written BEFORE this column
    * existed (spec: "initial-default"); `writeDefault` is what writers
    * materialize when the column is absent from appended data
    * ("write-default"). Values use the [[graft.ice.types.Literal]] raw
    * conventions; wire form is single-value JSON
    * ([[graft.ice.meta.SingleValueJson]]). */
  def addColumnWithDefault(name: String, t: IceType, initialDefault: Option[Any],
      writeDefault: Option[Any], doc: Option[String] = None): UpdateSchema = {
    require(!fields.exists(_.name == name), s"column $name already exists")
    // fail at declaration, not at scan time, if the default can't serialize
    initialDefault.foreach(v => graft.ice.meta.SingleValueJson.toJson(t, v))
    writeDefault.foreach(v => graft.ice.meta.SingleValueJson.toJson(t, v))
    nextId += 1
    fields = fields :+ NestedField(nextId, name, t, required = false, doc,
      initialDefault = initialDefault, writeDefault = writeDefault)
    this
  }

  /** Add a REQUIRED column to a table that may already hold data — only
    * legal with a non-null initial-default (the spec's condition: rows in
    * existing files must still produce a value). */
  def addRequiredColumn(name: String, t: IceType, initialDefault: Any,
      writeDefault: Option[Any] = None, doc: Option[String] = None): UpdateSchema = {
    addColumnWithDefault(name, t, Some(initialDefault),
      writeDefault.orElse(Some(initialDefault)), doc)
    fields = fields.map(f => if (f.name == name) f.copy(required = true) else f)
    this
  }

  /** Change a column's write-default. The initial-default is intentionally
    * NOT updatable: it is fixed at column creation (spec rule — changing
    * it would rewrite history for files that omit the column). */
  def updateColumnDefault(name: String, writeDefault: Option[Any]): UpdateSchema = {
    val f = fields.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"no such column $name"))
    writeDefault.foreach(v => graft.ice.meta.SingleValueJson.toJson(f.fieldType, v))
    fields = fields.map(x => if (x.name == name) x.copy(writeDefault = writeDefault) else x)
    this
  }

  def renameColumn(from: String, to: String): UpdateSchema = {
    require(fields.exists(_.name == from), s"no such column $from")
    fields = fields.map(f => if (f.name == from) f.copy(name = to) else f)
    this
  }

  /** Drop a column. Refuses an unknown name, like [[renameColumn]],
    * and a source column of the default partition spec or the current
    * sort order: every later append derives partition tuples and sort
    * keys from those columns, so the drop would leave the table
    * unwritable. */
  def deleteColumn(name: String): UpdateSchema = {
    val f = fields.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"no such column $name"))
    val spec = table.spec
    spec.fields.find(_.sourceId == f.id).foreach { pf =>
      throw new IllegalArgumentException(s"cannot drop column $name: it is " +
        s"the source of partition field ${pf.name} (${pf.transform.name}) " +
        s"in the default partition spec ${spec.specId}")
    }
    val order = table.metadata.defaultSortOrder
    order.fields.find(_.sourceId == f.id).foreach { sf =>
      throw new IllegalArgumentException(s"cannot drop column $name: the " +
        s"current sort order ${order.orderId} sorts by " +
        s"${sf.transform.name}($name)")
    }
    fields = fields.filterNot(_.name == name)
    this
  }

  def makeOptional(name: String): UpdateSchema = {
    fields = fields.map(f => if (f.name == name) f.copy(required = false) else f)
    this
  }

  def updateColumnDoc(name: String, doc: String): UpdateSchema = {
    require(fields.exists(_.name == name), s"no such column $name")
    fields = fields.map(f => if (f.name == name) f.copy(doc = Some(doc)) else f)
    this
  }

  /** Type promotion: int->long, float->double, decimal precision widen
    * (schema_util.cc:38-80). */
  def updateColumnType(name: String, t: IcePrimitive): UpdateSchema = {
    require(fields.exists(_.name == name), s"no such column $name")
    fields = fields.map { f =>
      if (f.name != name) f
      else {
        val ok = (f.fieldType, t) match {
          case (IntT, LongT) => true
          case (FloatT, DoubleT) => true
          case (DecimalT(p1, s1), DecimalT(p2, s2)) => s1 == s2 && p2 >= p1
          case _ => false
        }
        require(ok, s"illegal promotion ${f.fieldType} -> $t")
        f.copy(fieldType = t)
      }
    }
    this
  }

  def commit(): Schema = {
    var committed: Schema = null
    // the field list was computed against the schema current at builder
    // creation — a concurrent schema change makes re-applying it silently
    // destructive, so it must FAIL, not retry (AssertCurrentSchemaID,
    // table_requirement.h:120-135)
    table.commit(Seq(AssertCurrentSchemaId(baseSchemaId)), base => {
      val newId = base.schemas.map(_.schemaId).max + 1
      // identifier ids survive evolution, pruned to still-present fields
      // (dropping an identifier column drops it from the identity set)
      val s = Schema(newId, fields,
        identifierIds.filter(id => fields.exists(_.id == id)))
      committed = s
      base.copy(
        schemas = base.schemas :+ s,
        currentSchemaId = newId,
        lastColumnId = math.max(base.lastColumnId, nextId),
        lastUpdatedMs = System.currentTimeMillis())
    }, -1)
    committed
  }
}

/** Partition-spec evolution (reference: TableUpdate AddPartitionSpecs /
  * SetDefaultPartitionSpec, table_update.h). Old files keep their spec;
  * every read-side consumer (manifest pruning, partition tuples, merge
  * grouping, survivors rewrite) already resolves specs per manifest via
  * specById, so evolution is purely additive. */
final class UpdateSpec(table: IceTable) {
  private val baseSpecId: Int = table.metadata.defaultSpecId
  private var fields: IndexedSeq[PartitionField] = IndexedSeq.empty
  private var nextFieldId: Int =
    math.max(table.metadata.lastPartitionId, PartitionSpec.PartitionDataIdStart - 1)

  def addField(name: String, sourceName: String,
      transform: graft.ice.transform.Transform): UpdateSpec = {
    val src = table.schema.findFieldByName(sourceName).getOrElse(
      throw new IllegalArgumentException(s"no such column $sourceName"))
    require(!fields.exists(_.name == name),
      s"duplicate partition field name '$name'")
    nextFieldId += 1
    fields = fields :+ PartitionField(src.id, nextFieldId, name, transform)
    this
  }

  /** Seed from the current default spec — partition EVOLUTION (existing
    * fields keep their field ids; add/remove applies on top), as opposed
    * to the default replace-the-spec semantics. */
  def fromCurrent(): UpdateSpec = {
    fields = table.metadata.defaultSpec.fields
    this
  }

  def removeField(name: String): UpdateSpec = {
    require(fields.exists(_.name == name),
      s"no partition field named '$name' " +
        s"(have: ${fields.map(_.name).mkString(", ")})")
    fields = fields.filterNot(_.name == name)
    this
  }

  def commit(): PartitionSpec = {
    var committed: PartitionSpec = null
    table.commit(Seq(AssertDefaultSpecId(baseSpecId)), base => {
      val newSpecId = base.partitionSpecs.map(_.specId).max + 1
      val spec = PartitionSpec(newSpecId, fields)
      committed = spec
      base.copy(
        partitionSpecs = base.partitionSpecs :+ spec,
        defaultSpecId = newSpecId,
        lastPartitionId = math.max(base.lastPartitionId, nextFieldId),
        lastUpdatedMs = System.currentTimeMillis())
    }, -1)
    committed
  }
}

/** Test/diagnostic hook: how the last copy-on-write delete split its
  * work between metadata-only file drops and data rewrites. */
object RowDeleteStats {
  @volatile var lastMetadataDropped: Int = -1
  @volatile var lastRewritten: Int = -1
}

/** Row-level delete (reference §2.8 — modeled but not executable there). */
final class RowDelete(table: IceTable, spark: SparkSession) {

  /** Serializable-isolation guard for this operation (write.delete/
    * update.isolation-level, declared default `serializable`): captures
    * the predicate bound + the sequence number the plan saw; the commit
    * re-validates on every attempt that no concurrent data the predicate
    * might match appeared since. `snapshot` opts out. Equality deletes
    * carry no check: by sequence-number semantics they only ever apply
    * to data OLDER than themselves, so concurrent appends escape the
    * delete under either isolation level. */
  private def isolationCheck(key: TableProperties.Key[String],
      bound: graft.ice.expr.Bound): Option[(Option[graft.ice.expr.Bound], Long)] =
    if (TableProperties.get(table.properties, key) == "snapshot") None
    else Some((Some(bound), table.currentSnapshot.map(_.sequenceNumber).getOrElse(0L)))

  /** Copy-on-write delete. Files the strict evaluator PROVES fully
    * matching are dropped from the manifest without being opened — a
    * partition-aligned delete (drop a day, drop a tenant) is a pure
    * metadata operation at any scale. Only files with a partial match
    * are read and rewritten without their matching rows. */
  def deleteWhere(filter: Expr): Snapshot = {
    val bound = Binder.bind(filter, table.schema)
    val cond = ToColumn(bound)
    val matching = table.newScan().filter(filter).planFiles()
    if (matching.isEmpty) {
      RowDeleteStats.lastMetadataDropped = 0
      RowDeleteStats.lastRewritten = 0
      return SnapshotProducer.commit(table, spark, DataOperation.Delete, Nil)
    }
    val strict = new StrictMetricsEvaluator
    val (dropWhole, rewrite) = matching.partition(t => strict.allRowsMatch(bound, t.file))
    RowDeleteStats.lastMetadataDropped = dropWhole.size
    RowDeleteStats.lastRewritten = rewrite.size
    val added = if (rewrite.isEmpty) Nil else {
      // rewriting raw file bytes with live merge-on-read deletes in scope
      // would resurrect already-deleted rows (whole-file drops are immune:
      // every row goes away regardless)
      table.currentSnapshot.foreach { snap =>
        require(table.planDeleteEntries(snap).isEmpty,
          "copy-on-write delete rewriting files on a table carrying live " +
            "merge-on-read delete files would resurrect deleted rows; " +
            "compact().rewriteDataFiles() first")
      }
      // keep rows where the predicate is NOT TRUE: a NULL predicate result
      // (e.g. Eq on a null value) must keep the row, not silently drop it
      val remaining = rewrittenRows(rewrite)
        .filter(!coalesce(cond, lit(false)))
      if (remaining.isEmpty) Nil
      else SnapshotProducer.writeDataFiles(table, spark, remaining)
    }
    SnapshotProducer.commit(table, spark, DataOperation.Delete, added,
      removedPaths = matching.map(_.file.filePath).toSet,
      serializableCheck = isolationCheck(TableProperties.WriteDeleteIsolation, bound))
  }

  /** Copy-on-write UPDATE ... SET: rewrite ONLY the files containing
    * matching rows, applying the SQL `set` expressions to exactly the
    * rows the predicate selects (a NULL predicate result keeps the row
    * unchanged, mirroring deleteWhere's NULL-keeps semantics). File
    * pruning comes from the same filtered plan as a delete — an update
    * touching one partition rewrites one partition's files, never the
    * table. */
  def updateWhere(filter: Expr, set: Map[String, String]): Snapshot = {
    require(set.nonEmpty, "UPDATE needs at least one assignment")
    set.keys.foreach(k => require(table.schema.findFieldByName(k).isDefined,
      s"UPDATE SET names unknown column '$k'"))
    table.currentSnapshot.foreach { snap =>
      require(table.planDeleteEntries(snap).isEmpty,
        "copy-on-write update on a table carrying live merge-on-read " +
          "delete files would resurrect deleted rows; " +
          "compact().rewriteDataFiles() first")
    }
    val bound = Binder.bind(filter, table.schema)
    val cond = ToColumn(bound)
    val matching = table.newScan().filter(filter).planFiles()
    if (matching.isEmpty)
      return SnapshotProducer.commit(table, spark, DataOperation.Overwrite, Nil)
    val hit = coalesce(cond, lit(false))
    val updated = rewrittenRows(matching)
      .select(table.schema.fields.map { f =>
        set.get(f.name) match {
          case Some(sql) =>
            when(hit, org.apache.spark.sql.functions.expr(sql)
                .cast(SparkConv.toSparkType(f.fieldType)))
              .otherwise(col(f.name)).as(f.name)
          case None => col(f.name)
        }
      }: _*)
    val added = SnapshotProducer.writeDataFiles(table, spark, updated)
    SnapshotProducer.commit(table, spark, DataOperation.Overwrite, added,
      removedPaths = matching.map(_.file.filePath).toSet,
      serializableCheck = isolationCheck(TableProperties.WriteUpdateIsolation, bound))
  }

  /** Every row of the files a copy-on-write delete or update rewrites,
    * read through the scan so id-less files (addFiles registrations)
    * resolve like any scan does: name mapping, initial-defaults and
    * identity-partition constants. Both callers refuse tables carrying
    * live merge-on-read deletes, so these are exactly the files' rows. */
  private def rewrittenRows(files: Seq[FileScanTask]): DataFrame =
    table.newScan().restrictFiles(files.map(_.file.filePath).toSet).toDF(spark)

  /** (file_path, pos) of every row of the `matching` files where `cond`
    * holds — the match set of both merge-on-read deletes. Files carrying
    * parquet field ids read by id with the table schema, through
    * `FileListRelation`. Id-less files (addFiles registrations, split
    * out by the scan's id test) read through the scan's `_file`/`_pos`
    * columns, so a predicate sees the same
    * values a scan does: name-mapped columns, initial-defaults and
    * identity-partition constants. */
  private def matchedPositions(matching: Seq[FileScanTask],
      cond: org.apache.spark.sql.Column): DataFrame = {
    val hasIds = ScanBuilder.fieldIdTest(table, spark)
    val (withIds, idLess) = matching.partition(t =>
      hasIds(t, ManifestAvro.stripFileScheme(t.file.filePath)))
    val exact = Option.when(withIds.nonEmpty) {
      // file sizes from the manifests: no driver listing or stat per path
      graft.ice.FileListRelation.parquet(spark, withIds.map(t =>
          ManifestAvro.stripFileScheme(t.file.filePath) -> t.file.fileSizeInBytes),
          SparkConv.toSpark(table.schema))
        .filter(cond)
        .select(
          graft.ice.FilePaths.column(col("_metadata.file_path")).as("file_path"),
          col("_metadata.row_index").as("pos"))
    }
    val scanned = Option.when(idLess.nonEmpty) {
      table.newScan().restrictFiles(idLess.map(_.file.filePath).toSet)
        .withMetadataColumns("_file", "_pos").toDF(spark)
        .filter(cond)
        .select(col("_file").as("file_path"), col("_pos").as("pos"))
    }
    (exact ++ scanned).reduce(_ unionByName _)
  }

  /** Merge-on-read position delete: write (file_path, pos) tuples of
    * matching rows as a delete file; scans mask those rows (§2.8).
    * Reserved field ids 2147483546/2147483545 (metadata_columns.h). */
  def deleteWherePositional(filter: Expr): Snapshot = {
    val bound = Binder.bind(filter, table.schema)
    val cond = ToColumn(bound)
    val matching = table.newScan().filter(filter).planFiles()
    if (matching.isEmpty)
      return SnapshotProducer.commit(table, spark, DataOperation.Delete, Nil)
    // distributed delete-file write: hash-cluster the (file,pos) tuples by
    // file_path so each output delete file covers a disjoint set of data
    // files (spec ordering (file_path, pos) within each) — a wide delete
    // at 100 TB writes through every core, not one
    val dels = matchedPositions(matching, cond)
    val entries = RowDelete.writePositionDeleteEntries(table, spark, dels,
      matching.size, RowDelete.partitionKeys(table, matching))
    SnapshotProducer.commit(table, spark, DataOperation.Delete, Nil,
      addedDeleteEntries = entries,
      serializableCheck = isolationCheck(TableProperties.WriteDeleteIsolation, bound))
  }

  /** Merge-on-read delete as v3 DELETION VECTORS: one roaring bitmap of
    * deleted positions per data file (manifest_entry.h:162-176 semantics;
    * the reference cannot execute these — table_scan.cc:288-291 errors on
    * any delete file).
    *
    * Distributed shape: the (file,pos) scan, the per-file bitmap builds
    * AND the puffin writes all run on executors — positions for one data
    * file are clustered into one partition, each partition writes its own
    * puffin file via the task-commit rename protocol, and only the blob
    * DESCRIPTORS (path, offset, length, cardinality) travel back to the
    * driver. A broad delete over billions of rows never moves a bitmap
    * byte through the driver.
    *
    * v3 invariant (one DV per data file): when a data file already has a
    * deletion vector, the executor ORs the prior bitmap into the new one
    * and the commit drops the superseded entry — re-deletes never
    * double-count and spec-compliant external readers see at most one DV
    * per file. */
  def deleteWhereDV(filter: Expr): Snapshot = {
    require(table.metadata.formatVersion >= 3,
      s"deletion vectors require format-version 3, table is v${table.metadata.formatVersion}")
    val bound = Binder.bind(filter, table.schema)
    val cond = ToColumn(bound)
    val matching = table.newScan().filter(filter).planFiles()
    if (matching.isEmpty)
      return SnapshotProducer.commit(table, spark, DataOperation.Delete, Nil)
    val (entries, superseded, expected) =
      buildDVEntries(matchedPositions(matching, cond), matching.size)
    if (entries.isEmpty)
      return SnapshotProducer.commit(table, spark, DataOperation.Delete, Nil)
    SnapshotProducer.commit(table, spark, DataOperation.Delete, Nil,
      addedDeleteEntries = entries, removedDVForFiles = superseded,
      extraSummary =
        if (superseded.isEmpty) Map.empty
        else Map("replaced-deletion-vectors" -> superseded.size.toString),
      expectedDVs = Some(expected),
      serializableCheck = isolationCheck(TableProperties.WriteDeleteIsolation, bound))
  }

  /** Build one deletion vector per touched data file from a
    * `(file_path, pos)` DataFrame (positions clustered per file on the
    * executors, puffin files written through the task-commit rename
    * protocol, only blob descriptors returning to the driver). Returns
    * (delete entries, superseded prior-DV paths, expected per-file DV
    * sets for the commit's race validation). Shared by deleteWhereDV and
    * the merge-on-read UPDATE path. */
  private def buildDVEntries(dels: DataFrame, nFiles: Int)
      : (Seq[ManifestEntry], Set[String], Map[String, Set[String]]) = {
    // prior DVs per referenced data file (metadata-sized): executors read
    // and union these so each new vector fully replaces its predecessor
    val priorDV: Map[String, Seq[(String, Long, Long)]] =
      table.currentSnapshot.map(table.planDeleteEntries).getOrElse(Nil)
        .filter(e => e.dataFile.content == FileContent.PositionDeletes &&
          e.dataFile.fileFormat == "PUFFIN" && e.dataFile.referencedDataFile.isDefined)
        .groupBy(e => ManifestAvro.stripFileScheme(e.dataFile.referencedDataFile.get))
        .view.mapValues(_.map(e => (
          ManifestAvro.stripFileScheme(e.dataFile.filePath),
          e.dataFile.contentOffset.getOrElse(throw new IllegalStateException(
            s"DV entry for ${e.dataFile.filePath} missing content_offset")),
          e.dataFile.contentSizeInBytes.getOrElse(throw new IllegalStateException(
            s"DV entry for ${e.dataFile.filePath} missing content_size_in_bytes")))))
        .toMap
    val nParts = math.max(1, math.min(
      spark.sessionState.conf.numShufflePartitions, nFiles))
    val dataDir = table.dataFileDir
    Files.createDirectories(Paths.get(dataDir))
    val commitUuid = UUID.randomUUID().toString
    import spark.implicits._
    // per-ref descriptor rows: (puffinPath, puffinSize, refFile, offset, length, cardinality)
    val refRows: Seq[(String, Long, String, Long, Long, Long)] = dels
      .repartition(nParts, col("file_path"))
      .sortWithinPartitions("file_path", "pos")
      .as[(String, Long)]
      .mapPartitions { it =>
        val byFile = scala.collection.mutable.LinkedHashMap
          .empty[String, org.roaringbitmap.longlong.Roaring64Bitmap]
        it.foreach { case (f, p) =>
          byFile.getOrElseUpdate(f,
            new org.roaringbitmap.longlong.Roaring64Bitmap()).addLong(p)
        }
        if (byFile.isEmpty) Iterator.empty
        else {
          // union in the prior vector (if any) so the new DV supersedes it
          byFile.foreach { case (f, bm) =>
            priorDV.getOrElse(f, Nil).foreach { case (pp, off, len) =>
              bm.or(Puffin.readDV(pp, off, len))
            }
          }
          val dvs = byFile.iterator.map { case (f, bm) =>
            bm.runOptimize()
            val out = new java.io.ByteArrayOutputStream()
            bm.serialize(new java.io.DataOutputStream(out))
            (f, out.toByteArray, bm.getLongCardinality)
          }.toSeq.sortBy(_._1)
          val ctx = org.apache.spark.TaskContext.get()
          val idx = Option(ctx).map(_.partitionId()).getOrElse(0)
          val attempt = Option(ctx).map(_.taskAttemptId).getOrElse(0L)
          val path = f"$dataDir/$commitUuid-deletes-p$idx%05d.puffin"
          // task-commit protocol: attempt-unique temp + atomic publish, so
          // a retried/speculative attempt never exposes a torn puffin file
          val tmp = s"$path.$attempt.tmp"
          val refs = Puffin.writeDVFile(tmp, dvs)
          graft.ice.io.LocalFileIO.atomicSwap(tmp, path)
          val size = Files.size(Paths.get(path))
          refs.iterator.map(r =>
            (path, size, r.referencedDataFile, r.offset, r.length, r.cardinality))
        }
      }.collect().toSeq.sortBy(r => (r._1, r._3))
    val entries = refRows.map { case (puffinPath, size, refFile, off, len, card) =>
      ManifestEntry(ManifestStatus.Added, None, None, None,
        DataFile(FileContent.PositionDeletes, puffinPath, "PUFFIN",
          table.spec.fields.map(_ => null: Any).toIndexedSeq,
          recordCount = card,
          fileSizeInBytes = size,
          referencedDataFile = Some(refFile),
          contentOffset = Some(off),
          contentSizeInBytes = Some(len)))
    }
    val superseded = refRows.map(_._3).toSet.filter(priorDV.contains)
    // what the planner believed the live DV set was, per touched data
    // file (empty set = "had no DV"): the commit re-validates this on
    // every attempt so a lost race cannot silently supersede a
    // concurrently-written vector
    val expected: Map[String, Set[String]] =
      refRows.map(r => ManifestAvro.stripFileScheme(r._3)).distinct
        .map(ref => ref -> priorDV.getOrElse(ref, Nil).map(_._1).toSet)
        .toMap
    (entries, superseded, expected)
  }

  /** Merge-on-read UPDATE (`write.update.mode=merge-on-read`, reference
    * table_properties.h alongside the implemented delete/merge twins):
    * matching rows are superseded with position deletes (v3: deletion
    * vectors) and re-appended with the assignments applied — a 0.1%
    * UPDATE on a 100-TB table writes one small delete plane plus the
    * touched rows, never rewrites whole data files. Rows are read
    * through the SCAN (existing MoR deletes applied), so a previously
    * deleted row can never resurrect as an "updated" one — which is why
    * this path, unlike copy-on-write [[updateWhere]], needs no live-
    * delete-file guard. */
  def updateWhereMoR(filter: Expr, set: Map[String, String]): Snapshot = {
    require(set.nonEmpty, "UPDATE needs at least one assignment")
    set.keys.foreach(k => require(table.schema.findFieldByName(k).isDefined,
      s"UPDATE SET names unknown column '$k'"))
    val bound = Binder.bind(filter, table.schema)
    val cond = coalesce(ToColumn(bound), lit(false))
    val matching = table.newScan().filter(filter).planFiles()
    if (matching.isEmpty)
      return SnapshotProducer.commit(table, spark, DataOperation.Overwrite, Nil)
    val scanDF = table.newScan().filter(filter)
      .withMetadataColumns("_file", "_pos").toDF(spark).filter(cond)
    val dels = scanDF.select(col("_file").as("file_path"), col("_pos").as("pos"))
    val (delEntries, superseded, expected) =
      if (table.metadata.formatVersion >= 3) buildDVEntries(dels, matching.size)
      else (RowDelete.writePositionDeleteEntries(table, spark, dels,
        matching.size, RowDelete.partitionKeys(table, matching)),
        Set.empty[String], Map.empty[String, Set[String]])
    val updated = scanDF.select(table.schema.fields.map { f =>
      set.get(f.name) match {
        case Some(sql) => org.apache.spark.sql.functions.expr(sql)
            .cast(SparkConv.toSparkType(f.fieldType)).as(f.name)
        case None => col(f.name)
      }
    }: _*)
    val added = SnapshotProducer.writeDataFiles(table, spark, updated)
    SnapshotProducer.commit(table, spark, DataOperation.Overwrite, added,
      addedDeleteEntries = delEntries, removedDVForFiles = superseded,
      extraSummary =
        if (superseded.isEmpty) Map.empty
        else Map("replaced-deletion-vectors" -> superseded.size.toString),
      expectedDVs =
        if (table.metadata.formatVersion >= 3) Some(expected) else None,
      serializableCheck = isolationCheck(TableProperties.WriteUpdateIsolation, bound))
  }

  /** Merge-on-read equality delete: delete every row whose key columns
    * match a row of `keys` (e.g. GDPR-style deletes by id at 100 TB
    * without rewriting data). */
  def deleteByEquality(keys: DataFrame): Snapshot = {
    val entries = equalityDeleteEntries(keys)
    SnapshotProducer.commit(table, spark, DataOperation.Delete, Nil,
      addedDeleteEntries = entries)
  }

  /** Write equality-delete files for `keys` and return their manifest
    * entries WITHOUT committing — the building block deleteByEquality
    * and the connector's upsert append share (the upsert commits these
    * alongside the new data files in ONE snapshot; same-sequence data is
    * unaffected by the strict dataSeq < deleteSeq visibility rule). */
  private[graft] def equalityDeleteEntries(keys: DataFrame): Seq[ManifestEntry] = {
    val eqFields = keys.columns.toSeq.map(c => table.schema.findFieldByName(c).getOrElse(
      throw new IllegalArgumentException(s"no such column $c")))
    // carry field ids so every delete file gets key BOUNDS — compaction
    // uses them to skip data files whose column ranges cannot contain
    // any deleted key
    val aligned = keys.select(eqFields.map { f =>
      col(f.name).cast(SparkConv.toSparkType(f.fieldType))
        .as(f.name, SparkConv.toSparkField(f).metadata)
    }: _*)
    val conf = FileWriter.deleteConf(spark, table, FileContent.EqualityDeletes,
      aligned.schema, aligned.schema, "-eqdeletes").copy(equalityIds = eqFields.map(_.id))
    FileWriter.write(aligned, conf)
      .map(f => ManifestEntry(ManifestStatus.Added, None, None, None, f))
  }
}

object RowDelete {
  /** Reserved field id of the `file_path` column inside a position
    * delete file (metadata_columns.h): bounds under this id scope the
    * delete file to a lexicographic range of data-file paths. */
  val PathBoundFieldId = 2147483546

  /** Distributed position-delete-file write shared by deleteWherePositional
    * and the merge-on-read MERGE path: hash-cluster (file_path, pos)
    * tuples by file_path so each output delete file covers a disjoint set
    * of data files (spec ordering (file_path, pos) within each) — a wide
    * delete at 100 TB writes through every core, not one. */
  /** Normalized data-file path -> rendered partition directory string,
    * for `write.delete.granularity=partition` clustering. Metadata-sized:
    * exactly the task list the delete already planned. */
  private[write] def partitionKeys(table: IceTable,
      matching: Seq[graft.ice.FileScanTask]): Map[String, String] =
    if (table.spec.isUnpartitioned) Map.empty
    else matching.map { t =>
      val spec = table.metadata.specById(t.specId)
        .getOrElse(graft.ice.meta.PartitionSpec.unpartitioned)
      val key = spec.fields.zip(t.file.partition).map { case (pf, v) =>
        s"${pf.name}=${v match {
          case null => "null"
          case b: Array[Byte] => b.map("%02x".format(_)).mkString
          case x => x.toString
        }}"
      }.mkString("/")
      ManifestAvro.stripFileScheme(t.file.filePath) -> key
    }.toMap

  private[write] def writePositionDeleteEntries(table: IceTable,
      spark: SparkSession, dels: DataFrame, nFiles: Int,
      partitionOf: Map[String, String] = Map.empty): Seq[ManifestEntry] = {
    val granularity = graft.ice.meta.TableProperties.get(table.properties,
      graft.ice.meta.TableProperties.DeleteGranularity)
    val targetBytes = graft.ice.meta.TableProperties.get(table.properties,
      graft.ice.meta.TableProperties.DeleteTargetFileSizeBytes)
    // target sizing as a record cap: (path, pos) rows cost roughly the
    // path length + 8 bytes pre-encoding; parquet dictionary + zstd only
    // shrink that, so the cap errs toward files UNDER target, never over
    val avgPathLen =
      if (partitionOf.isEmpty) 128L
      else partitionOf.keysIterator.map(_.length.toLong).sum / partitionOf.size
    val maxRecords = math.max(1L, targetBytes / (avgPathLen + 8L))
    // cluster per granularity: rows sorted within partitions (spec
    // ordering (file_path, pos) inside each group) and the column whose
    // value change rolls a delete file, when one applies
    val (clustered, rollCol): (DataFrame, Option[String]) = granularity match {
      case "file" =>
        // one delete file per referenced DATA file
        (dels.repartition(col("file_path"))
          .sortWithinPartitions("file_path", "pos"), Some("file_path"))
      case _ if partitionOf.nonEmpty && !table.spec.isUnpartitioned =>
        // partition granularity: cluster delete rows by the data file's
        // partition — one (size-rolled) delete file per touched partition
        import spark.implicits._
        val mapDF = broadcast(
          partitionOf.toSeq.toDF("file_path", "__group"))
        (dels.join(mapDF, Seq("file_path"), "left")
          .withColumn("__group", coalesce(col("__group"), lit("__unknown")))
          .repartition(col("__group"))
          .sortWithinPartitions("__group", "file_path", "pos"), Some("__group"))
      case _ =>
        // unpartitioned spec (or no mapping available): partition
        // boundaries don't exist to respect — hash-shard by path so a
        // wide delete still writes through every core
        val nParts = math.max(1, math.min(
          spark.sessionState.conf.numShufflePartitions, math.max(nFiles, 1)))
        (dels.repartition(nParts, col("file_path"))
          .sortWithinPartitions("file_path", "pos"), None)
    }
    val written = org.apache.spark.sql.types.StructType(
      Seq("file_path", "pos").map(c => clustered.schema(c)))
    val conf = FileWriter.deleteConf(spark, table, FileContent.PositionDeletes,
      clustered.schema, written, "-deletes").copy(
      rollOrdinal = rollCol.map(clustered.schema.fieldIndex).getOrElse(-1),
      maxRecords = maxRecords)
    FileWriter.write(clustered, conf)
      .map(f => ManifestEntry(ManifestStatus.Added, None, None, None, f))
      .sortBy(_.dataFile.filePath)
  }
}

/** MERGE INTO (upsert), copy-on-write — §2.8 extension; the reference
  * models no row-level operation at all (table_scan.cc:288-291 rejects
  * even reading deletes). ANSI MERGE semantics with one WHEN MATCHED
  * clause (update-all / update-set / delete) and an optional WHEN NOT
  * MATCHED INSERT.
  *
  * Scale shape (the part that matters at 100 TB): only target files
  * containing at least one matched key are rewritten — discovered with a
  * column-pruned semi-join reading just the key columns plus
  * `_metadata.file_path` — and the rewrite + insert lands as ONE atomic
  * "overwrite" snapshot. The unmatched remainder of the table is never
  * read twice and never rewritten. The source is scanned thrice
  * (cardinality check, matches, inserts); it is the small side by
  * construction and broadcast-eligible under AQE.
  *
  * Like every CoW op here, the rewrite reads raw data files; tables
  * carrying live merge-on-read delete files must compact first — merge
  * refuses loudly instead of silently resurrecting deleted rows. */
final class MergeInto(table: IceTable, spark: SparkSession,
    source: DataFrame, on: Seq[String]) {

  private sealed trait MatchedAction
  private case object UpdateAll extends MatchedAction
  private final case class UpdateSet(set: Map[String, String]) extends MatchedAction
  private case object DeleteMatched extends MatchedAction

  private var matched: MatchedAction = UpdateAll
  private var insertUnmatched = false

  /** Matched rows are replaced column-for-column by the source row. */
  def whenMatchedUpdateAll(): MergeInto = { matched = UpdateAll; this }

  /** Matched rows are updated per SQL expressions over aliases `t`
    * (target row) and `s` (source row), e.g.
    * `Map("o_totalprice" -> "t.o_totalprice + s.o_totalprice")`;
    * unlisted columns keep their target values. */
  def whenMatchedUpdate(set: Map[String, String]): MergeInto = {
    matched = UpdateSet(set); this
  }

  /** Matched rows are deleted. */
  def whenMatchedDelete(): MergeInto = { matched = DeleteMatched; this }

  /** Source rows matching no target row are inserted. */
  def whenNotMatchedInsertAll(): MergeInto = { insertUnmatched = true; this }

  /** Merge-on-read: matched target rows are superseded by POSITION
    * DELETE files instead of rewriting their data files — the
    * streaming-upsert shape. A broad merge (every file holds a match)
    * under CoW rewrites the whole table; under MoR it writes keys-sized
    * delete files plus only the new row versions. The matched-row scan
    * reads `(_file, _pos)` through the delete-aware table scan, so
    * merging repeatedly onto an already-MoR table composes correctly
    * (compaction folds the accumulated deletes back in). */
  def withMergeOnRead(): MergeInto = { mor = true; this }
  private var mor = false

  /** Table property set atomically WITH the merge commit (transactional
    * streaming-sink markers). */
  def withProperty(key: String, value: String): MergeInto = {
    props += (key -> value); this
  }
  private var props: Map[String, String] = Map.empty

  def commit(): Snapshot = {
    require(on.nonEmpty, "merge requires at least one ON column")
    on.foreach { c =>
      require(table.schema.findFieldByName(c).isDefined, s"no target column $c")
      require(source.columns.contains(c), s"no source column $c")
    }
    if (!mor) table.currentSnapshot.foreach { snap =>
      require(table.planDeleteEntries(snap).isEmpty,
        "copy-on-write mergeInto on a table carrying live merge-on-read " +
          "delete files would resurrect deleted rows; use withMergeOnRead() " +
          "or compact().rewriteDataFiles() first")
    }
    // ANSI cardinality rule: a target row matched by >1 source row is an
    // error, not a nondeterministic pick. One agg over the (small) source.
    val dupKeys = source.groupBy(on.map(col): _*).count()
      .filter(col("count") > 1).limit(1).collect()
    require(dupKeys.isEmpty,
      s"source has duplicate ON keys (e.g. ${dupKeys.headOption.mkString})")
    if (mor) commitMoR() else commitCoW()
  }

  /** Merge-on-read commit: one pass discovers matched (_file, _pos) and
    * builds updated rows; inserts anti-join the (key-pruned) scan; both
    * the new data files and the position-delete files land in ONE
    * overwrite snapshot. */
  private def commitMoR(): Snapshot = {
    val tgtCols = table.schema.fields.map(_.name)
    val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var delEntries: Seq[ManifestEntry] = Nil
    if (table.currentSnapshot.isDefined) {
      val scanDF = table.newScan().withMetadataColumns("_file", "_pos").toDF(spark)
      val joined = scanDF.as("t").join(source.as("s"),
        on.map(c => col(s"t.$c") === col(s"s.$c")).reduce(_ && _), "inner")
      val dels = joined.select(col("t._file").as("file_path"), col("t._pos").as("pos"))
      val tasks = table.newScan().planFiles()
      delEntries = RowDelete.writePositionDeleteEntries(table, spark, dels,
        tasks.size, RowDelete.partitionKeys(table, tasks))
      matched match {
        case UpdateAll =>
          tgtCols.foreach(c => require(source.columns.contains(c),
            s"whenMatchedUpdateAll needs source column $c"))
          parts += source.join(scanDF.select(on.map(col): _*), on, "left_semi")
            .select(tgtCols.map(col): _*)
        case UpdateSet(set) =>
          set.keys.foreach(c => require(tgtCols.contains(c),
            s"whenMatchedUpdate sets unknown column $c"))
          parts += joined.select(tgtCols.map { c =>
            set.get(c).map(sql =>
              org.apache.spark.sql.functions.expr(sql).as(c)).getOrElse(col(s"t.$c"))
          }: _*)
        case DeleteMatched => // superseded rows simply aren't re-added
      }
      if (insertUnmatched) {
        tgtCols.foreach(c => require(source.columns.contains(c),
          s"whenNotMatchedInsertAll needs source column $c"))
        parts += source.join(scanDF.select(on.map(col): _*), on, "left_anti")
          .select(tgtCols.map(col): _*)
      }
    } else if (insertUnmatched) {
      parts += source.select(tgtCols.map(col): _*)
    }
    val added = parts.reduceOption(_ unionByName _) match {
      case Some(df) => SnapshotProducer.writeDataFiles(table, spark, df)
      case None => Nil
    }
    SnapshotProducer.commit(table, spark, DataOperation.Overwrite, added,
      addedDeleteEntries = delEntries, extraProps = props,
      serializableCheck = mergeIsolationCheck())
  }

  /** MERGE's serializable guard (write.merge.isolation-level, declared
    * default `serializable`): a merge's scope is its ON keys against an
    * arbitrary source — not expressible as a metadata bound — so the
    * check is whole-table-conservative: ANY concurrent data commit
    * aborts (it may contain rows the merge would have matched). */
  private def mergeIsolationCheck(): Option[(Option[graft.ice.expr.Bound], Long)] =
    if (TableProperties.get(table.properties,
        TableProperties.WriteMergeIsolation) == "snapshot") None
    else Some((None, table.currentSnapshot.map(_.sequenceNumber).getOrElse(0L)))

  private def commitCoW(): Snapshot = {
    val allTasks = table.newScan().planFiles()
    if (allTasks.isEmpty && !insertUnmatched)
      return SnapshotProducer.commit(table, spark, DataOperation.Overwrite, Nil,
        extraProps = props)
    // manifests record the ORIGINAL (possibly scheme-carrying) paths;
    // `_file` holds them without the scheme
    val origByStripped = allTasks
      .map(t => ManifestAvro.stripFileScheme(t.file.filePath) -> t.file.filePath).toMap

    // every row of `files` (manifest paths) read through the scan, so
    // id-less files (addFiles registrations) resolve like any scan does;
    // commit() refuses tables carrying live merge-on-read deletes, so
    // these are exactly the files' rows
    def scanOf(files: Iterable[String]) =
      table.newScan().restrictFiles(files.toSet)
    val allFiles = allTasks.map(_.file.filePath)

    // pass 1 (column-pruned: keys + file path only): which files hold a
    // match? As manifest paths.
    val affected: Seq[String] =
      if (allTasks.isEmpty) Nil
      else scanOf(allFiles).withMetadataColumns("_file").toDF(spark)
        .select((on.map(col) :+ col("_file").as("__file")): _*)
        .join(source.select(on.map(col): _*).distinct(), on, "left_semi")
        .select("__file").distinct().collect()
        .map(r => origByStripped.getOrElse(r.getString(0), r.getString(0))).toSeq.sorted

    val tgtCols = table.schema.fields.map(_.name)
    val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    if (affected.nonEmpty) {
      val aff = scanOf(affected).toDF(spark)
      // unmatched rows of rewritten files survive as-is
      parts += aff.join(source.select(on.map(col): _*).distinct(), on, "left_anti")
        .select(tgtCols.map(col): _*)
      matched match {
        case UpdateAll =>
          tgtCols.foreach(c => require(source.columns.contains(c),
            s"whenMatchedUpdateAll needs source column $c"))
          // every source row matching SOME target row, as target-shaped rows
          parts += source.join(aff.select(on.map(col): _*).distinct(), on, "left_semi")
            .select(tgtCols.map(col): _*)
        case UpdateSet(set) =>
          set.keys.foreach(c => require(tgtCols.contains(c),
            s"whenMatchedUpdate sets unknown column $c"))
          val joined = aff.as("t").join(source.as("s"),
            on.map(c => col(s"t.$c") === col(s"s.$c")).reduce(_ && _), "inner")
          parts += joined.select(tgtCols.map { c =>
            set.get(c).map(sql =>
              org.apache.spark.sql.functions.expr(sql).as(c)).getOrElse(col(s"t.$c"))
          }: _*)
        case DeleteMatched => // matched rows simply don't reappear
      }
    }
    if (insertUnmatched) {
      tgtCols.foreach(c => require(source.columns.contains(c),
        s"whenNotMatchedInsertAll needs source column $c"))
      val tgtKeys =
        if (allTasks.isEmpty) null
        else scanOf(allFiles).toDF(spark).select(on.map(col): _*)
      parts += (if (tgtKeys == null) source.select(tgtCols.map(col): _*)
        else source.join(tgtKeys, on, "left_anti").select(tgtCols.map(col): _*))
    }

    val out = parts.reduceOption(_ unionByName _)
    val added = out match {
      case Some(df) => SnapshotProducer.writeDataFiles(table, spark, df)
      case None => Nil
    }
    SnapshotProducer.commit(table, spark, DataOperation.Overwrite, added,
      removedPaths = affected.toSet,
      extraProps = props,
      serializableCheck = mergeIsolationCheck())
  }
}

/** Compaction: rewrite small data files into target-sized ones
  * (BASELINE.json north star: "Spark read/write Iceberg tables +
  * compaction"). Merge-on-read deletes are applied during the rewrite,
  * so compaction also purges delete files' effect. */
final class Compaction(table: IceTable, spark: SparkSession) {

  /** Rewrite all files smaller than `smallFileThreshold` (plus any file
    * carrying applicable deletes) into ~`targetFileSizeBytes` files.
    *
    * Delete scoping (the 100-TB property): one position delete touching a
    * single partition must NOT trigger a full-table rewrite. Files are
    * rewritten only when a delete actually applies to them:
    *  - position deletes: a delete names the file
    *    ([[positionDeleteTargets]]: from manifest metadata where it
    *    suffices, else one distributed DISTINCT over the delete files)
    *    and the sequence-number visibility rule holds;
    *  - equality deletes: dataSeq < deleteSeq AND the file's column
    *    bounds intersect the delete keys' min/max (bounds-disjoint files
    *    cannot contain a deleted key, so the delete file can still be
    *    dropped after the rewrite — sound pruning). */
  def rewriteDataFiles(
      targetFileSizeBytes: Long = -1L,
      smallFileThreshold: Long = -1L): Snapshot = {
    // negative = use the table-properties registry defaults (C9)
    val targetSize = if (targetFileSizeBytes >= 0) targetFileSizeBytes
      else table.metadata.property(TableProperties.WriteTargetFileSizeBytes)
    val smallThreshold = if (smallFileThreshold >= 0) smallFileThreshold
      else table.metadata.property(TableProperties.CompactSmallFileThresholdBytes)
    val all = table.newScan().planFiles()
    val deleteEntries = table.currentSnapshot.map(table.planDeleteEntries).getOrElse(Nil)
    val posDeletes = deleteEntries.filter(_.dataFile.content == FileContent.PositionDeletes)
    val eqDeletes = deleteEntries.filter(_.dataFile.content == FileContent.EqualityDeletes)
    val hasDeletes = deleteEntries.nonEmpty

    val posTouched = positionDeleteTargets(posDeletes)

    // per-equality-delete (seq, key mins/maxs) for bounds pruning
    val metricsEval = new MetricsEvaluator
    def eqApplies(t: FileScanTask): Boolean = eqDeletes.exists { e =>
      e.sequenceNumber.getOrElse(0L) > t.sequenceForVisibility && {
        val eqIds = e.dataFile.equalityIds
        eqIds.isEmpty || eqIds.forall { id =>
          // key bounds unknown -> conservatively applicable
          (e.dataFile.lowerBounds.get(id), e.dataFile.upperBounds.get(id)) match {
            case (Some(lo), Some(hi)) =>
              metricsEval.boundsIntersect(t.file, id, lo, hi, table.schema)
            case _ => true
          }
        }
      }
    }

    def deleteApplies(t: FileScanTask): Boolean =
      (graft.ice.FilePaths.storedForms(ManifestAvro.stripFileScheme(t.file.filePath))
        .exists(posTouched.contains) &&
        posDeletes.exists(_.sequenceNumber.getOrElse(0L) >= t.sequenceForVisibility)) ||
        eqApplies(t)

    val toRewrite = all.filter(t =>
      t.file.fileSizeInBytes < smallThreshold || (hasDeletes && deleteApplies(t)))
    if (toRewrite.size < 2 && !(hasDeletes && toRewrite.nonEmpty))
      return table.currentSnapshot.getOrElse(
        throw new IllegalStateException("empty table"))

    val rewritePaths = toRewrite.map(_.file.filePath).toSet
    // the scan over just the files being rewritten: merge-on-read
    // deletes applied, id-less files resolved like any read
    val restricted = table.newScan().restrictFiles(rewritePaths).toDF(spark)
    val added = SnapshotProducer.writeDataFiles(table, spark, restricted, targetSize,
      inputBytes = toRewrite.map(_.file.fileSizeInBytes).sum)
    // every file a delete applied to was rewritten, so all delete files
    // are folded in and their manifests can be dropped
    val removedDeletePaths = deleteEntries.map(_.dataFile.filePath).toSet
    SnapshotProducer.commit(table, spark, DataOperation.Replace, added,
      removedPaths = rewritePaths ++ removedDeletePaths,
      extraSummary = Map("compacted-files" -> toRewrite.size.toString))
  }

  /** The data files `posDeletes` name, as their deletes store them
    * (scheme stripped; see `FilePaths.storedForms`). The manifest names
    * them for a deletion vector (its referenced file) and for a delete
    * file whose `file_path` lower and upper bounds are equal (the
    * writers store untruncated paths). Only delete files whose bounds
    * span several paths or are missing are read, one task per file, in
    * one distinct whose output is bounded by the live file count. */
  private[ice] def positionDeleteTargets(posDeletes: Seq[ManifestEntry]): Set[String] = {
    def onePath(e: ManifestEntry): Option[String] =
      (e.dataFile.lowerBounds.get(RowDelete.PathBoundFieldId),
        e.dataFile.upperBounds.get(RowDelete.PathBoundFieldId)) match {
        case (Some(lo), Some(hi)) if java.util.Arrays.equals(lo, hi) =>
          Some(new String(lo, java.nio.charset.StandardCharsets.UTF_8))
        case _ => None
      }
    val (dvs, files) = posDeletes.partition(_.dataFile.contentOffset.isDefined)
    val (single, spanning) = files.partition(onePath(_).isDefined)
    (dvs.flatMap(_.dataFile.referencedDataFile) ++ single.flatMap(onePath))
      .map(ManifestAvro.stripFileScheme).toSet ++
      (if (spanning.isEmpty) Set.empty[String]
        else graft.ice.PositionDeletes.tuples(spark, spanning).select("file_path").distinct()
          .collect().map(_.getString(0)).toSet)
  }

  /** Rewrite ALL live data files clustered along a Z-order curve over
    * `cols` (the layout-optimization rewrite real lakehouse maintenance
    * jobs run; absent from the reference, which cannot rewrite at all).
    * Each row's curve key is the bit-interleave of order-preserving
    * 64-bit column codes (ZValueExpr, whole-stage codegen), the rewrite
    * is ONE range-repartition on that key — a single shuffle whose
    * partition count is sized from input bytes / target file size, so it
    * holds at any scale — and every output file then has tight min/max
    * bounds on EVERY curve column simultaneously: scan planning (S6)
    * prunes files for predicates on ANY of the columns, not just a
    * leading sort key. Merge-on-read deletes are folded in (the source
    * is a full MoR scan) and their files removed, like rewriteDataFiles. */
  def zorder(cols: Seq[String], targetFileSizeBytes: Long = -1L): Snapshot = {
    require(cols.nonEmpty, "zorder needs at least one column")
    cols.foreach(c => require(table.schema.findFieldByName(c).isDefined,
      s"zorder column '$c' not in table schema"))
    val targetSize = if (targetFileSizeBytes >= 0) targetFileSizeBytes
      else table.metadata.property(TableProperties.WriteTargetFileSizeBytes)
    val all = table.newScan().planFiles()
    val snap = table.currentSnapshot.getOrElse(
      throw new IllegalStateException("empty table: nothing to z-order"))
    if (all.isEmpty) return snap
    val source = table.newScan().toDF(spark) // deletes applied
    val zkey = "__gz"
    // unpartitioned: one global range-repartition on the curve key.
    // Partitioned: range on (dirCols..., zkey) — directories stay the
    // leading keys (each dir maps to a contiguous range, so partitionBy
    // writes clean file runs) and the curve splits each directory into
    // multiple right-sized files with disjoint z-ranges, so file-level
    // pruning works INSIDE a partition too.
    val shape: (DataFrame, Int, Seq[String]) => DataFrame = { (aligned, n, dirCols) =>
      val withZ = aligned.withColumn(zkey,
        graft.ice.transform.ZValueExpr.zvalue(cols.map(aligned(_))))
      val keys = dirCols.map(col) :+ col(zkey)
      val ranged = if (n > 0) withZ.repartitionByRange(n, keys: _*)
        else withZ.repartitionByRange(keys: _*)
      // projection after the sort is narrow: row order survives the drop
      ranged.sortWithinPartitions(keys: _*).drop(zkey)
    }
    val added = SnapshotProducer.writeDataFiles(table, spark, source, targetSize,
      inputBytes = all.map(_.file.fileSizeInBytes).sum, shapeOverride = Some(shape))
    val removedDeletePaths =
      table.planDeleteEntries(snap).map(_.dataFile.filePath).toSet
    SnapshotProducer.commit(table, spark, DataOperation.Replace, added,
      removedPaths = all.map(_.file.filePath).toSet ++ removedDeletePaths,
      extraSummary = Map(
        "compacted-files" -> all.size.toString,
        "zorder-cols" -> cols.mkString(",")))
  }

  /** Compact accumulated position-delete files WITHOUT touching data
    * files — the maintenance step a streaming MoR upsert makes necessary:
    * every micro-batch merge adds small delete files, and each one is
    * another file every delete-bearing scan task parses. Reads all live
    * position-delete files, drops duplicate tuples and tuples whose data
    * file is no longer live, and rewrites them clustered by file_path
    * into ~one delete file per shuffle partition. Deletion vectors
    * (puffin) and equality deletes are left alone. Safe on sequence
    * numbers: tuples name exact (file, pos) targets and paths are never
    * reused, so carrying them at the new commit's higher sequence number
    * cannot widen their effect. */
  def rewritePositionDeletes(): Snapshot = {
    import spark.implicits._
    val snap = table.currentSnapshot.getOrElse(
      throw new IllegalStateException("empty table: nothing to rewrite"))
    val posParquet = table.planDeleteEntries(snap).filter(e =>
      e.dataFile.content == FileContent.PositionDeletes &&
        // delete FILES of any registered format; never PUFFIN DVs (those
        // rewrite through the DV plane, not this row-file compaction)
        e.dataFile.contentOffset.isEmpty && e.dataFile.fileFormat != "PUFFIN")
    if (posParquet.isEmpty) return snap
    val liveFiles = table.newScan().planFiles()
      .map(t => ManifestAvro.stripFileScheme(t.file.filePath)).toDF("__live")
    val dels = graft.ice.PositionDeletes.tuples(spark, posParquet).select("file_path", "pos")
      .distinct() // overlapping merges may have deleted the same position twice
      .join(broadcast(liveFiles), col("file_path") === col("__live"), "left_semi")
    val entries = RowDelete.writePositionDeleteEntries(table, spark, dels,
      posParquet.size,
      RowDelete.partitionKeys(table, table.newScan().planFiles()))
    SnapshotProducer.commit(table, spark, DataOperation.Replace, Nil,
      removedPaths = posParquet.map(_.dataFile.filePath).toSet,
      addedDeleteEntries = entries,
      extraSummary = Map("rewritten-delete-files" -> posParquet.size.toString))
  }
}

/** Manifest + file maintenance beyond data compaction. */
final class TableMaintenance(table: IceTable) {

  /** Explicitly merge ALL data manifests into one per partition spec
    * (Iceberg's rewrite_manifests): bounds planning cost when many small
    * commits accumulated below the auto-merge threshold. */
  def rewriteManifests(): Unit = {
    table.commit { base =>
      base.currentSnapshot match {
        case None => base
        case Some(snap) =>
          val fv = base.formatVersion
          val all = ManifestAvro.readManifestList(snap.manifestList)
          val (dataMs, deleteMs) = all.partition(_.content == ManifestContent.Data)
          if (dataMs.size < 2) base
          else {
            val uuid = UUID.randomUUID().toString
            val merged = dataMs.groupBy(_.partitionSpecId).toSeq.sortBy(_._1)
              .flatMap { case (sid, ms) =>
                val mSpec = base.specById(sid).getOrElse(PartitionSpec.unpartitioned)
                val mPartType = mSpec.partitionType(base.currentSchema)
                val entries = ms.flatMap(m =>
                  ManifestAvro.readManifest(m.manifestPath, mPartType, Some(m))
                    .filter(_.isLive))
                  .map(e => if (e.status == ManifestStatus.Added)
                    e.copy(status = ManifestStatus.Existing) else e)
                if (entries.isEmpty) Nil
                else Seq(ManifestAvro.writeManifest(
                  s"${table.metadataFileDir}/$uuid-rm$sid.avro", entries,
                  mPartType, sid, snap.snapshotId, snap.sequenceNumber,
                  schemaJson = MetaJson.schemaToJson(base.currentSchema).toString,
                  specFieldsJson = MetaJson.specToJson(mSpec).get("fields").toString,
                  formatVersion = fv)
                  .copy(minSequenceNumber = ms.map(_.minSequenceNumber).min))
              }
            val listPath = s"${table.metadataFileDir}/snap-${snap.snapshotId}-rm-$uuid.avro"
            ManifestAvro.writeManifestList(listPath, merged ++ deleteMs,
              snap.snapshotId, snap.parentSnapshotId, snap.sequenceNumber,
              formatVersion = fv)
            // same snapshot id/content, new (smaller) manifest list
            val updated = snap.copy(manifestList = listPath)
            base.copy(snapshots = base.snapshots.map(s =>
              if (s.snapshotId == snap.snapshotId) updated else s))
          }
      }
    }
  }

  /** Compute + commit per-column NDV sketches as a real puffin statistics
    * file (Iceberg compute_table_stats; exceeds the reference's
    * metadata-only StatisticsFile, statistics_file.h:35-81). */
  def computeStatistics(spark: SparkSession, columns: Seq[String] = Nil,
      k: Int = 16384): graft.ice.meta.StatisticsFile =
    Statistics.compute(table, spark, columns, k)

  def computePartitionStatistics(
      spark: SparkSession): graft.ice.meta.PartitionStatisticsFile =
    Statistics.computePartitionStats(table, spark)

  /** Delete files under the table location that no snapshot references
    * and that are older than `olderThanMs` (Iceberg remove_orphan_files;
    * the age guard protects in-flight writes). Driver-side listing — at
    * true scale the listing itself becomes a distributed job, but the
    * reachability set is metadata-sized either way. */
  def removeOrphanFiles(olderThanMs: Long = System.currentTimeMillis() - 3 * 24 * 3600 * 1000L): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val meta = table.metadata
    require(meta.property(TableProperties.GcEnabled),
      "gc.enabled=false: refusing to delete files in an orphan sweep")
    val reachable = collection.mutable.Set[String]()
    def norm(p: String): String = ManifestAvro.stripFileScheme(p)
    // Puffin statistics files (C11) are table-referenced, not
    // snapshot-manifest-referenced — without these the sweep deletes them
    meta.statistics.foreach(s => reachable += norm(s.path))
    meta.partitionStatistics.foreach(s => reachable += norm(s.path))
    meta.snapshots.foreach { s =>
      reachable += norm(s.manifestList)
      val manifests = ManifestAvro.readManifestList(s.manifestList)
      manifests.foreach { m =>
        reachable += norm(m.manifestPath)
        val mSpec = meta.specById(m.partitionSpecId).getOrElse(PartitionSpec.unpartitioned)
        val partType = mSpec.partitionType(meta.currentSchema)
        // ALL entries, not just live: Existing/Deleted entries' files may
        // be referenced by other snapshots' manifests
        ManifestAvro.readManifest(m.manifestPath, partType, Some(m))
          .foreach(e => reachable += norm(e.dataFile.filePath))
      }
    }
    // sweep the table location PLUS every custom write.data.path root the
    // table EVER wrote under (current + graft.data-path.history — a
    // relocated data plane must not shelter orphans). Custom roots may be
    // shared directories (nothing forces a table-dedicated write.data.path),
    // so files there that PREDATE the table are foreign data, never
    // candidates: only this table's own writes can be its orphans.
    val tableLoc = norm(meta.location)
    val tableBornMs = (meta.metadataLog.map(_.timestampMs) ++
      meta.snapshotLog.map(_.timestampMs) :+ meta.lastUpdatedMs).min
    val roots = (Seq(tableLoc) ++ table.dataRoots.map(norm)).distinct
      .map(r => (r, Paths.get(r))).filter(r => Files.exists(r._2))
    val seen = collection.mutable.Set[String]()
    val deleted = roots.flatMap { case (rootStr, root) =>
      val custom = !(rootStr == tableLoc || rootStr.startsWith(tableLoc + "/"))
      Files.walk(root).iterator.asScala
        .filter(Files.isRegularFile(_))
        .filter { p =>
          val sp = p.toString
          // metadata JSONs + catalog pointers are NEVER orphan-swept,
          // wherever they live (write.metadata.path may relocate them):
          // their lifecycle belongs to the metadata-log trim /
          // delete-after-commit path, not this sweep
          val mtime = Files.getLastModifiedTime(p).toMillis
          seen.add(sp) && !reachable.contains(sp) &&
            !sp.endsWith(".metadata.json") && !sp.endsWith("version-hint.text") &&
            !sp.endsWith("metadata-path.text") &&
            mtime < olderThanMs &&
            (!custom || mtime >= tableBornMs)
        }
        .map(_.toString).toVector
    }.toVector
    deleted.foreach(p => Files.deleteIfExists(Paths.get(p)))
    deleted.sorted
  }
}

/** Overwrite (reference TableUpdate overwrite semantics). */
final class Overwrite(table: IceTable, spark: SparkSession) {

  /** Dynamic partition overwrite: replace exactly the partitions the new
    * data touches. */
  def dynamic(df: DataFrame): Snapshot = {
    val spec = table.spec
    require(!spec.isUnpartitioned, "dynamic overwrite needs a partitioned table")
    val schema = table.schema
    val added = SnapshotProducer.writeDataFiles(table, spark, df)
    val touched = added.map(_.dataFile.partition).toSet
    val removed = table.newScan().planFiles()
      .filter(t => touched.contains(t.file.partition))
      .map(_.file.filePath).toSet
    SnapshotProducer.commit(table, spark, DataOperation.Overwrite, added,
      removedPaths = removed)
  }

  /** Truncate-and-load: replace the whole table content. */
  def replaceAll(df: DataFrame): Snapshot = {
    val removed = table.newScan().planFiles().map(_.file.filePath).toSet
    val added = SnapshotProducer.writeDataFiles(table, spark, df)
    SnapshotProducer.commit(table, spark, DataOperation.Overwrite, added,
      removedPaths = removed)
  }
}

/** Branch/tag refs + snapshot expiry (T2; snapshot.h:36-118 retention). */
final class ManageSnapshots(table: IceTable) {

  def createBranch(name: String, snapshotId: Long): ManageSnapshots = {
    table.commit(base => base.copy(refs = base.refs.updated(name,
      SnapshotRef(snapshotId, "branch"))))
    this
  }

  def createTag(name: String, snapshotId: Long): ManageSnapshots = {
    table.commit(base => base.copy(refs = base.refs.updated(name,
      SnapshotRef(snapshotId, "tag"))))
    this
  }

  def removeRef(name: String): ManageSnapshots = {
    table.commit(base => base.copy(refs = base.refs - name))
    this
  }

  private def updateRef(name: String)(f: SnapshotRef => SnapshotRef): ManageSnapshots = {
    table.commit { base =>
      val ref = base.refs.getOrElse(name,
        throw new IllegalArgumentException(s"unknown ref '$name'"))
      base.copy(refs = base.refs.updated(name, f(ref)))
    }
    this
  }

  /** Per-branch retention (snapshot.h:70-77): minimum number of this
    * branch's ancestors expiry must keep. */
  def setMinSnapshotsToKeep(branch: String, n: Int): ManageSnapshots =
    updateRef(branch)(r => { require(r.refType == "branch",
      s"'$branch' is not a branch"); r.copy(minSnapshotsToKeep = Some(n)) })

  /** Per-branch retention (snapshot.h:73-75): max age of this branch's
    * ancestors to keep when expiring — overrides the global cutoff. */
  def setMaxSnapshotAgeMs(branch: String, ms: Long): ManageSnapshots =
    updateRef(branch)(r => { require(r.refType == "branch",
      s"'$branch' is not a branch"); r.copy(maxSnapshotAgeMs = Some(ms)) })

  /** Ref expiry (snapshot.h:78-81, 95-98): max age of a tag/branch ref
    * itself; an aged-out ref is removed by expireSnapshots. The main
    * branch never expires. */
  def setMaxRefAgeMs(ref: String, ms: Long): ManageSnapshots =
    updateRef(ref)(_.copy(maxRefAgeMs = Some(ms)))

  /** Fast-forward `branch` to the head of `toRef` (Iceberg
    * fast_forward): allowed only when the branch's head is an ancestor
    * of the target head (or the branch does not exist yet) — the branch
    * gains exactly the commits staged on the target and can never lose
    * one. This is the publish half of write-audit-publish: stage writes
    * on an audit branch, validate them, fast-forward main. */
  def fastForward(branch: String, toRef: String): ManageSnapshots = {
    table.commit { base =>
      val target = base.ref(toRef).map(_.snapshotId).getOrElse(
        throw new IllegalArgumentException(s"unknown ref '$toRef'"))
      val cur = base.refs.get(branch)
      cur.foreach(c => require(c.refType == "branch", s"'$branch' is not a branch"))
      val ancestorsOfTarget = Iterator.iterate(base.snapshotById(target))(
        _.flatMap(_.parentSnapshotId).flatMap(base.snapshotById))
        .takeWhile(_.isDefined).flatten.map(_.snapshotId).toSet
      cur.foreach(c => require(ancestorsOfTarget.contains(c.snapshotId),
        s"cannot fast-forward: $branch head ${c.snapshotId} is not an " +
          s"ancestor of $toRef head $target (a merge would lose commits)"))
      val now = System.currentTimeMillis()
      val newRef = cur.map(_.copy(snapshotId = target))
        .getOrElse(SnapshotRef(target, "branch"))
      val isMain = branch == "main"
      base.copy(
        refs = base.refs.updated(branch, newRef),
        currentSnapshotId = if (isMain) Some(target) else base.currentSnapshotId,
        snapshotLog =
          if (isMain) base.snapshotLog :+ SnapshotLogEntry(now, target)
          else base.snapshotLog,
        lastUpdatedMs = now)
    }
    this
  }

  /** Roll main back to an existing snapshot (Iceberg
    * rollback_to_snapshot): current state becomes `snapshotId`, history
    * gets a new log entry, NOTHING is deleted — the abandoned snapshots
    * stay addressable by id/tag until expiry. */
  def rollbackTo(snapshotId: Long): ManageSnapshots = {
    table.commit { base =>
      require(base.snapshotById(snapshotId).isDefined,
        s"cannot roll back to unknown snapshot $snapshotId")
      // the target must be an ANCESTOR of the current main head —
      // rolling onto another branch's lineage would make main show rows
      // never committed to main (Iceberg rollback_to_snapshot contract)
      val ancestors = Iterator.iterate(base.currentSnapshot)(
        _.flatMap(_.parentSnapshotId).flatMap(base.snapshotById))
        .takeWhile(_.isDefined).flatten.map(_.snapshotId).toSet
      require(ancestors.contains(snapshotId),
        s"snapshot $snapshotId is not an ancestor of the current main head")
      // preserve the main ref's retention settings across the move
      val mainRef = base.refs.get("main")
        .map(_.copy(snapshotId = snapshotId))
        .getOrElse(SnapshotRef(snapshotId, "branch"))
      base.copy(
        currentSnapshotId = Some(snapshotId),
        refs = base.refs.updated("main", mainRef),
        snapshotLog = base.snapshotLog :+
          SnapshotLogEntry(System.currentTimeMillis(), snapshotId),
        lastUpdatedMs = System.currentTimeMillis())
    }
    this
  }

  /** Set main to ANY existing snapshot (Iceberg set_current_snapshot):
    * unlike [[rollbackTo]] the target need not be an ancestor — this is
    * the escape hatch for adopting another branch's lineage wholesale.
    * Nothing is deleted; history gains a log entry. */
  def setCurrentSnapshot(snapshotId: Long): ManageSnapshots = {
    table.commit { base =>
      require(base.snapshotById(snapshotId).isDefined,
        s"cannot set current to unknown snapshot $snapshotId")
      val mainRef = base.refs.get("main")
        .map(_.copy(snapshotId = snapshotId))
        .getOrElse(SnapshotRef(snapshotId, "branch"))
      base.copy(
        currentSnapshotId = Some(snapshotId),
        refs = base.refs.updated("main", mainRef),
        snapshotLog = base.snapshotLog :+
          SnapshotLogEntry(System.currentTimeMillis(), snapshotId),
        lastUpdatedMs = System.currentTimeMillis())
    }
    this
  }

  /** Roll main back to its state as of `timestampMs` (Iceberg
    * rollback_to_timestamp): resolves the last snapshot committed
    * at-or-before the mark through the snapshot log, then delegates to
    * [[rollbackTo]] (ancestor check included). */
  def rollbackToTimestamp(timestampMs: Long): ManageSnapshots = {
    val target = table.metadata.snapshotLog
      .filter(_.timestampMs <= timestampMs).lastOption
      .getOrElse(throw new IllegalArgumentException(
        s"no snapshot at or before ${java.time.Instant.ofEpochMilli(timestampMs)}"))
    rollbackTo(target.snapshotId)
  }

  /** Cherry-pick an APPEND snapshot from any lineage (typically a WAP
    * audit branch) onto the current main head (Iceberg
    * cherrypick_snapshot): the source snapshot's added data files are
    * committed as a NEW append snapshot — new id, new sequence number,
    * summary carrying `source-snapshot-id`; the source is untouched.
    * Only append snapshots replay safely: a delete/overwrite rewrite is
    * tied to the exact file state it was planned against, and replaying
    * it on a diverged head could resurrect or double-delete rows — those
    * are refused loudly, matching the reference procedure's restriction.
    *
    * Duplicate-publication guard (reference snapshot.h:188-191
    * published-wap-id): a routine job retry re-running publish_changes
    * with the same wap.id must NOT re-append the same files. The pick
    * refuses when (a) the source snapshot is already in main's ancestry,
    * (b) an ancestor already cherry-picked it (source-snapshot-id), or
    * (c) the source's wap.id was already published (an ancestor carries
    * it as wap.id or published-wap-id). The new snapshot stamps
    * `published-wap-id` so later retries hit (c). */
  def cherrypick(spark: SparkSession, snapshotId: Long): ManageSnapshots = {
    val src = table.metadata.snapshotById(snapshotId).getOrElse(
      throw new IllegalArgumentException(s"unknown snapshot $snapshotId"))
    require(src.operation.contains(DataOperation.Append),
      s"cherrypick supports append snapshots only; $snapshotId is " +
        s"'${src.operation.getOrElse("?")}'")
    val meta0 = table.metadata
    val mainAncestors = Iterator.iterate(meta0.currentSnapshot)(
      _.flatMap(_.parentSnapshotId).flatMap(meta0.snapshotById))
      .takeWhile(_.isDefined).flatten.toSeq
    require(!mainAncestors.exists(_.snapshotId == snapshotId),
      s"snapshot $snapshotId is already in the current branch's ancestry")
    require(!mainAncestors.exists(
        _.summary.get("source-snapshot-id").contains(snapshotId.toString)),
      s"snapshot $snapshotId was already cherry-picked onto this branch")
    val srcWap = src.summary.get("wap.id").filter(_.nonEmpty)
    srcWap.foreach { w =>
      require(!mainAncestors.exists(a => a.summary.get("wap.id").contains(w)
          || a.summary.get("published-wap-id").contains(w)),
        s"wap.id '$w' was already published to this branch " +
          "(duplicate WAP commit)")
    }
    val added = ManifestAvro.readManifestList(src.manifestList)
      .filter(m => m.content == ManifestContent.Data &&
        m.addedSnapshotId == src.snapshotId)
      .flatMap { m =>
        val mSpec = table.metadata.specById(m.partitionSpecId)
          .getOrElse(PartitionSpec.unpartitioned)
        ManifestAvro.readManifest(m.manifestPath,
            mSpec.partitionType(table.schema), Some(m))
          .filter(e => e.status == ManifestStatus.Added &&
            e.snapshotId.forall(_ == src.snapshotId))
      }
      .map(_.copy(status = ManifestStatus.Added, snapshotId = None,
        sequenceNumber = None, fileSequenceNumber = None))
    SnapshotProducer.commit(table, spark, DataOperation.Append, added,
      extraSummary = Map("source-snapshot-id" -> snapshotId.toString)
        ++ srcWap.map("published-wap-id" -> _))
    this
  }

  /** Drop unreferenced snapshots older than `olderThanMs`, honoring each
    * ref's retention policy (snapshot.h:36-118):
    *  - a non-main ref whose referenced snapshot is older than its
    *    `maxRefAgeMs` is removed (main never expires);
    *  - each surviving branch keeps its head plus ancestors newer than
    *    its `maxSnapshotAgeMs` cutoff (global `olderThanMs` otherwise)
    *    and never fewer than `minSnapshotsToKeep` ancestors;
    *  - each surviving tag keeps its referenced snapshot.
    * Ancestors outside every policy are NOT chased — manifest reuse makes
    * ancestor files reachable only via their own snapshots, which is why
    * expiry must keep ref targets alive. */
  /** Property-default expiry: cutoff and floor from the table-level
    * `history.expire.{max-snapshot-age-ms,min-snapshots-to-keep}` keys
    * (reference table_properties.h:247-251) — the shape a scheduled
    * maintenance job calls with no per-invocation policy. */
  def expireSnapshots(): ManageSnapshots =
    expireSnapshots(
      System.currentTimeMillis() - table.metadata.property(
        TableProperties.HistoryExpireMaxSnapshotAgeMs),
      table.metadata.property(TableProperties.HistoryExpireMinSnapshotsToKeep))

  def expireSnapshots(olderThanMs: Long, retainLast: Int = 1): ManageSnapshots = {
    val nowMs = System.currentTimeMillis()
    require(table.metadata.property(TableProperties.GcEnabled),
      s"gc.enabled=false: refusing to expire snapshots (their files would " +
        "become orphans no sweep may ever reclaim)")
    table.commit { base =>
      // newest-first ancestor chain of a ref head
      def ancestors(id: Long): Seq[Snapshot] =
        Iterator.iterate(base.snapshotById(id))(
          _.flatMap(_.parentSnapshotId).flatMap(base.snapshotById))
          .takeWhile(_.isDefined).flatten.toSeq
      // per-ref retention falls back to the TABLE-LEVEL defaults
      // (history.expire.*) before the built-in ones
      val defaultRefAge =
        base.property(TableProperties.HistoryExpireMaxRefAgeMs)
      val defaultMinKeep =
        base.property(TableProperties.HistoryExpireMinSnapshotsToKeep)
      val liveRefs = base.refs.filter { case (name, ref) =>
        val maxAge = ref.maxRefAgeMs.getOrElse(defaultRefAge)
        name == "main" || base.snapshotById(ref.snapshotId)
          .forall(s => nowMs - s.timestampMs <= maxAge)
      }
      val perRefKeep = liveRefs.flatMap { case (name, ref) =>
        if (ref.refType == "tag") Seq(ref.snapshotId)
        else {
          val chain = ancestors(ref.snapshotId)
          val cutoff = ref.maxSnapshotAgeMs.map(nowMs - _).getOrElse(olderThanMs)
          val minKeep = math.max(ref.minSnapshotsToKeep.getOrElse(defaultMinKeep),
            if (name == "main") retainLast else 1)
          (chain.filter(_.timestampMs >= cutoff) ++ chain.take(minKeep))
            .map(_.snapshotId)
        }
      }.toSet
      val keepIds = perRefKeep ++
        liveRefs.values.map(_.snapshotId) ++
        base.currentSnapshotId.toSeq ++
        base.snapshots.sortBy(_.timestampMs).takeRight(retainLast).map(_.snapshotId)
      // a branch's own maxSnapshotAgeMs OVERRIDES the global cutoff for
      // its ancestors (snapshot.h:73-75): snapshots reachable ONLY via
      // branches with their own age policy must not be resurrected by the
      // global timestamp rule, or aggressive per-branch retention could
      // never expire anything the global cutoff keeps
      val branchChains = liveRefs.toSeq.collect {
        case (_, ref) if ref.refType == "branch" =>
          (ref.maxSnapshotAgeMs.isDefined,
            ancestors(ref.snapshotId).map(_.snapshotId).toSet)
      }
      val underDefaultPolicy = branchChains.collect { case (false, ids) => ids }
        .flatten.toSet
      val aggressiveOnly = branchChains.collect { case (true, ids) => ids }
        .flatten.toSet -- underDefaultPolicy
      val (kept, _) = base.snapshots.partition(s =>
        keepIds.contains(s.snapshotId) ||
          (s.timestampMs >= olderThanMs && !aggressiveOnly.contains(s.snapshotId)))
      base.copy(
        refs = liveRefs,
        snapshots = kept,
        snapshotLog = base.snapshotLog.filter(e => kept.exists(_.snapshotId == e.snapshotId)))
    }
    this
  }
}

/** Write-shape helpers: sort-order application shared by append and
  * rewrite. A table sort order is the 100-TB pruning lever — range
  * clustering makes per-file min/max bounds disjoint, so a point or
  * range filter opens a handful of files instead of all of them. */
private[ice] object WriteShape {

  def sortCols(schema: Schema, order: SortOrder): Seq[org.apache.spark.sql.Column] =
    order.fields.map { sf =>
      val src = schema.findFieldById(sf.sourceId).getOrElse(
        throw new IllegalArgumentException(s"sort source ${sf.sourceId} not in schema"))
      val c = sf.transform.toColumn(col(src.name), src.fieldType.asInstanceOf[IcePrimitive])
      (sf.ascending, sf.nullsFirst) match {
        case (true, true) => c.asc_nulls_first
        case (true, false) => c.asc_nulls_last
        case (false, true) => c.desc_nulls_first
        case (false, false) => c.desc_nulls_last
      }
    }

  /** Unpartitioned: range-repartition on the sort key (global clustering,
    * disjoint file bounds), then sort within each task. */
  def clusterUnpartitioned(df: DataFrame, schema: Schema, order: SortOrder): DataFrame =
    if (order.fields.isEmpty) df
    else {
      val cols = sortCols(schema, order)
      df.repartitionByRange(cols: _*).sortWithinPartitions(cols: _*)
    }

  /** Partitioned: sort each task's rows by partition tuple, so the file
    * writer sees each partition's rows as one run (one file), with the
    * sort order as the SECONDARY key. */
  def sortForPartitionedWrite(df: DataFrame, schema: Schema, order: SortOrder,
      dirCols: Seq[String]): DataFrame =
    df.sortWithinPartitions(dirCols.map(col) ++ sortCols(schema, order): _*)
}

/** Partition directory names of written files, and Hive-style partition
  * path parsing for `addFiles` imports. */
private[ice] object PartitionPaths {
  /** Clustering column, and directory name, of a partition field: the
    * reserved prefix keeps it apart from a source data column when an
    * identity partition field shares its name (the Iceberg default). */
  def dirCol(name: String): String = "__gp_" + name

  def parse(file: String, baseDir: String, spec: PartitionSpec,
      schema: Schema): IndexedSeq[Any] = {
    if (spec.isUnpartitioned) return IndexedSeq.empty
    val rel = Paths.get(baseDir).relativize(Paths.get(file)).toString
    val kv = rel.split('/').init.flatMap { seg =>
      val i = seg.indexOf('=')
      if (i < 0) None else Some(seg.substring(0, i) -> unescape(seg.substring(i + 1)))
    }.toMap
    spec.fields.map { pf =>
      kv.get(dirCol(pf.name)).orElse(kv.get(pf.name)) match {
        case None | Some("__HIVE_DEFAULT_PARTITION__") => null
        case Some(raw) =>
          val src = schema.findFieldById(pf.sourceId).get
          val resType = pf.transform.resultType(src.fieldType.asInstanceOf[IcePrimitive])
          parseValue(raw, resType)
      }
    }
  }

  def parseValue(raw: String, t: IcePrimitive): Any = t match {
    case IntT => raw.toInt
    case LongT => raw.toLong
    case StringT => raw
    case DateT => raw.toIntOption.getOrElse(java.time.LocalDate.parse(raw).toEpochDay.toInt)
    case BooleanT => raw.toBoolean
    case DoubleT => raw.toDouble
    case FloatT => raw.toFloat
    case DecimalT(_, _) => new java.math.BigDecimal(raw)
    case TimestampT | TimestampTzT =>
      raw.toLongOption.getOrElse {
        val ldt = java.time.LocalDateTime.parse(raw.replace(' ', 'T'))
        ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000L
      }
    case other => throw new IllegalArgumentException(s"unsupported partition type $other")
  }

  def unescape(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        try { sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar); i += 3 }
        catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}
