package graft.ice

import java.nio.file.{Files, Paths}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ice.catalog._
import graft.ice.expr._
import graft.ice.manifest._
import graft.ice.meta._
import graft.ice.transform.IdentityTransform
import graft.ice.types._
import graft.ice.write.Metrics

/** Table facade (reference: table.h:35-130) + scan/append operations.
  *
  * Division of labor (SURVEY §3.1): metadata, planning and commit run on
  * the driver (cheap, metadata-sized); all data movement is Spark jobs.
  * One FileScanTask ≈ one Spark input split; Spark's vectorized parquet
  * reader replaces the reference's Arrow batch reader. */
final class IceTable private (
    val catalog: Catalog,
    val ident: TableIdentifier,
    @volatile private var meta: TableMetadata,
    @volatile private var version: Int) {

  def metadata: TableMetadata = meta
  def schema: Schema = meta.currentSchema
  def spec: PartitionSpec = meta.defaultSpec
  def location: String = meta.location
  def snapshots: Seq[Snapshot] = meta.snapshots
  def currentSnapshot: Option[Snapshot] = meta.currentSnapshot
  def history: Seq[SnapshotLogEntry] = meta.snapshotLog
  def refs: Map[String, SnapshotRef] = meta.refs
  def properties: Map[String, String] = meta.properties

  def refresh(): IceTable = {
    val t = catalog.loadTable(ident)
    meta = t.metadata; version = t.version
    this
  }

  def newScan(): ScanBuilder = new ScanBuilder(this)

  /** Incremental append scan: entries ADDED by snapshots in
    * (fromSnapshotId, toSnapshotId], following parent links — the CDC
    * "what arrived since" read (Iceberg IncrementalAppendScan). */
  def planAppendsBetween(fromSnapshotId: Long, toSnapshotId: Long): Seq[ManifestEntry] = {
    val chain = Iterator.iterate(meta.snapshotById(toSnapshotId))(
      _.flatMap(_.parentSnapshotId).flatMap(meta.snapshotById))
      .takeWhile(s => s.isDefined && !s.exists(_.snapshotId == fromSnapshotId))
      .flatten.toSeq
    // independent manifest reads — parallel on the driver, like planEntries
    import scala.collection.parallel.CollectionConverters._
    chain.filter(_.operation.contains(DataOperation.Append)).par.flatMap { s =>
      ManifestAvro.readManifestList(s.manifestList)
        .filter(m => m.content == ManifestContent.Data &&
          m.addedSnapshotId == s.snapshotId)
        .flatMap { m =>
          val mSpec = meta.specById(m.partitionSpecId).getOrElse(PartitionSpec.unpartitioned)
          val partType = mSpec.partitionType(schema)
          ManifestAvro.readManifest(m.manifestPath, partType, Some(m))
            .filter(e => e.status == ManifestStatus.Added &&
              e.snapshotId.contains(s.snapshotId))
        }
    }.seq
  }

  /** Data-file entries with the given status in manifests this snapshot
    * itself wrote. */
  private def dataEntriesOf(s: Snapshot, status: Int): Seq[ManifestEntry] =
    ManifestAvro.readManifestList(s.manifestList)
      .filter(m => m.content == ManifestContent.Data &&
        m.addedSnapshotId == s.snapshotId)
      .flatMap { m =>
        val mSpec = meta.specById(m.partitionSpecId).getOrElse(PartitionSpec.unpartitioned)
        ManifestAvro.readManifest(m.manifestPath, mSpec.partitionType(schema), Some(m))
          .filter(e => e.status == status &&
            (status != ManifestStatus.Added || e.snapshotId.contains(s.snapshotId)))
      }

  /** Data-file paths REMOVED by snapshot `s`: live at its parent, gone
    * at `s`. SnapshotProducer never writes ManifestStatus.Deleted
    * entries — a removal surfaces as a rewritten manifest whose
    * survivors are Existing, or as a manifest dropped from the list —
    * so detection must compare live sets, not look for Deleted rows.
    * The snapshot summary's `removed-data-files` count (stamped by
    * every commit this engine makes) is a fast path: 0 skips the walk.
    *
    * Bounded-memory shape (the 100-TB bar): manifests are immutable, so
    * a manifest present in BOTH lists contributes the same live set to
    * both sides and cancels out of the diff — only the commit's
    * manifest DELTA is ever read:
    * `removed = live(parent-only manifests) \ live(s-only manifests)`.
    * Driver memory is bounded by the commit's churn, never the table
    * (a million-file snapshot whose CoW commit rewrote one manifest
    * reads exactly two manifests). Past the distributed-planning
    * threshold the delta manifests are read and diffed on EXECUTORS
    * (mirroring [[planEntriesDistributed]]) and only the removed paths
    * — the answer, churn-sized by definition — return to the driver.
    * Relies on the standard invariant that a live data file appears in
    * exactly one live manifest per snapshot. */
  private[ice] def removedDataFilePaths(s: Snapshot): Set[String] = {
    if (s.summary.get("removed-data-files").contains("0")) return Set.empty
    val parent = s.parentSnapshotId.flatMap(meta.snapshotById)
      .getOrElse(return Set.empty) // first snapshot: nothing to remove
    val pm = ManifestAvro.readManifestList(parent.manifestList)
      .filter(_.content == ManifestContent.Data)
    val sm = ManifestAvro.readManifestList(s.manifestList)
      .filter(_.content == ManifestContent.Data)
    val smPaths = sm.map(_.manifestPath).toSet
    val pmPaths = pm.map(_.manifestPath).toSet
    val droppedM = pm.filterNot(m => smPaths.contains(m.manifestPath))
    val newM = sm.filterNot(m => pmPaths.contains(m.manifestPath))
    if (droppedM.isEmpty) return Set.empty
    // decode with the SNAPSHOT's schema, not the current one: after a
    // partition source column is dropped/evolved, the current schema may
    // not resolve older manifests' partition tuples (same resolution as
    // planEntries)
    val snapSchema = s.schemaId.flatMap(meta.schemaById).getOrElse(schema)
    distributedPlanner(droppedM ++ newM, mode = "auto") match {
      case Some(spark) =>
        // locals only: the closures must not drag the table/catalog along
        val schemaLocal = snapSchema
        val specsLocal: Map[Int, PartitionSpec] =
          (droppedM ++ newM).map(_.partitionSpecId).distinct
            .map(id => id -> meta.specById(id).getOrElse(PartitionSpec.unpartitioned))
            .toMap
        def pathsRdd(ms: Seq[ManifestFile]) = spark.sparkContext
          .parallelize(ms.map(m => (m, specsLocal(m.partitionSpecId))),
            math.max(1, math.min(ms.size,
              spark.sparkContext.defaultParallelism * 2)))
          .flatMap { case (m, mSpec) =>
            ManifestAvro.readManifest(m.manifestPath,
                mSpec.partitionType(schemaLocal), Some(m))
              .filter(_.isLive).map(_.dataFile.filePath)
          }
        pathsRdd(droppedM).subtract(pathsRdd(newM)).collect().toSet
      case _ =>
        def live(ms: Seq[ManifestFile]): Set[String] = {
          import scala.collection.parallel.CollectionConverters._
          ms.par.flatMap { m =>
            val mSpec = meta.specById(m.partitionSpecId)
              .getOrElse(PartitionSpec.unpartitioned)
            ManifestAvro.readManifest(m.manifestPath,
                mSpec.partitionType(snapSchema), Some(m))
              .filter(_.isLive).map(_.dataFile.filePath)
          }.seq.toSet
        }
        live(droppedM) -- live(newM)
    }
  }

  /** Cancel copy-on-write carry-overs: rows rewritten VERBATIM appear
    * both as a delete (from the removed file) and an insert (from its
    * replacement) — content-identical pairs cancel multiset-wise
    * (Iceberg's create_changelog_view carry-over removal). One shuffle
    * keyed by the full row, sized by the snapshot's rewritten data —
    * never the table. */
  private def cancelCarryovers(df: DataFrame): DataFrame = {
    val dataCols = df.columns.filterNot(_ == "_change_type").toSeq
    df.withColumn("__w",
        when(col("_change_type") === "insert", lit(1L)).otherwise(lit(-1L)))
      .groupBy(dataCols.map(col): _*)
      .agg(sum(col("__w")).as("__net"))
      .filter(col("__net") =!= 0L)
      .withColumn("_change_type",
        when(col("__net") > 0, lit("insert")).otherwise(lit("delete")))
      .withColumn("__dup",
        explode(org.apache.spark.sql.functions.expr(
          "array_repeat(0, cast(abs(__net) as int))")))
      .drop("__net", "__dup")
  }

  /** CDC changes scan over (fromSnapshotId, toSnapshotId]: one row per
    * changed row with `_change_type` ("insert" | "delete") and
    * `_commit_snapshot_id` columns. Inserts come from added data files;
    * merge-on-read deletes from delete files — the rows a snapshot's added
    * position deletes mask (and its parent's deletion vectors did not),
    * and the parent's rows an added equality-delete file masks; no delete
    * side is joined. Copy-on-write removals
    * (truncate, INSERT OVERWRITE, dynamic overwrite, CoW UPDATE/MERGE/
    * DELETE) diff at the FILE level: the removed files' rows — read at
    * the parent snapshot with its MoR deletes applied, so already-dead
    * rows never resurface — are deletes, the added files' rows inserts,
    * and content-identical carry-over pairs cancel multiset-wise
    * ([[cancelCarryovers]]). `replace` snapshots (compaction, manifest
    * rewrites, z-order) preserve table content by contract and emit
    * nothing. */
  def planChanges(spark: SparkSession, fromSnapshotId: Long,
      toSnapshotId: Long): DataFrame =
    planChanges(spark, fromSnapshotId, toSnapshotId, cancelPerCommit = true)

  /** `cancelPerCommit = false` skips the PER-COMMIT carry-over
    * cancelation (one full-width groupBy per CoW commit) — sound ONLY
    * for consumers that apply a range-wide multiset cancelation
    * afterwards ([[planNetChanges]]): removing a same-content
    * (+1 insert, −1 delete) pair never changes any content group's net
    * sum, so net(changes without per-commit cancel) ≡ net(changes with
    * it) — the r18 rewrite drops commitCount−1 exchanges from the
    * net-changes plan (equivalence pinned in WriteOpsSpec). */
  private[ice] def planChanges(spark: SparkSession, fromSnapshotId: Long,
      toSnapshotId: Long, cancelPerCommit: Boolean): DataFrame = {
    val chain = Iterator.iterate(meta.snapshotById(toSnapshotId))(
      _.flatMap(_.parentSnapshotId).flatMap(meta.snapshotById))
      .takeWhile(s => s.isDefined && !s.exists(_.snapshotId == fromSnapshotId))
      .flatten.toSeq.reverse // oldest first
    val unsupported = chain.filterNot(s =>
      s.operation.forall(op => op == DataOperation.Append ||
        op == DataOperation.Delete ||
        op == DataOperation.Overwrite ||
        op == DataOperation.Replace))
    require(unsupported.isEmpty,
      s"changes scan cannot diff snapshots with operations " +
        s"${unsupported.flatMap(_.operation).distinct.mkString(",")}")
    val sparkSchema = SparkConv.toSpark(schema)
    def empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      sparkSchema.add("_change_type", org.apache.spark.sql.types.StringType)
        .add("_commit_snapshot_id", org.apache.spark.sql.types.LongType)
        .add("_change_ordinal", org.apache.spark.sql.types.IntegerType))

    // rows of `files` as of snapshot `s`, read through the scan (field ids,
    // name mapping, initial-defaults, identity-partition constants) and
    // laid out in the current schema by field id; `_deleted` keeps the
    // rows merge-on-read deletes mask, so these are the files' rows
    def fileRows(s: Snapshot, files: Set[String], metaCols: String*): DataFrame = {
      val scan = newScan().useSnapshot(s.snapshotId).restrictFiles(files)
        .withMetadataColumns(metaCols :+ "_deleted": _*)
      val old = scan.scanSchema
      scan.toDF(spark).select(schema.fields.map { f =>
        old.findFieldById(f.id) match {
          case Some(o) => col(o.name).as(f.name)
          case None => lit(null).cast(SparkConv.toSparkType(f.fieldType)).as(f.name)
        }
      } ++ metaCols.map(col): _*)
    }

    def insertRows(s: Snapshot): Option[DataFrame] = {
      val entries = dataEntriesOf(s, ManifestStatus.Added)
      if (entries.isEmpty) None
      else Some(fileRows(s, entries.map(_.dataFile.filePath).toSet)
        .withColumn("_change_type", lit("insert")))
    }

    def deleteRows(s: Snapshot): Option[DataFrame] = {
      // delete files ADDED by this snapshot
      val added = ManifestAvro.readManifestList(s.manifestList)
        .filter(m => m.content == ManifestContent.Deletes &&
          m.addedSnapshotId == s.snapshotId)
        .flatMap { m =>
          val mSpec = meta.specById(m.partitionSpecId).getOrElse(PartitionSpec.unpartitioned)
          ManifestAvro.readManifest(m.manifestPath,
            mSpec.partitionType(schema), Some(m))
            .filter(e => e.status == ManifestStatus.Added)
        }
      val pos = added.filter(_.dataFile.content == FileContent.PositionDeletes)
      val eq = added.filter(_.dataFile.content == FileContent.EqualityDeletes)
      lazy val parentId = s.parentSnapshotId.getOrElse(
        throw new IllegalStateException("delete snapshot without parent"))
      // the rows of the files the added deletes name that their mask marks
      // and the parent's deletion vectors did not: a replacement DV
      // carries the CUMULATIVE bitmap (it ORs the superseded vector in —
      // v3's one-DV-per-file invariant), so the snapshot's row-level delta
      // is the new vector minus the parent's
      val posRows = Option.when(pos.nonEmpty) {
        val targets = compact(spark).positionDeleteTargets(pos).map(FilePaths.fromSpark)
        val parentDVs = meta.snapshotById(parentId).toSeq.flatMap(planDeleteEntries)
          .filter(e => e.dataFile.content == FileContent.PositionDeletes &&
            e.dataFile.contentOffset.isDefined)
        def mask(entries: Seq[ManifestEntry]): Column = {
          val refs = targets.map(p => p -> PositionDeletes.applicable(p, 0L, entries))
            .filterNot(_._2.isEmpty).toMap
          val (parquet, orc) = PositionDeletes.readers(spark, refs.values.flatMap(_.files))
          PositionDeletes.mask(col("_file"), col("_pos"), refs, parquet, orc)
        }
        // manifests may spell the paths with a scheme
        fileRows(s, targets.flatMap(f => Seq(f, s"file:$f", s"file://$f")), "_file", "_pos")
          .filter(mask(pos) && !mask(parentDVs))
          .drop("_file", "_pos")
          .withColumn("_change_type", lit("delete"))
      }
      // the parent's rows that one added equality-delete file's mask marks
      val eqRows = eq.map { e =>
        val scan = newScan().useSnapshot(parentId)
        val before = scan.toDF(spark)
        val f = EqualityDeletes.file(e, scan.scanSchema.findFieldById(_).map(_.name))
        before.filter(EqualityDeletes.mask(Seq(f),
            EqualityDeletes.readers(spark, Seq(f), SparkConv.toSpark(scan.scanSchema)(_))))
          .withColumn("_change_type", lit("delete"))
      }
      (posRows.toSeq ++ eqRows).reduceOption(_ unionByName _)
    }

    // REPLACE snapshots are content-preserving and emit no changelog
    // rows — drop them BEFORE assigning ordinals so ordinals stay dense
    // over change-producing commits (create_changelog_view parity: a
    // history with compactions must not produce gapped 0,2,... ordinals)
    val parts: Seq[DataFrame] = chain
      .filterNot(_.operation.contains(DataOperation.Replace))
      .zipWithIndex.flatMap { case (s, ordinal) =>
      {
        val removed = s.operation match {
          case Some(DataOperation.Overwrite) | Some(DataOperation.Delete) =>
            removedDataFilePaths(s)
          case _ => Set.empty[String]
        }
        val ins = s.operation match {
          case Some(DataOperation.Append) | Some(DataOperation.Overwrite) =>
            insertRows(s)
          // CoW DELETE adds rewritten survivor files; they cancel against
          // the removed files' rows, leaving exactly the deleted rows
          case Some(DataOperation.Delete) if removed.nonEmpty => insertRows(s)
          case _ => None
        }
        val morDel = s.operation match {
          case Some(DataOperation.Delete) | Some(DataOperation.Overwrite) =>
            deleteRows(s)
          case _ => None
        }
        val cowDel =
          if (removed.isEmpty) None
          else {
            val parentId = s.parentSnapshotId.getOrElse(
              throw new IllegalStateException(
                s"snapshot ${s.snapshotId} removed files without a parent"))
            Some(newScan().useSnapshot(parentId).restrictFiles(removed)
              .toDF(spark)
              .withColumn("_change_type", lit("delete")))
          }
        val diffed =
          if (cowDel.isEmpty)
            (ins.toSeq ++ morDel.toSeq).reduceOption(_ unionByName _)
          else {
            val raw = (ins.toSeq ++ cowDel.toSeq).reduce(_ unionByName _)
            val cow = if (cancelPerCommit) cancelCarryovers(raw) else raw
            Some((Seq(cow) ++ morDel.toSeq).reduce(_ unionByName _))
          }
        // _change_ordinal: the commit's position within the requested
        // range, oldest = 0 (Iceberg's create_changelog_view ordinal) —
        // lets net-change consumers order multi-commit histories without
        // joining back to the snapshot log
        diffed.map(_.withColumn("_commit_snapshot_id", lit(s.snapshotId))
          .withColumn("_change_ordinal", lit(ordinal)))
      }
    }
    parts.reduceOption(_ unionByName _).getOrElse(empty)
  }

  /** Net-changes view over (fromSnapshotId, toSnapshotId] (Iceberg
    * create_changelog_view net_changes): intermediate states collapse —
    * a row inserted then deleted in range vanishes; a row updated twice
    * surfaces as one delete of its initial image and one insert of its
    * final image. Implementation: the per-commit changes stream with
    * commit ids dropped, canceled multiset-wise across the WHOLE range
    * by [[cancelCarryovers]] (one full-row-keyed shuffle sized by the
    * range's churn, not the table). */
  def planNetChanges(spark: SparkSession, fromSnapshotId: Long,
      toSnapshotId: Long): DataFrame =
    // cancelPerCommit = false: the range-wide cancelation below subsumes
    // every per-commit cancelation (see planChanges doc) — the same net
    // multiset from commitCount−1 fewer full-width aggregations
    cancelCarryovers(
      planChanges(spark, fromSnapshotId, toSnapshotId, cancelPerCommit = false)
        .drop("_commit_snapshot_id", "_change_ordinal"))

  /** Changelog view with UPDATE pairing (the Iceberg
    * create_changelog_view compute-updates semantics): within one
    * commit, an identifier key carrying exactly ONE delete and ONE
    * insert is an update — the delete relabels `update_preimage`, the
    * insert `update_postimage`; everything else keeps its raw change
    * type. One shuffle keyed by (identifier, commit): key cardinality
    * is row-scale, so the window never funnels a corpus through one
    * reducer. */
  def planChangelog(spark: SparkSession, fromSnapshotId: Long,
      toSnapshotId: Long, identifierCols: Seq[String]): DataFrame = {
    require(identifierCols.nonEmpty, "changelog pairing needs identifier columns")
    val base = planChanges(spark, fromSnapshotId, toSnapshotId)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(
      (identifierCols.map(col) :+ col("_commit_snapshot_id")): _*)
    val nDel = sum(when(col("_change_type") === "delete", 1).otherwise(0)).over(w)
    val nIns = sum(when(col("_change_type") === "insert", 1).otherwise(0)).over(w)
    base.withColumn("__nd", nDel).withColumn("__ni", nIns)
      .withColumn("_change_type",
        when(col("__nd") === 1 && col("__ni") === 1,
          when(col("_change_type") === "delete", lit("update_preimage"))
            .otherwise(lit("update_postimage")))
          .otherwise(col("_change_type")))
      .drop("__nd", "__ni")
  }

  /** UpgradeFormatVersion (table_update.h:41-360): one-way bump; later
    * commits write the new manifest/metadata versions. */
  def upgradeFormatVersion(v: Int): IceTable = {
    commit { base =>
      require(TableMetadata.SupportedVersions.contains(v),
        s"unsupported format version: $v")
      require(v >= base.formatVersion,
        s"cannot downgrade format version ${base.formatVersion} -> $v")
      if (v == base.formatVersion) base
      else base.copy(formatVersion = v, lastUpdatedMs = System.currentTimeMillis())
    }
    this
  }

  /** Optimistic commit with retry (commit.retry.* defaults,
    * table_properties.h:80-93): re-applies `update` on a fresh base when
    * a concurrent commit wins the version race. */
  def commit(update: TableMetadata => TableMetadata, retries: Int = -1): TableMetadata =
    commit(Nil, update, retries)

  /** Commit with requirements (C5, table_requirement.h:43-189): each
    * attempt first validates `requirements` against the current base —
    * including after a lost race + refresh. A version race retries; a
    * requirement violation is a REAL conflict and aborts immediately
    * (the update closure was derived from state that no longer holds). */
  def commit(requirements: Seq[graft.ice.meta.TableRequirement],
      update: TableMetadata => TableMetadata, retries: Int): TableMetadata = {
    // negative retries = use the table's commit.retry.num-retries property
    val maxRetries = if (retries >= 0) retries
      else meta.property(TableProperties.CommitNumRetries)
    val minWait = meta.property(TableProperties.CommitMinWaitMs)
    val maxWait = meta.property(TableProperties.CommitMaxWaitMs)
    val totalTimeout = meta.property(TableProperties.CommitTotalTimeoutMs)
    val deadline = System.currentTimeMillis() + totalTimeout
    var attempt = 0
    while (true) {
      requirements.flatMap(_.check(meta)).headOption.foreach { violation =>
        throw new graft.ice.meta.RequirementFailedException(s"$ident: $violation")
      }
      val updated0 = {
        val u = update(meta)
        // reserved property keys (reserved_properties()) must never be
        // persisted — a user-set `uuid` would shadow the table's real
        // identity silently; refuse here so every Scala/SQL commit
        // surface is covered (the REST server validates its own updates)
        if (u ne meta) {
          TableProperties.validateUnreserved(
            u.properties.keySet -- meta.properties.keySet)
          // declared keys whose value this commit sets/changes must parse
          TableProperties.validateValues(u.properties.filter { case (k, v) =>
            !meta.properties.get(k).contains(v)
          })
        }
        // a write.data.path change appends the superseded root to
        // graft.data-path.history so orphan sweeps cover ALL roots the
        // table ever wrote under, not just the current one
        val oldPath = meta.property(TableProperties.DataPath)
        val newPath = if (u eq meta) oldPath else u.property(TableProperties.DataPath)
        if ((u ne meta) && oldPath.nonEmpty && oldPath != newPath) {
          val hist = u.property(TableProperties.DataPathHistory)
            .split(",").filter(_.nonEmpty).toSeq
          if (hist.contains(oldPath)) u
          else u.copy(properties = u.properties +
            (TableProperties.DataPathHistory.name ->
              (hist :+ oldPath).mkString(",")))
        } else u
      }
      // metadata-log maintenance (spec "metadata-log"): the superseded
      // metadata file joins the log, trimmed to previous-versions-max —
      // time travel over METADATA (schema/spec history), not snapshots
      // version 0 = staged create publishing: no previous file, and the
      // catalog cannot even resolve the (unpublished) identifier yet
      val prevLocation =
        if (version >= 1) catalog.metadataLocation(ident) else None
      val (updated, trimmedOff) = prevLocation match {
        case Some(prev) if updated0 ne meta =>
          val cap = meta.property(TableProperties.MetadataPreviousVersionsMax)
          val full = updated0.metadataLog :+ MetadataLogEntry(meta.lastUpdatedMs, prev)
          val kept = full.takeRight(cap)
          (updated0.copy(metadataLog = kept), full.dropRight(kept.size))
        case _ => (updated0, IndexedSeq.empty[MetadataLogEntry])
      }
      try {
        val v = catalog.commit(ident, version, updated)
        meta = updated; version = v
        // write.metadata.delete-after-commit.enabled (reference
        // table_properties.h:229-231): AFTER the commit published,
        // physically delete the metadata JSONs that fell off the trimmed
        // metadata-log. Only *.metadata.json paths ever reach this —
        // data files and manifests are untouched by construction (the
        // log holds nothing else). Best-effort: a failed delete must not
        // fail the already-published commit.
        if (trimmedOff.nonEmpty &&
            updated.property(TableProperties.MetadataDeleteAfterCommit) &&
            // gc.enabled is the master switch over ANY physical deletion
            updated.property(TableProperties.GcEnabled)) {
          trimmedOff.foreach { e =>
            try graft.ice.io.LocalFileIO.delete(
              graft.ice.manifest.ManifestAvro.stripFileScheme(e.metadataFile))
            catch { case _: java.io.IOException => () }
          }
        }
        return updated
      } catch {
        case e: CommitFailedException =>
          attempt += 1
          if (attempt > maxRetries) throw e
          // exponential backoff capped per-sleep by max-wait-ms, and the
          // WHOLE loop bounded by total-timeout-ms (the two are distinct
          // keys in the reference, table_properties.h:80-93)
          val sleep = math.min(minWait << (attempt - 1), maxWait)
          if (System.currentTimeMillis() + sleep > deadline)
            throw new CommitFailedException(
              s"$ident: commit retry budget exhausted after $attempt attempts " +
                s"(commit.retry.total-timeout-ms=$totalTimeout): ${e.getMessage}")
          Thread.sleep(sleep)
          refresh()
        case e: graft.ice.catalog.CommitStateUnknownException =>
          // commit.status-check reconciliation (table_properties.h:86-93):
          // the attempt MAY have landed — poll before deciding. Landed →
          // adopt it as success; provably not landed → ordinary retry;
          // still unknown after the budget → surface unknown (retrying
          // could double-commit, and callers must not delete files).
          reconcileUnknown(e, updated) match {
            case Some(true) =>
              meta = updated; version = e.attemptedVersion
              return updated
            case Some(false) =>
              attempt += 1
              if (attempt > maxRetries) throw new CommitFailedException(
                s"$ident: commit did not land and retry budget exhausted: ${e.getMessage}")
              refresh()
            case None => throw e
          }
      }
    }
    meta
  }

  /** `commit.status-check.*` polling: probe whether the unknown-outcome
    * attempt landed, backing off between probes, until an answer arrives
    * or the status-check budget (its OWN four keys, independent of the
    * retry budget) runs out. */
  private def reconcileUnknown(e: graft.ice.catalog.CommitStateUnknownException,
      attempted: TableMetadata): Option[Boolean] = {
    val checks = meta.property(TableProperties.CommitNumStatusChecks)
    val minWait = meta.property(TableProperties.CommitStatusCheckMinWaitMs)
    val maxWait = meta.property(TableProperties.CommitStatusCheckMaxWaitMs)
    val deadline = System.currentTimeMillis() +
      meta.property(TableProperties.CommitStatusCheckTotalWaitMs)
    var probe = 0
    while (true) {
      val answer =
        try catalog.commitLanded(ident, e.attemptedVersion, attempted, meta)
        catch { case _: java.io.IOException => None } // probe itself flaky
      if (answer.isDefined) return answer
      probe += 1
      if (probe > checks) return None
      val sleep = math.min(minWait << (probe - 1), maxWait)
      if (System.currentTimeMillis() + sleep > deadline) return None
      Thread.sleep(sleep)
    }
    None
  }

  /** Replace the default sort order (Iceberg ReplaceSortOrder /
    * `ALTER TABLE ... WRITE ORDERED BY`): appends a new order with the
    * next id and makes it the default. Existing files keep their
    * stamped sort_order_id — scans report per-split ordering only for
    * files matching the CURRENT default, so stale layouts simply stop
    * qualifying for sort elision until rewritten. */
  def replaceSortOrder(fields: Seq[graft.ice.meta.SortField]): IceTable = {
    commit { base =>
      val nextId = (base.sortOrders.map(_.orderId) :+ 0).max + 1
      val order = graft.ice.meta.SortOrder(nextId, fields.toIndexedSeq)
      base.copy(sortOrders = base.sortOrders :+ order,
        defaultSortOrderId = nextId,
        lastUpdatedMs = System.currentTimeMillis())
    }
    this
  }

  /** Back to unsorted writes (`ALTER TABLE ... WRITE UNORDERED`). */
  def setUnsorted(): IceTable = {
    commit { base =>
      val withUnsorted =
        if (base.sortOrders.exists(_.orderId == 0)) base.sortOrders
        else graft.ice.meta.SortOrder.unsorted +: base.sortOrders
      base.copy(sortOrders = withUnsorted, defaultSortOrderId = 0,
        lastUpdatedMs = System.currentTimeMillis())
    }
    this
  }

  def append(spark: SparkSession): AppendOp = new AppendOp(this, spark)
  def newTransaction(spark: SparkSession): graft.ice.write.Transaction =
    new graft.ice.write.Transaction(this, spark)
  def updateSchema(): graft.ice.write.UpdateSchema = new graft.ice.write.UpdateSchema(this)
  def updateSpec(): graft.ice.write.UpdateSpec = new graft.ice.write.UpdateSpec(this)
  def delete(spark: SparkSession): graft.ice.write.RowDelete = new graft.ice.write.RowDelete(this, spark)
  /** MERGE INTO builder: `t.merge(spark, src, Seq("id")).whenMatchedUpdateAll()
    * .whenNotMatchedInsertAll().commit()` — one atomic overwrite snapshot. */
  def merge(spark: SparkSession, source: DataFrame, on: Seq[String]): graft.ice.write.MergeInto =
    new graft.ice.write.MergeInto(this, spark, source, on)
  def compact(spark: SparkSession): graft.ice.write.Compaction = new graft.ice.write.Compaction(this, spark)
  def overwrite(spark: SparkSession): graft.ice.write.Overwrite = new graft.ice.write.Overwrite(this, spark)
  def manageSnapshots(): graft.ice.write.ManageSnapshots = new graft.ice.write.ManageSnapshots(this)
  def maintenance(): graft.ice.write.TableMaintenance = new graft.ice.write.TableMaintenance(this)

  def metadataFileDir: String = s"${meta.location}/metadata"

  /** Root for NEW data files: `write.data.path` when set (reference
    * table_properties.h:218), else `{location}/data`. Applies only to
    * files written after the property is set — earlier files stay put
    * and keep resolving by their absolute manifest paths. */
  def dataFileDir: String = {
    val custom = graft.ice.meta.TableProperties.get(meta.properties,
      graft.ice.meta.TableProperties.DataPath)
    if (custom.isEmpty) s"${meta.location}/data" else custom
  }

  /** Every data root this table is KNOWN to write under (default layout
    * plus the current custom `write.data.path`). Internal-file prefix
    * checks (field-id resolution fast path, orphan sweeps) consult all
    * of them so a mid-life data-path move doesn't demote earlier
    * internal files to the name-mapping path. Files under a root set
    * and later UNSET still read correctly — they just take the summary/
    * footer-probe fallback instead of the prefix fast path. */
  def dataRoots: Seq[String] = {
    val hist = meta.property(graft.ice.meta.TableProperties.DataPathHistory)
      .split(",").filter(_.nonEmpty).toSeq
    (Seq(s"${meta.location}/data", dataFileDir) ++ hist).distinct
  }

  /** The session to read `manifests` on executors with, or None to read
    * them on the driver. `mode` is a read.*-planning-mode value:
    * `local` / `distributed` pin the choice; `auto` distributes once the
    * estimated entry count passes `graft.plan.distributed-threshold`.
    * The estimate uses the manifest-list counts when present, else a
    * conservative bytes/entry guess from the manifest length.
    * Distributed planning needs an active or default session. */
  private def distributedPlanner(manifests: Seq[ManifestFile],
      mode: String): Option[SparkSession] = {
    val estimated = manifests.map(m =>
      (m.addedFilesCount, m.existingFilesCount) match {
        case (Some(a), Some(e)) => (a + e).toLong
        case _ => math.max(1L, m.manifestLength / 64)
      }).sum
    val threshold = meta.property(TableProperties.PlanDistributedThreshold)
    if (mode == "distributed" || (mode != "local" && estimated > threshold))
      SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    else None
  }

  /** Live delete-file entries of a snapshot (position + equality deletes,
    * §2.8 — the reference models these but rejects them at plan time,
    * table_scan.cc:288-291; here they feed the scan's merge-on-read
    * position mask and equality anti-joins). */
  def planDeleteEntries(snapshot: Snapshot): Seq[ManifestEntry] =
    liveDeleteEntries(ManifestAvro.readManifestList(snapshot.manifestList))

  /** [[planDeleteEntries]] over a snapshot's already-decoded manifest list. */
  private[ice] def liveDeleteEntries(manifests: Seq[ManifestFile]): Seq[ManifestEntry] = {
    val deletes = manifests.filter(_.content == ManifestContent.Deletes)
    // read.delete-planning-mode (table_properties.h:205): auto sizes via
    // the same estimated-entry threshold as data planning; `distributed`
    // forces executor-side manifest reads. Delete entries KEEP their
    // stats either way — path/key bounds scope which data files a delete
    // file can cover.
    distributedPlanner(deletes,
        meta.property(TableProperties.DeletePlanningMode)) match {
      case Some(spark) =>
        planEntriesDistributed(spark, deletes, schema, rowFilter = None,
          stripStats = false)
      case _ =>
        deletes.flatMap { m =>
          val mSpec = meta.specById(m.partitionSpecId).getOrElse(PartitionSpec.unpartitioned)
          val partType = mSpec.partitionType(schema)
          ManifestAvro.readManifest(m.manifestPath, partType, Some(m)).filter(_.isLive)
        }
    }
  }

  /** All live data-file entries of a snapshot. Driver-side for typical
    * metadata; past `graft.plan.distributed-threshold` estimated entries
    * the manifest reads AND the per-entry pruning move to EXECUTORS
    * (bounded-memory planning: a 100-TB snapshot with millions of data
    * files must not materialize every entry as driver objects — reference
    * anchor: PlanFiles, table_scan.cc:264-296, which has no such bound). */
  def planEntries(snapshot: Snapshot, rowFilter: Option[Bound],
      pathFilter: Option[Set[String]] = None): Seq[ManifestEntry] =
    planDataEntries(snapshot, ManifestAvro.readManifestList(snapshot.manifestList),
      rowFilter, pathFilter)

  /** [[planEntries]] over the snapshot's already-decoded manifest list. */
  private[ice] def planDataEntries(snapshot: Snapshot, manifests: Seq[ManifestFile],
      rowFilter: Option[Bound], pathFilter: Option[Set[String]]): Seq[ManifestEntry] = {
    val dataManifests = manifests.filter(_.content == ManifestContent.Data)
    val scanSchema = snapshot.schemaId.flatMap(meta.schemaById).getOrElse(schema)

    val pruned = rowFilter match {
      case None => dataManifests
      case Some(bound) =>
        dataManifests.filter { m =>
          val mSpec = meta.specById(m.partitionSpecId).getOrElse(PartitionSpec.unpartitioned)
          if (mSpec.isUnpartitioned) true
          else {
            val partExpr = InclusiveProjection.project(bound, mSpec)
            new ManifestEvaluator(mSpec).canContainRows(partExpr, m)
          }
        }
    }

    // read.data-planning-mode (table_properties.h:204): `auto` keeps the
    // threshold heuristic; `local` / `distributed` pin the choice
    distributedPlanner(pruned, meta.property(TableProperties.DataPlanningMode)) match {
      case Some(spark) =>
        planEntriesDistributed(spark, pruned, scanSchema, rowFilter, pathFilter)
      case _ =>
        val metricsEval = new MetricsEvaluator
        // manifests are independent — read them in parallel on the driver
        // (the reference is single-threaded here; at 100 TB a snapshot can
        // have thousands of manifests and sequential reads dominate planning)
        import scala.collection.parallel.CollectionConverters._
        pruned.par.flatMap { m =>
          val mSpec = meta.specById(m.partitionSpecId).getOrElse(PartitionSpec.unpartitioned)
          val partType = mSpec.partitionType(scanSchema)
          val entries = ManifestAvro.readManifest(m.manifestPath, partType, Some(m))
            .filter(e => e.isLive &&
              pathFilter.forall(_.contains(e.dataFile.filePath)))
          rowFilter match {
            case None => entries
            case Some(bound) =>
              val partExpr = InclusiveProjection.project(bound, mSpec)
              val tupleEval = new PartitionTupleEvaluator(mSpec)
              entries.filter { e =>
                tupleEval.eval(partExpr, e.dataFile.partition) &&
                  metricsEval.canContainRows(bound, e.dataFile)
              }
          }
        }.seq
    }
  }

  /** Whether `t`'s file may hold rows matching `bound`, by its partition
    * tuple and column metrics: the per-file test of [[planDataEntries]]. */
  private[graft] def mayContain(t: FileScanTask, bound: Bound): Boolean = {
    val spec = meta.specById(t.specId).getOrElse(PartitionSpec.unpartitioned)
    new PartitionTupleEvaluator(spec).eval(InclusiveProjection.project(bound, spec),
      t.file.partition) && new MetricsEvaluator().canContainRows(bound, t.file)
  }

  /** Executor-side planning: one task per manifest group reads, inherits
    * and prunes entries with the SAME evaluators as the driver path (the
    * evaluator classes are plain Scala over case classes — they run
    * anywhere), then strips the per-column metric maps before results
    * travel: after pruning the bounds have done their job, and they are
    * the dominant share of entry memory. Driver memory = surviving slim
    * entries only. */
  private def planEntriesDistributed(spark: SparkSession,
      manifests: Seq[ManifestFile], scanSchema: Schema,
      rowFilter: Option[Bound],
      pathFilter: Option[Set[String]] = None,
      // data planning strips per-column metric maps (driver-memory bound);
      // DELETE planning keeps them — path/key bounds scope delete files
      stripStats: Boolean = true): Seq[ManifestEntry] = {
    val specs: Map[Int, PartitionSpec] =
      manifests.map(_.partitionSpecId).distinct
        .map(id => id -> meta.specById(id).getOrElse(PartitionSpec.unpartitioned))
        .toMap
    // locals only: the closure must not drag the table/catalog along
    val schemaLocal = scanSchema
    val filterLocal = rowFilter
    val pathFilterLocal = pathFilter
    val work = manifests.map(m => (m, specs(m.partitionSpecId)))
    // read.split.metadata-target-size (reference table_properties.h:190):
    // bin manifests into planning tasks by BYTES, not count — a snapshot
    // mixing giant compacted manifests with tiny commit manifests gets
    // tasks of comparable work, and a million tiny manifests don't each
    // pay task overhead. Order-preserving greedy fill; one Spark
    // partition per bin, floored at the default parallelism when the
    // whole plane is smaller than one target.
    // adaptive shrink (same rationale as data-split adaptive sizing): a
    // metadata plane smaller than target x slots would otherwise plan on
    // a fraction of the cluster — shrink toward per-slot bytes, never
    // above the declared target
    val declaredTarget = math.max(1L,
      meta.property(TableProperties.SplitMetadataTargetSize))
    val totalMetaBytes = work.map(w => math.max(1L, w._1.manifestLength)).sum
    val slots = math.max(1, spark.sparkContext.defaultParallelism)
    val metaTarget = math.max(1L,
      math.min(declaredTarget, totalMetaBytes / slots))
    val planTasks = IceTable.binBySize[(ManifestFile, PartitionSpec)](
      work, w => w._1.manifestLength, metaTarget)
    spark.sparkContext
      .parallelize(planTasks, math.max(1, planTasks.size))
      .flatMap(_.iterator)
      .flatMap { case (m, mSpec) =>
        val partType = mSpec.partitionType(schemaLocal)
        val entries = ManifestAvro.readManifest(m.manifestPath, partType, Some(m))
          .filter(e => e.isLive &&
            pathFilterLocal.forall(_.contains(e.dataFile.filePath)))
        val keep = filterLocal match {
          case None => entries
          case Some(bound) =>
            val partExpr = InclusiveProjection.project(bound, mSpec)
            val tupleEval = new PartitionTupleEvaluator(mSpec)
            val metricsEval = new MetricsEvaluator
            entries.filter { e =>
              tupleEval.eval(partExpr, e.dataFile.partition) &&
                metricsEval.canContainRows(bound, e.dataFile)
            }
        }
        if (!stripStats) keep
        else keep.map(e => e.copy(dataFile = e.dataFile.copy(
          columnSizes = Map.empty, valueCounts = Map.empty,
          nullValueCounts = Map.empty, nanValueCounts = Map.empty,
          lowerBounds = Map.empty, upperBounds = Map.empty)))
      }.collect().toSeq
  }
}

object IceTable {
  /** Snapshot-summary key recording whether the commit's files carry
    * parquet field ids: "all" | "none" | "mixed" (stamped by addFiles). */
  val FieldIdsSummaryKey = "graft.field-ids"

  /** `read.{parquet,orc}.vectorization.*` (reference table_properties.h:
    * 197-203) → the Spark reader configuration the path scans execute
    * under. Only EXPLICITLY-set table properties are applied (a table
    * that configured nothing keeps the engine defaults); values are
    * validated through the property registry so a bad value fails here,
    * not silently inside a task. The batch-size knob is the wide-row /
    * deep-nesting OOM safety valve at scale; disabling vectorization
    * falls back to Spark's row-at-a-time readers. */
  private[ice] val ReadVectorizationConfKeys: Seq[(TableProperties.Key[_], String)] = Seq(
    TableProperties.ParquetVectorizationEnabled ->
      "spark.sql.parquet.enableVectorizedReader",
    TableProperties.ParquetBatchSize ->
      "spark.sql.parquet.columnarReaderBatchSize",
    TableProperties.OrcVectorizationEnabled ->
      "spark.sql.orc.enableVectorizedReader",
    TableProperties.OrcBatchSize ->
      "spark.sql.orc.columnarReaderBatchSize")

  /** Spark reader conf overrides a table's explicitly-set vectorization
    * properties imply (empty for an unconfigured table). */
  private[ice] def readVectorizationOverrides(
      props: Map[String, String]): Map[String, String] =
    ReadVectorizationConfKeys.collect {
      case (key, confKey) if props.contains(key.name) =>
        confKey -> TableProperties.get(props, key).toString
    }.toMap

  /** Session a scan with vectorization overrides executes under: a CLONE
    * of the caller's session (same SparkContext, full session-state copy
    * including runtime conf) with the overrides applied. Scoping the
    * overrides to a per-scan session means one table's batch-size choice
    * can never leak into other tables' scans or plain parquet reads, and
    * two tables' DataFrames built before either executes can't race on
    * shared conf — the scan's readers get the same isolation from their
    * build-time conf snapshot. A session that already carries the
    * overrides is its own scan session. */
  private[ice] def scanSession(spark: SparkSession,
      props: Map[String, String]): SparkSession = {
    val overrides = readVectorizationOverrides(props)
    if (overrides.forall { case (k, v) => spark.conf.getOption(k).contains(v) }) spark
    else {
      val scoped = org.apache.spark.sql.GraftColumnBridge.cloneSession(spark)
      overrides.foreach { case (k, v) => scoped.conf.set(k, v) }
      scoped
    }
  }

  /** Order-preserving greedy byte-binning (read.split.metadata-target-
    * size): consecutive items fill a bin until the target would be
    * exceeded; an item larger than the target rides alone. Overflow-safe
    * fit test (huge targets must not wrap into one bin). */
  private[ice] def binBySize[A](items: Seq[A], sizeOf: A => Long,
      target: Long): Seq[Seq[A]] = {
    val bins = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.ArrayBuffer.empty[A])
    var used = 0L
    items.foreach { it =>
      val len = math.max(1L, sizeOf(it))
      if (bins.last.nonEmpty && (used > target || len > target - used)) {
        bins += scala.collection.mutable.ArrayBuffer(it); used = len
      } else { bins.last += it; used += len }
    }
    bins.filter(_.nonEmpty).map(_.toSeq).toSeq
  }

  def from(ref: TableRef): IceTable =
    new IceTable(ref.catalog, ref.ident, ref.metadata, ref.version)

  def create(catalog: Catalog, ident: TableIdentifier, schema: Schema,
      spec: PartitionSpec = PartitionSpec.unpartitioned,
      sortOrder: SortOrder = SortOrder.unsorted,
      properties: Map[String, String] = Map.empty): IceTable =
    from(catalog.createTable(ident, schema, spec, sortOrder, properties))

  def load(catalog: Catalog, ident: TableIdentifier): IceTable =
    from(catalog.loadTable(ident))

  /** Stage-create as a transaction (catalog.h StageCreateTable + CTAS):
    * the staged table is invisible until the transaction commits; data
    * written through it publishes together with the creation in ONE v1
    * commit. A concurrent create of the same identifier wins the race
    * and ABORTS this transaction (uuid requirement) — never merges. */
  def stageCreate(ref: TableRef, spark: SparkSession): (IceTable, graft.ice.write.Transaction) = {
    require(ref.version == 0, s"ref is already committed at version ${ref.version}")
    val t = from(ref)
    val tx = t.newTransaction(spark)
      .requirement(graft.ice.meta.AssertTableUuid(ref.metadata.tableUuid))
    (t, tx)
  }
}

/** One task ≈ one data file (+ its split offsets); maps to Spark input
  * splits (table_scan.h FileScanTask). `snapshotId` = the snapshot that
  * added the file (threads the per-commit field-id summary to the read). */
final case class FileScanTask(file: DataFile, specId: Int,
    dataSequenceNumber: Option[Long] = None, snapshotId: Option[Long] = None) {
  /** Delete-visibility comparand: a file with no sequence number (v1 /
    * addFiles-registered, pre-lineage) sorts BEFORE every sequenced
    * delete — 0 is the right floor for `deleteSeq >= dataSeq` math, but
    * the `_last_updated_sequence_number` metadata column serves null for
    * such files (the row has no recorded update), matching the
    * reference's metadata-column semantics. */
  def sequenceForVisibility: Long = dataSequenceNumber.getOrElse(0L)
}

/** Fluent scan builder (reference: table_scan.cc:171-246). */
final class ScanBuilder(table: IceTable) {
  private var snapshotId: Option[Long] = None
  private var branchOrTag: Option[String] = None
  private var filterExpr: Option[Expr] = None
  private var projection: Option[Seq[String]] = None
  private var caseSensitive: Boolean = true
  private var limitRows: Option[Long] = None
  private var restrictPaths: Option[Set[String]] = None
  private var metaCols: Seq[String] = Nil
  private var incremental: Option[(Long, Long)] = None

  /** Incremental append scan over (fromSnapshotId, toSnapshotId] —
    * returns only rows ADDED in that snapshot range (no deletes applied;
    * append-only semantics). */
  def appendsBetween(fromSnapshotId: Long, toSnapshotId: Long): ScanBuilder = {
    incremental = Some((fromSnapshotId, toSnapshotId)); this
  }

  def useSnapshot(id: Long): ScanBuilder = { snapshotId = Some(id); this }
  def useRef(name: String): ScanBuilder = { branchOrTag = Some(name); this }
  /** Time travel: snapshot current as-of timestamp (snapshot_log scan). */
  def asOfTimestamp(ms: Long): ScanBuilder = {
    val id = table.metadata.snapshotLog.filter(_.timestampMs <= ms)
      .lastOption.map(_.snapshotId)
      .getOrElse(throw new IllegalArgumentException(s"no snapshot as of $ms"))
    snapshotId = Some(id); this
  }
  def filter(e: Expr): ScanBuilder = {
    filterExpr = Some(filterExpr.map(f => Expr.and(f, e)).getOrElse(e)); this
  }
  def select(cols: String*): ScanBuilder = { projection = Some(cols); this }
  def withCaseSensitive(cs: Boolean): ScanBuilder = { caseSensitive = cs; this }
  /** Row limit — enforced, unlike the reference where
    * TableScanContext::limit is carried but never applied
    * (table_scan.h:90). With no residual filter the FILE LIST itself is
    * truncated using manifest record counts, so a limit-1000 scan of a
    * million-file table opens a handful of files. */
  def limit(n: Long): ScanBuilder = { limitRows = Some(n); this }
  /** Restrict the scan to an explicit set of data-file paths (used by
    * compaction to rewrite only the files a delete touches, with
    * merge-on-read semantics still applied). */
  def restrictFiles(paths: Set[String]): ScanBuilder = { restrictPaths = Some(paths); this }

  /** Runtime dim-driven file pruning — Spark's dynamic partition
    * pruning / runtime filtering, applied at the Iceberg FILE level
    * (where Spark cannot see: our file skipping happens at manifest
    * planning, before any FileIndex exists).
    *
    * Collects the distinct non-null keys of `dimKeys`' first column
    * (bounded: `maxKeys`+1 driver rows at most — the same driver-side
    * footprint Spark's own runtime filters accept for a broadcastable
    * dim) and adds `factCol IN (keys)` to the scan filter, so the keys
    * prune manifests and data files through the existing bounds
    * evaluators AND reach the parquet reader as a pushed filter. Past
    * the cap it degrades to `factCol BETWEEN min AND max` — a superset,
    * still exact for the join use-case (the join discards the rest) and
    * still file-skipping when the fact table is key-clustered.
    *
    * Null fact keys never match (inner-join semantics). Unmappable key
    * types add no filter at all — "cannot prune", never wrong results. */
  def pruneByJoinKeys(dimKeys: DataFrame, factCol: String,
      maxKeys: Int = 10000): ScanBuilder = {
    val field = table.schema.findFieldByName(factCol, caseSensitive).getOrElse(
      throw new IllegalArgumentException(s"no such column: $factCol"))
    field.fieldType match {
      case p: IcePrimitive =>
        val keyCol = dimKeys.columns.head
        val keys = dimKeys.select(keyCol).na.drop().distinct()
          .limit(maxKeys + 1).collect()
        if (keys.length <= maxKeys) {
          val lits = keys.flatMap(r => Literal.fromSparkValue(p, r.get(0)))
          if (lits.length == keys.length)
            filter(Expr.in(factCol, lits.toIndexedSeq))
          else this // unmappable key type: no pruning, correct results
        } else {
          val mm = dimKeys.agg(min(col(keyCol)), max(col(keyCol))).head
          (Literal.fromSparkValue(p, mm.get(0)), Literal.fromSparkValue(p, mm.get(1))) match {
            case (Some(lo), Some(hi)) =>
              filter(Expr.and(Expr.gtEq(factCol, lo), Expr.ltEq(factCol, hi)))
            case _ => this
          }
        }
      case _ => this
    }
  }

  /** Opt-in metadata columns (P6; reserved ids metadata_columns.h:38-115):
    * `_file` (path), `_pos` (row index in file), `_spec_id`,
    * `_partition` (tuple as `a/b` string), `_row_id` (v3 row lineage:
    * file first_row_id + position; null for pre-lineage files),
    * `_deleted` (merge-on-read deletes mark rows instead of filtering). */
  def withMetadataColumns(cols: String*): ScanBuilder = {
    val bad = cols.filterNot(graft.ice.connector.GraftMetadataColumns.names)
    require(bad.isEmpty, s"unknown metadata columns: ${bad.mkString(",")}")
    metaCols = cols.toSeq
    this
  }

  def resolveSnapshot(): Option[Snapshot] = {
    val byRef = branchOrTag.flatMap(r => table.refs.get(r).map(_.snapshotId))
    snapshotId.orElse(byRef) match {
      case Some(id) => Some(table.metadata.snapshotById(id).getOrElse(
        throw new IllegalArgumentException(s"snapshot $id not found")))
      case None => table.currentSnapshot
    }
  }

  def scanSchema: Schema = projection match {
    case Some(cols) => baseSchema.select(cols, caseSensitive)
    case None => baseSchema
  }

  private def baseSchema: Schema =
    // snapshot schema pinning applies only to explicit time travel
    // (table_scan.cc:217-220); a current-snapshot scan always uses the
    // table's current schema so evolution is visible immediately.
    if (snapshotId.isDefined || branchOrTag.isDefined)
      resolveSnapshot().flatMap(_.schemaId).flatMap(table.metadata.schemaById)
        .getOrElse(table.schema)
    else table.schema

  def planFiles(): Seq[FileScanTask] = plan(withDeletes = false)._1

  /** The scan's data tasks plus the live delete entries it must apply
    * (none for an incremental append scan), from ONE decode of the
    * snapshot's manifest list. */
  private[ice] def planFilesWithDeletes(): (Seq[FileScanTask], Seq[ManifestEntry]) =
    plan(withDeletes = true)

  private def plan(withDeletes: Boolean): (Seq[FileScanTask], Seq[ManifestEntry]) =
    resolveSnapshot() match {
      case None => (Nil, Nil)
      case Some(snap) =>
        lazy val manifests = ManifestAvro.readManifestList(snap.manifestList)
        lazy val deletes = table.liveDeleteEntries(manifests)
        val bound = filterExpr.map(e => Binder.bind(e, table.schema, caseSensitive))
        val tasks0 = incremental match {
          case Some((from, to)) =>
            table.planAppendsBetween(from, to)
              .map(e => FileScanTask(e.dataFile, e.specId,
                e.sequenceNumber, e.snapshotId))
          // restrictPaths rides INTO planning (driver or executor side), so
          // a restricted scan of a million-file snapshot collects only the
          // restricted entries, not the whole live set
          case None => table.planDataEntries(snap, manifests, bound, restrictPaths)
            .map(e => FileScanTask(e.dataFile, e.specId,
              e.sequenceNumber, e.snapshotId))
        }
        val tasks = restrictPaths match {
          case Some(ps) => tasks0.filter(t => ps.contains(t.file.filePath))
          case None => tasks0
        }
        val limited = limitRows match {
          // metadata-level truncation is only sound when every planned row
          // is a result row: no residual filter, no pending deletes
          case Some(n) if filterExpr.isEmpty && deletes.isEmpty =>
            var acc = 0L
            tasks.takeWhile { t =>
              val take = acc < n
              acc += t.file.recordCount
              take
            }
          case _ => tasks
        }
        (limited, if (withDeletes && incremental.isEmpty) deletes else Nil)
    }

  /** Metadata-answered exact row count — the engine-API twin of the V2
    * aggregate pushdown. Some(n) only when manifests PROVE the count: no
    * delete files in scope, and under a filter every surviving file
    * strictly matches (StrictMetricsEvaluator). None means "read the
    * data"; it never guesses. */
  def countFromMetadata(): Option[Long] = resolveSnapshot() match {
    case None => Some(0L)
    case Some(snap) =>
      // incremental append scans count added entries (no deletes applied
      // by their semantics); plain scans need a delete-free snapshot
      if (incremental.isEmpty && table.planDeleteEntries(snap).nonEmpty) None
      else {
        val tasks = planFiles()
        val strictOk = filterExpr.forall { e =>
          val bound = Binder.bind(e, table.schema, caseSensitive)
          val strict = new StrictMetricsEvaluator
          tasks.forall(t => strict.allRowsMatch(bound, t.file))
        }
        if (!strictOk) None
        else {
          val total = tasks.map(_.file.recordCount).sum
          Some(limitRows.map(math.min(_, total)).getOrElse(total))
        }
      }
  }

  /** Execute as a DataFrame: the connector's scan
    * (`GraftBatchScan`) over exactly the files this builder planned,
    * with the residual filter, the projection and the limit on top. A
    * scan has one set of read semantics whether it comes from here or
    * from SQL over the `ice` catalog:
    *
    *  - Columns resolve by parquet field id; id-less files (addFiles,
    *    Hive imports) resolve through `schema.name-mapping.default`, then
    *    by current name. ORC and Avro data files read per split too.
    *  - v3 initial-defaults, identity-partition constants and the
    *    metadata columns (`withMetadataColumns`) are served per split.
    *  - Merge-on-read position deletes, deletion vectors and equality
    *    deletes are masks inside the scan task (`PositionDeletes`,
    *    `EqualityDeletes`); under `_deleted` they mark instead of
    *    filtering.
    *
    * The filter reaches the parquet reader as pushed filters, and its
    * constants are passed by reference, not inlined (`ToColumn`,
    * `ParamLiteral`): scans that differ only in their constants reuse
    * Spark's compiled classes. Never wrap such a constant in `.cast`;
    * the cast would fold back into an inlined literal. */
  def toDF(spark0: SparkSession): DataFrame = {
    val spark = IceTable.scanSession(spark0, table.properties)
    val (tasks, deletes) = planFilesWithDeletes()
    val files = graft.ice.connector.PlannedFiles(tasks, deletes,
      resolveSnapshot().map(_.snapshotId), keepDeleted = metaCols.contains("_deleted"))
    var df = graft.ice.connector.GraftPlannedTable.read(spark, table, baseSchema, files)
    filterExpr.foreach(e => df = df.filter(ToColumn(Binder.bind(e, baseSchema, caseSensitive))))
    if (projection.isDefined || metaCols.nonEmpty)
      df = df.select((scanSchema.fields.map(f => col(s"`${f.name.replace("`", "``")}`")) ++
        metaCols.map(col)): _*)
    limitRows.foreach(n => df = df.limit(math.min(n, Int.MaxValue.toLong).toInt))
    df
  }

  /** Arrow columnar export of the scan (the reference's flagship interop
    * path, table_scan.cc:120-134 MakeArrowArrayStream — its whole
    * DuckDB/Python story). Returns serialized Arrow IPC RecordBatch
    * messages, one RDD element per batch, PRODUCED ON EXECUTORS — at
    * 100 TB the batches stay distributed (feed them to a sink or a
    * per-partition consumer); nothing funnels through the driver here. */
  def toArrowBatchRdd(spark: SparkSession): org.apache.spark.rdd.RDD[Array[Byte]] =
    org.apache.spark.sql.GraftArrowBridge.toBatchRdd(toDF(spark))

  /** Stream the whole scan as ONE complete Arrow IPC stream (schema
    * header + batches + EOS) onto `out` — the single-consumer interop
    * shape (hand the bytes to pyarrow/DuckDB). Batches are computed
    * distributed, then serialized through the driver in arrival order:
    * correct for export-to-a-socket/file, deliberately NOT the path for
    * cluster-scale fan-out (use toArrowBatchRdd). */
  def writeArrowStream(spark: SparkSession, out: java.io.OutputStream): Unit = {
    val df = toDF(spark)
    org.apache.spark.sql.GraftArrowBridge.writeIpcStream(
      df.schema, spark.sessionState.conf.sessionLocalTimeZone,
      org.apache.spark.sql.GraftArrowBridge.toBatchRdd(df).toLocalIterator, out)
  }

  /** DISTRIBUTED Arrow IPC export: each task writes its partition as a
    * complete, independently-consumable `.arrows` stream file under
    * `outDir` — no driver materialization (the driver collects only
    * (path, batchCount) pairs). The scale-safe sibling of
    * [[writeArrowStream]]: at 100 TB every executor streams its own
    * splits straight to the interop files. Returns the written files. */
  def writeArrowIpcFiles(spark: SparkSession, outDir: String): Seq[(String, Long)] =
    org.apache.spark.sql.GraftArrowBridge.writeIpcFiles(toDF(spark), outDir)
}

object ScanBuilder {
  /** Does a planned file carry parquet field ids? Internal files (under
    * a data root) always do; external (addFiles-registered) files
    * resolve through the per-commit summary stamped at registration
    * time — footer probes at PLAN time are a fallback for legacy
    * snapshots only (at 100 TB, O(files) driver footer reads during
    * planning would dominate). The summary map is built ONCE per call:
    * a per-task snapshotById would be O(files x snapshots) on a
    * long-lived table. The returned test takes the task and its
    * scheme-stripped path. */
  private[ice] def fieldIdTest(table: IceTable,
      spark: SparkSession): (FileScanTask, String) => Boolean = {
    val dataDirPrefixes = table.dataRoots.map(ManifestAvro.stripFileScheme)
    val idSummaryBySnap: Map[Long, String] = table.metadata.snapshots
      .flatMap(s => s.summary.get(IceTable.FieldIdsSummaryKey)
        .map(s.snapshotId -> _)).toMap
    (t, p) => dataDirPrefixes.exists(p.startsWith) || {
      t.snapshotId.flatMap(idSummaryBySnap.get) match {
        case Some("all") => true
        case Some("none") => false
        case _ => hasFieldIds(p, spark)
      }
    }
  }

  /** Driver-side cache: does this (external) parquet file carry field ids?
    * Probed once per path; internal files skip the probe entirely. */
  private val fieldIdCache = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  /** Diagnostic/test hook: how often the probe was consulted at all
    * (cached or not) — planning paths should not call this when the
    * snapshot summary already records id presence. */
  val fieldIdProbeCalls = new java.util.concurrent.atomic.AtomicLong()
  def hasFieldIds(path: String, spark: SparkSession): Boolean = {
    fieldIdProbeCalls.incrementAndGet()
    fieldIdCache.computeIfAbsent(path, { p =>
      try {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p), spark.sessionState.newHadoopConf())
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          r.getFooter.getFileMetaData.getSchema.getFields.asScala
            .exists(_.getId != null)
        } finally r.close()
      } catch { case _: Exception => false }
    })
  }

  /** Cached top-level footer FIELD IDS of a parquet file — the
    * initial-default fallback probe for files whose manifest entry
    * carries no per-column metrics (registered/legacy files). Files with
    * metrics never reach this: column presence is proven from
    * valueCounts/columnSizes, metadata-only. */
  private val fieldIdSetCache = new java.util.concurrent.ConcurrentHashMap[String, Set[Int]]()
  def footerFieldIds(path: String, spark: SparkSession): Set[Int] =
    fieldIdSetCache.computeIfAbsent(path, { p =>
      try {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p), spark.sessionState.newHadoopConf())
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getFooter.getFileMetaData.getSchema.getFields.asScala
          .flatMap(f => Option(f.getId).map(_.intValue)).toSet
        finally r.close()
      } catch { case _: Exception => Set.empty }
    })

  /** Cached top-level column names of a data file — its parquet footer's,
    * or its ORC or Avro schema's: name-mapping resolution of id-less
    * files, and initial-default presence where manifests hold no
    * metrics. */
  private val fileColsCache = new java.util.concurrent.ConcurrentHashMap[String, Set[String]]()
  def fileColumns(path: String, format: String, spark: SparkSession): Set[String] =
    fileColsCache.computeIfAbsent(path, { p =>
      val conf = spark.sessionState.newHadoopConf()
      try format.toUpperCase(java.util.Locale.ROOT) match {
        case "AVRO" => AvroData.fieldNames(p)
        case "ORC" =>
          val r = org.apache.orc.OrcFile.createReader(new org.apache.hadoop.fs.Path(p),
            org.apache.orc.OrcFile.readerOptions(conf))
          try r.getSchema.getFieldNames.asScala.toSet finally r.close()
        case _ =>
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(p), conf))
          try r.getFooter.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSet
          finally r.close()
      } catch { case _: Exception => Set.empty }
    })
}

/** Append operation (the commit path the reference declares but leaves
  * unimplemented — transaction.h:31-51, SURVEY §3.3 steps 1-5). */
final class AppendOp(table: IceTable, spark: SparkSession) {

  private var branch: String = "main"
  private var wapId: Option[String] = None

  /** Target a branch other than main: the new snapshot parents off the
    * branch head and only moves that branch's ref, so writers on
    * different branches never conflict semantically. */
  def toBranch(name: String): AppendOp = { branch = name; this }

  /** Write-audit-publish staging (Iceberg's `spark.wap.id`): the commit
    * creates the snapshot with `wap.id` in its summary but moves NO ref
    * — readers see nothing until `publish_changes`/`cherrypick` replays
    * it onto main after the audit passes. */
  def stageWithWapId(id: String): AppendOp = { wapId = Some(id); this }

  /** Full write path: partition-transform clustering -> parquet files ->
    * footer metrics -> manifest -> manifest list -> snapshot -> commit.
    *
    * `write.upsert.enabled` (reference table_properties.h:271): when the
    * TABLE declares it, every plain append becomes a merge-on-read
    * UPSERT keyed on the schema's identifier fields — rows sharing a key
    * with existing data supersede them (equality-delete + insert, no
    * file rewrites), new keys insert. Identifier fields are required:
    * upserting without a key is a contradiction, so it fails loudly. */
  def appendDataFrame(df: DataFrame): Snapshot = {
    if (table.metadata.property(TableProperties.UpsertEnabled)) {
      require(branch == "main" && wapId.isEmpty,
        "write.upsert.enabled routes appends through MERGE, which targets " +
          "main directly — branch/WAP staging of upserts is not supported")
      val keyCols = table.schema.identifierFieldIds
        .flatMap(id => table.schema.findFieldById(id).map(_.name))
      require(keyCols.nonEmpty,
        "write.upsert.enabled requires identifier fields on the schema " +
          "(identifier-field-ids) to key the upsert")
      if (table.currentSnapshot.isEmpty)
        { val (entries, uuid) = writeEntries(df); return commitAppend(entries, uuid) }
      return table.merge(spark, df, keyCols)
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .withMergeOnRead()
        .commit()
    }
    val (entries, commitUuid) = writeEntries(df)
    commitAppend(entries, commitUuid)
  }

  /** Write the data files and build manifest entries WITHOUT committing —
    * the Transaction building block (everything up to the metadata swap;
    * files are invisible until a snapshot references them). The rows are
    * clustered here (partition tuple, then sort order) and handed to the
    * one task-side writer ([[graft.ice.write.FileWriter]]): each task
    * writes its files at their final paths and returns them with their
    * metrics, so the driver only builds the entries. */
  private[ice] def writeEntries(df: DataFrame): (Seq[ManifestEntry], String) = {
    val (aligned, shaped) = shape(df)
    val conf = graft.ice.write.FileWriter.dataConf(spark, table, shaped.schema, aligned.schema)
    val entries = graft.ice.write.FileWriter.write(shaped, conf)
      .map(f => ManifestEntry(ManifestStatus.Added, None, None, None, f))
    (graft.ice.write.SnapshotProducer.enrichNanCounts(table, spark, entries),
      conf.commitId)
  }

  /** `df` aligned to the table schema, and the aligned rows clustered
    * for the write (partition tuple in `__gp_` columns, then sort order). */
  private[ice] def shape(df: DataFrame): (DataFrame, DataFrame) = {
    val schema = table.schema
    val spec = table.spec

    // align to table schema: cast to the field's type and alias with
    // field-id metadata (df.to() drops metadata, so alias explicitly —
    // parquet files carry ids only when the schema does).
    // Columns absent from the input materialize their write-default
    // (spec v3 "write-default"; the read-side twin is the scan's
    // initial-default injection).
    val inputCols = df.columns.toSet
    val aligned = df.select(schema.fields.map { f =>
      val src =
        if (inputCols.contains(f.name)) col(f.name)
        else f.writeDefault match {
          case Some(v) => lit(graft.ice.meta.SingleValueJson.toSparkValue(
            f.fieldType.asInstanceOf[IcePrimitive], v))
          case None =>
            require(!f.required, s"required column ${f.name} missing from input " +
              "and has no write-default")
            lit(null)
        }
      src.cast(SparkConv.toSparkType(f.fieldType))
        .as(f.name, SparkConv.toSparkField(f).metadata)
    }: _*)

    val order = table.metadata.defaultSortOrder
    val shaped =
      // a declared sort order range-clusters the write so per-file bounds
      // are disjoint — the pruning lever at scale
      if (spec.isUnpartitioned)
        graft.ice.write.WriteShape.clusterUnpartitioned(aligned, schema, order)
      else {
        // cluster by partition tuple so each task writes whole partitions
        val dirCols = spec.fields.map(pf => graft.ice.write.PartitionPaths.dirCol(pf.name))
        val partCols = spec.fields.map { pf =>
          val src = schema.findFieldById(pf.sourceId).get
          pf.transform.toColumn(col(src.name), src.fieldType.asInstanceOf[IcePrimitive])
        }
        graft.ice.write.WriteShape.sortForPartitionedWrite(
          aligned
            .withColumns(dirCols.zip(partCols).toMap)
            .repartition(dirCols.map(col): _*),
          schema, order, dirCols)
      }
    (aligned, shaped)
  }

  /** Register existing files as table data (no rewrite) — the migration
    * path for external data. PARQUET files yield full column metrics from
    * their footers; other registered formats (AVRO via the registry) get
    * record counts only, so file-metric pruning treats them as unknown
    * (included) — safe, just unprunable.
    *
    * Partitioned tables: pass `partitionBaseDir` for a Hive `key=value`
    * layout — each file's partition tuple is parsed from its path
    * segments (identity transforms only; `__HIVE_DEFAULT_PARTITION__`
    * maps to null). The registered files need not CONTAIN the partition
    * columns: scans serve identity-partitioned columns of external files
    * from the manifest tuple (Iceberg's constants-map semantics). */
  def addFiles(paths: Seq[String], format: String = "PARQUET",
      partitionBaseDir: Option[String] = None): Snapshot = {
    require(table.spec.isUnpartitioned || partitionBaseDir.isDefined,
      "addFiles on a partitioned table requires partitionBaseDir " +
        "(Hive key=value layout) to derive partition tuples")
    if (partitionBaseDir.isDefined && !table.spec.isUnpartitioned)
      require(table.spec.fields.forall(
        _.transform == graft.ice.transform.IdentityTransform),
        "Hive-layout import supports identity partition specs only")
    val fmt = format.toUpperCase(java.util.Locale.ROOT)
    require(FormatRegistry.supportedFormats.contains(fmt),
      s"addFiles: unsupported data file format '$format'")
    val schema = table.schema
    val commitUuid = UUID.randomUUID().toString
    val conf = spark.sessionState.newHadoopConf()
    val orcCounts: Map[String, Long] =
      if (fmt == "ORC")
        FormatRegistry.orcRowCounts(spark, paths.map(ManifestAvro.stripFileScheme))
      else Map.empty
    // footer reads are independent driver-side IO — parallelize (a
    // 100k-file import must not read footers one at a time)
    import scala.collection.parallel.CollectionConverters._
    val metricsCfg = Some(graft.ice.write.MetricsConfig.from(table.properties, schema))
    val entries = paths.par.map { p =>
      val local = ManifestAvro.stripFileScheme(p)
      val m =
        if (fmt == "PARQUET") Metrics.fromParquetFooter(p, schema, conf, metricsCfg)
        else if (fmt == "ORC") Metrics.rowCountOnly(orcCounts.getOrElse(local, 0L))
        else Metrics.rowCountOnly(AvroData.countRecords(local))
      val partition = partitionBaseDir match {
        case Some(base) if !table.spec.isUnpartitioned =>
          graft.ice.write.PartitionPaths.parse(local,
            ManifestAvro.stripFileScheme(base), table.spec, schema)
        case _ => IndexedSeq.empty[Any]
      }
      ManifestEntry(ManifestStatus.Added, None, None, None,
        DataFile(FileContent.Data, p, fmt, partition,
          recordCount = m.rowCount,
          fileSizeInBytes = Files.size(Paths.get(local)),
          columnSizes = m.columnSizes,
          valueCounts = m.valueCounts,
          nullValueCounts = m.nullValueCounts,
          lowerBounds = m.lowerBounds,
          upperBounds = m.upperBounds,
          splitOffsets = m.splitOffsets))
    }.seq
    // stamp field-id presence NOW (parquet footers are open anyway for
    // metrics): the scan then partitions id-matched vs name-mapped files
    // from the snapshot summary instead of probing O(files) footers at
    // plan time. Avro files resolve ids per-file inside the reader, so
    // the parquet-path summary is irrelevant for them.
    val idSummary =
      // Hive-layout imports are forced onto the NAME-resolution read
      // path even when the files carry parquet field ids: identity
      // partition columns live in the manifest tuple, and only the
      // external read path serves them as constants
      if (fmt != "PARQUET" ||
          (partitionBaseDir.isDefined && !table.spec.isUnpartitioned)) "none"
      else {
        val withIds = paths.count(p => ScanBuilder.hasFieldIds(p, spark))
        if (withIds == paths.size) "all"
        else if (withIds == 0) "none"
        else "mixed"
      }
    commitAppend(entries, commitUuid,
      Map(IceTable.FieldIdsSummaryKey -> idSummary))
  }

  private def commitAppend(entries: Seq[ManifestEntry], commitUuid: String,
      extraSummary: Map[String, String] = Map.empty): Snapshot = {
    var result: Snapshot = null
    table.commit(appendUpdate(entries, commitUuid, s => result = s, extraSummary))
    result
  }

  /** The append as a pure metadata update — composable into a
    * multi-operation Transaction (transaction.h:31-51). Re-applied from
    * scratch on a lost version race; `onSnapshot` observes the snapshot
    * of the attempt that actually committed. */
  private[ice] def appendUpdate(entries: Seq[ManifestEntry], commitUuid: String,
      onSnapshot: Snapshot => Unit = _ => (),
      extraSummary: Map[String, String] = Map.empty): TableMetadata => TableMetadata = { base =>
      // parent off the target branch's head (falling back to the current
      // snapshot for main on legacy metadata without a main ref)
      val head = base.ref(branch).flatMap(r => base.snapshotById(r.snapshotId))
        .orElse(if (branch == "main") base.currentSnapshot else None)
      val snapshotId = math.abs(UUID.randomUUID().getMostSignificantBits)
      val seq = base.lastSequenceNumber + 1
      Files.createDirectories(Paths.get(table.metadataFileDir))
      val manifestPath = s"${table.metadataFileDir}/$commitUuid-m0.avro"
      val spec = base.defaultSpec
      val partType = spec.partitionType(base.currentSchema)
      // manifests are written in the table's format-version
      // (manifest_writer.h:36-93 adapter selection)
      val fv = base.formatVersion
      // v3 row lineage: every added file gets a first_row_id range off the
      // table's next-row-id counter (spec v3 "Row Lineage")
      val baseRowId = if (fv >= 3) Some(base.nextRowId.getOrElse(0L)) else None
      var rowCursor = baseRowId.getOrElse(0L)
      val assigned =
        if (fv >= 3) entries.map { e =>
          val w = e.copy(dataFile = e.dataFile.copy(firstRowId = Some(rowCursor)))
          rowCursor += e.dataFile.recordCount
          w
        } else entries
      val mf = ManifestAvro.writeManifest(manifestPath, assigned, partType,
        spec.specId, snapshotId, seq,
        schemaJson = MetaJson.schemaToJson(base.currentSchema).toString,
        specFieldsJson = MetaJson.specToJson(spec).get("fields").toString,
        formatVersion = fv)
        .copy(firstRowId = baseRowId)

      // fast append: new manifest list = new manifest + previous manifests
      val previous = head
        .map(s => ManifestAvro.readManifestList(s.manifestList))
        .getOrElse(IndexedSeq.empty)

      // manifest merging (commit.manifest.* semantics,
      // table_properties.h:97-101): without it every fast-append grows the
      // list by one — at 10k commits planning reads 10k avro files. When
      // the list passes min-count-to-merge, small data manifests are
      // compacted into one per spec; entries keep their explicit
      // snapshot/sequence numbers so visibility rules are unchanged.
      val mergeEnabled = base.property(TableProperties.ManifestMergeEnabled)
      val minCountToMerge = base.property(TableProperties.ManifestMinCountToMerge)
      val targetSizeBytes = base.property(TableProperties.ManifestTargetSizeBytes)
      val list0 = mf +: previous
      // merge candidates are PREVIOUS manifests only: the committing
      // snapshot's own manifest must keep its Added status, or
      // planAppendsBetween (status==Added && snapshotId==this snapshot)
      // would silently see nothing for every commit past the merge
      // threshold. Older snapshots read their own immutable manifest
      // lists, so rewriting previous Added->Existing here is safe.
      val list =
        if (!mergeEnabled || list0.size < minCountToMerge) list0
        else {
          val (dataMs, deleteMs) = previous.partition(_.content == ManifestContent.Data)
          val (small, big) = dataMs.partition(_.manifestLength < targetSizeBytes)
          if (small.size < 2) list0
          else {
            val merged = small.groupBy(_.partitionSpecId).toSeq.sortBy(_._1)
              .flatMap { case (sid, ms) =>
                if (ms.size == 1) ms
                else {
                  val mSpec = base.specById(sid).getOrElse(PartitionSpec.unpartitioned)
                  val mPartType = mSpec.partitionType(base.currentSchema)
                  val merged0 = ms.flatMap(m =>
                    ManifestAvro.readManifest(m.manifestPath, mPartType, Some(m))
                      .filter(_.isLive))
                    .map(e => if (e.status == ManifestStatus.Added)
                      e.copy(status = ManifestStatus.Existing) else e)
                  if (merged0.isEmpty) Nil
                  else {
                    val mergedPath = s"${table.metadataFileDir}/$commitUuid-merged-$sid.avro"
                    Seq(ManifestAvro.writeManifest(mergedPath, merged0, mPartType,
                      sid, snapshotId, seq,
                      schemaJson = MetaJson.schemaToJson(base.currentSchema).toString,
                      specFieldsJson = MetaJson.specToJson(mSpec).get("fields").toString,
                      formatVersion = fv)
                      .copy(minSequenceNumber = ms.map(_.minSequenceNumber).min))
                  }
                }
              }
            mf +: (merged ++ big ++ deleteMs)
          }
        }

      val listPath = s"${table.metadataFileDir}/snap-$snapshotId-1-$commitUuid.avro"
      ManifestAvro.writeManifestList(listPath, list, snapshotId,
        previous.headOption.map(_.addedSnapshotId), seq, formatVersion = fv)

      val addedRecords = entries.map(_.dataFile.recordCount).sum
      val addedFilesSize = entries.map(_.dataFile.fileSizeInBytes).sum
      val totalRecords = previous.flatMap(p => p.addedRowsCount).sum +
        previous.flatMap(_.existingRowsCount).sum + addedRecords
      val snap = Snapshot(
        snapshotId = snapshotId,
        parentSnapshotId = head.map(_.snapshotId),
        sequenceNumber = seq,
        timestampMs = System.currentTimeMillis(),
        manifestList = listPath,
        summary = Map(
          "operation" -> DataOperation.Append,
          "added-data-files" -> entries.size.toString,
          "added-records" -> addedRecords.toString,
          "added-files-size" -> addedFilesSize.toString,
          "total-records" -> totalRecords.toString,
          "total-data-files" -> (previous.flatMap(_.addedFilesCount).sum +
            previous.flatMap(_.existingFilesCount).sum + entries.size).toString)
          ++ graft.ice.write.PartitionSummaries.build(base.properties,
            entries.map(e => spec -> e.dataFile), Nil)
          ++ extraSummary
          ++ wapId.map("wap.id" -> _),
        schemaId = Some(base.currentSchemaId),
        firstRowId = baseRowId)
      onSnapshot(snap)
      val next1 =
        if (wapId.isDefined) base.withStagedSnapshot(snap)
        else base.withSnapshot(snap, branch)
      // monotone bound-width floor (mirrors SnapshotProducer.commit):
      // ratchets down with the metrics config, never up
      val next = graft.ice.write.MetricsConfig.from(next1.properties,
          base.currentSchema).minTruncateWidth match {
        case Some(w) if w < base.property(TableProperties.MetricsBoundWidthFloor) =>
          next1.copy(properties = next1.properties +
            (TableProperties.MetricsBoundWidthFloor.name -> w.toString))
        case _ => next1
      }
      if (fv >= 3) next.copy(nextRowId = Some(rowCursor)) else next
  }
}
