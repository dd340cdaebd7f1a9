package graft.ice.connector

import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder => V2ScanBuilder}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperation, Write, WriteBuilder}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ice.IceTable

/** Group-based (copy-on-write) row-level operation for Spark's native
  * DML planning (`SupportsRowLevelOperations`): UPDATE / MERGE / DELETE
  * on `ice.*` identifiers work with ONLY `GraftCatalogPlugin` attached —
  * no GraftExtensions required.
  *
  * How the contract is satisfied:
  *  - Spark's RewriteUpdateTable / RewriteMergeIntoTable /
  *    RewriteDeleteFromTable build a ReplaceData plan whose read side is
  *    [[GraftRowLevelOperation.newScanBuilder this operation's scan]]
  *    and whose write side replaces the GROUPS (files) that scan
  *    planned. The scan instance is shared state: its final planned
  *    splits — after static predicate pushdown AND runtime group
  *    filtering (our scan's `SupportsRuntimeV2Filtering`, fed by
  *    Spark's RowLevelOperationRuntimeGroupFiltering subquery on
  *    partitioned tables) — ARE the replaced file set the write commits
  *    against.
  *  - The scan is `pruneOnly`: the pushed DML predicate prunes
  *    manifests/files but never reaches the parquet reader, because the
  *    rewrite must see EVERY row of a matched file — the non-matching
  *    rows are exactly what survives (Spark's replace-data query
  *    re-evaluates the condition per row).
  *  - The write reuses the ordinary distributed V2 write (clustered by
  *    the table's partition transforms, task-side DataFile metadata, no
  *    driver footer reads) in `replace-groups` mode: ONE Overwrite
  *    snapshot that removes the scanned files and adds the rewritten
  *    ones. At 100 TB the replaced set is bounded by partition/file
  *    pruning, not table size.
  *
  * MoR deletes in scope are safe here (unlike the raw-parquet CoW path
  * in RowDelete.updateWhere, which refuses them): this scan APPLIES
  * position/equality deletes executor-side, so the rewritten files
  * contain only live rows, and leftover delete files cannot mis-apply
  * to the replacement files (position deletes reference the old paths;
  * equality deletes only apply to lower data sequence numbers).
  *
  * Reference anchor: the C++ reference has no DML (scan planning only,
  * table_scan.cc) — this is internal parity with the extension-rule SQL
  * surface (GraftSqlResolution.scala), expressed through Spark's own V2
  * row-level contract. */
private[graft] final class GraftRowLevelOperation(table: IceTable,
    identName: String, warehouse: String,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {

  @volatile private var builtScan: GraftBatchScan = _

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): V2ScanBuilder =
    new GraftScanBuilder(table, table.schema, pruneOnly = true) {
      override def build(): Scan = super.build() match {
        case b: GraftBatchScan => builtScan = b; b
        case other => other // unreachable: no aggregate/limit pushdown here
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = {
        val scan = builtScan
        require(scan != null,
          "row-level write built before its scan — Spark plans the scan first")
        new GraftWrite(table, identName, warehouse, info,
          GraftWriteModes.ReplaceGroups, Array.empty,
          replacedFiles = Some(() => graft.ice.write.ReplaceGroupsState(
            scan.plannedOriginalPaths, scan.plannedDeletePaths)))
      }
    }

  /** `_file` — required not for the grouping itself (the replaced set is
    * read off the scan), but because Spark's ReplaceDataExec only
    * engages its data/metadata row projections when metadata attributes
    * exist; without one, the writer would receive the raw
    * [__row_operation, row...] tuples. */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("_file"))

  override def description(): String = s"GraftRowLevelOperation($cmd, $identName)"
}
