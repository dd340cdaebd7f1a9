package graft.ops

import org.apache.spark.sql.DataFrame

/** Parallelism guard for compute-heavy map stages: a small table arriving
  * as one parquet split would otherwise pin a 32-core stage to one task
  * (interpreted higher-order text expressions make this very visible).
  * At production scale inputs have many splits and this is a no-op. */
object Par {
  def ensure(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (needsRepartition(df, want)) df.repartition(want) else df
  }

  /** [[ensure]], but keyed: when the guard fires, repartition by HASH of
    * `keys` instead of round-robin, so a downstream operator keyed the
    * same way (a per-document window, a doc-keyed aggregation) reuses
    * this exchange instead of inserting its own (guide §2.4 "two
    * operations keyed the same way can share one exchange"). Same
    * parallelism fix — document ids hash evenly — and at production
    * scale (enough input splits) both forms are the identity. */
  def ensureBy(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (needsRepartition(df, want)) df.repartition(want, keys: _*) else df
  }

  private def needsRepartition(df: DataFrame, want: Int): Boolean = {
    // count the LEAF input splits from the planned scan instead of
    // forcing a df.rdd plan conversion (which detaches the lineage from
    // Catalyst and costs a planning pass per call)
    // sparkPlan, not executedPlan: under AQE the executed plan is one
    // opaque adaptive node whose leaves hide the scans
    val splits = df.queryExecution.sparkPlan.collectLeaves().map {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.inputRDD.getNumPartitions
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.size
      // a reused exchange is a LEAF whose outputPartitioning reports the
      // exchange's virtual partition count (e.g. 200) — counting it would
      // over-count real input splits and skip a needed repartition
      case _: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => 0
      case other => other.outputPartitioning.numPartitions
    }.sum
    splits > 0 && splits < want
  }
}
