package graft.ice.connector

import org.apache.spark.sql.connector.read.InputPartition
import scala.collection.mutable.ArrayBuffer

/** Scan split planning (reference table_properties.h:187-195 —
  * `read.split.target-size` / `read.split.open-file-cost` /
  * `read.split.planning-lookback` / `read.split.adaptive-size.enabled`):
  * turns the planned per-file task list into right-sized input splits.
  *
  * Why it matters at 100 TB: one-split-per-file is only safe when files
  * were written at the table's own 128 MB target. An IMPORTED table with
  * 2-10 GB files becomes one task per file — a straggler factory (one
  * core decompressing 10 GB while 999 idle) — and a small-files table
  * becomes 100k tasks of 1 MB each, pure scheduler overhead. Oversized
  * files are cut into row-group-aligned byte ranges (the parquet reader
  * assigns each row group to the range holding its midpoint, so any
  * disjoint cover reads every row exactly once); tiny splits are
  * bin-packed, with each member charging at least `open-file-cost`
  * bytes so a bin never accumulates thousands of file-open round trips.
  *
  * Applied to every scan of an unpartitioned table or of a time,
  * identity or truncate spec. NOT applied when the scan reports
  * per-split ordering or storage-partitioned-join grouping (a bucket
  * spec) — those contracts are defined over whole single-file splits (a
  * packed or ranged split neither preserves a file's sort order claim
  * nor a one-key-per-split guarantee). */
private[graft] object SplitPlanning {

  /** Iceberg's minimum adaptive split size: below this, per-task
    * scheduling overhead dominates the read itself. */
  val MinAdaptiveSplitSize: Long = 16L * 1024 * 1024

  /** Adaptive split size (read.split.adaptive-size.enabled): when the
    * scan at `target` would yield fewer splits than the cluster has
    * slots, shrink toward totalBytes/parallelism (floored) so every
    * slot gets work — a 2 GB scan on 32 cores should not run 16 tasks. */
  def adjustTarget(target: Long, totalBytes: Long, parallelism: Int,
      adaptive: Boolean): Long = {
    if (!adaptive || target <= 0 || totalBytes <= 0 || parallelism <= 0)
      return math.max(1L, target)
    val splitCount = (totalBytes + target - 1) / target
    if (splitCount >= parallelism) target
    else {
      val perSlot = (totalBytes + parallelism - 1) / parallelism
      math.min(target, math.max(perSlot, math.min(target, MinAdaptiveSplitSize)))
    }
  }

  /** Cut one file split into sub-ranges of ~`target` bytes. Prefers the
    * manifest's recorded row-group offsets (`split_offsets`) as cut
    * points — balanced, never-empty ranges; falls back to fixed byte
    * ranges (still correct under midpoint assignment, possibly yielding
    * an empty tail range for pathological row-group layouts). */
  def subSplit(s: GraftFileSplit, splitOffsets: Seq[Long],
      target: Long): Seq[GraftFileSplit] = {
    if (s.fileSize <= target || target <= 0) return Seq(s)
    val cuts: Seq[Long] =
      if (splitOffsets.size >= 2) {
        val b = ArrayBuffer[Long]()
        var start = 0L
        splitOffsets.drop(1).foreach { o =>
          if (o - start >= target) { b += o; start = o }
        }
        b.toSeq
      } else {
        (target until s.fileSize by target).toSeq
      }
    if (cuts.isEmpty) return Seq(s)
    val bounds = (0L +: cuts) :+ s.fileSize
    bounds.sliding(2).map { case Seq(a, z) =>
      s.copy(rangeStart = a, rangeLen = z - a)
    }.toSeq
  }

  /** Bin-pack splits into combined tasks: each member charges
    * max(bytes, openCost); bins seal at `target`. `lookback` bounds the
    * open-bin list (Iceberg's ListPacker semantics — with k open bins a
    * new item tries each before sealing the oldest), keeping packing
    * O(n·k) and roughly input-ordered, which preserves any locality the
    * planner's file order carries. */
  def pack(items: Seq[GraftFileSplit], target: Long, openCost: Long,
      lookback: Int): Seq[InputPartition] = {
    val out = ArrayBuffer[InputPartition]()
    def emit(members: ArrayBuffer[GraftFileSplit]): Unit =
      out += (if (members.size == 1) members.head else GraftPackedSplit(members.toSeq))
    val bins = ArrayBuffer[(ArrayBuffer[GraftFileSplit], Long)]()
    items.foreach { it =>
      val w = math.max(openCost, it.rangeLength)
      // overflow-safe fit test: `used + w <= target` wraps negative for
      // huge targets (e.g. target-size=Long.MaxValue to disable packing),
      // which would pack EVERY split into one bin — the opposite of what
      // a user disabling splitting asked for. used <= target always holds
      // for admitted members, so target - used cannot overflow.
      val slot = bins.indexWhere { case (_, used) =>
        used <= target && w <= target - used }
      if (slot >= 0) {
        val (members, used) = bins(slot)
        members += it
        bins(slot) = (members, used + w)
      } else {
        if (bins.size >= math.max(1, lookback)) {
          emit(bins.head._1)
          bins.remove(0)
        }
        bins += ((ArrayBuffer(it), w))
      }
    }
    bins.foreach(b => emit(b._1))
    out.toSeq
  }
}
