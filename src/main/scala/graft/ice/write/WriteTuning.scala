package graft.ice.write

import graft.ice.meta.TableProperties

/** Table-property-driven file-write tuning (reference
  * table_properties.h:111-198): resolves the registry's declared parquet
  * / ORC / Avro knobs into the option maps the actual writers consume.
  * Spark's file sinks forward writer options into the per-job Hadoop
  * configuration (`newHadoopConfWithOptions`), so `parquet.block.size`
  * and friends reach parquet-java's ParquetOutputFormat directly —
  * per-write, never by mutating session or global Hadoop state.
  *
  * The reference's declared DEFAULT codec is zstd; until these options
  * existed, data files silently rode the Spark session default (snappy)
  * regardless of table configuration. At 100 TB the codec choice is
  * double-digit percent of footprint, which is why it is the first knob
  * a storage user reaches for. */
object WriteTuning {

  /** Writer options for DATA-plane parquet files of `table`. */
  def parquetData(props: Map[String, String]): Map[String, String] =
    parquetOptions(
      TableProperties.get(props, TableProperties.ParquetCompression),
      TableProperties.get(props, TableProperties.ParquetCompressionLevel),
      TableProperties.get(props, TableProperties.ParquetRowGroupSizeBytes),
      TableProperties.get(props, TableProperties.ParquetPageSizeBytes),
      TableProperties.get(props, TableProperties.ParquetDictSizeBytes)) ++
      Map("parquet.page.row.count.limit" ->
        TableProperties.get(props, TableProperties.ParquetPageRowLimit).toString,
        // row-group flush-check throttle (table_properties.h:136-142) —
        // parquet-java re-measures buffered size between these counts
        "parquet.page.size.row.check.min" -> TableProperties.get(props,
          TableProperties.ParquetRowGroupCheckMinRecordCount).toString,
        "parquet.page.size.row.check.max" -> TableProperties.get(props,
          TableProperties.ParquetRowGroupCheckMaxRecordCount).toString) ++
      parquetColumnExtras(props)

  /** Per-column bloom filters / fpp / stats toggles + the bloom byte cap
    * (reference table_properties.h:144-150), rendered as parquet-java's
    * own `#column`-suffixed conf keys — they ride the writer option map
    * into the job Hadoop configuration like every other knob here. */
  def parquetColumnExtras(props: Map[String, String]): Map[String, String] = {
    val bloomOn = TableProperties.prefixed(
      props, TableProperties.ParquetBloomFilterEnabledPrefix)
    val fpp = TableProperties.prefixed(
      props, TableProperties.ParquetBloomFilterFppPrefix)
    val stats = TableProperties.prefixed(
      props, TableProperties.ParquetStatsEnabledPrefix)
    val maxBytes =
      if (bloomOn.isEmpty) Map.empty[String, String]
      else Map("parquet.bloom.filter.max.bytes" ->
        TableProperties.get(props, TableProperties.ParquetBloomFilterMaxBytes).toString)
    maxBytes ++
      bloomOn.map { case (c, v) => s"parquet.bloom.filter.enabled#$c" -> v } ++
      fpp.map { case (c, v) => s"parquet.bloom.filter.fpp#$c" -> v } ++
      stats.map { case (c, v) => s"parquet.column.statistics.enabled#$c" -> v }
  }

  /** Writer options for DELETE-plane parquet files (position/equality
    * delete files) — independently tuned, as the reference declares. */
  def parquetDelete(props: Map[String, String]): Map[String, String] =
    parquetOptions(
      TableProperties.get(props, TableProperties.DeleteParquetCompression),
      TableProperties.get(props, TableProperties.DeleteParquetCompressionLevel),
      TableProperties.get(props, TableProperties.DeleteParquetRowGroupSizeBytes),
      TableProperties.get(props, TableProperties.DeleteParquetPageSizeBytes),
      TableProperties.get(props, TableProperties.DeleteParquetDictSizeBytes)) ++
      Map("parquet.page.row.count.limit" ->
        TableProperties.get(props, TableProperties.DeleteParquetPageRowLimit).toString,
        "parquet.page.size.row.check.min" -> TableProperties.get(props,
          TableProperties.DeleteParquetRowGroupCheckMinRecordCount).toString,
        "parquet.page.size.row.check.max" -> TableProperties.get(props,
          TableProperties.DeleteParquetRowGroupCheckMaxRecordCount).toString)

  private def parquetOptions(codec: String, level: String, rowGroup: Long,
      page: Long, dict: Long): Map[String, String] = {
    val base = Map(
      // Spark's own ParquetOptions key (validated codec names)
      "compression" -> normalizeParquetCodec(codec),
      // parquet-java ParquetOutputFormat keys, via the job Hadoop conf
      "parquet.block.size" -> rowGroup.toString,
      "parquet.page.size" -> page.toString,
      "parquet.dictionary.page.size" -> dict.toString)
    if (level.isEmpty) base
    else base + (s"parquet.compression.codec.${normalizeParquetCodec(codec)}.level" -> level)
  }

  private def normalizeParquetCodec(codec: String): String = codec match {
    case "none" => "uncompressed"
    case c => c
  }

  /** Writer options for ORC data files (reference table_properties.h:
    * 155-183): codec, stripe/block size, compression strategy, bloom
    * filter columns + fpp, and the writer's vectorized batch size —
    * orc-java conf keys, forwarded via the per-job Hadoop configuration
    * exactly like the parquet knobs. */
  def orcData(props: Map[String, String]): Map[String, String] =
    orcOptions(
      TableProperties.get(props, TableProperties.OrcCompression),
      TableProperties.get(props, TableProperties.OrcStripeSizeBytes),
      TableProperties.get(props, TableProperties.OrcBlockSizeBytes),
      TableProperties.get(props, TableProperties.OrcCompressionStrategy),
      TableProperties.get(props, TableProperties.OrcWriteBatchSize),
      TableProperties.get(props, TableProperties.OrcBloomFilterColumns),
      TableProperties.get(props, TableProperties.OrcBloomFilterFpp))

  /** Writer options for DELETE-plane ORC files — independent twins.
    * (Bloom filters have no delete twin in the reference's registry:
    * delete planes are scoped by path/key bounds, not point lookups.) */
  def orcDelete(props: Map[String, String]): Map[String, String] =
    orcOptions(
      TableProperties.get(props, TableProperties.DeleteOrcCompression),
      TableProperties.get(props, TableProperties.DeleteOrcStripeSizeBytes),
      TableProperties.get(props, TableProperties.DeleteOrcBlockSizeBytes),
      TableProperties.get(props, TableProperties.DeleteOrcCompressionStrategy),
      TableProperties.get(props, TableProperties.DeleteOrcWriteBatchSize),
      bloomColumns = "", bloomFpp = 0.05)

  private def orcOptions(codec: String, stripe: Long, block: Long,
      strategy: String, batchSize: Int, bloomColumns: String,
      bloomFpp: Double): Map[String, String] = {
    val base = Map(
      "compression" -> normalizeOrcCodec(codec),
      "orc.stripe.size" -> stripe.toString,
      "orc.block.size" -> block.toString,
      "orc.compression.strategy" ->
        strategy.toUpperCase(java.util.Locale.ROOT),
      "orc.row.batch.size" -> batchSize.toString)
    if (bloomColumns.isEmpty) base
    else base ++ Map(
      "orc.bloom.filter.columns" -> bloomColumns,
      "orc.bloom.filter.fpp" -> bloomFpp.toString)
  }

  private def normalizeOrcCodec(codec: String): String = codec match {
    case "zlib" => "zlib"
    case "none" | "uncompressed" => "none"
    case c => c
  }

  /** Avro container codec for data files (Iceberg property value "gzip"
    * is Avro's deflate codec). */
  def avroCodec(props: Map[String, String]): String =
    normalizeAvroCodec(TableProperties.get(props, TableProperties.AvroCompression))

  /** Data-plane avro (codec, level) — level "" = the codec's default. */
  def avroDataCodec(props: Map[String, String]): (String, String) =
    (avroCodec(props),
      TableProperties.get(props, TableProperties.AvroCompressionLevel))

  /** Delete-plane avro (codec, level) — independent twins. */
  def avroDeleteCodec(props: Map[String, String]): (String, String) =
    (normalizeAvroCodec(
      TableProperties.get(props, TableProperties.DeleteAvroCompression)),
      TableProperties.get(props, TableProperties.DeleteAvroCompressionLevel))

  private def normalizeAvroCodec(codec: String): String = codec match {
    case "gzip" => "deflate"
    case "none" | "uncompressed" => "null"
    case "zstd" => "zstandard"
    case c => c
  }
}

/** Per-partition commit summaries (reference table_properties.h:223-224,
  * `write.summary.partition-limit`, declared default 0 = off): when a
  * commit touches at most `limit` partitions, the snapshot summary gains
  * one `partitions.<k=v/...>` entry per changed partition with its
  * added/removed file and record churn — the changelog-consumer /
  * operator view of WHICH partitions moved, without reading manifests.
  * `changed-partition-count` is always recorded for partitioned specs;
  * the cap only gates the per-partition detail, so a million-partition
  * backfill cannot bloat its own snapshot summary. */
object PartitionSummaries {
  import graft.ice.meta.PartitionSpec
  import graft.ice.manifest.DataFile

  private def render(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case x => x.toString
  }

  private def path(spec: PartitionSpec, tuple: IndexedSeq[Any]): String =
    spec.fields.zip(tuple).map { case (pf, v) => s"${pf.name}=${render(v)}" }
      .mkString("/")

  def build(props: Map[String, String],
      added: Seq[(PartitionSpec, DataFile)],
      removed: Seq[(PartitionSpec, DataFile)]): Map[String, String] = {
    val partitioned = (added ++ removed).filter(!_._1.isUnpartitioned)
    if (partitioned.isEmpty) return Map.empty
    val limit = TableProperties.get(props, TableProperties.PartitionSummaryLimit)
    val addedBy = added.filter(!_._1.isUnpartitioned)
      .groupBy { case (s, f) => path(s, f.partition) }
    val removedBy = removed.filter(!_._1.isUnpartitioned)
      .groupBy { case (s, f) => path(s, f.partition) }
    val changed = (addedBy.keySet ++ removedBy.keySet).toSeq.sorted
    val base = Map("changed-partition-count" -> changed.size.toString)
    if (limit <= 0 || changed.size > limit) base
    else base ++ Map("partition-summaries-included" -> "true") ++
      changed.map { p =>
        val a = addedBy.getOrElse(p, Nil).map(_._2)
        val r = removedBy.getOrElse(p, Nil).map(_._2)
        s"partitions.$p" -> (
          s"added-data-files=${a.size},added-records=${a.map(_.recordCount).sum}," +
            s"added-files-size=${a.map(_.fileSizeInBytes).sum}," +
            s"removed-data-files=${r.size},removed-records=${r.map(_.recordCount).sum}")
      }
  }
}

/** Object-store data layout (C10 location provider; reference
  * table_properties.h:213-217): when `write.object-storage.enabled`,
  * every data file lands under a per-file hash prefix rendered as four
  * 4-bit binary directories — `0101/1100/0011/1010/...` — so a 100-TB
  * table's keys disperse across 65 536 object-store request shards
  * instead of funneling one sequential `/data/commitUuid/...` prefix
  * (S3-class stores rate-limit per key prefix).
  *
  * Scans never list these directories: file paths are absolute in the
  * manifests and reads go through the manifest-served file index, so
  * the layout is free on the read side. `partitioned-paths=false`
  * additionally drops the partition directories from the path (pure
  * hash dispersal) — partition values live in the manifest tuple,
  * which is what planning reads anyway; a per-file hash discriminator
  * keeps basenames from colliding across partitions. */
object ObjectStoreLayout {

  def enabled(props: Map[String, String]): Boolean =
    TableProperties.get(props, TableProperties.ObjectStorageEnabled)

  def partitionedPaths(props: Map[String, String]): Boolean =
    TableProperties.get(props, TableProperties.ObjectStoragePartitionedPaths)

  /** 16 hash bits of `key` as four 4-bit binary directories. */
  def hashDirs(key: String): String = {
    val h = scala.util.hashing.MurmurHash3.stringHash(key) & 0xFFFF
    (3 to 0 by -1).map { grp =>
      val nibble = (h >>> (grp * 4)) & 0xF
      String.format("%4s", Integer.toBinaryString(nibble)).replace(' ', '0')
    }.mkString("/")
  }

  /** Final path for one data file. `partDirs` is the `k=v/...` partition
    * directory run ("" for unpartitioned). */
  def place(dataRoot: String, commitId: String, partDirs: String,
      fileName: String, partitioned: Boolean): String = {
    val key = s"$commitId/$partDirs/$fileName"
    val dirs = hashDirs(key)
    if (partitioned && partDirs.nonEmpty)
      s"$dataRoot/$dirs/$commitId/$partDirs/$fileName"
    else {
      // no partition dirs in the path: an 8-hex-digit key hash keeps the
      // flattened names unique however the writer names its files
      val h8 = f"${scala.util.hashing.MurmurHash3.stringHash(key)}%08x"
      s"$dataRoot/$dirs/$commitId-$h8-$fileName"
    }
  }
}
