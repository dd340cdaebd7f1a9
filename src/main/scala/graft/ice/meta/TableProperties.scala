package graft.ice.meta

/** Typed table-property registry (C9; reference table_properties.h:38-128):
  * one place for every property key and its default, replacing inlined
  * constants at call sites. `metadata.property(Key)` parses or falls back
  * to the default. */
object TableProperties {

  final case class Key[T](name: String, default: T, parse: String => T)

  // creation
  val FormatVersion: Key[Int] = Key("format-version", 2, _.trim.toInt)

  // commit / retry (table_properties.h:80-93): max-wait caps ONE sleep,
  // total-timeout bounds the WHOLE retry loop (both keys exist in the
  // reference with these defaults — 60 s and 30 min)
  val CommitNumRetries: Key[Int] = Key("commit.retry.num-retries", 4, _.trim.toInt)
  val CommitMinWaitMs: Key[Long] = Key("commit.retry.min-wait-ms", 100L, _.trim.toLong)
  val CommitMaxWaitMs: Key[Long] = Key("commit.retry.max-wait-ms", 60000L, _.trim.toLong)
  val CommitTotalTimeoutMs: Key[Long] =
    Key("commit.retry.total-timeout-ms", 30L * 60 * 1000, _.trim.toLong)

  // garbage collection (table_properties.h:246-253): gc.enabled is the
  // master switch over ANY physical file deletion — snapshot expiry,
  // orphan sweeps, delete-after-commit metadata trimming all refuse when
  // it is off (a mirrored/externally-backed-up table must never have its
  // files removed from under the mirror). history.expire.* are the
  // TABLE-LEVEL defaults expireSnapshots() uses when the caller and the
  // ref carry no explicit retention.
  val GcEnabled: Key[Boolean] = Key("gc.enabled", true, _.trim.toBoolean)
  val HistoryExpireMaxSnapshotAgeMs: Key[Long] =
    Key("history.expire.max-snapshot-age-ms", 5L * 24 * 3600 * 1000, _.trim.toLong)
  val HistoryExpireMinSnapshotsToKeep: Key[Int] =
    Key("history.expire.min-snapshots-to-keep", 1, _.trim.toInt)
  val HistoryExpireMaxRefAgeMs: Key[Long] =
    Key("history.expire.max-ref-age-ms", Long.MaxValue, _.trim.toLong)

  // unknown-outcome reconciliation (table_properties.h:86-93): after a
  // commit attempt whose outcome is unknown (REST timeout, FS write
  // exception), poll whether the attempt's metadata actually landed
  // before deciding — a blind retry after an actually-succeeded commit
  // double-commits or surfaces a spurious requirement failure.
  val CommitNumStatusChecks: Key[Int] =
    Key("commit.status-check.num-retries", 3, _.trim.toInt)
  val CommitStatusCheckMinWaitMs: Key[Long] =
    Key("commit.status-check.min-wait-ms", 1000L, _.trim.toLong)
  val CommitStatusCheckMaxWaitMs: Key[Long] =
    Key("commit.status-check.max-wait-ms", 60L * 1000, _.trim.toLong)
  val CommitStatusCheckTotalWaitMs: Key[Long] =
    Key("commit.status-check.total-timeout-ms", 30L * 60 * 1000, _.trim.toLong)

  // manifest maintenance (table_properties.h:97-101)
  val ManifestMergeEnabled: Key[Boolean] =
    Key("commit.manifest-merge.enabled", true, _.trim.toBoolean)
  val ManifestMinCountToMerge: Key[Int] =
    Key("commit.manifest.min-count-to-merge", 100, _.trim.toInt)
  val ManifestTargetSizeBytes: Key[Long] =
    Key("commit.manifest.target-size-bytes", 8L * 1024 * 1024, _.trim.toLong)

  // write shape
  val WriteTargetFileSizeBytes: Key[Long] =
    Key("write.target-file-size-bytes", 128L * 1024 * 1024, _.trim.toLong)
  val WriteFormatDefault: Key[String] = Key("write.format.default", "parquet", _.trim)
  // row-level SQL op mode (Iceberg table property): "copy-on-write"
  // rewrites affected data files; "merge-on-read" writes delete files
  // (v3 tables use deletion vectors)
  // an unrecognized mode must FAIL, not silently fall back to
  // copy-on-write: a user who typo'd "mor" believing they configured
  // merge-on-read would otherwise get full file rewrites with no signal
  private def parseRowLevelMode(key: String)(raw: String): String = {
    val v = raw.trim
    require(v == "copy-on-write" || v == "merge-on-read",
      s"$key must be 'copy-on-write' or 'merge-on-read', got '$raw'")
    v
  }
  val WriteDeleteMode: Key[String] =
    Key("write.delete.mode", "copy-on-write", parseRowLevelMode("write.delete.mode"))

  // position-delete file layout (reference table_properties.h:243,257):
  // `partition` granularity clusters delete rows by the DATA file's
  // partition — one delete file per touched partition (size-rolled), so
  // the number of delete files a scan must consider per data file stays
  // bounded by that partition's churn, not the whole commit's.
  // `file` granularity rolls per referenced data file — each delete
  // file covers exactly one data file (the best read-side shape, more
  // files). Target sizing rolls output files near the declared bytes.
  val DeleteGranularity: Key[String] =
    Key("write.delete.granularity", "partition",
      _.trim.toLowerCase(java.util.Locale.ROOT))
  val DeleteTargetFileSizeBytes: Key[Long] =
    Key("write.delete.target-file-size-bytes", 64L * 1024 * 1024, _.trim.toLong)
  val WriteMergeMode: Key[String] =
    Key("write.merge.mode", "copy-on-write", parseRowLevelMode("write.merge.mode"))
  val WriteUpdateMode: Key[String] =
    Key("write.update.mode", "copy-on-write", parseRowLevelMode("write.update.mode"))

  // row-level isolation (reference table_properties.h:259-...): under
  // `serializable` (the declared default) a DELETE/UPDATE/MERGE aborts
  // when a CONCURRENT commit added data its predicate might match —
  // rows the operation would have affected had it seen them. `snapshot`
  // keeps the weaker read-your-snapshot semantics (concurrent rows
  // simply survive).
  val WriteDeleteIsolation: Key[String] =
    Key("write.delete.isolation-level", "serializable",
      _.trim.toLowerCase(java.util.Locale.ROOT))
  val WriteUpdateIsolation: Key[String] =
    Key("write.update.isolation-level", "serializable",
      _.trim.toLowerCase(java.util.Locale.ROOT))
  val WriteMergeIsolation: Key[String] =
    Key("write.merge.isolation-level", "serializable",
      _.trim.toLowerCase(java.util.Locale.ROOT))

  // write-audit-publish opt-in (Iceberg write.wap.enabled, reference
  // table_properties.h:239, default false): only when the TABLE enables
  // WAP does a session-level spark.wap.id stage the commit; otherwise
  // the write commits normally with wap.id merely stamped in the
  // summary — a session conf must not silently hide committed appends
  // on every table it touches.
  val WriteWapEnabled: Key[Boolean] =
    Key("write.wap.enabled", false, _.trim.toBoolean)

  // write metrics (graft extension): record per-file NaN counts for
  // float/double columns on append. Costs one column-pruned re-read of
  // the new files per commit, and is what makes floating-point columns
  // eligible for metadata-proved operations (MIN/MAX pushdown, strict
  // comparisons) — without a zero NaN count those must refuse, because
  // SQL orders NaN above every value while parquet stats exclude it.
  val WriteNanCounts: Key[Boolean] =
    Key("graft.write.nan-counts", false, _.trim.toBoolean)

  // parquet write tuning (reference table_properties.h:111-128): these
  // reach the actual parquet writers — the declared default codec is
  // zstd, NOT the Spark session default (snappy). Data-plane and
  // delete-plane files are tuned independently, as the reference
  // declares (`write.delete.parquet.*` twins).
  val ParquetCompression: Key[String] =
    Key("write.parquet.compression-codec", "zstd",
      _.trim.toLowerCase(java.util.Locale.ROOT))
  val ParquetCompressionLevel: Key[String] =
    Key("write.parquet.compression-level", "", _.trim)
  val ParquetRowGroupSizeBytes: Key[Long] =
    Key("write.parquet.row-group-size-bytes", 128L * 1024 * 1024, _.trim.toLong)
  val ParquetPageSizeBytes: Key[Long] =
    Key("write.parquet.page-size-bytes", 1024L * 1024, _.trim.toLong)
  val ParquetDictSizeBytes: Key[Long] =
    Key("write.parquet.dict-size-bytes", 2L * 1024 * 1024, _.trim.toLong)
  val ParquetPageRowLimit: Key[Int] =
    Key("write.parquet.page-row-limit", 20000, _.trim.toInt)
  // row-group size-check throttle (reference table_properties.h:136-142):
  // the writer re-measures buffered size for a row-group flush no sooner
  // than every `min` records and no later than every `max` — the knob
  // that trades flush-check CPU against row-group size overshoot
  // (parquet-java's page.size.row.check pair)
  val ParquetRowGroupCheckMinRecordCount: Key[Int] =
    Key("write.parquet.row-group-check-min-record-count", 100, { raw =>
      val v = raw.trim.toInt
      require(v > 0, s"row-group-check-min-record-count must be > 0, got '$raw'")
      v
    })
  val ParquetRowGroupCheckMaxRecordCount: Key[Int] =
    Key("write.parquet.row-group-check-max-record-count", 10000, { raw =>
      val v = raw.trim.toInt
      require(v > 0, s"row-group-check-max-record-count must be > 0, got '$raw'")
      v
    })
  val DeleteParquetCompression: Key[String] =
    Key("write.delete.parquet.compression-codec", "zstd",
      _.trim.toLowerCase(java.util.Locale.ROOT))
  val DeleteParquetCompressionLevel: Key[String] =
    Key("write.delete.parquet.compression-level", "", _.trim)
  val DeleteParquetPageRowLimit: Key[Int] =
    Key("write.delete.parquet.page-row-limit", 20000, _.trim.toInt)
  val DeleteParquetRowGroupCheckMinRecordCount: Key[Int] =
    Key("write.delete.parquet.row-group-check-min-record-count", 100, { raw =>
      val v = raw.trim.toInt
      require(v > 0, s"row-group-check-min-record-count must be > 0, got '$raw'")
      v
    })
  val DeleteParquetRowGroupCheckMaxRecordCount: Key[Int] =
    Key("write.delete.parquet.row-group-check-max-record-count", 10000, { raw =>
      val v = raw.trim.toInt
      require(v > 0, s"row-group-check-max-record-count must be > 0, got '$raw'")
      v
    })

  // per-column parquet bloom filters + stats toggles (reference
  // table_properties.h:144-150): the point-lookup accelerator for
  // high-cardinality keys — a `pk = ?` probe skips row groups whose
  // bloom filter proves absence, without reading the column. Prefix
  // keys; the column name is the suffix.
  val ParquetBloomFilterMaxBytes: Key[Long] =
    Key("write.parquet.bloom-filter-max-bytes", 1024L * 1024, _.trim.toLong)
  val ParquetBloomFilterEnabledPrefix = "write.parquet.bloom-filter-enabled.column."
  val ParquetBloomFilterFppPrefix = "write.parquet.bloom-filter-fpp.column."
  val ParquetStatsEnabledPrefix = "write.parquet.stats-enabled.column."

  /** Column-suffixed values under a prefix key family. */
  def prefixed(props: Map[String, String], prefix: String): Map[String, String] =
    props.collect { case (k, v) if k.startsWith(prefix) =>
      k.stripPrefix(prefix) -> v.trim
    }
  val DeleteParquetRowGroupSizeBytes: Key[Long] =
    Key("write.delete.parquet.row-group-size-bytes", 128L * 1024 * 1024, _.trim.toLong)
  val DeleteParquetPageSizeBytes: Key[Long] =
    Key("write.delete.parquet.page-size-bytes", 1024L * 1024, _.trim.toLong)
  val DeleteParquetDictSizeBytes: Key[Long] =
    Key("write.delete.parquet.dict-size-bytes", 2L * 1024 * 1024, _.trim.toLong)

  // delete-plane file format (reference table_properties.h:106): which
  // format position/equality delete files are written in. Restricted to
  // the formats this engine can both write AND read back on every scan
  // path (v3 deletion vectors stay puffin regardless).
  val DeleteFormatDefault: Key[String] =
    Key("write.delete.format.default", "parquet", { raw =>
      val v = raw.trim.toLowerCase(java.util.Locale.ROOT)
      require(v == "parquet" || v == "avro" || v == "orc",
        s"write.delete.format.default must be 'parquet', 'avro' or 'orc', got '$raw'")
      v
    })

  // ORC write tuning (reference table_properties.h:155-183; the registry
  // exceeds the reference's enum-only ORC, so its declared knobs apply)
  val OrcCompression: Key[String] =
    Key("write.orc.compression-codec", "zlib",
      _.trim.toLowerCase(java.util.Locale.ROOT))
  val OrcStripeSizeBytes: Key[Long] =
    Key("write.orc.stripe-size-bytes", 64L * 1024 * 1024, _.trim.toLong)
  val OrcBlockSizeBytes: Key[Long] =
    Key("write.orc.block-size-bytes", 256L * 1024 * 1024, _.trim.toLong)
  val OrcBloomFilterColumns: Key[String] =
    Key("write.orc.bloom.filter.columns", "", _.trim)
  val OrcBloomFilterFpp: Key[Double] =
    Key("write.orc.bloom.filter.fpp", 0.05, _.trim.toDouble)
  val OrcCompressionStrategy: Key[String] =
    Key("write.orc.compression-strategy", "speed", { raw =>
      val v = raw.trim.toLowerCase(java.util.Locale.ROOT)
      require(v == "speed" || v == "compression",
        s"write.orc.compression-strategy must be 'speed' or 'compression', got '$raw'")
      v
    })
  val OrcWriteBatchSize: Key[Int] =
    Key("write.orc.vectorized.batch-size", 1024, _.trim.toInt)
  // delete-plane ORC twins (independently tuned, as the reference declares)
  val DeleteOrcCompression: Key[String] =
    Key("write.delete.orc.compression-codec", "zlib",
      _.trim.toLowerCase(java.util.Locale.ROOT))
  val DeleteOrcStripeSizeBytes: Key[Long] =
    Key("write.delete.orc.stripe-size-bytes", 64L * 1024 * 1024, _.trim.toLong)
  val DeleteOrcBlockSizeBytes: Key[Long] =
    Key("write.delete.orc.block-size-bytes", 256L * 1024 * 1024, _.trim.toLong)
  val DeleteOrcCompressionStrategy: Key[String] =
    Key("write.delete.orc.compression-strategy", "speed",
      _.trim.toLowerCase(java.util.Locale.ROOT))
  val DeleteOrcWriteBatchSize: Key[Int] =
    Key("write.delete.orc.vectorized.batch-size", 1024, _.trim.toInt)

  // avro compression (reference table_properties.h:153-160): codec +
  // level for the data plane, independent twins for the delete plane
  val AvroCompression: Key[String] =
    Key("write.avro.compression-codec", "gzip",
      _.trim.toLowerCase(java.util.Locale.ROOT))
  val AvroCompressionLevel: Key[String] =
    Key("write.avro.compression-level", "", _.trim)
  val DeleteAvroCompression: Key[String] =
    Key("write.delete.avro.compression-codec", "gzip",
      _.trim.toLowerCase(java.util.Locale.ROOT))
  val DeleteAvroCompressionLevel: Key[String] =
    Key("write.delete.avro.compression-level", "", _.trim)

  // per-column metrics modes (reference table_properties.h:232-235):
  // what each data-file manifest entry persists per column —
  // none / counts / truncate(W) / full. Per-column overrides use
  // `write.metadata.metrics.column.<name>`; columns past the inference
  // cap (schema order) default to none, the reference's wide-schema
  // manifest-bloat guard.
  val MetricsDefault: Key[String] =
    Key("write.metadata.metrics.default", "truncate(16)",
      _.trim.toLowerCase(java.util.Locale.ROOT))
  val MetricsMaxInferredDefaults: Key[Int] =
    Key("write.metadata.metrics.max-inferred-column-defaults", 100, _.trim.toInt)
  val MetricsColumnPrefix = "write.metadata.metrics.column."

  // monotone NON-INCREASING floor over every truncate width this table
  // has ever written bounds with (graft extension, maintained by the
  // commit path). Exactness proofs (MIN/MAX answer, TopN end-runs) may
  // call a string/binary bound exact only when it is SHORTER than every
  // width that could have truncated it — current properties alone can't
  // prove that once a width is raised mid-life, so the floor rides the
  // metadata and only ever ratchets down.
  val MetricsBoundWidthFloor: Key[Int] =
    Key("graft.metrics.bound-width-floor", 16, _.trim.toInt)

  // maintenance
  val CompactSmallFileThresholdBytes: Key[Long] =
    Key("write.compact.small-file-threshold-bytes", 96L * 1024 * 1024, _.trim.toLong)

  // metadata-log retention (Iceberg write.metadata.previous-versions-max):
  // each commit appends the superseded metadata file to metadata-log,
  // trimmed to this many entries
  val MetadataPreviousVersionsMax: Key[Int] =
    Key("write.metadata.previous-versions-max", 100, _.trim.toInt)

  // metadata-file DELETION (reference table_properties.h:229-231): when
  // enabled, each commit physically deletes the metadata JSON files that
  // fall off the trimmed metadata-log — without it a frequently-committed
  // table's metadata dir grows unboundedly. Data files and manifests are
  // never touched by this path.
  val MetadataDeleteAfterCommit: Key[Boolean] =
    Key("write.metadata.delete-after-commit.enabled", false, _.trim.toBoolean)

  // metadata compression (reference table_properties.h:226): "gzip"
  // writes metadata JSON gzip'd; the read side sniffs the magic bytes
  // (TableMetadataIO.read) so mixed-codec version histories read fine
  val MetadataCompressionCodec: Key[String] =
    Key("write.metadata.compression-codec", "none",
      _.trim.toLowerCase(java.util.Locale.ROOT))

  // custom metadata folder (reference table_properties.h:222): when set,
  // new metadata JSON files land under this directory instead of
  // {location}/metadata. Empty = default layout.
  val MetadataPath: Key[String] = Key("write.metadata.path", "", _.trim)

  // custom data-file root (reference table_properties.h:218): new data
  // files land under this directory instead of {location}/data. Applies
  // only to files written AFTER the property is set — previously-written
  // files stay where they are and keep resolving by their absolute
  // manifest paths.
  val DataPath: Key[String] = Key("write.data.path", "", _.trim)

  // scan split planning (reference table_properties.h:187-195): target
  // size of a combined input split, the minimum cost a tiny file charges
  // against a split (so one task never opens thousands of files), the
  // bin-packing lookback (open bins considered before sealing one), and
  // the adaptive switch that shrinks the target when the scan would
  // otherwise produce fewer splits than the cluster has slots.
  val SplitTargetSize: Key[Long] =
    Key("read.split.target-size", 128L * 1024 * 1024, _.trim.toLong)
  val SplitOpenFileCost: Key[Long] =
    Key("read.split.open-file-cost", 4L * 1024 * 1024, _.trim.toLong)
  val SplitLookback: Key[Int] =
    Key("read.split.planning-lookback", 10, _.trim.toInt)
  val SplitAdaptiveEnabled: Key[Boolean] =
    Key("read.split.adaptive-size.enabled", true, _.trim.toBoolean)
  // metadata-plane split sizing (reference table_properties.h:190): the
  // distributed manifest-read path bins manifest FILES into Spark tasks
  // by this target — a million-file table's planning job parallelizes
  // over manifest bytes, not one task per manifest.
  val SplitMetadataTargetSize: Key[Long] =
    Key("read.split.metadata-target-size", 32L * 1024 * 1024, _.trim.toLong)

  // reader vectorization (reference table_properties.h:197-203): batch
  // sizing is the wide-row / deep-nesting OOM safety valve at scale;
  // the enabled switches fall back to Spark's row-at-a-time readers.
  val ParquetVectorizationEnabled: Key[Boolean] =
    Key("read.parquet.vectorization.enabled", true, _.trim.toBoolean)
  val ParquetBatchSize: Key[Int] =
    Key("read.parquet.vectorization.batch-size", 5000, _.trim.toInt)
  val OrcVectorizationEnabled: Key[Boolean] =
    Key("read.orc.vectorization.enabled", false, _.trim.toBoolean)
  val OrcBatchSize: Key[Int] =
    Key("read.orc.vectorization.batch-size", 5000, _.trim.toInt)

  // table-level upsert default (reference table_properties.h:271): when
  // enabled, plain appends route through the merge-on-read upsert path
  // keyed on the schema's identifier fields — every write supersedes
  // prior rows with the same key instead of duplicating them.
  val UpsertEnabled: Key[Boolean] =
    Key("write.upsert.enabled", false, _.trim.toBoolean)

  // encryption (reference table_properties.h:275-276): declared-only in
  // the reference too — neither engine ships a crypto module, so these
  // are validated-inert registry keys: the key-id round-trips as a plain
  // property (it also feeds the metadata `encryption-keys` field serde,
  // S2), and the DEK length is pinned to the AES key sizes so a typo'd
  // table config fails at commit, not at some future encrypting reader.
  val EncryptionTableKey: Key[String] =
    Key("encryption.key-id", "", _.trim)
  val EncryptionDekLength: Key[Int] =
    Key("encryption.data-key-length", 16, { raw =>
      val v = raw.trim.toInt
      require(v == 16 || v == 24 || v == 32,
        s"encryption.data-key-length must be 16, 24 or 32 (AES key bytes), got '$raw'")
      v
    })

  // superseded custom data roots, comma-separated (stamped automatically
  // by IceTable.commit when write.data.path changes): a mid-life data
  // plane move must not turn the OLD root into an orphan shelter —
  // removeOrphanFiles sweeps every root the table ever wrote under.
  val DataPathHistory: Key[String] = Key("graft.data-path.history", "", _.trim)

  // object-store layout (reference table_properties.h:213-217): prefix
  // each data file's path with a hash of its name so a 100-TB table's
  // keys disperse across object-store request shards instead of
  // funneling one sequential prefix. partitioned-paths=false drops the
  // partition directories from the path entirely (pure hash dispersal;
  // partition values still live in the manifest tuple, which is what
  // scans read anyway).
  val ObjectStorageEnabled: Key[Boolean] =
    Key("write.object-storage.enabled", false, _.trim.toBoolean)
  val ObjectStoragePartitionedPaths: Key[Boolean] =
    Key("write.object-storage.partitioned-paths", true, _.trim.toBoolean)

  // partition summaries in the snapshot summary (reference
  // table_properties.h:223-224): per-changed-partition churn entries
  // (`partitions.<path>` keys), written only when the commit touches at
  // most this many partitions. 0 (the declared default) disables them.
  val PartitionSummaryLimit: Key[Int] =
    Key("write.summary.partition-limit", 0, _.trim.toInt)

  // scan planning (graft extension): beyond this many estimated manifest
  // entries, planning reads + prunes manifests on executors and returns
  // only surviving entries (with metric maps stripped) to the driver
  val PlanDistributedThreshold: Key[Long] =
    Key("graft.plan.distributed-threshold", 200000L, _.trim.toLong)

  // declared planning-mode switches (reference table_properties.h:204-206):
  // `auto` = the estimated-entry threshold above decides; `local` pins
  // planning to the driver (deterministic small-metadata latency, no job);
  // `distributed` forces executor-side manifest reads regardless of size.
  val DataPlanningMode: Key[String] =
    Key("read.data-planning-mode", "auto",
      _.trim.toLowerCase(java.util.Locale.ROOT))
  val DeletePlanningMode: Key[String] =
    Key("read.delete-planning-mode", "auto",
      _.trim.toLowerCase(java.util.Locale.ROOT))

  def get[T](props: Map[String, String], key: Key[T]): T =
    props.get(key.name).map(key.parse).getOrElse(key.default)

  /** Reserved property keys (reference table_properties.h:285 /
    * reserved_properties()): creation/maintenance controls and
    * metadata-derived values a user must never persist as plain
    * properties — `uuid` as a property would shadow the real table UUID,
    * `current-*`/`snapshot-count` are projections of metadata state.
    * `format-version` is consumed at create/upgrade time, never stored. */
  val ReservedKeys: Set[String] = Set(
    "format-version", "uuid", "snapshot-count",
    "current-snapshot-summary", "current-snapshot-id",
    "current-snapshot-timestamp-ms", "current-schema",
    "default-partition-spec", "default-sort-order")

  /** Refuse user-supplied reserved keys on every commit surface (Scala
    * commits, SQL TBLPROPERTIES, REST updates). `allowFormatVersion`
    * covers the documented create/upgrade path where `format-version`
    * is legitimate input (and is then consumed, not stored). */
  /** Every declared typed key, collected once by reflection over this
    * registry object — the Scala mirror of the reference's static
    * Entry<> member list. Prefix families (per-column bloom/stats) are
    * not Keys and are validated by their consumers. */
  lazy val declaredKeys: Map[String, Key[_]] =
    this.getClass.getMethods
      .filter(m => m.getReturnType == classOf[Key[_]] && m.getParameterCount == 0)
      .map(_.invoke(this).asInstanceOf[Key[_]])
      .map(k => k.name -> k).toMap

  /** Parse-validate user-supplied values for declared keys: a typo'd
    * `write.delete.format.default=parque` or
    * `encryption.data-key-length=15` must fail at the commit that sets
    * it, not at some future read/write that first consumes it. Unknown
    * keys pass untouched (plain user properties are legal). */
  def validateValues(props: Map[String, String]): Unit =
    props.foreach { case (k, v) =>
      declaredKeys.get(k).foreach { key =>
        try key.parse(v)
        catch {
          case e: Exception => throw new IllegalArgumentException(
            s"invalid value '$v' for table property '$k': ${e.getMessage}", e)
        }
      }
    }

  def validateUnreserved(keys: Iterable[String],
      allowFormatVersion: Boolean = false): Unit = {
    val hit = keys.filter(k =>
      ReservedKeys.contains(k) && !(allowFormatVersion && k == "format-version"))
    require(hit.isEmpty,
      s"table properties ${hit.mkString(", ")} are reserved " +
        "(reference reserved_properties()): they control create/update " +
        "behavior or mirror metadata state and cannot be set or removed " +
        "as plain properties")
  }
}
